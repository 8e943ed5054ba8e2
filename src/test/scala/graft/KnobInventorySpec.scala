package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's configuration surface, pinned: every JVM system property
  * and environment variable that `src/main/scala` reads, by name and by
  * the file that reads it. A new `-D` knob or env read fails here until
  * it is added to the allowlist on purpose, and a deleted one fails until
  * it leaves the list.
  */
class KnobInventorySpec extends AnyFunSuite {

  /** name -> the source files (base names) allowed to read it */
  private val allowed: Map[String, Set[String]] = Map(
    // engine knobs
    "graft.simd" -> Set("VectorKernels.scala"), // platform fallback, scalar reference
    "graft.vecbin.maxExportRows" -> Set("Vecbin.scala"), // export guard
    "graft.predSidecar" -> Set("SparkEntry.scala"),
    // harness env reads of the three mains
    "SPARK_GRAFT_SF_DIR" -> Set("Bench.scala"),
    "SPARK_GRAFT_CPUS" -> Set("Bench.scala", "Verify.scala", "BenchScale.scala"),
    "SPARK_GRAFT_BENCH_RUNS" -> Set("Bench.scala"),
    "SPARK_GRAFT_BENCH_ONLY" -> Set("Bench.scala"),
    "SPARK_GRAFT_VERIFY_ONLY" -> Set("Verify.scala"),
    "SPARK_GRAFT_SCALE_N" -> Set("BenchScale.scala"),
    "SPARK_GRAFT_ANN_N" -> Set("BenchScale.scala"),
    "SPARK_GRAFT_ANN_DIM" -> Set("BenchScale.scala"),
    "SPARK_GRAFT_SCALE_ONLY" -> Set("BenchScale.scala"),
    "SPARK_GRAFT_SCALE_RUNS" -> Set("BenchScale.scala"))

  /** A read call, then its first argument. A name that is not a string
    * literal cannot be inventoried and is reported as such.
    */
  private val read =
    ("""(System\.getProperty|System\.getenv|Integer\.getInteger|Long\.getLong|""" +
      """Boolean\.getBoolean|sys\.props|sys\.env)\b(?:\.\w+)?\s*\(\s*("([^"]*)")?""").r

  private def sources: Seq[Path] = {
    val st = Files.walk(Paths.get("src/main/scala"))
    try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally st.close()
  }

  /** (name, file base name) of every configuration read in `src/main`. */
  private def reads: Seq[(String, String)] =
    sources.flatMap { p =>
      val file = p.getFileName.toString
      Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
        // code only: line comments and Scaladoc/block-comment lines drop out
        val t = line.trim
        val code = if (t.startsWith("*") || t.startsWith("/*")) "" else line.split("//", 2)(0)
        read.findAllMatchIn(code).map { m =>
          val name = Option(m.group(3)).getOrElse(s"<non-literal ${m.group(1)} at $file:${i + 1}>")
          (name, file)
        }
      }
    }

  test("src/main reads exactly the allowlisted properties and env vars") {
    val found = reads
    assert(sources.nonEmpty, "no sources under src/main/scala (wrong working directory?)")
    val names = found.map(_._1).toSet
    assert(names -- allowed.keySet == Set.empty,
      s"configuration reads outside the allowlist: ${(names -- allowed.keySet).toSeq.sorted}")
    assert(allowed.keySet -- names == Set.empty,
      s"allowlisted names nothing reads any more: ${(allowed.keySet -- names).toSeq.sorted}")
    val misplaced = found.filterNot { case (n, f) => allowed(n).contains(f) }
    assert(misplaced.isEmpty, s"allowlisted names read from other files: $misplaced")
  }
}
