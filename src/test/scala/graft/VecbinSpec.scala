package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Tables}
import graft.functions.VectorFunctions
import graft.io.Vecbin
import graft.ops.{Metric, Search}

/** Byte-compatible vecbin64/gtbin round-trips with strict header
  * validation (`/root/reference/src/vector_dataset.cpp:67-70` semantics).
  */
class VecbinSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(4)

  private def base = Tables.embeddings(spark, dir)
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory("vecbin").resolve(name).toString

  test("f32 round-trip preserves every vector bitwise") {
    val p = tmp("base.f32.vecbin")
    Vecbin.write(base, p, Vecbin.DtypeF32)
    val h = Vecbin.readHeader(p)
    assert(h == Vecbin.Header(Vecbin.DtypeF32, 64, 500))
    val back = Vecbin.read(spark, p)
    val diff = base.alias("a").join(back.alias("b"), "id")
      .filter(not(col("a.vec") <=> col("b.vec"))).count()
    assert(diff == 0)
    assert(back.count() == 500)
  }

  test("f16 round-trip preserves bit patterns") {
    val p = tmp("base.f16.vecbin")
    val f16 = base.select(col("id"), VectorFunctions.halfEncode(col("vec")).as("bits"))
    Vecbin.write(f16, p, Vecbin.DtypeF16)
    val back = Vecbin.read(spark, p)
    assert(back.schema("bits").dataType.toString.contains("ShortType"))
    val diff = f16.alias("a").join(back.alias("b"), "id")
      .filter(not(col("a.bits") <=> col("b.bits"))).count()
    assert(diff == 0)
  }

  test("i8 round-trip preserves codes and per-row scales") {
    val p = tmp("base.i8.vecbin")
    val i8 = base.select(col("id"),
      VectorFunctions.quantizeI8(col("vec")).as("q"))
      .select(col("id"), col("q.codes").as("codes"), col("q.scale").as("scale"))
    Vecbin.write(i8, p, Vecbin.DtypeI8)
    val back = Vecbin.read(spark, p)
    val diff = i8.alias("a").join(back.alias("b"), "id")
      .filter(not(col("a.codes") <=> col("b.codes")) ||
        col("a.scale") =!= col("b.scale")).count()
    assert(diff == 0)
  }

  test("driver-side export refuses tables beyond the row cap") {
    val p = tmp("huge.f32.vecbin")
    sys.props("graft.vecbin.maxExportRows") = "100"
    try {
      val e = intercept[IllegalArgumentException](
        Vecbin.write(base, p, Vecbin.DtypeF32)) // 500 rows > cap 100
      assert(e.getMessage.contains("driver-side"))
      assert(!new java.io.File(p).exists(), "no partial file on refusal")
    } finally sys.props -= "graft.vecbin.maxExportRows"
    Vecbin.write(base, p, Vecbin.DtypeF32) // default cap: fine
    assert(Vecbin.readHeader(p).count == 500)
  }

  test("corrupt magic and truncated payload are rejected") {
    val p = tmp("bad.vecbin")
    Vecbin.write(base.limit(10), p, Vecbin.DtypeF32)
    val raf = new java.io.RandomAccessFile(p, "rw")
    raf.seek(0); raf.writeByte(0x00); raf.close()
    intercept[IllegalArgumentException] { Vecbin.readHeader(p) }
    // restore magic, then truncate
    val raf2 = new java.io.RandomAccessFile(p, "rw")
    raf2.seek(0); raf2.writeByte(0x31); raf2.setLength(raf2.length() - 4); raf2.close()
    intercept[IllegalArgumentException] { Vecbin.readHeader(p) }
  }

  test("raw12 legacy round-trip") {
    val p = tmp("base.raw12")
    Vecbin.writeRaw12(base, p)
    val back = Vecbin.readRaw12(spark, p)
    assert(back.count() == 500)
    val diff = base.alias("a").join(back.alias("b"), "id")
      .filter(not(col("a.vec") <=> col("b.vec"))).count()
    assert(diff == 0)
    // truncated file rejected
    val raf = new java.io.RandomAccessFile(p, "rw")
    raf.setLength(raf.length() - 8); raf.close()
    intercept[IllegalArgumentException] { Vecbin.readRaw12(spark, p) }
  }

  test("DSv2 source: format(\"vecbin\") matches the RDD reader, prunes columns") {
    // f32
    val p = tmp("dsv2.f32.vecbin")
    Vecbin.write(base, p, Vecbin.DtypeF32)
    val v2 = spark.read.format("vecbin").load(p)
    assert(v2.schema.fieldNames.toSeq == Seq("id", "vec"))
    val diff = base.alias("a").join(v2.alias("b"), "id")
      .filter(not(col("a.vec") <=> col("b.vec"))).count()
    assert(diff == 0 && v2.count() == 500)
    // column pruning reaches the scan: an id-only projection's V2 scan
    // reads just the id column (payload bytes never touched)
    val idOnly = v2.select("id")
    val scans = idOnly.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    assert(scans.nonEmpty, "no V2 scan in plan")
    assert(scans.head.readSchema().fieldNames.toSeq == Seq("id"),
      s"payload not pruned: ${scans.head.description()}")
    assert(idOnly.collect().map(_.getLong(0)).sorted.toSeq == (0L until 500L))
    // i8 flavor with scales, partition-count option
    val pi = tmp("dsv2.i8.vecbin")
    val i8 = base.select(col("id"),
      VectorFunctions.quantizeI8(col("vec")).as("q"))
      .select(col("id"), col("q.codes").as("codes"), col("q.scale").as("scale"))
    Vecbin.write(i8, pi, Vecbin.DtypeI8)
    val v2i = spark.read.format("vecbin").option("partitions", 7).load(pi)
    assert(v2i.rdd.getNumPartitions == 7)
    val diffI = i8.alias("a").join(v2i.alias("b"), "id")
      .filter(not(col("a.codes") <=> col("b.codes")) ||
        col("a.scale") =!= col("b.scale")).count()
    assert(diffI == 0)
    // exact search over the V2-read base matches the parquet-read base
    val queries = Tables.embeddings(spark, dir).filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val a = Search.exactTopKFused(base, queries, 5, Metric.Dot)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Search.exactTopKFused(v2, queries, 5, Metric.Dot)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("gtbin round-trip: search on vecbin-read base matches parquet GT") {
    val queries = Tables.embeddings(spark, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val gt = Search.groundTruth(base, queries, k = 10, Metric.Dot)
    val p = tmp("gt.gtbin")
    Vecbin.writeGt(gt, p, k = 10, dim = 64, nBase = 500)
    val back = Vecbin.readGt(spark, p)
    val diff = gt.alias("a").join(back.alias("b"), "qid")
      .filter(not(col("a.gt_ids") <=> col("b.gt_ids"))).count()
    assert(diff == 0)
    // vecbin-read base reproduces the same exact-search ids
    val vb = tmp("b.vecbin")
    Vecbin.write(base, vb, Vecbin.DtypeF32)
    val gt2 = Search.groundTruth(Vecbin.read(spark, vb), queries, 10, Metric.Dot)
    val diff2 = gt.alias("a").join(gt2.alias("b"), "qid")
      .filter(not(col("a.gt_ids") <=> col("b.gt_ids"))).count()
    assert(diff2 == 0)
  }
}
