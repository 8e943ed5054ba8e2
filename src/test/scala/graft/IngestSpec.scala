package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Tables}
import graft.functions.expressions.IngestKernels
import graft.ops.Ingest

/** S8 ingest pipeline: sentence splitting, greedy chunk packing, token
  * windows, stub embedding shape/determinism, sidecar join.
  */
class IngestSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(4)

  private val text = "One sentence here. Another follows! A third? " +
    "Then a noticeably longer fourth sentence arrives with many words. Fin."

  test("greedy chunker packs sentences under the char budget") {
    val sents = IngestKernels.splitSentences(text)
    assert(sents.length == 5)
    import org.apache.spark.unsafe.types.UTF8String
    val chunks = IngestKernels.chunkGreedy(UTF8String.fromString(text), 50)
      .toObjectArray(org.apache.spark.sql.types.StringType)
      .map(_.toString)
    // every chunk within budget unless it is a single over-long sentence
    chunks.foreach { c =>
      assert(c.length <= 50 || !c.contains(". "), s"overflowing multi-sentence chunk: '$c'")
    }
    // chunk boundaries only at sentence boundaries; text reconstructs
    assert(chunks.mkString(" ") == sents.mkString(" "))
    // a one-sentence budget still emits every sentence
    val tiny = IngestKernels.chunkGreedy(UTF8String.fromString(text), 1)
      .toObjectArray(org.apache.spark.sql.types.StringType).map(_.toString)
    assert(tiny.toSeq == sents.toSeq)
  }

  test("chunkByChars explodes with correct indices and counts") {
    import spark.implicits._
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val rows = Ingest.chunkByChars(docs, 50).orderBy("chunk_index").collect()
    assert(rows.length > 1)
    assert(rows.map(_.getInt(1)).toSeq == rows.indices.toSeq)
    assert(rows.forall(_.getInt(3) == rows.length))
  }

  test("token-window chunks reconstruct the normalized text") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).limit(20)
    val rejoined = Ingest.chunkByTokens(docs, 7)
      .groupBy("doc_id").agg(array_join(
        expr("transform(sort_array(collect_list(struct(chunk_index, chunk))), r -> r.chunk)"),
        " ").as("rejoined"))
    val orig = docs.select(col("doc_id"),
      array_join(split(trim(col("text")), "\\s+"), " ").as("orig"))
    val bad = rejoined.join(orig, Seq("doc_id"))
      .filter(col("rejoined") =!= col("orig")).count()
    assert(bad == 0)
  }

  test("stub embedding: deterministic, normalized, right dim") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon")).toDF("doc_id", "text")
    val e1 = Ingest.embedChunks(docs, maxChars = 100, dim = 16)
      .select("doc_id", "embedding").orderBy("doc_id").collect()
    val e2 = Ingest.embedChunks(docs, maxChars = 100, dim = 16)
      .select("doc_id", "embedding").orderBy("doc_id").collect()
    assert(e1.map(_.getSeq[Float](1)).toSeq == e2.map(_.getSeq[Float](1)).toSeq)
    e1.foreach { r =>
      val v = r.getSeq[Float](1)
      assert(v.length == 16)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-5, s"norm $n")
    }
    // different texts embed differently
    assert(e1(0).getSeq[Float](1) != e1(1).getSeq[Float](1))
  }

  test("full pipeline: chunk -> embed -> IVF index -> search retrieves own chunk") {
    import graft.ops.{Ivf, Metric, Search}
    val docs = Tables.documents(spark, dir).limit(200)
    // mint dense positional ids for the index build — the trainers
    // contract on an id-prefix sample (composite doc_id*1000+chunk ids
    // would make `id < ntrain` a sparse, degenerate sample)
    val vecs = Ingest.withPositionalIds(
      Ingest.embedChunks(docs, maxChars = 400, dim = 32)
        .select(col("embedding").as("vec")))
      .cache()
    val n = vecs.count()
    assert(n >= 200)
    // queries = a handful of chunk embeddings; exact search must self-match
    val queries = vecs.orderBy("id").limit(8)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val top1 = Search.exactTopKFused(vecs, queries, k = 1, Metric.L2).collect()
    top1.foreach(r => assert(r.getAs[Long]("qid") == r.getAs[Long]("id")))
    // and the IVF path over the same embeddings keeps recall
    val cents = Ivf.train(vecs, nlist = 8, ntrain = 500)
    val pred = Ivf.search(Ivf.assign(vecs, cents), queries, cents, nprobe = 8, k = 5, Metric.L2)
      .groupBy("qid").agg(collect_list(col("id")).as("pred_ids"))
    val gt = Search.groundTruth(vecs, queries, 5, Metric.L2)
    val recall = Search.recallAtK(pred, gt, 5).collect()(0).getDouble(0)
    assert(recall == 1.0, s"full-probe recall $recall")
    vecs.unpersist()
  }

  test("rowmeta sidecar join carries doc metadata per chunk") {
    val docs = Tables.documents(spark, dir).limit(10)
    val chunks = Ingest.chunkByChars(docs, 200)
    val meta = Ingest.rowMeta(chunks, docs, Seq("lang", "n_chars"))
    assert(meta.columns.toSeq ==
      Seq("doc_id", "chunk_index", "n_chars_chunk", "lang", "n_chars"))
    assert(meta.count() == chunks.count())
  }
}
