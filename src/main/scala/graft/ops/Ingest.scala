package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.expressions.{FakeEmbed, SentenceChunks}

/** Embedding ingest pipeline (S8): document → sentence-aware chunks →
  * explode → embed → vector table + rowmeta sidecar — the Spark-native
  * re-expression of `/root/reference/scripts/build_vecbin_chunked.py:
  * 255-385` (chunking `:155-225`, normalize `:294-300`, sidecar
  * `:304-306,345-352`).
  *
  * Scale design: everything is a narrow per-row projection + one
  * generator (explode); no shuffle until the caller writes or joins. Row
  * identity inside the pipeline is the composite (doc_id, chunk_index);
  * when the chunks feed an INDEX build (whose trainers contract on dense
  * positional ids, SURVEY §1.1 — the reference's vecbin writes chunks
  * sequentially so its row ids are positional too), mint ids with
  * [[withPositionalIds]] as the final DDL step.
  */
object Ingest {

  /** Dense positional row ids 0..N-1 in current partition order — the
    * reference's vecbin row-id semantics
    * (`scripts/build_vecbin_chunked.py:338-353` writes chunks
    * sequentially). zipWithIndex is two narrow passes (per-partition count,
    * then offset add) — no shuffle, no global sort; run once at index-build
    * DDL time.
    */
  def withPositionalIds(df: DataFrame, idCol: String = "id"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rdd = df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(i +: r.toSeq) }
    df.sparkSession.createDataFrame(rdd,
      StructType(StructField(idCol, LongType, nullable = false) +: df.schema.fields))
  }

  /** Greedy sentence-packing chunker (custom kernel, ≤maxChars). */
  def sentenceChunks(text: Column, maxChars: Int): Column =
    Bridge.column(SentenceChunks(Bridge.expression(text), maxChars))

  /** DECLARED STUB embedding (no model in the container): deterministic
    * seeded-gaussian, L2-normalized, real schema/shape.
    */
  def fakeEmbed(text: Column, dim: Int): Column =
    Bridge.column(FakeEmbed(Bridge.expression(text), dim))

  /** Fixed token-window chunking: every `perChunk` consecutive whitespace
    * tokens form one chunk (the word-budget fallback of the reference
    * chunker for punctuation-free text). Output: (doc_id, chunk_index,
    * chunk).
    */
  def chunkByTokens(docs: DataFrame, perChunk: Int = 20,
                    idCol: String = "doc_id",
                    textCol: String = "text",
                    carry: Seq[String] = Nil): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val nch = ceil(size(toks) / lit(perChunk.toDouble)).cast("int")
    val chunks = transform(sequence(lit(0), nch - 1),
      j => array_join(slice(toks, j * perChunk + 1, lit(perChunk)), " "))
    // `carry`: doc-level metadata columns to ride the explode (r17) — a
    // post-hoc equi-join back to `docs` for a column that was already on
    // the row reads the corpus twice and pays a join for nothing
    // (guide §2.4); every chunk inherits its own doc's values, so the
    // carried flavor is row-identical to the join (IngestSpec gates it).
    docs.select(col(idCol) +: carry.map(col) :+
      posexplode(chunks).as(Seq("chunk_index", "chunk")): _*)
  }

  /** Greedy char-budget chunking (the reference's real semantics).
    * Output: (doc_id, chunk_index, chunk, n_chunks).
    */
  def chunkByChars(docs: DataFrame, maxChars: Int,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val chunks = sentenceChunks(col(textCol), maxChars)
    docs.select(col(idCol), size(chunks).as("n_chunks"),
      posexplode(chunks).as(Seq("chunk_index", "chunk")))
      .select(col(idCol), col("chunk_index"), col("chunk"), col("n_chunks"))
  }

  /** Full pipeline: chunk → embed (stub) → vector table (doc_id,
    * chunk_index, chunk, embedding) plus the rowmeta sidecar (doc_id,
    * chunk_index, n_chars, section columns the caller selects).
    */
  def embedChunks(docs: DataFrame, maxChars: Int, dim: Int,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    chunkByChars(docs, maxChars, idCol, textCol)
      .withColumn("embedding", fakeEmbed(col("chunk"), dim))

  /** Rowmeta sidecar (`build_vecbin_chunked.py:345-352`): chunk-level
    * metadata joined back to document-level columns.
    */
  def rowMeta(chunks: DataFrame, docs: DataFrame, metaCols: Seq[String],
              idCol: String = "doc_id"): DataFrame =
    chunks.select(col(idCol), col("chunk_index"),
      length(col("chunk")).cast("long").as("n_chars_chunk"))
      .join(docs.select(col(idCol) +: metaCols.map(col): _*), Seq(idCol))
}
