package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.expressions._

/** Column-level API over the codegen vector kernels, plus interpreted
  * higher-order-function twins used as oracles in tests (the analogue of the
  * reference's scalar-vs-SIMD A/B switch, `src/simd_dot.cpp:14-16`).
  */
object VectorFunctions {

  private def col1(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    Bridge.column(e)
  private def ex(c: Column) = Bridge.expression(c)

  // ---- codegen kernels (the fast path) ----

  def dot(a: Column, b: Column): Column = col1(DotF32(ex(a), ex(b)))
  def l2Sq(a: Column, b: Column): Column = col1(L2SqF32(ex(a), ex(b)))
  def cosine(a: Column, b: Column): Column = col1(CosineF32(ex(a), ex(b)))
  def norm2(a: Column): Column = col1(NormL2(ex(a)))
  def dotI8(q: Column, codes: Column, scale: Column): Column =
    col1(DotI8Scale(ex(q), ex(codes), ex(scale)))
  def dotHalf(q: Column, bits: Column): Column = col1(DotHalf(ex(q), ex(bits)))
  def halfEncode(v: Column): Column = col1(HalfEncode(ex(v)))
  def halfDecode(v: Column): Column = col1(HalfDecode(ex(v)))
  def quantizeI8(v: Column): Column = col1(QuantizeI8(ex(v)))
  /** Sorted distinct packed char-n-gram codes (longs). */
  def ngramCodes(text: Column, n: Int): Column = col1(NgramCodes(ex(text), n))
  /** Jaccard over two sorted long-code n-gram sets. */
  def jaccardCodes(a: Column, b: Column): Column = col1(JaccardCodes(ex(a), ex(b)))
  /** 64-bit SimHash of a token array. */
  def simhash64(tokens: Column): Column = col1(SimHash64(ex(tokens)))
  /** SimHash with md5-lower-64 token hashes (SQL-reproducible flavor). */
  def simhashMd5(tokens: Column): Column = col1(SimHashMd5(ex(tokens)))
  /** Scale-path MinHash signature (one md5 per shingle, k mixed minima). */
  def minhashSig64(text: Column, n: Int = 5, k: Int = 4): Column =
    col1(MinhashSig64(ex(text), n, k))
  /** Lower 64 bits of md5 as a signed long (== DuckDB md5_number_lower). */
  def md5Lower64(text: Column): Column = col1(Md5StrLower64(ex(text)))

  // ---- interpreted oracles built from Spark higher-order builtins ----

  /** Same semantics as [[dot]], via zip_with + aggregate (slow, trusted). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2SqHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  def norm2Hof(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Per-row finiteness check (`apps/nvdb_sanity.cpp:7-19`). */
  def allFinite(a: Column): Column =
    !exists(a, x => isnan(x) || x === Float.PositiveInfinity || x === Float.NegativeInfinity)

  /** Register SQL names for ad-hoc `spark.sql` use. */
  def register(spark: SparkSession): Unit = {
    val reg = Bridge.functionRegistry(spark)
    reg.createOrReplaceTempFunction("graft_dot", es => DotF32(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_l2sq", es => L2SqF32(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_cosine", es => CosineF32(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_norm2", es => NormL2(es.head), "built-in")
    reg.createOrReplaceTempFunction("graft_dot_i8", es => DotI8Scale(es.head, es(1), es(2)), "built-in")
    reg.createOrReplaceTempFunction("graft_dot_half", es => DotHalf(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_half_encode", es => HalfEncode(es.head), "built-in")
    reg.createOrReplaceTempFunction("graft_half_decode", es => HalfDecode(es.head), "built-in")
    reg.createOrReplaceTempFunction("graft_quantize_i8", es => QuantizeI8(es.head), "built-in")
    // n/k parameters must be literals at SQL registration time
    reg.createOrReplaceTempFunction("graft_minhash_sig",
      es => MinhashSig(es.head, 5, (0 until 4).map(_.toString)), "built-in")
    reg.createOrReplaceTempFunction("graft_fingerprint",
      es => FingerprintMin(es.head, 3), "built-in")
    reg.createOrReplaceTempFunction("graft_simhash64",
      es => SimHash64(es.head), "built-in")
    reg.createOrReplaceTempFunction("graft_simhash_md5",
      es => SimHashMd5(es.head), "built-in")
    reg.createOrReplaceTempFunction("graft_minhash_sig64",
      es => MinhashSig64(es.head, 5, 4), "built-in")
    reg.createOrReplaceTempFunction("graft_md5_lower64",
      es => Md5StrLower64(es.head), "built-in")
  }
}
