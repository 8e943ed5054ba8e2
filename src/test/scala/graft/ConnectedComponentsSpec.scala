package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.ops.Dedup

/** The driver path of `Dedup.connectedComponentsStats` against the Spark
  * label-propagation path on seeded random pair graphs: same labels row
  * for row, same schema, same round count.
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  /** Random forest-plus-extras pair list over ids from `draw`: several
    * components of 2..24 nodes, each a random tree with a few extra
    * edges, then duplicated and reversed edges and one self-loop node.
    */
  private def graph(seed: Long, draw: scala.util.Random => Long,
                    pinned: Seq[Long]): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val ids = (pinned.iterator ++ Iterator.continually(draw(rnd))).distinct
    val comps = Seq.fill(12)(Seq.fill(2 + rnd.nextInt(23))(ids.next()))
    val tree = comps.flatMap { c =>
      val spanning = (1 until c.length).map(i => (c(rnd.nextInt(i)), c(i)))
      val extra = Seq.fill(c.length / 4)((c(rnd.nextInt(c.length)), c(rnd.nextInt(c.length))))
      spanning ++ extra
    }
    val dups = Seq.fill(10)(tree(rnd.nextInt(tree.length)))
    val reversed = Seq.fill(10)(tree(rnd.nextInt(tree.length))).map(_.swap)
    val loop = ids.next()
    rnd.shuffle(tree ++ dups ++ reversed :+ (loop, loop))
  }

  private def assertParity(pairs: DataFrame): Unit = {
    val driver = Dedup.connectedComponentsStats(pairs)
    val prop = Dedup.propagateComponents(pairs, maxIter = 200)
    assert(driver.labels.schema == prop.labels.schema)
    val got = driver.labels.orderBy("node").collect().toSeq
    val want = prop.labels.orderBy("node").collect().toSeq
    assert(got == want)
    assert(driver.iterations == prop.iterations)
    assert(got.map(_.get(1)).distinct.length >= 10, "components merged")
    prop.labels.unpersist()
  }

  test("driver path == propagation on random long-id graphs across the Long range") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(1L, 2L, 3L))
      assertParity(graph(seed, _.nextLong(), Seq(Long.MinValue, Long.MaxValue, 0L, -1L))
        .toDF("a", "b"))
  }

  test("driver path == propagation on an int-typed id column") {
    val s = spark
    import s.implicits._
    val pairs = graph(4L, _.nextInt().toLong, Seq(Int.MinValue.toLong, Int.MaxValue.toLong))
      .map { case (a, b) => (a.toInt, b.toInt) }.toDF("a", "b")
    assertParity(pairs)
    assert(Dedup.connectedComponents(pairs).schema.map(_.dataType.typeName) ==
      Seq("integer", "integer"))
  }

  test("edge collection: a partition over its share is re-read, the bound is exact") {
    val s = spark
    import s.implicits._
    // two partitions of 9 and 1 edges: at bound 10 each partition's share
    // is 6 edges, so the first job truncates one and a second fetches it
    val ab = s.sparkContext.parallelize(Seq(9L, 1L), 2)
      .flatMap(n => (0L until n).map(i => (n * 1000 + i, i)))
      .toDF("a", "b")
    assert(ab.rdd.getNumPartitions == 2)
    val want = ab.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val packed = Dedup.packEdges(ab)
    def got(bound: Int) = Dedup.collectEdges(packed, bound)
      .map(_.grouped(2).map(e => (e(0), e(1))).toSeq.sorted)
    assert(got(10).contains(want))
    assert(got(100).contains(want))
    assert(got(9).isEmpty)
    packed.unpersist()
  }

  test("over the edge bound: propagation's labels, and the pairs are read once") {
    val s = spark
    import s.implicits._
    val edges = graph(5L, _.nextLong(), Nil)
    val reads = s.sparkContext.longAccumulator("pair reads")
    val pairs = s.sparkContext.parallelize(edges, 3)
      .map { e => reads.add(1); e }.toDF("a", "b")
    val over = Dedup.componentsWithin(pairs, 200, "a", "b", bound = 10)
    val prop = Dedup.propagateComponents(edges.toDF("a", "b"), maxIter = 200)
    assert(over.labels.schema == prop.labels.schema)
    assert(over.labels.orderBy("node").collect().toSeq ==
      prop.labels.orderBy("node").collect().toSeq)
    assert(over.iterations == prop.iterations)
    assert(reads.value == edges.length, s"${edges.length} pairs read ${reads.value} times")
    over.labels.unpersist(); prop.labels.unpersist()
  }

  test("no pairs: no labels, one round, on both paths") {
    val s = spark
    import s.implicits._
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    val driver = Dedup.connectedComponentsStats(pairs)
    val prop = Dedup.propagateComponents(pairs, maxIter = 20)
    assert(driver.labels.schema == prop.labels.schema)
    assert(driver.labels.count() == 0 && prop.labels.count() == 0)
    assert(driver.iterations == 1 && prop.iterations == 1)
  }
}
