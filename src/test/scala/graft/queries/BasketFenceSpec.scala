package graft.queries

import graft.SparkTestBase

/** a56's MaxBasketSize fence (r8 verdict ask 3): basket-pair generation
  * is k²/2 per order, so a pathological mega-order must raise at first
  * action — never silently emit its billions of pairs inside one task.
  * a62 shares a56's fenced baskets cache, so it inherits the fence.
  */
class BasketFenceSpec extends SparkTestBase {
  import spark.implicits._

  test("normal baskets pass the fence, parts dedup and sort within the order") {
    val li = Seq(
      (1L, 30L), (1L, 10L), (1L, 10L), (1L, 20L),
      (2L, 5L)).toDF("l_orderkey", "l_partkey")
    val out = Analytics.fencedBaskets(li).orderBy("ok").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(out(0).getSeq[Long](1) === Seq(10L, 20L, 30L))
    assert(out(1).getSeq[Long](1) === Seq(5L))
  }

  private def messages(t: Throwable): List[String] =
    if (t == null) Nil else Option(t.getMessage).toList ::: messages(t.getCause)

  test("a mega-order above MaxBasketSize raises with order id and size") {
    val n = Analytics.MaxBasketSize + 1
    val li = (1 to n).map(i => (99L, i.toLong)).toDF("l_orderkey", "l_partkey")
    val e = intercept[Exception] {
      Analytics.fencedBaskets(li).collect()
    }
    val all = messages(e).mkString("\n")
    assert(all.contains("MaxBasketSize"), s"fence message missing: $all")
    assert(all.contains("99"), "message must name the offending order")
  }

  test("a62 inherits the fence: a mega-order in lineitem fails a62 " +
    "with the fence message") {
    val dir = java.nio.file.Files.createTempDirectory("graft_a62_fence").toString
    val n = Analytics.MaxBasketSize + 1
    ((1 to n).map(i => (77L, i.toLong)) ++ Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val e = intercept[Exception] {
      Analytics.queries("a62_item_similarity")(spark, dir).collect()
    }
    val all = messages(e).mkString("\n")
    assert(all.contains(s"exceeds MaxBasketSize=${Analytics.MaxBasketSize}: order 77"),
      s"fence message missing: $all")
    Analytics.releaseRepeatEdges(spark)
  }

  test("a basket exactly at the cap passes") {
    val n = Analytics.MaxBasketSize
    val li = (1 to n).map(i => (7L, i.toLong)).toDF("l_orderkey", "l_partkey")
    val out = Analytics.fencedBaskets(li).collect()
    assert(out.length === 1)
    assert(out(0).getSeq[Long](1).length === n)
  }
}
