package graft.queries

import java.nio.file.{Files, Path}

import graft.{Caches, SparkTestBase}
import graft.tables.Tables
import org.apache.spark.storage.StorageLevel

/** The session-memoized banded-pair frame shared by x20, x84, and the
  * cluster-label chain (r8 verdict ask 5): the sharing used to be two
  * textually identical `bandedJaccardMinhash` call sites converging via
  * canonical-plan caching — load-bearing for the bench but silently
  * breakable by a parameter drift at either site. `Extensions.bandedPairs`
  * makes it an object identity; these pins keep it one, and pin that
  * `Caches.clearAll` and `Tables.invalidate` reach the memo.
  */
class SharedSubtreeSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("bandedPairs memoizes per (session, dir) and persists") {
    Caches.clearAll(spark)
    val a = Extensions.bandedPairs(spark, sf)
    val b = Extensions.bandedPairs(spark, sf)
    assert(a eq b, "second call must return the memoized frame")
    assert(a.storageLevel != StorageLevel.NONE, "pair frame must be persisted")
    assert(a.columns.contains("d1") && a.columns.contains("d2"))
  }

  test("x20 and x84 consume the one frame and stay mutually consistent") {
    val pairs = Extensions.bandedPairs(spark, sf)
    val x20 = Extensions.queries("x20_banded_jaccard")(spark, sf).collect()
    val x84 = Extensions.queries("x84_source_overlap")(spark, sf).collect()
    assert(x20.length === pairs.count())
    // every x20 pair lands in exactly one unordered source bucket
    assert(x84.map(_.getLong(2)).sum === x20.length.toLong)
  }

  // named for the per-memo release method Caches.clearAll replaced
  test("releaseBandedPairs unpersists and drops the memo") {
    val a = Extensions.bandedPairs(spark, sf)
    Caches.clearAll(spark)
    assert(a.storageLevel === StorageLevel.NONE, "clearAll must unpersist")
    val c = Extensions.bandedPairs(spark, sf)
    assert(!(a eq c), "clearAll must drop the memo so the next call rebuilds")
    assert(c.storageLevel != StorageLevel.NONE, "the rebuilt frame must be persisted")
    assert(c.count() === a.count())
    Caches.clearAll(spark)
  }

  test("invalidate(dir) reaches the derived frames: bandedPairs over a " +
       "rewritten documents table reflects the new rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_invalidate")
    val text = "the quick brown fox jumps over the lazy dog again"
    // rewritten from outside the session, as another job would: a write
    // through this session would itself refresh the cached plans
    def writeDocs(n: Int): Unit = {
      val staged = Files.createTempDirectory("graft_invalidate_staged")
      (1 to n).map(i => (i.toLong, text)).toDF("doc_id", "text")
        .write.parquet(s"$staged/documents.parquet")
      val table = dir.resolve("documents.parquet")
      if (Files.exists(table)) {
        val old = Files.walk(table)
        try old.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
        finally old.close()
      }
      Files.move(staged.resolve("documents.parquet"), table)
    }
    writeDocs(2)
    assert(Extensions.bandedPairs(spark, dir.toString).count() === 1)
    writeDocs(3)
    Tables.invalidate(spark, dir.toString)
    assert(Extensions.bandedPairs(spark, dir.toString).count() === 3,
      "the pair frame must be rebuilt from the rewritten table")
    Tables.invalidate(spark, dir.toString)
  }

  test("repeatEdges memoizes per (session, dir) and persists — a60/a61 " +
       "share one edge build (r9 verdict ask 3)") {
    Caches.clearAll(spark)
    val a = Analytics.repeatEdges(spark, sf)
    val b = Analytics.repeatEdges(spark, sf)
    assert(a eq b, "second call must return the memoized frame")
    assert(a.storageLevel != StorageLevel.NONE, "edge frame must be persisted")
    assert(a.columns.toSeq === Seq("p1", "p2", "n_ab"))
    // both consumers stay mutually consistent on the one frame: a61's
    // node universe is exactly the distinct endpoints of the edges a60
    // counts triangles over
    val nodes = a.select("p1").union(a.select("p2")).distinct().count()
    val a61 = Analytics.queries("a61_degree_profile")(spark, sf).collect()
    assert(a61.map(_.getLong(1)).sum === nodes)
    val a60 = Analytics.queries("a60_basket_triangles")(spark, sf)
    assert(a60.count() <= nodes)
  }

  // named for the per-memo release method Caches.clearAll replaced
  test("releaseRepeatEdges unpersists and drops the memo") {
    val a = Analytics.repeatEdges(spark, sf)
    Caches.clearAll(spark)
    assert(a.storageLevel === StorageLevel.NONE, "clearAll must unpersist")
    val c = Analytics.repeatEdges(spark, sf)
    assert(!(a eq c), "clearAll must drop the memo so the next call rebuilds")
    assert(c.storageLevel != StorageLevel.NONE, "the rebuilt frame must be persisted")
    assert(c.count() === a.count())
    Caches.clearAll(spark)
  }
}
