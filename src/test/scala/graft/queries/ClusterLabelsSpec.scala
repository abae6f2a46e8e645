package graft.queries

import graft.{Caches, SparkTestBase}
import org.apache.spark.storage.StorageLevel

/** The session-memoized cluster-label table shared by x14/x44/x59.
  *
  * connectedComponentsKeepOne runs eager actions, so the sharing
  * contract is object identity: repeated calls must return the SAME
  * persisted frame, not a canonically-equal rebuild — otherwise each
  * consumer would re-run the banded-pairs + components chain.
  */
class ClusterLabelsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("clusterLabels memoizes per (session, dir) and persists") {
    Caches.clearAll(spark)
    val a = Extensions.clusterLabels(spark, sf)
    val b = Extensions.clusterLabels(spark, sf)
    assert(a eq b, "second call must return the memoized frame")
    assert(a.storageLevel != StorageLevel.NONE, "label table must be persisted")
    assert(a.columns.contains("doc_id") && a.columns.contains("canonical_id"))
    assert(a.count() > 0)
  }

  test("x14/x44/x59 consume one chain and stay mutually consistent") {
    val labels = Extensions.clusterLabels(spark, sf)
    val x14 = Extensions.queries("x14_dedup_keepone")(spark, sf).collect()
    val x44 = Extensions.queries("x44_cluster_sizes")(spark, sf).collect()
    val x59 = Extensions.queries("x59_cluster_split")(spark, sf).collect()
    // histogram mass equals the doc count; split covers every doc
    assert(x44.map(r => r.getLong(0) * r.getLong(1)).sum === x14.length)
    assert(x59.length === x14.length)
    assert(labels.count() === x14.length)
  }

  // named for the per-memo release method Caches.clearAll replaced
  test("releaseClusterLabels unpersists and drops the memo") {
    val a = Extensions.clusterLabels(spark, sf)
    Caches.clearAll(spark)
    assert(a.storageLevel === StorageLevel.NONE, "clearAll must unpersist")
    val c = Extensions.clusterLabels(spark, sf)
    assert(!(a eq c), "clearAll must drop the memo so the next call rebuilds")
    assert(c.storageLevel != StorageLevel.NONE, "the rebuilt frame must be persisted")
    assert(c.count() === a.count())
    Caches.clearAll(spark)
  }
}
