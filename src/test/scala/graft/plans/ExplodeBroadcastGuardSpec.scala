package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** Guard against the explode-broadcast trap (first fixed for x51,
  * `Dedup.containmentPairs`): Catalyst estimates `Generate` output
  * at ~its input size, ignoring fan-out, so a corpus-sized shingle/band
  * table can be planned as the BUILD side of a broadcast join — fine at
  * test scale, an OOM at 100 TB, and invisible to AQE (a static
  * broadcast join has no shuffle for AQE to replan).
  *
  * This spec re-plans every query that explodes into a join (AQE off so
  * the static choice is visible) and pins the EXACT number of
  * broadcast-of-explode sites to the audited allowlist — each remaining
  * site broadcasts a side that is bounded by construction, not by the
  * corpus:
  *   x06  query-side buckets (|queries|·tables rows)
  *   x25  eval-set shingles (eval corpus is small by contract)
  *   x31  bloom bit positions (≤ m = 16384 rows)
  *   x32  CMS cells (depth·width = 256 rows) + the scalar stream count
  *   x34  df-cut hot shingles (≤ 100·avg shingles/doc, corpus-free bound)
  *   x43/x50  PQ codebook slices and query LUT (codebook/query-sized)
  *   x52  df rows for the fixed query-token list
  * A new hit (count above the pin) means a corpus-proportional relation
  * slid under autoBroadcastJoinThreshold — fix the operator, don't bump
  * the number without a boundedness argument like the ones above.
  */
class ExplodeBroadcastGuardSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private val expected = Map(
    "x03_dedup_minhash" -> 0, "x04_simhash" -> 0,
    "x06_ann_lsh" -> 1, "x19_simhash_candidates" -> 0,
    "x20_banded_jaccard" -> 0, "x25_decontaminate" -> 1,
    "x28_tfidf" -> 0, "x31_bloom_dedup" -> 1,
    // x32 r17: the grid collapsed to a 1-row broadcast map (exact d·w
    // bound unchanged); the remaining site is that single row
    "x32_heavy_hitters" -> 1, "x34_boilerplate" -> 1,
    "x37_fuzzy_dedup" -> 0, "x38_passage_dedup" -> 0,
    // x50's 4th site (round 7): the probe list is now built by
    // explode(slice(array_sort(...), 1, nProbe)) on the QUERY side —
    // |queries|·nProbe rows, query-bounded like the LUT
    "x43_product_quantize" -> 1, "x50_ann_ivfpq" -> 4,
    "x51_containment_dedup" -> 0, "x52_bm25" -> 1,
    // round-6 additions — all corpus-sized joins pinned shuffle_hash
    // (x60's cuts broadcast is lang-level and sits above a persisted
    // subtree, so it neither is nor counts as a broadcast-of-explode)
    "x57_semantic_dedup" -> 0, "x58_duplicate_spans" -> 0,
    "x59_cluster_split" -> 0, "x60_perplexity_buckets" -> 0,
    "x61_remove_spans" -> 0,
    // x63's two broadcast builds are EVAL-bounded (the x25 contract):
    // the eval shingle set, and the distinct hit set (≤ eval shingles)
    "x62_int8_quantize" -> 0, "x63_eval_contamination" -> 2,
    "x64_pack_bins" -> 0,
    // x66: candidate joins are shuffle_hash-pinned and the final
    // anti-join's broadcast build (the batch-bounded dropped-id set)
    // aggregates before broadcasting, so no Generate sits under any
    // broadcast build; history is never self-joined (pinned in
    // IncrementalNearDedupSpec)
    "x65_stratified_take" -> 0, "x66_near_dedup_against" -> 0,
    "x67_bpe_pairs" -> 0)

  private def broadcastExplodeSites(plan: SparkPlan): Int = {
    def hasGenerate(p: SparkPlan): Boolean =
      p.collectFirst { case g: GenerateExec => g }.isDefined
    var n = 0
    plan.foreach {
      case j: BroadcastHashJoinExec =>
        val build = j.buildSide match { case BuildLeft => j.left; case BuildRight => j.right }
        if (hasGenerate(build)) n += 1
      case j: BroadcastNestedLoopJoinExec =>
        val build = j.buildSide match { case BuildLeft => j.left; case BuildRight => j.right }
        if (hasGenerate(build)) n += 1
      case _ =>
    }
    n
  }

  test("static plans broadcast an explode output only at the audited bounded sites") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val actual = expected.keys.toSeq.sorted.map { name =>
        val plan = graft.SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan
        spark.sharedState.cacheManager.clearCache()
        name -> broadcastExplodeSites(plan)
      }.toMap
      val diffs = actual.filter { case (k, v) => expected(k) != v }
      assert(diffs.isEmpty,
        s"broadcast-of-explode sites moved (actual vs expected): " +
          diffs.map { case (k, v) => s"$k: $v != ${expected(k)}" }.mkString(", "))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
