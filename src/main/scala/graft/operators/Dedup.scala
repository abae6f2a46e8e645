package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Deduplication operators for large-scale text corpora.
  *
  * Scale design (100 TB):
  *  - exact: one hash-partitioned shuffle on a 32-byte digest — no row
  *    comparisons, no skew (digests are uniform);
  *  - minhash banding ([[minhashBandPairs]] / [[bandedJaccardMinhash]]):
  *    candidate volume bounded by actual similarity; the shuffle key is
  *    (band, bucket), never the raw document — the scale path for
  *    near-dup mining (DedupSkewSpec pins the hot-shingle guard);
  *  - simhash: fingerprints are computed scan-side in one pass; banding
  *    the 64-bit fingerprint gives cheap candidates when the
  *    fingerprint itself is the product;
  *  - ngramJaccard: the exact all-pairs baseline via a direct shingle
  *    self-join — measured FASTER than a prefix-filtered (AllPairs/
  *    PPJoin) variant on this corpus (PERF.md §3) but quadratic in
  *    per-shingle document frequency, so on skewed corpora feed
  *    [[verifyJaccard]] from banded candidates instead.
  */
object Dedup {

  /** Session memo behind [[dupFraction]], keyed on (session, canonical
    * input plan, text column): the probe is one partial-agg job, but the
    * collapse family runs it per operator per action, and its answer for
    * a given input cannot change within a session any more than
    * CacheManager's canonical-plan-matched caches can — the same
    * staleness contract. Entries die with the driver; they hold only a
    * canonical plan and a double.
    */
  private val dupProbeMemo =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession,
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        String),
      java.lang.Double]

  /** Collapse-routing threshold on [[dupFraction]]: the dup collapse
    * pays a FIXED keying/expansion cost (~0.6-0.7 s per operator at
    * sf0.1, PERF.md round 7) and repays it in candidate work that
    * scales with dup-pair volume (Σ group²). At the driver sf0.1 rate
    * (0.16% dup rows) the saved k² work is noise against the fixed
    * cost; at the dup-heavy sf1 fixture (90%) the collapse is 3-40×.
    * The measured crossover sits around a few percent of duplicated
    * rows — 2% routes both known corpora correctly with margin, and
    * routing is semantics-free either way (collapse == direct output
    * equality is pinned on adversarial corpora in Round8OpsSpec).
    */
  private[operators] val CollapseDupRateThreshold = 0.02

  /** Exact-duplication-RATE probe: the fraction of `docs` rows whose
    * `textCol` value repeats another row's — `(n - distinct)/n`, 0.0
    * for empty input. One partial-aggregatable count job on the
    * uniform sha-256 digest (count vs count-distinct), memoized per
    * (session, canonical plan). The collapse operators route on this
    * via [[collapseWorthwhile]]:
    * at shallow duplication the rep-keying and member-expansion joins are
    * pure fixed overhead (measured ~0.7 s each at sf0.1, PERF.md
    * round 7) with nothing quadratic to save, so dup-free inputs take
    * the direct path — which also shares its shingle/fingerprint plan
    * caches with sibling queries, where the collapsed rep-level
    * subtrees cannot. Routing never affects results: both paths are
    * output-equal (pinned on adversarial corpora in OperatorsSpec).
    */
  private[operators] def dupFraction(docs: DataFrame, textCol: String): Double = {
    val key = (docs.sparkSession,
      docs.queryExecution.analyzed.canonicalized, textCol)
    val cached = dupProbeMemo.get(key)
    if (cached != null) cached.doubleValue()
    else {
      val r = docs.agg(
        count(lit(1)).as("n"),
        count_distinct(sha2(col(textCol), 256)).as("nd")).head()
      val v =
        if (r.getLong(0) == 0L) 0.0
        else (r.getLong(0) - r.getLong(1)).toDouble / r.getLong(0)
      dupProbeMemo.putIfAbsent(key, java.lang.Double.valueOf(v))
      v
    }
  }

  /** The routing decision the collapse family shares: collapse only
    * when the probed dup RATE clears [[CollapseDupRateThreshold]] —
    * "has any dup at all" routed the driver sf0.1 corpus (8 dup rows
    * in 5000, 0.16%) into the collapse for ~nothing saved.
    */
  private[operators] def collapseWorthwhile(docs: DataFrame, textCol: String): Boolean =
    dupFraction(docs, textCol) >= CollapseDupRateThreshold

  /** Exact content dedup: group on sha2 digest, keep the smallest id.
    * (Reference analog: all-column dropDuplicates,
    * /root/reference/data_process.py:242.)
    */
  def exactByContent(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups", "content_hash")

  /** Word shingles (n-grams of whitespace tokens), distinct per doc.
    *
    * Built by zip_with over shifted slices rather than
    * transform-over-index: an index lambda must reference the token
    * array per element, and Catalyst's projection collapsing then
    * inlines the split() under it — re-tokenizing the document O(n·|w|)
    * times per row (measured 10× slowdown). zip_with lambdas see only
    * element values, so tokenization happens O(n) times per row.
    */
  def shingles(docs: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame = {
    GraftFunctions.register(docs.sparkSession) // shingle_array
    // Single-file (single-row-group) inputs scan as one task; spread the
    // shingle computation across the cluster when the source is narrower
    // than the available parallelism. No-op for well-partitioned input.
    // The .rdd probe converts the plan once per DataFrame instance
    // (QueryExecution caches it; driver-side milliseconds) — a
    // files/partitioning peek cannot see the real scan-task count, and
    // an unconditional repartition would add a shuffle for
    // well-partitioned inputs, so the probe is the cheapest correct
    // signal here.
    val parallelism = docs.sparkSession.sparkContext.defaultParallelism
    val input =
      if (docs.rdd.getNumPartitions < parallelism) docs.repartition(parallelism)
      else docs
    // The cache boundary lives HERE (round 14; it used to sit on the
    // exploded [[shingleFlat]]): the regex split + shingle assembly +
    // array_distinct is the expensive part, and the one-pass signature
    // build ([[minhashSignatures]]) consumes the ARRAYS while the
    // set-intersection verifiers consume the EXPLODED rows — caching
    // the array table lets both derive from one computation, and it is
    // strictly smaller than the exploded table the old boundary pinned.
    // Re-exploding from cached arrays per consumer scan is cheap (no
    // regex, no distinct).
    // tokens-first (r16): materialize the split ONCE in a projection and
    // chain over the attribute — see [[shingleArrayOfTokens]]. Cached
    // contents are identical; only the build-side CPU changes.
    graft.Caches.persistOnce(input
      .select(col(idCol).as("doc_id"),
        split(lower(col(textCol)), "\\s+").as("__ws"))
      .filter(size(col("__ws")) >= n)
      .select(col("doc_id"),
        array_distinct(shingleArrayOfTokens(col("__ws"), n)).as("shingles")))
  }

  /** The raw n-gram array (duplicates preserved) behind [[shingles]] —
    * zip_with over shifted slices; see the alias-inlining note above.
    * Shared with TextAnalysis.repetition, which needs duplicate counts.
    */
  private[operators] def shingleArray(textCol: Column, n: Int): Column =
    shingleArrayOfTokens(split(lower(textCol), "\\s+"), n)

  /** The zip_with n-gram chain over a PRE-SPLIT token-array column.
    *
    * r16: hot consumers project `split(lower(text))` into a real
    * attribute FIRST and build the chain over that attribute. Inlining
    * the split directly (the [[shingleArray]] wrapper) re-evaluates the
    * regex ~2n× per row — every `slice` operand and every
    * `greatest(size(..))` bound re-inlines it, zip_with is
    * CodegenFallback so nothing CSEs, and InferFiltersFromGenerate
    * copies the whole tree again into a pre-Generate filter (measured
    * in x58: ~21 split evaluations per doc; tokens-first leaves 2).
    * CollapseProject cannot undo the projection: the token alias is
    * non-cheap and multi-referenced (SPARK-36718 guard), and — unlike
    * the round-1 `transform(sequence(...), i => w[i])` trap PERF.md §1
    * records — the attribute is referenced as a zip_with INPUT, never
    * inside a lambda body, so no per-element re-evaluation either.
    *
    * TOTAL on purpose (empty array for texts shorter than n, never an
    * error): callers guard with size(ws) >= n, but the optimizer may
    * inline this expression into inferred filters (e.g.
    * InferFiltersFromGenerate's size(arr) > 0) that evaluate BEFORE the
    * guard — a negative slice length would then throw on short texts.
    */
  private[operators] def shingleArrayOfTokens(ws: Column, n: Int): Column =
    GraftFunctions.shingleArr(ws, n)

  /** Exact n-gram Jaccard similarity for all pairs above `threshold`:
    * |A∩B| from a distinct-shingle self-join + pair count,
    * |A∪B| = |A|+|B|-|A∩B|.
    *
    * Two performance notes, both measured on the sf0.1 corpus:
    *
    *  - The exploded shingle table MUST be materialized (persist):
    *    Catalyst otherwise collapses the split/transform shingle
    *    projection into every downstream consumer and re-evaluates it
    *    several times per row — that, not join volume, was a 10×
    *    slowdown (visible in the formatted plan as duplicated lambdas
    *    inside Filter conditions).
    *  - A prefix-filtering (AllPairs/PPJoin) variant was implemented
    *    and benchmarked: at threshold 0.2 its candidate set (≈0.8M
    *    pairs) must carry both shingle ARRAYS through the verification
    *    joins, which costs more than the direct self-join's ≈2.8M
    *    narrow (d1,d2) rows. For skewed real-world corpora where
    *    Σdf² explodes, pre-band with [[minhashBandPairs]] or
    *    [[simhashCandidates]] and verify candidates here instead.
    *
    * `collapseExactDups` (default on) runs the quadratic join over ONE
    * representative per distinct text and expands pairs to members
    * afterwards. Exact by construction — jaccard is a function of the
    * two shingle sets, which are functions of the texts — and it stops
    * the Σdf² term scaling with duplication depth: a crawl corpus where
    * every page recurs k× costs k² more in the direct join but only
    * k× in the expansion joins (measured at the 10× dup-heavy sf1
    * fixture: 24.5 s direct → ~3 s collapsed). Intra-group pairs are
    * emitted as exactly 1.0 without touching shingles. (No
    * [[collapseWorthwhile]] probe routing here: unlike the x19/x37 family,
    * this collapse measured FASTER even at zero duplication — the
    * work avoided per shingle dwarfs the keying overhead; PERF.md
    * round 7.)
    */
  def ngramJaccard(docs: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   collapseExactDups: Boolean = true): DataFrame = {
    if (!collapseExactDups)
      return directJaccard(shingleFlat(docs, textCol, idCol, n), threshold)

    // one representative (min id) per distinct content, content keyed by
    // sha2 so the exchange never carries full texts
    val keyed = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
      sha2(col(textCol), 256).as("h"))
    val reps = keyed
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("__text"))).as("st"),
        count(lit(1)).as("grp_n"))
      .select(col("h"), col("st.doc_id").as("doc_id"),
        col("st.__text").as("__text"), col("grp_n"))
    val repsCached = graft.Caches.persistOnce(reps)
    val members = keyed.select(col("doc_id"), col("h"))

    // quadratic mining over distinct texts only
    val repPairs = directJaccard(
      shingleFlat(repsCached, "__text", "doc_id", n), threshold)

    // expand rep pairs to all member pairs (jaccard identical per pair)
    val repIdx = repsCached.select(col("doc_id").as("rep"), col("h"))
    val cross = repPairs
      .join(repIdx.select(col("rep").as("d1"), col("h").as("h1")), "d1")
      .join(repIdx.select(col("rep").as("d2"), col("h").as("h2")), "d2")
      .join(members.select(col("doc_id").as("m1"), col("h").as("h1")), "h1")
      .join(members.select(col("doc_id").as("m2"), col("h").as("h2")), "h2")
      .select(least(col("m1"), col("m2")).as("d1"),
        greatest(col("m1"), col("m2")).as("d2"), col("jaccard"))

    // identical texts: jaccard exactly 1.0, but only for docs that
    // produce shingles at all — same word-count predicate [[shingles]]
    // applies, so shingle-less docs never pair here either
    val dupGroups = repsCached.filter(col("grp_n") >= 2)
      .filter(size(split(lower(col("__text")), "\\s+")) >= n)
      .select("h")
    val dupMembers = members.join(dupGroups, "h")
    val intra = dupMembers.select(col("h"), col("doc_id").as("m1"))
      .join(dupMembers.select(col("h"), col("doc_id").as("m2")), Seq("h"))
      .filter(col("m1") < col("m2"))
      .select(col("m1").as("d1"), col("m2").as("d2"),
        lit(1.0).as("jaccard"))
    if (threshold <= 1.0) cross.unionByName(intra) else cross
  }

  /** The direct all-pairs join over an exploded (doc_id, sz, s) shingle
    * table — see the scaladoc above for why `flat` must be persisted.
    * sz rides along the self-join and the (functionally dependent)
    * group keys, so set sizes never need separate join-backs.
    */
  private def directJaccard(flat: DataFrame, threshold: Double): DataFrame =
    flat.select(col("doc_id").as("d1"), col("sz").as("sz1"), col("s"))
      .join(flat.select(col("doc_id").as("d2"), col("sz").as("sz2"), col("s")), Seq("s"))
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2", "sz1", "sz2").agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard",
        col("n_inter") / (col("sz1") + col("sz2") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "jaccard")

  /** Eval-set decontamination: flag corpus documents sharing ≥
    * `minOverlap` distinct n-grams with any document of `evalSet` — the
    * standard benchmark-leakage guard for training corpora. Returns
    * (doc_id, sz, n_overlap, contam_ratio); anti-join the result to the
    * corpus to drop contaminated documents.
    *
    * 100 TB: eval sets are small and fixed, so their distinct shingles
    * are BROADCAST — the corpus streams through a map-side hash
    * semi-join at scan parallelism and only matching (doc_id, shingle)
    * rows reach the one aggregation shuffle. The corpus is never
    * self-joined.
    */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, textCol: String,
                    idCol: String, n: Int = 3, minOverlap: Int = 1): DataFrame = {
    val corpusSh = shingleFlat(corpus, textCol, idCol, n)
    // left_semi: membership only — duplicate eval shingles can't fan out
    // corpus rows, so the eval side needs no distinct exchange (the
    // broadcast hash relation de-duplicates for free).
    val evalSh = shingles(evalSet, textCol, idCol, n)
      .select(explode(col("shingles")).as("s"))
    corpusSh.join(broadcast(evalSh), Seq("s"), "left_semi")
      .groupBy("doc_id", "sz")
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .withColumn("contam_ratio", col("n_overlap") / col("sz"))
      .select("doc_id", "sz", "n_overlap", "contam_ratio")
  }

  /** Per-EVAL-example contamination report (the GPT-3 appendix-C
    * direction — [[decontaminate]] reports per-CORPUS-doc overlap for
    * filtering; this reports per-eval-example overlap for judging
    * benchmark validity): for each eval document, the fraction of its
    * distinct n-gram shingles that occur anywhere in the training
    * corpus, plus a `clean` flag (zero collisions). Eval docs shorter
    * than n have no shingles and are omitted (nothing to collide).
    *
    * 100 TB: the corpus is never self-joined — corpus shingles
    * semi-join the BROADCAST eval shingles (the x25 shape), and the
    * resulting hit set, distinct-ed, is bounded by the eval shingle
    * count, so the mark-back join broadcasts an eval-bounded relation.
    * One corpus-sized pass, two tiny broadcasts.
    */
  def evalContamination(corpus: DataFrame, evalSet: DataFrame,
                        textCol: String, idCol: String,
                        n: Int = 3): DataFrame = {
    val evalSh = shingles(evalSet, textCol, idCol, n)
      .select(col("doc_id").as("eval_id"), explode(col("shingles")).as("s"))
    val corpusSh = shingleFlat(corpus, textCol, idCol, n).select("s")
    val hitS = corpusSh.join(broadcast(evalSh.select("s")), Seq("s"), "left_semi")
      .distinct()
      .withColumn("hit", lit(1))
    evalSh.join(broadcast(hitS), Seq("s"), "left")
      .groupBy("eval_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .withColumn("contam_frac", col("n_hit") / col("n_shingles"))
      .withColumn("clean", col("n_hit") === 0)
  }

  /** Word-boundary containment pairs: document A's whitespace-normalized
    * text occurs as a contiguous word run inside a strictly longer
    * document B — the "page quoted inside a larger page" duplication
    * shape that exact dedup misses (different lengths → different
    * digests) and Jaccard under-scores (the container dilutes the
    * union). Returns (contained_id, container_id, len_in, len_out);
    * strict-shorter orientation makes the output a DAG, so downstream
    * keep-longest is a groupBy, not a components loop.
    *
    * Blocking: if A is a word run of B, A's first n words are one of
    * B's n-shingles, so candidates come from equi-joining A's head
    * shingle against the corpus's exploded distinct-shingle table —
    * shuffle O(shingle collisions), never all-pairs. Candidates are
    * verified with one boundary-padded instr on the normalized texts.
    * Docs under n words produce no head shingle and never pair (the
    * [[ngramJaccard]] shingle-less convention). The DuckDB oracle runs
    * the UNBLOCKED all-pairs definition, so the correctness gate also
    * proves the blocking loses nothing.
    *
    * 100 TB: the exploded shingle join is the same artifact and shape
    * as the minhash/decontamination paths (one shuffle keyed on the
    * shingle); only candidate pairs carry the two texts into the
    * verify. A hot boilerplate head-shingle salts like any skewed join
    * key; the verify stays proportional to true candidates.
    */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       n: Int = 3): DataFrame = {
    GraftFunctions.register(docs.sparkSession) // shingle_array
    val norm = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    val base = docs.select(col(idCol).as("doc_id"), norm.as("t"))
    val words = split(col("t"), " ")
    val inner = base.filter(size(words) >= n)
      .withColumn("anchor", concat_ws(" ", slice(words, 1, n)))
      .select(col("doc_id").as("d_in"), col("t").as("t_in"), col("anchor"))
    // The exploded side carries ONLY (d_out, shingle) — r16: it used to
    // carry t_out too, which shipped every document's FULL text once
    // per shingle through the candidate exchange (fan-out × doc bytes —
    // the §8 "heavy payload through the proxy shuffle" trap; measured
    // 1.24 → 0.6 s at sf0.1 and strictly fewer bytes at any scale).
    // t_out re-attaches AFTER candidate generation via one doc_id-keyed
    // join, so text bytes move O(candidates), not O(shingles).
    // tokens-first (r16, see [[shingleArrayOfTokens]]): split once per
    // doc in a projection; the chain and its inferred filters reference
    // the attribute instead of re-splitting per occurrence
    val outer = base
      .select(col("doc_id").as("d_out"),
        split(lower(col("t")), "\\s+").as("__ws"))
      .select(col("d_out"),
        array_distinct(shingleArrayOfTokens(col("__ws"), n)).as("__sh"))
      .select(col("d_out"), explode(col("__sh")).as("s"))
    // shuffle_hash, build = anchors: Catalyst's size estimate for the
    // exploded side is ~its input relation, far under the true fan-out,
    // so the planner would happily BROADCAST the shingle table — fine
    // at sf0.1, an OOM at corpus scale. The documented plan is one
    // shuffle keyed on the shingle with the hash map built over the
    // 1-row-per-doc anchor side; the hint pins exactly that.
    val cand = inner.hint("shuffle_hash")
      .join(outer, col("anchor") === col("s") && col("d_in") =!= col("d_out"))
      .select(col("d_in"), col("t_in"), col("d_out"))
    // container texts: 1 row/doc, doc_id-keyed equi-join (shuffle_hash
    // pinned for the same estimate-blind reason — the candidate side
    // sits above a Generate-fed join)
    cand
      .join(base.select(col("doc_id").as("d_out"), col("t").as("t_out"))
        .hint("shuffle_hash"), Seq("d_out"))
      .filter(length(col("t_in")) < length(col("t_out")))
      .filter(instr(concat(lit(" "), col("t_out"), lit(" ")),
                    concat(lit(" "), col("t_in"), lit(" "))) > 0)
      .select(col("d_in").as("contained_id"), col("d_out").as("container_id"),
        length(col("t_in")).as("len_in"), length(col("t_out")).as("len_out"))
  }

  /** Incremental exact dedup: the surviving rows of `batch` after (a)
    * keep-min-id dedup within the batch and (b) dropping every document
    * whose content digest already exists in `historical` — the
    * operational shape for continuously-growing corpora, where
    * re-self-joining the full corpus per ingest is unaffordable.
    *
    * 100 TB: both sides shuffle once on the uniform sha-256 digest (no
    * skew by construction); with the historical digest table bucketed
    * on `h`, the anti-join is exchange-free on that side and the cost
    * per ingest is O(batch + matching buckets), independent of corpus
    * size.
    */
  def dedupAgainst(batch: DataFrame, historical: DataFrame,
                   textCol: String, idCol: String): DataFrame = {
    val bh = batch.select(col(idCol).as("doc_id"), sha2(col(textCol), 256).as("h"))
    val hist = historical.select(sha2(col(textCol), 256).as("h")).distinct()
    bh.groupBy("h").agg(min(col("doc_id")).as("doc_id"))
      .join(hist, Seq("h"), "left_anti")
      .select("doc_id", "h")
  }

  /** Incremental NEAR-dup dedup: batch survivors after (a) dropping
    * every batch doc whose minhash similarity estimate against ANY
    * historical doc reaches `minEstimate`, and (b) one-hop in-batch
    * domination (a batch doc is dropped when a SMALLER-id batch doc is
    * within threshold — the [[Similarity.semanticDedup]] election,
    * documented simplification of iterative keep-one). The near-dup
    * analog of [[dedupAgainst]]: the operational shape for continuously
    * growing corpora, where re-running full-corpus keep-one (x14) per
    * ingest is unaffordable. Docs too short to shingle have no
    * signature, cannot be near anything, and always survive.
    *
    * 100 TB: history participates ONLY through its signature table and
    * (band, bucket) index keys — both precomputable once per corpus
    * generation and bucketable on the band key, which makes the
    * candidate join exchange-free on the index side; per-ingest cost is
    * O(batch + colliding history rows), independent of corpus size.
    * Candidate joins are shuffle_hash-pinned (the banded tables sit
    * above Generate, whose row estimate blinds the planner — the
    * containmentPairs trap).
    */
  def nearDedupAgainst(batch: DataFrame, historical: DataFrame,
                       textCol: String, idCol: String,
                       n: Int = 3, numHashes: Int = 16, bands: Int = 8,
                       minEstimate: Double = 0.2, seed: Long = 42L): DataFrame =
    nearDedupAgainstSigs(batch, idCol,
      graft.Caches.persistOnce(
        minhashSignatures(batch, textCol, idCol, n, numHashes, seed)),
      graft.Caches.persistOnce(
        minhashSignatures(historical, textCol, idCol, n, numHashes, seed)),
      numHashes, bands, minEstimate)

  /** [[nearDedupAgainst]] over PRECOMPUTED signature frames (r16): when
    * batch and history are row-slices of one corpus, the caller can
    * slice a shared (session-cached) full-corpus signature frame
    * instead of building two private signature chains — per-doc
    * signatures commute with row filters, so the results are identical
    * and the regex/shingle/signature pass runs once per corpus, not
    * once per slice. `batch` still supplies the surviving-id domain
    * (docs too short to sign never pair and always survive).
    */
  def nearDedupAgainstSigs(batch: DataFrame, idCol: String,
                           bs: DataFrame, hs: DataFrame,
                           numHashes: Int, bands: Int,
                           minEstimate: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    def keys(sigs: DataFrame): DataFrame =
      sigs.select(col("doc_id"), col("sig"), explode(
        array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            hash(slice(col("sig"), b * r + 1, r)).as("bucket"))): _*)).as("bk"))
    def est(s1: Column, s2: Column): Column =
      lanesAgree(s1, s2, numHashes).cast("double") / numHashes
    // the batch's banded key projection feeds THREE consumers (the
    // history probe plus both sides of the domination self-join) —
    // persist it so the band explode over the signatures runs once per
    // ingest, matching the operator's "index precomputable once" story
    // (the history side has one consumer and stays underived)
    val bk = graft.Caches.persistOnce(keys(bs))
    val histHit = bk
      .select(col("doc_id").as("b_id"), col("sig").as("bsig"), col("bk"))
      .hint("shuffle_hash")
      .join(keys(hs).select(col("sig").as("hsig"), col("bk")), Seq("bk"))
      .filter(est(col("bsig"), col("hsig")) >= minEstimate)
      .select(col("b_id")).distinct()
    val dominated = bk
      .select(col("doc_id").as("d1"), col("sig").as("sig1"), col("bk"))
      .hint("shuffle_hash")
      .join(bk.select(col("doc_id").as("d2"), col("sig").as("sig2"), col("bk")),
        Seq("bk"))
      .filter(col("d1") < col("d2"))
      .filter(est(col("sig1"), col("sig2")) >= minEstimate)
      .select(col("d2").as("b_id")).distinct()
    batch.select(col(idCol).as("doc_id"))
      .join(histHit.unionByName(dominated).distinct()
          .withColumnRenamed("b_id", "doc_id"),
        Seq("doc_id"), "left_anti")
  }

  /** One exploded (doc_id, sz, shingle) row per distinct shingle.
    * NOT persisted itself (round 14): the cache boundary moved into
    * [[shingles]] — consumers re-run the cheap explode over the cached
    * array table, so the split/distinct work is shared with the
    * array-consuming one-pass signature build too, and the pinned
    * bytes shrink to the pre-explosion table. (The r4-era measurement
    * that motivated caching — 12.7 s vs 7.5 s on sf0.1 — compared
    * against re-deriving the REGEX SPLIT per consumer; that work is
    * what the arrays cache now dedups.) All shingle-based operators
    * still share ONE plan shape, so CacheManager canonical-plan
    * matching reuses a single cached array table across queries in the
    * same session.
    */
  def shingleFlat(docs: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame =
    shingles(docs, textCol, idCol, n)
      .select(col("doc_id"), size(col("shingles")).as("sz"), explode(col("shingles")).as("s"))

  /** The per-function murmur3 seeds behind [[minhashSignatures]] —
    * exposed so the DuckDB oracle generator (graft.queries.Extensions)
    * derives the SAME constants from the same master seed instead of
    * duplicating magic numbers.
    */
  def minhashSeeds(numHashes: Int, seed: Long): Seq[Int] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numHashes)(rnd.nextInt())
  }

  /** Native MinHash signatures: k INDEPENDENT hash functions realized as
    * murmur3 under k seeds, minimized per document — one explode + one
    * groupBy shuffle.
    *
    * WHY seeded hashes and not the affine `(a·murmur(s)+b) mod p` family
    * this used before: with murmur values < 2^32, a < 2^28 and
    * p = 2^61-1, the product never wraps past p, so every "permutation"
    * was MONOTONE in the one murmur value — all k components were
    * determined by the single argmin shingle, the functions were
    * perfectly correlated, and band-collision probability degraded from
    * 1-(1-j^r)^L to just j. Caught at sf0.1 (3 of 256 true pairs
    * missed); seeded murmur3 restores independent functions.
    */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, numHashes: Int = 16,
                        seed: Long = 42L): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val seeds = minhashSeeds(numHashes, seed)
    // ONE scan-side pass (round-14 rework of the r13 cold floor): the
    // codegen'd MinhashSignature expression evaluates all k seeded
    // murmur3 lanes per shingle inside one fused loop with running
    // minima — no explode row blow-up, no groupBy exchange. Values are
    // bit-identical to the former explode → k×murmur3_seeded →
    // groupBy(min…) build (lane parity pinned in GraftFunctionsSpec;
    // the DuckDB oracles replay unchanged).
    shingles(docs, textCol, idCol, n)
      .select(col("doc_id"),
        GraftFunctions.minhashSig(col("shingles"), seeds).as("sig"))
      // MinhashSignature maps an EMPTY shingle array to a NULL sig,
      // whereas the pre-r14 explode→groupBy build dropped such docs
      // entirely; a null sig reaching lshBands would bucket as
      // hash(slice(null))=hash(null) in EVERY band, making all
      // empty-shingle docs mutual candidates. shingles() already
      // guarantees non-empty arrays (size(w) >= n), so this filter
      // restores the old "doc absent" contract instead of leaning on
      // that upstream invariant.
      .filter(col("sig").isNotNull)
  }

  /** MinHash LSH banding: candidate pairs share at least one band
    * (hash of `rowsPerBand` consecutive signature components); their
    * similarity estimate is the fraction of equal components. The
    * shuffle key is (band, bucket) — never document content.
    */
  def minhashNative(docs: DataFrame, textCol: String, idCol: String,
                    n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                    minEstimate: Double = 0.2, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sigs = graft.Caches.persistOnce(
      minhashSignatures(docs, textCol, idCol, n, numHashes, seed))
    val banded = sigs.select(col("doc_id"), explode(
      array((0 until bands).map(b =>
        struct(lit(b).as("band"), hash(slice(col("sig"), b * r + 1, r)).as("bucket"))): _*))
      .as("bk"))
    // shuffle_hash: the banded table is bands× its parent but Catalyst
    // estimates Generate at ~the parent's size, so the planner would
    // BROADCAST a corpus-sized side of this self-join (same trap as
    // containmentPairs). Pin the documented plan: one shuffle on
    // (band, bucket).
    val cand = banded.select(col("doc_id").as("d1"), col("bk"))
      .hint("shuffle_hash")
      .join(banded.select(col("doc_id").as("d2"), col("bk")), Seq("bk"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    cand
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .withColumn("jaccard_est",
        lanesAgree(col("sig1"), col("sig2"), numHashes)
          .cast("double") / numHashes)
      .filter(col("jaccard_est") >= minEstimate)
      .select("d1", "d2", "jaccard_est")
  }

  /** Count of agreeing signature lanes — k codegen'd element
    * comparisons (r16; the x127 "no HOF" discipline applied to every
    * estimator site): `size(filter(zip_with(==)))` is CodegenFallback
    * and interprets k lambda calls + an array alloc per CANDIDATE row;
    * the unrolled when-sum stays in whole-stage codegen. Identical
    * semantics: a null comparison contributes 0 either way.
    */
  private def lanesAgree(s1: Column, s2: Column, k: Int): Column =
    (0 until k).map(i =>
      when(s1.getItem(i) === s2.getItem(i), 1).otherwise(0)).reduce(_ + _)

  /** One-permutation MinHash signatures (Li, Owen & Zhang 2012) with
    * rotation densification (Shrivastava & Li 2014): ONE murmur3 per
    * shingle instead of [[minhashSignatures]]'s k — the hash value is
    * binned by `pmod(h, k)` and each bin keeps its min; an empty bin
    * borrows circularly from the nearest populated bin to the right,
    * PLUS the borrow distance so borrowed components stay distinct
    * across different borrow patterns (the densified value is a long —
    * donor int + distance — so the add never wraps).
    *
    * 100 TB: the scan-side hash work drops k× (16× at the default) —
    * on a corpus where hashing dominates signature cost this is the
    * difference between one murmur3 per shingle and sixteen. The
    * aggregate is k filtered `min`s in ONE partial-aggregatable
    * groupBy — same single shuffle as the seeded family, smaller map
    * side. Estimator variance is higher at equal k (each bin sees only
    * ~1/k of the shingles), so banding recall floors are re-pinned
    * separately in RecallSpec rather than inherited from x03.
    */
  def ophSignatures(docs: DataFrame, textCol: String, idCol: String,
                    n: Int = 3, k: Int = 16, seed: Int = 42): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val flat = shingleFlat(docs, textCol, idCol, n)
    val hv = GraftFunctions.murmur3Seeded(col("s"), seed)
    val binned = flat.select(col("doc_id"), hv.as("hv"),
      pmod(GraftFunctions.murmur3Seeded(col("s"), seed), lit(k)).as("bin"))
    val aggs = (0 until k).map(i =>
      min(when(col("bin") === i, col("hv"))).as(s"b$i"))
    val sig = (0 until k).map { i =>
      coalesce((0 until k).map { j =>
        col(s"b${(i + j) % k}").cast("long") + lit(j.toLong)
      }: _*).as(s"s$i")
    }
    binned.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id") +: sig: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"s$i")): _*).as("sig"))
  }

  /** OPH banding: candidate pairs share a band of `r` consecutive
    * densified components; the band key is the COMPONENT VALUES
    * themselves (struct), not a hash of them — collision-free band
    * buckets, trivially engine-replayable, at the cost of a wider
    * shuffle key (r longs vs one int; at r=2 that is 16 bytes — still
    * a narrow key). Estimate = matching components / k, as in
    * [[minhashNative]].
    */
  def ophMinhash(docs: DataFrame, textCol: String, idCol: String,
                 n: Int = 3, k: Int = 16, bands: Int = 8,
                 minEstimate: Double = 0.2, seed: Int = 42): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val sigs = graft.Caches.persistOnce(
      ophSignatures(docs, textCol, idCol, n, k, seed))
    val banded = sigs.select(col("doc_id"), explode(
      array((0 until bands).map(b =>
        struct((lit(b).as("band") +:
          (0 until r).map(i => col("sig")(b * r + i).as(s"c$i"))): _*)): _*))
      .as("bk"))
    // shuffle_hash: same Generate-estimate broadcast trap as
    // minhashNative — pin the (band, components)-keyed shuffle.
    val cand = banded.select(col("doc_id").as("d1"), col("bk"))
      .hint("shuffle_hash")
      .join(banded.select(col("doc_id").as("d2"), col("bk")), Seq("bk"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    cand
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .withColumn("jaccard_est",
        lanesAgree(col("sig1"), col("sig2"), k)
          .cast("double") / k)
      .filter(col("jaccard_est") >= minEstimate)
      .select("d1", "d2", "jaccard_est")
  }

  /** SimHash fingerprints + banded bucket candidates: documents sharing
    * any 16-bit band of their 64-bit simhash are near-dup candidates.
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs.select(
      col(idCol).as("doc_id"),
      GraftFunctions.simhash64(split(lower(col(textCol)), "\\s+")).as("simhash"))
  }

  /** Banded simhash self-join: candidate pairs whose fingerprints share
    * any 16-bit band, with the exact Hamming distance attached.
    *
    * Cache ownership ([[graft.Caches]] policy): the banded fingerprint
    * table is persisted for the SESSION — it feeds both sides of the
    * self-join here and is reused across queries by canonical-plan
    * matching. The library does not unpersist it; long-lived callers
    * release it with `Caches.clearAll` (or unpersist the frame).
    */
  def simhashCandidates(docs: DataFrame, textCol: String, idCol: String,
                        collapseExactDups: Boolean = true): DataFrame = {
    if (!collapseExactDups || !collapseWorthwhile(docs, textCol))
      return simhashCandidatesDirect(docs, textCol, idCol)
    // The x02/x37 collapse, simhash edition: identical texts have
    // identical fingerprints, hence identical bands — a dup group of
    // size k is k² guaranteed candidates at hamming 0 (measured 11.5×
    // growth at the 10× dup-heavy sf1). Mine the banded self-join over
    // one min-id representative per distinct content; member pairs
    // inherit their representatives' fingerprints (simhash is a
    // function of the text), intra-group pairs are hamming 0.
    // Shallow-dup inputs route to the direct path above (collapseWorthwhile):
    // with zero groups the keying/expansion is pure fixed overhead
    // (~0.6 s at sf0.1, PERF.md round 7) and the direct plan shares
    // its fingerprint cache with sibling queries.
    val keyed = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
      sha2(col(textCol), 256).as("h"))
    val reps = graft.Caches.persistOnce(keyed
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("__text"))).as("st"),
        count(lit(1)).as("grp_n"))
      .select(col("h"), col("st.doc_id").as("doc_id"),
        col("st.__text").as("__text"), col("grp_n")))
    val members = keyed.select(col("doc_id"), col("h"))
    val repPairs = simhashCandidatesDirect(reps, "__text", "doc_id")
    val repIdx = reps.select(col("doc_id").as("rep"), col("h"))
    // orientation: after least/greatest the fingerprints must follow
    // their documents (m1 carries d1's group hash h1, so sh1 is m1's)
    val cross = repPairs
      .join(repIdx.select(col("rep").as("d1"), col("h").as("h1")), "d1")
      .join(repIdx.select(col("rep").as("d2"), col("h").as("h2")), "d2")
      .join(members.select(col("doc_id").as("m1"), col("h").as("h1")), "h1")
      .join(members.select(col("doc_id").as("m2"), col("h").as("h2")), "h2")
      .select(least(col("m1"), col("m2")).as("d1"),
        greatest(col("m1"), col("m2")).as("d2"),
        when(col("m1") <= col("m2"), col("sh1")).otherwise(col("sh2")).as("sh1"),
        when(col("m1") <= col("m2"), col("sh2")).otherwise(col("sh1")).as("sh2"),
        col("hamming"))
    // persistOnce is a no-op here when simhashCandidatesDirect(reps, …)
    // above already persisted the canonically-identical simhash(reps)
    // frame — the intra-group expansion then reads that cache instead
    // of re-running the interpreted SimHash64 pass (round-7 ADVICE)
    val repSh = graft.Caches.persistOnce(simhash(reps, "__text", "doc_id"))
      .join(reps.select(col("doc_id"), col("h")), "doc_id")
      .select(col("h"), col("simhash"))
    val dupMembers = members
      .join(reps.filter(col("grp_n") >= 2).select("h"), "h")
    val intra = dupMembers.select(col("h"), col("doc_id").as("m1"))
      .join(dupMembers.select(col("h"), col("doc_id").as("m2")), Seq("h"))
      .filter(col("m1") < col("m2"))
      .join(repSh, "h")
      .select(col("m1").as("d1"), col("m2").as("d2"),
        col("simhash").as("sh1"), col("simhash").as("sh2"),
        lit(0).cast("int").as("hamming"))
    cross.unionByName(intra)
  }

  /** Candidate-quality report for the SimHash banding pipeline — the
    * x89 ANN-recall discipline applied to near-dup mining: for every
    * [[simhashCandidates]] pair, compute the EXACT shingle Jaccard and
    * roll up precision per Hamming-distance bucket. This is the tuning
    * gate a pipeline runs before trusting a banding configuration: "at
    * hamming ≤ h, what fraction of candidates are true near-dups at
    * Jaccard ≥ thrNum/thrDen?" — it prices the verification pass and
    * locates the hamming cutoff.
    *
    * Determinism: the true-positive test is integer cross-multiplication
    * (`inter·thrDen ≥ union·thrNum`, empty-vs-empty union counts true —
    * identical-as-sets); only the final precision is a grid-quantized
    * division. 100 TB: exact Jaccard runs over CANDIDATE pairs only
    * (banding-bounded, never all-pairs); the intersection join keys on
    * the shared [[shingleFlat]] cache; pairs with zero overlap re-enter
    * via the left join so the bucket denominator stays honest.
    */
  def simhashCandidatePrecision(docs: DataFrame, textCol: String,
                                idCol: String, n: Int = 3,
                                thrNum: Int = 1, thrDen: Int = 5): DataFrame = {
    require(thrDen > 0 && thrNum >= 0, s"bad threshold $thrNum/$thrDen")
    val grid = 1048576L // 2^20
    val cand = graft.Caches.persistOnce(
      simhashCandidates(docs, textCol, idCol)
        .select(col("d1"), col("d2"), col("hamming")))
    val sh = shingleFlat(docs, textCol, idCol, n)
    val szt = sh.select(col("doc_id"), col("sz")).distinct()
    val inter = cand
      .join(sh.select(col("doc_id").as("d1"), col("s")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("s")), Seq("d2", "s"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    cand
      .join(inter, Seq("d1", "d2"), "left")
      .join(szt.select(col("doc_id").as("d1"), col("sz").as("sz1")), Seq("d1"), "left")
      .join(szt.select(col("doc_id").as("d2"), col("sz").as("sz2")), Seq("d2"), "left")
      .withColumn("i", coalesce(col("inter"), lit(0L)))
      .withColumn("u",
        coalesce(col("sz1"), lit(0L)) + coalesce(col("sz2"), lit(0L)) - col("i"))
      .withColumn("tp",
        when(col("u") === 0 ||
             col("i") * lit(thrDen.toLong) >= col("u") * lit(thrNum.toLong),
          1L).otherwise(0L))
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"), sum(col("tp")).as("n_true"))
      .withColumn("precision_q",
        floor(col("n_true").cast("double") / col("n_pairs").cast("double")
          * grid + lit(0.5)).cast("long"))
      .select("hamming", "n_pairs", "n_true", "precision_q")
  }

  /** Banded Hamming candidates over an ARBITRARY 64-bit fingerprint
    * column — the [[simhashCandidates]] self-join machinery made
    * fingerprint-agnostic (SimHash, perceptual dHash, any 64-bit
    * signature): pairs sharing any 16-bit band of their fingerprints,
    * with the exact Hamming distance attached. Output
    * (d1, d2, f1, f2, hamming), d1 < d2, one row per pair.
    *
    * 100 TB: the fingerprint frame is persisted (both self-join sides
    * read one cache); the candidate join is ONE shuffle keyed on
    * (band, key) — shuffle_hash-pinned because the banded table sits
    * above a Generate, whose row estimate blinds the planner into
    * broadcasting a corpus-sized side (the containmentPairs trap).
    * Never all-pairs: candidate volume is bounded by band collisions,
    * i.e. by actual near-duplication.
    */
  def fingerprintBandCandidates(fp: DataFrame, idCol: String,
                                fpCol: String): DataFrame = {
    val base = graft.Caches.persistOnce(
      fp.select(col(idCol).as("doc_id"), col(fpCol).as("fp64")))
    val banded = base
      .withColumn("bands", array((0 until 4).map(b =>
        struct(lit(b).as("band"), shiftrightunsigned(col("fp64"), b * 16)
          .bitwiseAND(lit(0xffffL)).as("key"))): _*))
      .select(col("doc_id"), col("fp64"), explode(col("bands")).as("bk"))
    val a = banded.select(col("doc_id").as("d1"), col("fp64").as("f1"), col("bk"))
    val b = banded.select(col("doc_id").as("d2"), col("fp64").as("f2"), col("bk"))
    a.hint("shuffle_hash").join(b, Seq("bk")).filter(col("d1") < col("d2"))
      .select("d1", "d2", "f1", "f2").distinct()
      .withColumn("hamming", bit_count(col("f1").bitwiseXOR(col("f2"))))
  }

  private def simhashCandidatesDirect(docs: DataFrame, textCol: String,
                                      idCol: String): DataFrame = {
    // The UNEXPLODED fingerprint frame is what's persisted: SimHash64
    // is an interpreted (non-codegen) pass over full texts — the
    // expensive part, and it feeds BOTH sides of the self-join — while
    // the 4-band explode from a cached 8-byte fingerprint is cheap to
    // re-derive per consumer. Persisting the narrow frame still stops
    // the double SimHash64 pass, and it lets the collapsed path's
    // representative-fingerprint lookup ride the SAME cache entry
    // (canonical-plan match on simhash(reps)) instead of re-running
    // the interpreted pass over the representatives (round-7 ADVICE).
    val sh = graft.Caches.persistOnce(simhash(docs, textCol, idCol))
    val fp = sh
      .withColumn("bands", array((0 until 4).map(b =>
        struct(lit(b).as("band"), shiftrightunsigned(col("simhash"), b * 16)
          .bitwiseAND(lit(0xffffL)).as("key"))): _*))
      .select(col("doc_id"), col("simhash"), explode(col("bands")).as("bk"))
    val a = fp.select(col("doc_id").as("d1"), col("simhash").as("sh1"), col("bk"))
    val b = fp.select(col("doc_id").as("d2"), col("simhash").as("sh2"), col("bk"))
    // shuffle_hash: with the unexploded frame cached, the banded table
    // sits above a live Generate whose row estimate blinds the planner
    // into broadcasting a corpus-sized side (the containmentPairs trap;
    // the old exploded-cache shape hid the Generate behind
    // InMemoryRelation). Pin the documented one-shuffle-on-(band,key)
    // plan.
    a.hint("shuffle_hash").join(b, Seq("bk")).filter(col("d1") < col("d2"))
      .select("d1", "d2", "sh1", "sh2").distinct()
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
  }

  /** Connected-components keep-one: collapse near-dup PAIRS into groups
    * and elect the minimum id as each group's canonical representative.
    *
    * Distributed path: alternating large-star/small-star contraction to
    * fixpoint — O(log diameter) rounds, each one groupBy + join keyed on
    * node id. The fixpoint (a star per component centered at its min id)
    * is unique, so results are deterministic and SQL-checkable via a
    * recursive-CTE transitive closure.
    *
    * @param pairs two id columns (d1, d2), e.g. from [[ngramJaccard]].
    * @return (doc_id, canonical_id) for every doc in `docs`; docs in no
    *         pair map to themselves.
    */
  def connectedComponentsKeepOne(docs: DataFrame, idCol: String,
                                 pairs: DataFrame,
                                 maxIterations: Int = 20,
                                 maxDriverEdges: Long = 1000000L): DataFrame = {
    val d1 = pairs.columns(0); val d2 = pairs.columns(1)
    // symmetric edge list (+ implicit self edges via the label join)
    val edges = pairs.select(col(d1).as("src"), col(d2).as("dst"))
      .unionByName(pairs.select(col(d2).as("src"), col(d1).as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Near-dup pair sets are orders of magnitude smaller than the corpus
    // (they already passed a similarity threshold); below maxDriverEdges
    // a driver-side union-find replaces the iterative join loop — one
    // collect instead of O(diameter) Spark jobs. The distributed loop
    // below remains the scale path, and also serves non-integral id
    // types the driver path's Long union-find cannot represent.
    val integralIds = edges.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    if (integralIds && edges.count() <= maxDriverEdges) {
      val spark = docs.sparkSession
      import spark.implicits._
      val es = edges.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // min root wins → canonical = component min
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val labelDf = nodes.map(n => (n, find(n))).toSeq.toDF("doc_id", "label")
      edges.unpersist() // fully consumed by the collect above
      return docs.select(col(idCol).as("doc_id"))
        .join(broadcast(labelDf), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("canonical_id"))
    }

    // Distributed path: alternating large-star/small-star contraction
    // (Kiveris et al., "Connected Components in MapReduce and Beyond",
    // SoCC'14). Each round rewires edges toward neighborhood minima; the
    // fixpoint is a star per component centered at its min id, reached in
    // O(log diameter) rounds — the min-label propagation this replaces
    // needed O(diameter) rounds (a 50-hop chain: 50 rounds vs ~6).
    //
    // Convergence detection is FOLDED into the one action that
    // materializes each round's edge set: a (count, xxhash64-sum)
    // signature of the edges. The star fixpoint is stable under both
    // operators, so signature-unchanged ⟺ converged — no separate
    // old-vs-new join+count job per round.
    //
    // Lineage: every round localCheckpoints its edge set, which
    // TRUNCATES the logical plan. This is load-bearing, not an
    // optimization: one star round references the previous edge set ~12
    // times, and DataFrame plans are trees, so an un-truncated round-k
    // plan embeds 12^k copies of the base — Catalyst analysis alone
    // locks up within a handful of rounds (observed: a 50-node chain
    // hung the analyzer). The checkpoint's eager materialization job is
    // not extra work — the signature scan below needs the data anyway.
    // (Local checkpoints trade executor-loss tolerance for speed; on a
    // flaky cluster swap for reliable checkpoint(), same call shape.)

    // large-star: every neighbor v > u re-points to m = min(Γ(u) ∪ {u}).
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = nbrs.groupBy("src")
        .agg(min(col("dst")).as("mn"))
        .select(col("src").as("u"), least(col("mn"), col("src")).as("m"))
      nbrs.join(mins, nbrs("src") === mins("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    // small-star: orient each edge (hi → lo); every lo-side neighbor
    // (and hi itself) re-points to m = min of hi's lo-neighborhood.
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("src"), col("dst")).as("u"),
          least(col("src"), col("dst")).as("v"))
        .filter(col("u") =!= col("v"))
      val mins = or.groupBy("u").agg(min(col("v")).as("m"))
      or.join(mins, "u")
        .select(col("v").as("src"), col("m").as("dst"))
        .unionByName(mins.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    // decimal(38,0) sum: a Long sum of uniform 64-bit hashes overflows
    // almost immediately and ANSI mode (Spark 4 default) would throw.
    def signature(e: DataFrame): (Long, BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }

    var cur = edges
    var prevSig = signature(cur)
    var converged = prevSig._1 == 0L // no non-self edges at all
    var iter = 0
    while (!converged && iter < maxIterations) {
      val next = smallStar(largeStar(cur)).localCheckpoint(true)
      val sig = signature(next) // cheap: scans the checkpointed blocks
      if (cur ne edges) cur.unpersist()
      cur = next
      converged = sig == prevSig
      prevSig = sig
      iter += 1
    }
    if (!converged) {
      throw new IllegalStateException(
        s"connected components did not converge in $maxIterations rounds; " +
          "raise maxIterations")
    }

    // Fixpoint edges ARE the labeling: (node → component min) stars.
    val labels = cur.groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("label"))
    val out = docs.select(col(idCol).as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("canonical_id"))
    edges.unpersist()
    out
  }

  /** Exact Jaccard verification of CANDIDATE pairs only: each (d1, d2)
    * joins its two shingle sets and computes |A∩B| / |A∪B| directly via
    * array_intersect — O(candidates), never quadratic in the corpus.
    * Precision of the result is exact by construction; recall equals the
    * recall of the candidate generator feeding it.
    */
  def verifyJaccard(docs: DataFrame, candidates: DataFrame,
                    textCol: String, idCol: String,
                    n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // both verification joins consume the shingle sets — materialize once
    val sets = graft.Caches.persistOnce(shingles(docs, textCol, idCol, n))
    candidates.select("d1", "d2")
      .join(sets.select(col("doc_id").as("d1"), col("shingles").as("sh1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("shingles").as("sh2")), "d2")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard",
        col("inter") / (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "jaccard")
  }

  /** Composed scale path, SimHash flavor: banding generates candidates
    * (O(dups), never quadratic), then exact n-gram Jaccard is computed
    * only for candidates ([[verifyJaccard]]). Precision is exact; recall
    * is bounded by the banding — measured on the seeded corpus, 4×16-bit
    * bands catch 21 of 25 true pairs (the misses sit at Hamming 5–8,
    * where no 16-bit band is clean). Prefer [[bandedJaccardMinhash]]
    * when recall at a similarity floor matters; SimHash banding shines
    * when the fingerprint itself is the product (x04/x19).
    */
  def bandedJaccard(docs: DataFrame, textCol: String, idCol: String,
                    n: Int = 3, threshold: Double = 0.5,
                    maxHamming: Int = 16): DataFrame = {
    val cand = simhashCandidates(docs, textCol, idCol)
      .filter(col("hamming") <= maxHamming)
      .select("d1", "d2")
    verifyJaccard(docs, cand, textCol, idCol, n, threshold)
  }

  /** MinHash LSH band-collision candidate pairs: documents sharing any
    * band (hash of `numHashes/bands` consecutive signature components).
    * A pair at Jaccard j survives with probability 1-(1-j^r)^L for
    * r rows/band and L bands — with the r=2, L=8 defaults the miss
    * probability at j ≥ 0.9 is ≤ (1-0.81)^8 ≈ 1.7e-6. The shuffle key is
    * (band, bucket), never document content.
    */
  def minhashBandPairs(docs: DataFrame, textCol: String, idCol: String,
                       n: Int = 3, numHashes: Int = 16, bands: Int = 8,
                       seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // persisted (the minhashNative choice): both sides of the band
    // self-join read the signatures. Round-13 adjudication: measured
    // cold x21 is UNCHANGED by this pin (ReuseExchange already
    // deduplicated the identical self-join subtrees), so the persist
    // is a structural guarantee — single build regardless of planner
    // reuse heuristics under AQE — not a measured win. O(docs ·
    // numHashes) ints, MEMORY_AND_DISK.
    val sigs = graft.Caches.persistOnce(
      minhashSignatures(docs, textCol, idCol, n, numHashes, seed))
    val banded = sigs.select(col("doc_id"), explode(
      array((0 until bands).map(b =>
        struct(lit(b).as("band"), hash(slice(col("sig"), b * r + 1, r)).as("bucket"))): _*))
      .as("bk"))
    // shuffle_hash: pin the (band, bucket)-keyed shuffle — Generate's
    // size estimate would let the planner broadcast the corpus-sized
    // banded table (see minhashNative).
    banded.select(col("doc_id").as("d1"), col("bk"))
      .hint("shuffle_hash")
      .join(banded.select(col("doc_id").as("d2"), col("bk")), Seq("bk"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** Composed scale path, MinHash flavor: band-collision candidates →
    * exact Jaccard verification. With the default banding (r=2, L=8) the
    * candidate set provably contains near-dup pairs with overwhelming
    * probability (see [[minhashBandPairs]]); on the seeded corpus the
    * output is IDENTICAL to the all-pairs [[ngramJaccard]] at the same
    * threshold (pinned by RecallSpec), so the exact SQL oracle applies —
    * while the shuffle volume stays O(candidates), not O(corpus²).
    */
  def bandedJaccardMinhash(docs: DataFrame, textCol: String, idCol: String,
                           n: Int = 3, threshold: Double = 0.5,
                           numHashes: Int = 16, bands: Int = 8,
                           seed: Long = 42L,
                           collapseExactDups: Boolean = true): DataFrame = {
    // no collapseWorthwhile probe routing: this collapse measured faster at
    // BOTH scales, including dup-free sf0.1 (PERF.md round-7 A/B —
    // the 16 seeded murmur3 hashes per shingle avoided per dup beat
    // the keying overhead even with zero dup groups)
    if (!collapseExactDups) {
      val cand = minhashBandPairs(docs, textCol, idCol, n, numHashes, bands, seed)
      return verifyJaccard(docs, cand, textCol, idCol, n, threshold)
    }
    // The x02 collapse on the banded path: identical texts have
    // identical signatures, hence identical band buckets — a dup group
    // of size k is k² guaranteed candidates, each paying a shingle-set
    // intersection in the verify. Mine bands + verify over one min-id
    // representative per distinct content; member pairs inherit their
    // representatives' jaccard, intra-group pairs are exactly 1.0 —
    // but ONLY for docs that shingle at all (the x02 predicate:
    // shingle-less identical docs never pair, not even at "1.0").
    // This is also the x14/x44/x59 cluster-chain build, so the chain's
    // cost now tracks distinct-text count too.
    val keyed = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
      sha2(col(textCol), 256).as("h"))
    val reps = graft.Caches.persistOnce(keyed
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("__text"))).as("st"),
        count(lit(1)).as("grp_n"))
      .select(col("h"), col("st.doc_id").as("doc_id"),
        col("st.__text").as("__text"), col("grp_n")))
    val members = keyed.select(col("doc_id"), col("h"))
    val repCand = minhashBandPairs(reps, "__text", "doc_id",
      n, numHashes, bands, seed)
    val repPairs = verifyJaccard(reps, repCand, "__text", "doc_id", n, threshold)
    val repIdx = reps.select(col("doc_id").as("rep"), col("h"))
    val cross = repPairs
      .join(repIdx.select(col("rep").as("d1"), col("h").as("h1")), "d1")
      .join(repIdx.select(col("rep").as("d2"), col("h").as("h2")), "d2")
      .join(members.select(col("doc_id").as("m1"), col("h").as("h1")), "h1")
      .join(members.select(col("doc_id").as("m2"), col("h").as("h2")), "h2")
      .select(least(col("m1"), col("m2")).as("d1"),
        greatest(col("m1"), col("m2")).as("d2"), col("jaccard"))
    val dupGroups = reps.filter(col("grp_n") >= 2)
      .filter(size(split(lower(col("__text")), "\\s+")) >= n)
      .select("h")
    val dupMembers = members.join(dupGroups, "h")
    val intra = dupMembers.select(col("h"), col("doc_id").as("m1"))
      .join(dupMembers.select(col("h"), col("doc_id").as("m2")), Seq("h"))
      .filter(col("m1") < col("m2"))
      .select(col("m1").as("d1"), col("m2").as("d2"), lit(1.0).as("jaccard"))
    if (threshold <= 1.0) cross.unionByName(intra) else cross
  }

  /** Embedding near-dup pairs: all pairs with cosine >= threshold.
    * Brute force n² via an inequality join (cartesian) — kept ONLY as the
    * correctness baseline for [[embeddingCosinePairsBlocked]]'s test; the
    * exposed query path is the blocked variant.
    */
  def embeddingCosinePairs(emb: DataFrame, vecCol: String, idCol: String,
                           threshold: Double): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val a = emb.select(col(idCol).as("d1"), col(vecCol).as("v1"))
    val b = emb.select(col(idCol).as("d2"), col(vecCol).as("v2"))
    a.join(b, col("d1") < col("d2"))
      .withColumn("cosine",
        graft.tables.Exact.round6(GraftFunctions.cosineSim(col("v1"), col("v2"))))
      .filter(col("cosine") >= threshold)
      .select("d1", "d2", "cosine")
  }

  /** Exact all-pairs cosine via BLOCK-PAIR equi-joins — the distributed-
    * GEMM shape. Each vector gets a block id (hash of its id mod
    * `blocks`); the B(B+1)/2 unordered block pairs form a tiny broadcast
    * table; vectors join their block's pair rows, so both joins are
    * EQUI-joins shuffled on block ids — no cartesian node, per-task state
    * bounded by two blocks (~2n/B vectors).
    *
    * Sub-near-dup thresholds (the corpus max cosine here is 0.51, every
    * matched pair sits within 0.11 of the 0.4 threshold) make LSH recall
    * collapse: a hyperplane band keeps a θ=66° pair with p≈0.63 per bit,
    * so full recall needs more bucket-join volume than brute force.
    * Exact O(n²) FLOPs is inherent at such thresholds; the scale answer
    * is organizing them with bounded memory and full parallelism, which
    * this shape does. For true near-dup mining (cos ≥ ~0.9) use
    * [[embeddingCosinePairsBucketed]].
    *
    * Cache ownership ([[graft.Caches]] policy): the RESULT — the
    * threshold-filtered pair set, O(matching pairs), corpus-free bound —
    * is persisted for the session: the O(n²) cosine sweep is the single
    * most expensive embedding-side computation, and multiple consumers
    * (x15's report, x22's components) otherwise each re-pay it. The
    * library does not unpersist; release via `Caches.clearAll`.
    */
  def embeddingCosinePairsBlocked(emb: DataFrame, vecCol: String, idCol: String,
                                  threshold: Double, blocks: Int = 16): DataFrame = {
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    val blockPairs = broadcast(
      (for { i <- 0 until blocks; j <- i until blocks } yield (i, j)).toDF("ba", "bb"))
    val v = emb.select(col(idCol), col(vecCol),
      pmod(hash(col(idCol)), lit(blocks)).as("blk"))
    // a pair (x,y) with blocks (i,j), i<j, is produced exactly once: x on
    // the left via pair row (i,j), y on the right; same-block pairs
    // deduplicate through the id inequality.
    val left = v.select(col(idCol).as("d1"), col(vecCol).as("v1"), col("blk").as("ba"))
      .join(blockPairs, Seq("ba"))
    val right = v.select(col(idCol).as("d2"), col(vecCol).as("v2"), col("blk").as("bb"))
    graft.Caches.persistOnce(left.join(right, Seq("bb"))
      .filter(col("ba") =!= col("bb") || col("d1") < col("d2"))
      .withColumn("cosine",
        graft.tables.Exact.round6(GraftFunctions.cosineSim(col("v1"), col("v2"))))
      .filter(col("cosine") >= threshold)
      .select(
        least(col("d1"), col("d2")).as("d1"),
        greatest(col("d1"), col("d2")).as("d2"),
        col("cosine")))
  }

  /** Approximate near-dup embedding pairs via seeded random-hyperplane
    * LSH: per table, a vector's bucket is the sign pattern of `planes`
    * hyperplane projections; only bucket-colliding pairs are scored
    * exactly. Keep probability per table for a pair at angle θ is
    * (1-θ/π)^planes; across L tables recall is 1-(1-p)^L — with the
    * defaults, a cos ≥ 0.99 near-dup is missed with probability < 1e-4
    * while near-orthogonal pairs almost never collide, so the bucket
    * join is O(dups). This is the right tool ONLY in the near-dup
    * regime; see [[embeddingCosinePairsBlocked]] for low thresholds.
    */
  def embeddingCosinePairsBucketed(emb: DataFrame, vecCol: String, idCol: String,
                                   threshold: Double, dim: Int,
                                   planes: Int = 8, tables: Int = 8,
                                   seed: Long = 42L): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val rnd = new scala.util.Random(seed)
    val hyperplanes = Array.fill(tables, planes, dim)(rnd.nextGaussian())
    // Bucket bit = sign of the hyperplane PROJECTION: sign(dot) ==
    // sign(cosine), so the codegen'd dot product skips the row-norm,
    // two sqrts and a division that a cosine call would redo per plane
    // (planes×tables = 64 times per row).
    val bucketCols = (0 until tables).map { t =>
      val bits = (0 until planes).map { p =>
        val plane = typedLit(hyperplanes(t)(p).toSeq)
        when(GraftFunctions.dotProduct(col("v"), plane) > 0, lit(1L << p)).otherwise(lit(0L))
      }
      struct(lit(t).as("table"), bits.reduce(_ + _).as("bucket"))
    }
    // NOT persisted: the bucket columns are cheap scan-side codegen
    // (planes·dim multiplies per row), so recomputing them on each side
    // of the self-join beats holding a tables×-exploded copy of the
    // corpus in executor cache for the rest of the session.
    val hashed = emb
      .select(col(idCol).as("doc_id"), col(vecCol).as("v"))
      .withColumn("bk", explode(array(bucketCols: _*)))
    val cand = hashed.select(col("doc_id").as("d1"), col("bk"))
      .join(hashed.select(col("doc_id").as("d2"), col("bk")), Seq("bk"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    cand
      .join(vecs.select(col("id").as("d1"), col("vec").as("v1")), "d1")
      .join(vecs.select(col("id").as("d2"), col("vec").as("v2")), "d2")
      .withColumn("cosine",
        graft.tables.Exact.round6(GraftFunctions.cosineSim(col("v1"), col("v2"))))
      .filter(col("cosine") >= threshold)
      .select("d1", "d2", "cosine")
  }

  /** Edit-distance near-dup pairs: block on (text prefix, length band),
    * verify candidates with levenshtein.
    *
    * 100 TB: the shuffle key is (prefix, length-bucket) — never the raw
    * pair space — so candidate volume is bounded by block sizes, and the
    * O(len²) edit-distance runs only on pairs that already share a
    * prefix and are within `lenBand` characters of each other. One side
    * explodes to the 3 adjacent length buckets so same-band pairs that
    * straddle a bucket boundary still meet (|len₁−len₂| ≤ `lenBand`
    * implies the buckets differ by at most 1); each unordered pair
    * meets exactly once. A hot prefix (boilerplate header) makes a
    * block quadratic — lengthen `prefixLen` or pre-drop prefixes with
    * df above a cap, the same guard DedupSkewSpec pins for shingles.
    */
  def fuzzyPairs(docs: DataFrame, textCol: String, idCol: String,
                 prefixLen: Int = 24, lenBand: Int = 24,
                 maxDist: Int = 20,
                 collapseExactDups: Boolean = true): DataFrame = {
    if (!collapseExactDups || !collapseWorthwhile(docs, textCol))
      return fuzzyPairsDirect(docs, textCol, idCol, prefixLen, lenBand, maxDist)
    // The x02 lesson applied to edit distance: identical texts share
    // (prefix, length) by construction, so a dup group of size k sits
    // in one block and pays k² levenshteins of LONG IDENTICAL strings
    // (each O(len²)) — measured 40× growth at the 10× dup-heavy sf1.
    // Collapse to one min-id representative per distinct content, mine
    // blocked pairs over representatives only, then expand: distance
    // is a function of the two texts, so every member pair inherits
    // its representatives' distance, and intra-group pairs are 0 by
    // definition. Shallow-dup inputs route to the direct path above
    // (collapseWorthwhile): zero groups means the keying/expansion is pure
    // fixed overhead (~0.7 s at sf0.1, PERF.md round 7).
    val keyed = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"),
      sha2(col(textCol), 256).as("h"))
    val reps = graft.Caches.persistOnce(keyed
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("__text"))).as("st"),
        count(lit(1)).as("grp_n"))
      .select(col("h"), col("st.doc_id").as("doc_id"),
        col("st.__text").as("__text"), col("grp_n")))
    val members = keyed.select(col("doc_id"), col("h"))
    val repPairs = fuzzyPairsDirect(reps, "__text", "doc_id",
      prefixLen, lenBand, maxDist)
    val repIdx = reps.select(col("doc_id").as("rep"), col("h"))
    val cross = repPairs
      .join(repIdx.select(col("rep").as("d1"), col("h").as("h1")), "d1")
      .join(repIdx.select(col("rep").as("d2"), col("h").as("h2")), "d2")
      .join(members.select(col("doc_id").as("m1"), col("h").as("h1")), "h1")
      .join(members.select(col("doc_id").as("m2"), col("h").as("h2")), "h2")
      .select(least(col("m1"), col("m2")).as("d1"),
        greatest(col("m1"), col("m2")).as("d2"), col("edit_dist"))
    val dupMembers = members
      .join(reps.filter(col("grp_n") >= 2).select("h"), "h")
    val intra = dupMembers.select(col("h"), col("doc_id").as("m1"))
      .join(dupMembers.select(col("h"), col("doc_id").as("m2")), Seq("h"))
      .filter(col("m1") < col("m2"))
      .select(col("m1").as("d1"), col("m2").as("d2"),
        lit(0).as("edit_dist"))
    cross.unionByName(intra)
  }

  private def fuzzyPairsDirect(docs: DataFrame, textCol: String, idCol: String,
                               prefixLen: Int, lenBand: Int,
                               maxDist: Int): DataFrame = {
    val d = docs.select(
      col(idCol).as("id"), col(textCol).as("t"),
      length(col(textCol)).as("len"),
      substring(col(textCol), 1, prefixLen).as("pfx"))
      .withColumn("bkt", floor(col("len") / lenBand))
    val left = d.select(
      col("id").as("d1"), col("t").as("t1"), col("len").as("len1"),
      col("pfx"), col("bkt"))
    val right = d.select(
        col("id").as("d2"), col("t").as("t2"), col("len").as("len2"),
        col("pfx"), explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"))
    // shuffle_hash, build = left: the exploded ±1-bucket side is 3× the
    // corpus but estimated at ~1×, so the planner would broadcast it;
    // the documented plan is one shuffle keyed on (pfx, bkt) with the
    // hash map built over the unexploded side.
    left.hint("shuffle_hash").join(right, Seq("pfx", "bkt"))
      .filter(col("d1") < col("d2") &&
        abs(col("len1") - col("len2")) <= lenBand)
      .select(col("d1"), col("d2"),
        levenshtein(col("t1"), col("t2")).as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
  }

  /** Passage-level exact dedup (C4/RefinedWeb-style): split every doc
    * into consecutive `n`-token passages, keep only each passage's
    * globally first occurrence (ordered by doc id, then position), and
    * reassemble documents from their surviving passages. A full
    * duplicate document loses every passage; partial overlaps lose just
    * the shared spans.
    *
    * 100 TB: two partial-aggregatable shuffles — (doc, passage-id) to
    * assemble passages, then the passage string to elect the first
    * occurrence via min(struct(doc,pid)) (a partial-aggregatable
    * arg-min; no window over the passage partition, so a passage
    * duplicated a million times costs one combine tree, not one
    * million-row sort partition) — plus the doc-id regroup. At scale
    * key the election shuffle on a passage hash rather than the raw
    * string.
    */
  def passageDedup(docs: DataFrame, textCol: String, idCol: String,
                   n: Int = 10): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(split(lower(col(textCol)), "\\s+")).as(Seq("p", "tok")))
    val passages = toks
      .withColumn("pid", (col("p") / n).cast("int"))
      .groupBy("doc_id", "pid")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok")), " ").as("passage"))
    val firstOcc = passages
      .groupBy("passage")
      .agg(min(struct(col("doc_id"), col("pid"))).as("f"))
      .select(col("f.doc_id").as("doc_id"), col("f.pid").as("pid"), col("passage"))
    val rebuilt = firstOcc
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pid"), col("passage")))),
            x => x.getField("passage")), " ").as("dedup_text"))
    // shuffle_hash: both sides are doc_id-keyed aggregates (already
    // hash-partitioned on the join key — the join adds NO exchange),
    // but Catalyst's estimate of the collect_list side is far under the
    // rebuilt text size and it would broadcast a corpus-sized relation.
    passages.groupBy("doc_id").agg(count(lit(1)).as("n_pass"))
      .join(rebuilt.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_pass"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        md5(coalesce(col("dedup_text"), lit(""))).as("dedup_sig"))
  }

  /** Exact duplicate-substring spans (Lee et al. 2021,
    * arXiv:2107.06499 "Deduplicating Training Data Makes Language
    * Models Better"): the paper finds every substring of ≥ 50 tokens
    * occurring twice anywhere in the corpus via a suffix array — a
    * pointer-chasing structure with no distributed analog. The
    * relational re-expression: a length-`window` token run is
    * duplicated iff every length-`window` gram inside it is duplicated,
    * so positioned overlapping grams (stride 1) + a global occurrence
    * count + a per-doc merge of overlapping duplicated gram positions
    * yields exactly the maximal duplicated spans at the `window`-token
    * resolution. Output: one row per maximal span —
    * (doc_id, span_start, span_end, span_tokens, n_dup_grams), token
    * positions 1-based inclusive.
    *
    * Count is over OCCURRENCES, not distinct docs — a doc repeating its
    * own `window`-gram is corpus duplication too (the paper dedups
    * self-repeats the same way; cf. TextAnalysis.repetition which
    * scores but does not locate them).
    *
    * 100 TB: grams are scan-side (one row per token position — ×1 data
    * volume, not ×window, since zip_with builds each gram from slices);
    * the occurrence count is one partial-aggregatable shuffle keyed on
    * the gram string (at scale key it on a 128-bit gram hash to shrink
    * shuffle bytes; the string key here keeps the oracle exact with
    * zero collision caveats). The duplicated set joins back to the
    * positioned grams — pinned shuffle_hash on both sides: the
    * positions side is explode-fed and the hot side is an aggregate of
    * it, so Catalyst's estimates are blind in BOTH directions (the
    * explode-broadcast trap, PERF.md round 6) and the duplicated-gram
    * table is vocabulary-scale at 100 TB, never broadcastable. The span
    * merge is a per-doc window (docs have bounded length — no skew).
    * An adversarial hot gram (boilerplate repeated 10⁹×) salts the
    * count like any skewed aggregation; its join-back rows are exactly
    * the positions to be reported, so the output itself bounds that
    * cost.
    */
  def duplicateSpans(docs: DataFrame, textCol: String, idCol: String,
                     window: Int = 5, minCount: Long = 2): DataFrame = {
    GraftFunctions.register(docs.sparkSession) // shingle_array
    // Same narrow-input spread as [[shingles]]: single-row-group files
    // scan as one task; spread gram construction when the source is
    // narrower than the cluster.
    val parallelism = docs.sparkSession.sparkContext.defaultParallelism
    val input =
      if (docs.rdd.getNumPartitions < parallelism) docs.repartition(parallelism)
      else docs
    // tokens-first + gram-array-first (r16): the split and the zip_with
    // chain each materialize ONCE per doc in projections; the Generate
    // and its inferred size()>0 filter then reference attributes. The
    // inline form evaluated split(lower(text)) ~21× per doc per branch
    // (this subtree feeds both the hot-gram count and the probe side) —
    // measured 40 s task time at sf0.1, ~6 s after.
    val grams = input
      .select(col(idCol).as("doc_id"),
        split(lower(col(textCol)), "\\s+").as("__ws"))
      .filter(size(col("__ws")) >= window)
      .select(col("doc_id"),
        shingleArrayOfTokens(col("__ws"), window).as("__grams"))
      .select(col("doc_id"),
        posexplode(col("__grams")).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("gram"))
    val hot = grams.groupBy("gram")
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minCount)
      .select("gram")
    val dup = grams.hint("shuffle_hash")
      .join(hot.hint("shuffle_hash"), Seq("gram"))
      .select("doc_id", "pos")
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // grams at pos p cover tokens [p, p+window-1]; a new span starts
    // when the gap to the previous gram's coverage exceeds contiguity.
    val brk = when(lag(col("pos"), 1).over(byPos).isNull
        .or(col("pos") > lag(col("pos"), 1).over(byPos) + window), 1)
      .otherwise(0)
    dup
      .withColumn("brk", brk)
      .withColumn("island", sum(col("brk")).over(byPos))
      .groupBy("doc_id", "island")
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + window - 1).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_dup_grams"))
  }

  /** The removal step over [[duplicateSpans]] (the actual dedup of
    * arXiv:2107.06499 §4: cut every duplicated span, keep the rest):
    * tokens covered by no span survive; the cleaned document is the
    * kept tokens rejoined in order. Output per doc —
    * (doc_id, n_tokens, n_removed, clean_sig) with clean_sig an md5 of
    * the reconstructed text (the [[passageDedup]] signature convention;
    * reconstruction is over the normalized lowercase token stream, like
    * every token-level operator here). Docs shorter than `window` have
    * no grams, hence no spans — kept whole.
    *
    * 100 TB: span coverage is a doc_id equi-join with a range residual
    * — per-doc span lists are short, so the residual filter is cheap;
    * pinned shuffle_hash (the span side is a post-aggregate of
    * explode-fed joins — estimate-blind both ways). Reassembly is the
    * same partial-aggregatable collect+sort as passageDedup: per-doc
    * state, no corpus-wide sort.
    */
  def removeDuplicateSpans(docs: DataFrame, textCol: String, idCol: String,
                           window: Int = 5, minCount: Long = 2): DataFrame = {
    val spans = duplicateSpans(docs, textCol, idCol, window, minCount)
      .select(col("doc_id").as("s_doc"), col("span_start"), col("span_end"))
    val toks = docs.select(col(idCol).as("doc_id"),
        posexplode(split(lower(col(textCol)), "\\s+")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("tok"))
    // hint the SPANS side: LeftAnti can only build right, so a hint on
    // the probe side is unsatisfiable and silently ignored.
    val kept = toks
      .join(spans.hint("shuffle_hash"), col("doc_id") === col("s_doc")
        && col("p") >= col("span_start") && col("p") <= col("span_end"),
        "left_anti")
    val reassembled = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    val totals = docs.select(col(idCol).as("doc_id"),
      size(split(lower(col(textCol)), "\\s+")).cast("long").as("n_tokens"))
    totals.join(reassembled.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_sig"))
  }

  /** Survivorship: one row per cluster, keeping the highest-scoring
    * member (ties → smallest id). One partial-aggregatable shuffle on
    * the cluster key — max_by(struct(score, −id)) aggregates map-side,
    * so a million-member cluster costs a combine tree, not a sorted
    * window partition.
    */
  def keepBestPerCluster(clustered: DataFrame, clusterCol: String,
                         idCol: String, scoreCol: String): DataFrame =
    clustered
      .groupBy(col(clusterCol).as("cluster"))
      .agg(
        count(lit(1)).as("cluster_size"),
        max_by(col(idCol), struct(col(scoreCol), col(idCol) * -1)).as("keep_id"))
      .select("cluster", "keep_id", "cluster_size")
}
