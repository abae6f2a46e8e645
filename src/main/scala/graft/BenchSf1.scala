package graft

import org.apache.spark.sql.functions._

/** The measured sf0.1 → sf1 scaling artifact: the scale-stress
  * companion to [[Bench]] (which runs the full surface on the
  * single-file sf0.1 tables). The 100 TB story otherwise rests on plan pins
  * (shuffle keys, state bounds) plus sf0.1 wall times; this main turns
  * "the plan is scale-legal" into "the slope is measured" for the
  * bench's most expensive queries.
  *
  * Selection is mechanical: the top-N queries by in-bench minimum of a
  * BENCH_DETAIL.json capture, plus two forced stress rows that no query
  * reaches at this scale (each explained where it is defined). Each
  * row runs twice back to back on the multi-file ~sf1 [[Fixtures]]
  * layout (10× rows) and BENCH_SF1.json
  * records per-query sf0.1 / sf1 cold / sf1 warm / slope. The data is
  * 10×, so a LINEAR query should show slope ≤ ~10 on the warm run
  * (fixed overheads amortize; shared session caches are re-paid on the
  * cold run — both reported so neither can hide). The forced rows have
  * no sf0.1 figure, so their `sf01_min` and `slope` are null.
  *
  * `spark.sql.files.maxPartitionBytes` is lowered to 8m so the 16-file
  * tables split at the same files-per-task ratio a 128 MB-file cluster
  * layout would give 128 MB splits — the point is to MEASURE multi-task
  * scans (PERF.md §sf1), which the single-row-group sf0.1 files can't.
  *
  * Quiet-gated like Bench so the committed artifact starts quiet.
  *
  * Usage: `runMain graft.BenchSf1 [detailPath] [out] [topN]` (paths
  * default to BENCH_DETAIL.json / BENCH_SF1.json in the working
  * directory, topN to 10).
  */
object BenchSf1 {
  import Bench.fmt

  def main(args: Array[String]): Unit = {
    val detailPath = args.lift(0).getOrElse("BENCH_DETAIL.json")
    val outPath = args.lift(1).getOrElse("BENCH_SF1.json")
    val topN = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    val sf01 = Bench.detailQueries(Bench.readJson(detailPath), detailPath)
    val top = sf01.filter(_._2 > 0).toSeq.sortBy(-_._2).take(topN)
    System.err.println(s"[sf1] top$topN: " + top.map(_._1).sorted.mkString(","))

    val spark = LocalSession(cpus, "spark.sql.files.maxPartitionBytes" -> "8m")
    val dir = Fixtures.ensureSf1(spark)
    val waited = Bench.awaitQuiet("sf1")
    val loadStart = Bench.loadAvg()
    Bench.warmTables(spark, dir)

    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try body catch { case e: Throwable =>
        System.err.println(s"[sf1] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    // one BENCH_SF1 row: two back-to-back runs (cold, then warm)
    def row(name: String, s01: Option[Double])(body: => Unit): String = {
      val cold = timed(name)(body)
      val warm = timed(name)(body)
      val best = if (cold < 0 || warm < 0) -1.0 else math.min(cold, warm)
      val slope = s01.map(s => if (best <= 0) -1.0 else best / s)
      def opt(v: Option[Double]) = v.map(fmt).getOrElse("null")
      System.err.println(s"[sf1] $name sf0.1=${opt(s01)} " +
        s"cold=${fmt(cold)} warm=${fmt(warm)} slope=${opt(slope)}")
      s""""$name":{"sf01_min":${opt(s01)},"sf1_cold":${fmt(cold)},"sf1_warm":${fmt(warm)},"sf1_min":${fmt(best)},"slope":${opt(slope)}}"""
    }

    // The distributed large-star/small-star path, FORCED
    // (maxDriverEdges = 0): at sf1 the near-dup edge set is still under
    // the driver union-find guard, so without forcing, the O(log d)
    // rounds the 100 TB design rests on would never be the path
    // measured here.
    def ccDistributed(): Unit = {
      val docs = graft.tables.Tables.documents(spark, dir)
      val pairs = graft.operators.Dedup.bandedJaccardMinhash(
          docs, "text", "doc_id",
          n = 3, threshold = 0.2, numHashes = 16, bands = 8)
        .select("d1", "d2")
      graft.operators.Dedup.connectedComponentsKeepOne(
          docs, "doc_id", pairs, maxDriverEdges = 0).count()
    }
    // Exact triangle counts over the DENSE support-1 co-order graph
    // (a60's bench form prunes to repeat co-orders; this is the
    // unpruned stress): the degree-oriented node-iterator under real
    // wedge volume. The full sf1 graph is 12 M edges / Σd² ≈ 3·10⁹
    // (measured: 116 s cold — a co-occurrence graph densifies
    // superlinearly in orders-per-part), so the stress runs on a
    // DETERMINISTIC 25 % order sample (murmur3(ok) bucket, the x24
    // discipline): part degrees drop 4×, wedge volume ~16×, leaving
    // tens of millions of wedges — real stress, bounded artifact.
    def trianglesDense(): Unit = {
      val li = graft.tables.Tables.lineitem(spark, dir)
      val edges = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .filter(hash(col("l_orderkey")).cast("bigint")
          .bitwiseAND(lit(4294967295L)) % 4 === 0)
        .distinct()
      val pairs = edges.as("x").join(edges.as("y"), "ok")
        .filter(col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b"))
      graft.operators.Graph.triangleCounts(pairs, "a", "b").count()
    }

    val rows = top.sortBy(_._1).map { case (name, s01) =>
      row(name, Some(s01))(SparkEntry.queries(name)(spark, dir).count())
    } ++ Seq(
      row("cc_starcontraction_forced", None)(ccDistributed()),
      row("triangles_dense_forced", None)(trianglesDense()))
    val loadEnd = Bench.loadAvg()
    val json =
      s"""{"sf1_dir":"$dir","cpus":$cpus,"top_n":$topN,"detail":"$detailPath","data_factor":10,"load_avg_start":${fmt(loadStart)},"load_avg_end":${fmt(loadEnd)},"load_wait_sec":$waited,"queries":{${rows.mkString(",")}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
