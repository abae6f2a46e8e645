package graft

/** Ad-hoc timing harness for individual queries:
  * `runMain graft.TimeQuery <sfDir> <reps> [--no-clear] <name> [<name> ...]`.
  *
  * Names resolve from SparkEntry.queries. Each rep runs in a FRESH
  * session-state (cleared cache) so reps are comparable cold runs;
  * per-rep seconds print one line per query.
  * Pass `--no-clear` as the first name to keep caches across queries
  * and reps — that measures the in-session shared-cache regime the
  * bench suite runs in (query order then matters, by design).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: TimeQuery <sfDir> <reps> [--no-clear] <name>...")
    val (sfDir, reps) = (args(0), args(1).toInt)
    val noClear = args(2) == "--no-clear"
    val names = args.drop(if (noClear) 3 else 2).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    // same optional multi-file split override as Bench (sf1 fixtures)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      Bench.splitOverride: _*)

    // warmup codegen/classloading on the flagship
    SparkEntry.entry(spark).count()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        if (!noClear) Caches.clearAll(spark) // cold per rep by default
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(s"TIMEQ $name " + times.map(t => f"$t%.3f").mkString(" "))
    }
    spark.stop()
  }
}
