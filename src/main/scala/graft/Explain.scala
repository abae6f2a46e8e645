package graft

/** Dev tool: print the formatted physical plan of one query and time it.
  * Usage: runMain graft.Explain <query_name> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Explain <query>|list [sfDir]"))
    if (name == "list") {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    // Three timed passes (mirrors Bench): pass 1 shows cold/materialize
    // cost, passes 2-3 the warm path over any persisted intermediates.
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"[explain] $name pass$i: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
