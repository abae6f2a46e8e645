package graft

import org.apache.spark.sql.SparkSession

/** The one local session every graft main runs on: `local[cpus]`, as
  * many shuffle partitions as cores, UTC session zone, UI off, log level
  * WARN, and the engine's Catalyst extensions installed (idempotent).
  * `extraConf` adds per-main settings such as a file-split override.
  *
  * Three places deliberately configure their own SparkSession:
  *  - `graft.etl.EtlMain` (via `EtlRunner`): its settings mirror the
  *    reference job — master from the argument, 32 shuffle partitions,
  *    no extensions — and EtlLogParitySpec pins its log;
  *  - `SparkTestBase`: specs install extensions per test;
  *  - `perfbench`: the benchmark harness builds its own session so the
  *    program under test cannot change how it is measured.
  */
object LocalSession {
  def apply(cpus: String, extraConf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extraConf
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    spark
  }
}
