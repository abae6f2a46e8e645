package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.etl.{DataQuality, EtlConfig, EtlRunner, Reader, Transforms, Writer}
import graft.tables.Tables

/** One timed query execution; `rows` is -1 and `error` set when it threw. */
final case class Op(name: String, pass: Int, seconds: Double, rows: Long, error: String)

/** The benchmark's JVM side: one workload in one `local[4]` session with a
  * single client in a closed loop.
  *
  * {{{
  * Main --workload sweep --queries FILE|all --data DIR --out DIR --seconds N --trace 0|1
  *      [--min-warm N] [--check 0|1]
  * Main --workload etl --etl-conf YAML --data DIR --out DIR --seconds N --trace 0|1
  * Main --dump-oracle FILE
  * }}}
  *
  * Untraced, each query runs as `fn(spark, dir).count()` and each ETL job
  * as `EtlRunner.run`, timed whole. Traced, the same work is split at the
  * layers' public entry points (query builder, `executedPlan`, the count;
  * `Reader.read`, `DataQuality.gate`, `Transforms.apply`, `Writer.write`)
  * and a listener attributes Spark's jobs and tasks to those spans. A
  * traced ETL run ends with one plain `EtlRunner.run`, which must submit
  * the same actions as the traced copy of its sequence.
  *
  * Writes `result.json` (timings, counts, metrics), `spans.jsonl` when
  * traced, and for the sweep one parquet result per query under `check/`
  * for the output check, made after the timed passes. `--dump-oracle`
  * writes `SparkEntry.oracleSql` as JSON.
  */
object Main {
  final case class Opts(workload: String, data: String, out: Path, seconds: Double,
                        trace: Boolean, args: Map[String, String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), Paths.get(m("out")), m("seconds").toDouble,
      m.get("trace").contains("1"), m)
  }

  val Cores = 4
  private val SetupRepeats = 3

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    spark
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def pinnedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")}"

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--dump-oracle")) {
      Files.writeString(Paths.get(args(1)), Json.value(SparkEntry.oracleSql))
      return
    }
    val o = parse(args)
    Files.createDirectories(o.out)
    val loadStart = loadAvg()
    val touch: SparkSession => Unit =
      if (o.workload == "etl") spark => Reader.read(spark, etlConf(o).input).schema
      else spark => {
        Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region",
          "documents", "embeddings").foreach(t => Tables(spark, o.data, t).schema)
        Tables.events(spark, o.data).schema
        SparkEntry.queries.size
      }
    // Set-up is repeated and the median reported: each round starts a
    // session, installs the extensions and resolves the inputs (the ten
    // tables and the query catalogue, or the CSV directory). Only the last
    // session is kept. `start_s` is the first round's end measured from
    // JVM start, so it also carries JVM start and class loading.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var startS = 0.0
    val setups = (1 to SetupRepeats).map { i =>
      if (i > 1) {
        SparkSession.getActiveSession.foreach(_.stop())
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      touch(session())
      if (i == 1) startS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      secs(t0)
    }
    val spark = SparkSession.active
    val tracer = if (o.trace) Some(new Tracer(spark.sparkContext)) else None
    val body = o.workload match {
      case "etl" => new EtlWorkload(spark, o, tracer).run()
      case _ => new SweepWorkload(spark, o, tracer).run()
    }
    tracer.foreach(_.dump(o.out.resolve("spans.jsonl")))
    val pinned = pinnedBytes(spark)
    spark.stop()
    val result = Json.obj(
      "workload" -> o.workload,
      "setup_s" -> setups,
      "start_s" -> startS,
      "pinned_bytes" -> pinned,
      "load_avg_start" -> loadStart,
      "load_avg_end" -> loadAvg(),
      "body" -> Json.Raw(body))
    Files.writeString(o.out.resolve("result.json"), result)
  }

  /** Per-pass layer metrics, reported as `<metric>.cold` for the first pass
    * and `<metric>.warm` as the median over the later passes. */
  def coldWarm(passes: Seq[Map[String, Double]]): Map[String, Double] =
    passes.head.keys.flatMap { k =>
      Seq(s"$k.cold" -> passes.head(k), s"$k.warm" -> median(passes.tail.map(_(k))))
    }.toMap

  def workMetrics(w: Work, wall: Double, prefix: String): Map[String, Double] = Map(
    s"$prefix.jobs" -> w.jobs.toDouble,
    s"$prefix.stages" -> w.stages.toDouble,
    s"$prefix.tasks" -> w.tasks.toDouble,
    s"$prefix.task_cpu_s" -> w.cpuNs / 1e9,
    s"$prefix.cpu_util" -> (if (wall > 0) w.cpuNs / 1e9 / (wall * Cores) else 0.0),
    s"$prefix.shuffle_read_bytes" -> w.shuffleReadBytes.toDouble,
    s"$prefix.shuffle_write_bytes" -> w.shuffleWriteBytes.toDouble,
    s"$prefix.spill_bytes" -> w.spillBytes.toDouble)

  def censusMetrics(c: Census): Map[String, Double] = Map(
    "plan.exchanges" -> c.exchanges.toDouble,
    "plan.broadcasts" -> c.broadcasts.toDouble,
    "plan.fallback_exprs" -> c.fallbackExprs.toDouble,
    "cache.scans" -> c.cacheScans.toDouble)

  /** Metrics the other workload kind reports; zero here so every run
    * carries the full per-layer set. */
  val EtlKeys = Seq("etl.read_s", "etl.dq_in_s", "etl.transform_s", "etl.dq_out_s",
    "etl.write_s", "etl.input_bytes_per_byte", "etl.bytes_written", "etl.files_written")

  private def label(pass: Int): String = if (pass == 1) "cold" else s"warm$pass"

  /** Queries in sorted order, run in passes: pass 1 cold, then warm passes
    * until `seconds` have gone by since pass 1 started and at least
    * `--min-warm` (default 3) warm passes ran. `--queries all` runs the
    * whole catalogue; `--check 0` skips writing the results for the
    * output check. */
  final class SweepWorkload(spark: SparkSession, o: Opts, tracer: Option[Tracer]) {
    private val catalogue = SparkEntry.queries
    private val minWarm = o.args.get("min-warm").fold(3)(_.toInt)
    private val check = !o.args.get("check").contains("0")
    private val names: Seq[String] = (o.args("queries") match {
      case "all" => catalogue.keys.toSeq
      case file => Files.readAllLines(Paths.get(file)).toArray(Array.empty[String]).toSeq
        .map(_.trim).filter(n => n.nonEmpty && !n.startsWith("#"))
    }).sorted

    private def runOne(name: String, pass: Int): (Op, Census) = {
      val t0 = System.nanoTime()
      try {
        val fn = catalogue.getOrElse(name, throw new NoSuchElementException(s"no query $name"))
        tracer match {
          case None =>
            val n = fn(spark, o.data).count()
            (Op(name, pass, secs(t0), n, null), Census.zero)
          case Some(t) =>
            val df = t.span("build", label(pass), name)(fn(spark, o.data))
            // the plan Dataset.count() executes, planned and run in two steps
            val counted = df.groupBy().count()
            t.span("plan", label(pass), name)(counted.queryExecution.executedPlan)
            val n = t.span("exec", label(pass), name)(counted.collect().head.getLong(0))
            (Op(name, pass, secs(t0), n, null), Census.of(counted.queryExecution.executedPlan))
        }
      } catch { case NonFatal(e) =>
        (Op(name, pass, secs(t0), -1L, describe(e)), Census.zero)
      }
    }

    /** One op's record; traced runs add its census and the jobs its
      * builder and its count ran. */
    private def opJson(op: Op, c: Census): Json.Raw = Json.Raw(Json.obj(
      "name" -> op.name, "pass" -> op.pass, "seconds" -> op.seconds, "rows" -> op.rows,
      "error" -> op.error,
      "census" -> tracer.map { t =>
        val (buildS, buildW) = t.totals("build", label(op.pass), op.name)
        val (planS, _) = t.totals("plan", label(op.pass), op.name)
        val (execS, execW) = t.totals("exec", label(op.pass), op.name)
        Json.Raw(Json.obj("exchanges" -> c.exchanges, "broadcasts" -> c.broadcasts,
          "fallback_exprs" -> c.fallbackExprs, "cache_scans" -> c.cacheScans,
          "build_jobs" -> buildW.jobs, "exec_jobs" -> execW.jobs,
          "build_s" -> buildS, "plan_s" -> planS, "exec_s" -> execS))
      }))

    def run(): String = {
      val ops = mutable.ArrayBuffer.empty[(Op, Census)]
      val walls = mutable.ArrayBuffer.empty[Double]
      val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
      val start = System.nanoTime()
      var pass = 0
      while (pass < 1 + minWarm || secs(start) < o.seconds) {
        pass += 1
        val t0 = System.nanoTime()
        val results = names.map(runOne(_, pass))
        walls += secs(t0)
        ops ++= results
        tracer.foreach { t =>
          val (buildS, buildW) = t.totals("build", label(pass))
          val (planS, planW) = t.totals("plan", label(pass))
          val (execS, execW) = t.totals("exec", label(pass))
          layers += Map(
            "build.s" -> buildS, "build.jobs" -> buildW.jobs.toDouble,
            "plan.s" -> planS,
            "tables.input_bytes" -> (buildW.inputBytes + planW.inputBytes + execW.inputBytes).toDouble,
            "cache.pinned_bytes" -> pinnedBytes(spark).toDouble,
            "pass_s" -> walls.last) ++
            workMetrics(execW, execS, "exec") ++
            censusMetrics(results.map(_._2).foldLeft(Census.zero)(_ + _))
        }
      }
      // Output check material, outside the timed passes: each query's
      // result written once, as graft.Verify writes it, from two threads
      // per core so planning and file commits overlap. The marker tells
      // run.py that the timed passes are over.
      Files.writeString(o.out.resolve("timed.done"), "")
      val checkDir = o.out.resolve("check")
      val checkStart = System.nanoTime()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2 * Cores)
      val checked = if (!check) Nil else try {
        names.map { n =>
          n -> pool.submit[String](() => try {
            catalogue(n)(spark, o.data).coalesce(1).write.mode("overwrite")
              .parquet(checkDir.resolve(n).toString)
            null
          } catch { case NonFatal(e) => describe(e) })
        }.map { case (n, f) => n -> f.get() }
      } finally pool.shutdown()
      val checkS = secs(checkStart)
      val layerJson = if (layers.isEmpty) Map.empty[String, Double]
        else coldWarm(layers.toSeq) ++ EtlKeys.map(_ -> 0.0)
      Json.obj(
        "passes" -> walls.toSeq,
        "ops" -> ops.map { case (op, c) => opJson(op, c) },
        "check_errors" -> checked.filter(_._2 != null).toMap,
        "check_s" -> checkS,
        "layers" -> layerJson)
    }
  }

  /** The job's settings, reading the generated CSV directory and writing
    * under the run's output directory. */
  def etlConf(o: Opts): EtlConfig = {
    val base = EtlConfig.load(o.args("etl-conf"))
    base.copy(
      input = base.input.copy(path = Paths.get(o.data, "csv").toString),
      output = base.output.copy(basePath = o.out.resolve("etl-out").toString))
  }

  /** The paper's job, repeated: job 1 cold, then warm jobs until `seconds`
    * have gone by (at least six). Every job overwrites the same output.
    * Warm jobs speed up while the JIT settles, so `.warm` layer metrics are
    * medians over the last three jobs, as run.py's `warm_s` is. */
  final class EtlWorkload(spark: SparkSession, o: Opts, tracer: Option[Tracer]) {
    private val conf = etlConf(o)
    private val inputBytes = Files.list(Paths.get(conf.input.path)).toArray
      .map(p => Files.size(p.asInstanceOf[Path])).sum

    /** EtlRunner.run's sequence, with each layer call in its own span. */
    private def tracedJob(t: Tracer, job: String): Long = {
      import DataQuality._
      val raw = t.span("read", job, job)(Reader.read(spark, conf.input))
      val (inOk, _) = t.span("dq_in", job, job)(gate(raw, Seq(
        MinRows(conf.quality.minRows), RequiredColumns(conf.quality.requiredColumns))))
      require(inOk, "input gate failed")
      val (transformed, rowsOut) = t.span("transform", job, job) {
        val df = Transforms(raw, conf).persist(StorageLevel.MEMORY_AND_DISK)
        (df, df.count())
      }
      try {
        val (outOk, _) = t.span("dq_out", job, job)(
          gate(transformed, conf.quality.notNullColumns.map(NotNull)))
        require(outOk, "output gate failed")
        t.span("write", job, job)(Writer.write(transformed, conf.output, conf.run.environment))
        rowsOut
      } finally transformed.unpersist()
    }

    def run(): String = {
      val jobs = mutable.ArrayBuffer.empty[(Double, Long, String)]
      val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
      val census = new CensusListener(spark.sparkContext)
      if (tracer.isDefined) spark.listenerManager.register(census)
      val start = System.nanoTime()
      var job = 0
      while (job < 7 || secs(start) < o.seconds) {
        job += 1
        val t0 = System.nanoTime()
        val (rows, err) = try {
          (tracer match {
            case None => EtlRunner.run(spark, conf).rowsOut
            case Some(t) => tracedJob(t, label(job))
          }, null)
        } catch { case NonFatal(e) => (-1L, describe(e)) }
        jobs += ((secs(t0), rows, err))
        tracer.foreach { t =>
          val phases = Seq("read", "dq_in", "transform", "dq_out", "write")
            .map(p => p -> t.totals(p, label(job)))
          val all = phases.map(_._2._2).foldLeft(new Work)(_ += _)
          val outDir = Paths.get(conf.output.basePath, conf.run.environment)
          val files = if (Files.exists(outDir)) Files.walk(outDir).toArray.count { p =>
            val f = p.asInstanceOf[Path]
            Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-")
          } else 0
          layers += Map(
            "build.s" -> 0.0, "build.jobs" -> 0.0, "plan.s" -> 0.0,
            "tables.input_bytes" -> all.inputBytes.toDouble,
            "cache.pinned_bytes" -> pinnedBytes(spark).toDouble,
            "pass_s" -> jobs.last._1,
            "etl.read_s" -> phases(0)._2._1, "etl.dq_in_s" -> phases(1)._2._1,
            "etl.transform_s" -> phases(2)._2._1, "etl.dq_out_s" -> phases(3)._2._1,
            "etl.write_s" -> phases(4)._2._1,
            "etl.input_bytes_per_byte" -> all.inputBytes.toDouble / inputBytes,
            "etl.bytes_written" -> all.outputBytes.toDouble,
            "etl.files_written" -> files.toDouble) ++
            workMetrics(all, phases.map(_._2._1).sum, "exec") ++ censusMetrics(census.take())
        }
      }
      // The traced job repeats EtlRunner.run's sequence by hand. A plain
      // EtlRunner.run in the same session must submit the same actions in
      // the same order and give the same rows, or the per-layer figures
      // no longer measure the program.
      val drift = tracer.map { t =>
        val rows = try t.span("plain", "drift", "etl")(EtlRunner.run(spark, conf).rowsOut)
          catch { case NonFatal(_) => -1L }
        val (traced, plain) = (t.actions(label(job)), t.actions("drift"))
        if (traced != plain)
          s"traced job ran ${traced.mkString(",")}; EtlRunner.run ran ${plain.mkString(",")}"
        else if (rows != jobs.last._2) s"traced job gave ${jobs.last._2} rows; EtlRunner.run $rows"
        else null
      }
      val layerJson = if (layers.isEmpty) Map.empty[String, Double] else {
        val steady = layers.head +: layers.tail.takeRight(3).toSeq
        coldWarm(steady.map(_.filter(!_._1.startsWith("etl.")))) ++
          EtlKeys.map(k => k -> median(steady.tail.map(_(k))))
      }
      Json.obj(
        "jobs" -> jobs.map { case (s, r, e) =>
          Json.Raw(Json.obj("seconds" -> s, "rows" -> r, "error" -> e)) },
        "input_bytes" -> inputBytes,
        "output" -> Paths.get(conf.output.basePath, conf.run.environment).toString,
        "drift_error" -> drift,
        "layers" -> layerJson)
    }
  }

  /** Collects the plan census of every action in the session; read and
    * reset once per ETL job. */
  final class CensusListener(sc: SparkContext) extends QueryExecutionListener {
    private var sum = Census.zero
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { sum = sum + Census.of(qe.executedPlan) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    def take(): Census = {
      org.apache.spark.PerfbenchBus.drain(sc)
      synchronized { val s = sum; sum = Census.zero; s }
    }
  }
}
