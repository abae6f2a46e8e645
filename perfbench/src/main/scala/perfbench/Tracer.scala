package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanLike
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Exact shape counts of one executed plan. */
final case class Census(exchanges: Int, broadcasts: Int, fallbackExprs: Int, cacheScans: Int) {
  def +(o: Census): Census = Census(exchanges + o.exchanges, broadcasts + o.broadcasts,
    fallbackExprs + o.fallbackExprs, cacheScans + o.cacheScans)
}

object Census {
  val zero: Census = Census(0, 0, 0, 0)

  /** Walks a plan after its action ran: adaptive plans through their final
    * physical plan, query stages through the stage they wrap, subqueries
    * included. Reused exchanges are not counted (they do not run again),
    * and cached relations are counted as scans without descending into
    * the plan that filled them. */
  def of(plan: SparkPlan): Census = plan match {
    case a: AdaptiveSparkPlanExec => of(a.executedPlan)
    case s: QueryStageExec => of(s.plan)
    case p =>
      val here = Census(
        exchanges = if (p.isInstanceOf[ShuffleExchangeLike]) 1 else 0,
        broadcasts = if (p.isInstanceOf[BroadcastExchangeLike]) 1 else 0,
        fallbackExprs = p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum,
        cacheScans = if (p.isInstanceOf[InMemoryTableScanLike]) 1 else 0)
      (p.children ++ p.subqueries).map(of).foldLeft(here)(_ + _)
  }
}

/** Task-level totals of the jobs that ran under one span (or summed over several). */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L

  def +=(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes; outputBytes += o.outputBytes
    this
  }
}

/** Records spans around layer calls and attributes Spark's jobs, stages and
  * tasks to the span that was open when they were submitted.
  *
  * A span is (name, start, end, parent, op). `span` tags the calling
  * thread's jobs with the span id through a Spark local property; the
  * listener reads the tag back from each job and stage. Spans stay in
  * memory and are written out once the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val TagKey = "perfbench.span"
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  // listener state, written on the listener thread
  private val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val work = mutable.HashMap.empty[Int, Work]
  private val executionAction = mutable.HashMap.empty[String, String]

  sc.addSparkListener(this)

  def span[T](name: String, pass: String, op: String)(body: => T): T = {
    val id = spans.synchronized {
      spans += Span(spans.size, name, pass, op, open.headOption.getOrElse(-1), System.nanoTime())
      spans.size - 1
    }
    open = id :: open
    sc.setLocalProperty(TagKey, id.toString)
    try body finally {
      spans(id).endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(TagKey, open.headOption.map(_.toString).orNull)
    }
  }

  private def tag(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(TagKey))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = tag(e.properties)
    // the action is the method of the SQL execution's call site, "count"
    // for "count at File.scala:12"; jobs outside SQL executions have none
    val execution = Option(e.properties).map(_.getProperty("spark.sql.execution.root.id"))
    val action = execution.flatMap(executionAction.get).getOrElse("")
    jobs(e.jobId) = JobSpan(e.jobId, s, e.time, action)
    work.getOrElseUpdate(s, new Work).jobs += 1
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executionAction(x.executionId.toString) = x.description.takeWhile(_ != ' ')
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = tag(e.properties)
    stageSpan(e.stageInfo.stageId) = s
    work.getOrElseUpdate(s, new Work).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val w = work.getOrElseUpdate(stageSpan.getOrElse(e.stageId, -1), new Work)
      w.tasks += 1
      w.cpuNs += m.executorCpuTime
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled
      w.inputBytes += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def drain(): Unit = PerfbenchBus.drain(sc)

  /** Wall seconds and task totals summed over the spans of one name in
    * one pass, and of one op when `op` is given. */
  def totals(name: String, pass: String, op: String = null): (Double, Work) = {
    drain()
    val ids = spans.filter(s => s.name == name && s.pass == pass && (op == null || s.op == op))
      .map(_.id)
    val sum = new Work
    synchronized(ids.flatMap(work.get).foreach(sum += _))
    (ids.map(i => (spans(i).endNs - spans(i).startNs) / 1e9).sum, sum)
  }

  /** The actions of the jobs submitted under the spans of one pass, in
    * submission order. */
  def actions(pass: String): Seq[String] = {
    drain()
    val ids = spans.filter(_.pass == pass).map(_.id).toSet
    synchronized(jobs.values.filter(j => ids(j.span)).toSeq.sortBy(_.jobId).map(_.action))
  }

  /** Spans and job spans as JSON lines: times in ms since the epoch. */
  def dump(path: java.nio.file.Path): Unit = {
    drain()
    def ms(ns: Long) = epochMs0 + (ns - nano0) / 1e6
    val lines = spans.map { s =>
      Json.obj("kind" -> "span", "id" -> s.id, "name" -> s.name, "pass" -> s.pass,
        "op" -> s.op, "parent" -> s.parent, "start_ms" -> ms(s.startNs), "end_ms" -> ms(s.endNs))
    } ++ synchronized(jobs.values.toSeq).map { j =>
      Json.obj("kind" -> "job", "id" -> j.jobId, "parent" -> j.span, "action" -> j.action,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs)
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, pass: String, op: String, parent: Int,
                        startNs: Long, var endNs: Long = -1L)
  final case class JobSpan(jobId: Int, span: Int, startMs: Long, action: String,
                           var endMs: Long = -1L)
}

/** A minimal JSON writer for the harness's flat records. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}:${value(v)}" }
    .mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case raw: Json.Raw => raw.json
    case other => str(other.toString)
  }

  final case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
