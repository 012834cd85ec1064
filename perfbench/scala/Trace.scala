package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder: (name, start, end, parent) per span, all on
  * one monotonic clock (seconds since the harness started). Written out
  * once, when the run ends. Only used by traced runs. */
final class Spans(val runId: String, t0: Long) {
  final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double)
  private val done = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private val open = mutable.Stack[Int]()

  def now: Double = (System.nanoTime() - t0) / 1e9

  /** Record `name` around `f`, nested under the innermost open span. */
  def apply[A](name: String)(f: => A): A = synchronized {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val s = now
    open.push(id)
    try f finally {
      open.pop()
      done += Span(id, name, parent, s, now)
    }
  }

  /** Record an already-finished span under the innermost open span. Used
    * for intervals known only after the fact, such as the stage between
    * two log lines. */
  def add(name: String, start: Double, end: Double): Unit = synchronized {
    done += Span(nextId, name, open.headOption.getOrElse(-1), start, end)
    nextId += 1
  }

  def json: String = synchronized {
    done.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start":${s.start},"end":${s.end},"run":${Json.str(runId)}}""")
      .mkString("[", ",", "]")
  }
}

/** Engine counters for traced runs: job/stage/task counts and task
  * metrics, totalled per run and per job group (one group per query or
  * stage of the workload). */
final class EngineListener(clock: () => Double) extends SparkListener {
  final class Totals {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, shuffleWrite, shuffleRead, spill, input, output = 0L
  }
  val total = new Totals
  val byGroup = mutable.Map[String, Totals]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  /** (group, start, end) of every job, on the span clock. */
  val jobTimes = mutable.ArrayBuffer[(String, Double, Double)]()
  private val jobStart = mutable.Map[Int, (String, Double)]()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    total.jobs += 1
    byGroup.getOrElseUpdate(g, new Totals).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (g, clock())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, s) => jobTimes += ((g, s, clock())) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total.stages += 1
    byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageInfo.stageId, ""), new Totals).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = stageGroup.getOrElse(e.stageId, "")
      Seq(total, byGroup.getOrElseUpdate(g, new Totals)).foreach { t =>
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.input += m.inputMetrics.bytesRead
        t.output += m.outputMetrics.bytesWritten
      }
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    }
  }

  /** Worst max/median task-duration ratio over stages with at least
    * `minTasks` tasks (1.0 when no stage qualifies). */
  def skewMax(minTasks: Int): Double = synchronized {
    val ratios = stageTaskMs.values.filter(_.size >= minTasks).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Micro-batch progress of one streaming query, in arrival order. */
final class ProgressListener(clock: () => Double) extends StreamingQueryListener {
  final case class Batch(id: Long, committedAt: Double, durations: Map[String, Long])
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      batches.add(Batch(p.batchId, clock(),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def all: Seq[Batch] = batches.asScala.toSeq.sortBy(_.id)
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x }.toSeq)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case Raw(s) => s
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Already-serialized JSON, embedded verbatim. */
  final case class Raw(s: String)
}
