package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Wall clock in epoch milliseconds with sub-millisecond resolution: one
  * clock for the benchmark's own spans and Spark's event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def ms(nano: Long): Double = epoch0 + (nano - nano0) / 1e6
  def now: Double = ms(System.nanoTime())
}

/** A traced interval. `laid` marks spans placed end to end from a duration
  * the program reports (its phase maps), not timed at their boundaries. */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, req: String, laid: Boolean = false) {
  def ms: Double = end - start
}

/** Spans kept in memory and written when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer[Span]()
  def add(name: String, start: Double, end: Double, parent: Int, req: String,
      laid: Boolean = false): Int = synchronized {
    val id = buf.size + 1
    buf += Span(id, name, start, end, parent, req, laid)
    id
  }
  def all: Seq[Span] = synchronized(buf.toList)

  /** Lay a phase map (insertion order = execution order) end to end from
    * `start`, as children of `parent`; returns the phase spans by name. */
  def lay(phases: Seq[(String, Long)], start: Double, parent: Int, req: String,
      prefix: String): Map[String, Int] = {
    var t = start
    phases.map { case (k, v) =>
      val id = add(prefix + k, t, t + v, parent, req, laid = true)
      t += v
      k -> id
    }.toMap
  }
}

object Spans {
  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time: the span's duration minus the part its children cover. */
  def selfMs(s: Span, all: Seq[Span]): Double =
    s.ms - covered(all.filter(_.parent == s.id).map(c => (c.start, c.end)), s.start, s.end)

  def toJson(s: Span, all: Seq[Span]): String =
    f"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"parent":${s.parent},"req":${Json.str(s.req)},"self_ms":${selfMs(s, all)}%.3f,"laid":${s.laid}}"""
}

/** Spark work recorded per job group, for the groups the benchmark marks
  * as traced (prefix [[JobStats.Traced]]). */
final class JobStats extends SparkListener {
  import JobStats._
  final class Group {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var runMs = 0L; var maxTaskMs = 0L; var waitMs = 0L
    var shufRead = 0L; var shufWrite = 0L; var spill = 0L; var inputRows = 0L
    val jobSpans = mutable.ArrayBuffer[(Int, Double, Double)]() // (jobId, start, end)
    val execIds = mutable.Set[Long]()
  }
  private val groups = new ConcurrentHashMap[String, Group]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Double)]()
  /** SQL execution id → shuffle and broadcast exchanges in its physical
    * plan, as last reported (adaptive execution re-reports the final plan). */
  val exchanges = new ConcurrentHashMap[Long, Int]()

  def group(g: String): Option[Group] = Option(groups.get(g))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = e.properties
    val g = if (props == null) null else props.getProperty("spark.jobGroup.id")
    if (g != null && g.startsWith(Traced)) {
      val st = groups.computeIfAbsent(g, _ => new Group)
      st.synchronized {
        st.jobs += 1
        Option(props.getProperty("spark.sql.execution.id")).foreach(x => st.execIds += x.toLong)
      }
      e.stageIds.foreach(s => stageGroup.put(s, g))
      jobStart.put(e.jobId, (g, e.time.toDouble))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      val st = groups.get(g)
      st.synchronized(st.jobSpans += ((e.jobId, t0, e.time.toDouble)))
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val st = groups.get(g)
      st.synchronized(st.stages += 1)
      val t: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stageSubmit.put(e.stageInfo.stageId, t)
    }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => exchanges.put(s.executionId, countExchanges(s.sparkPlanInfo))
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      exchanges.put(u.executionId, countExchanges(u.sparkPlanInfo))
    case _ => ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val st = groups.get(g); val m = e.taskMetrics
      st.synchronized {
        st.tasks += 1
        Option(stageSubmit.get(e.stageId)).foreach(s =>
          st.waitMs += math.max(0L, e.taskInfo.launchTime - s))
        if (m != null) {
          st.cpuNs += m.executorCpuTime; st.runMs += m.executorRunTime
          st.maxTaskMs = math.max(st.maxTaskMs, m.executorRunTime)
          st.shufRead += m.shuffleReadMetrics.totalBytesRead
          st.shufWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          st.inputRows += m.inputMetrics.recordsRead
        }
      }
    }
}

object JobStats {
  /** Exchange operators (a reused exchange runs no shuffle of its own). */
  def countExchanges(p: SparkPlanInfo): Int =
    (if (p.nodeName == "Exchange" || p.nodeName == "BroadcastExchange") 1 else 0) +
      p.children.map(countExchanges).sum
  val Traced = "perfbench:t:"
  val Untraced = "perfbench:u:"
}

/** Minimal JSON output helpers. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

object Stats {
  /** Lower median, as the engine's own bench reports it. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else { val s = xs.sorted; s((s.size - 1) / 2) }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Weighted percentile over (value, weight) samples. */
  def wpct(xs: Seq[(Double, Long)], p: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) return Double.NaN
    val target = math.ceil(p * total).toLong.max(1L)
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= target }.map(_._1).getOrElse(s.last._1)
  }

  /** The highest of a fixed percentile ladder with at least ten samples
    * beyond it: (percentile, value), or None below 20 samples. */
  def tail(xs: Seq[(Double, Long)]): Option[(Double, Double)] = {
    val n = xs.map(_._2).sum
    Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5).find(p => n * (1 - p) >= 10 - 1e-9)
      .map(p => (p * 100, wpct(xs, p)))
  }

  /** Mean of the last quartile over the mean of the second quartile. */
  def flatRatio(xs: Seq[Double]): Double =
    if (xs.size < 4) Double.NaN
    else {
      val q = xs.size / 4
      mean(xs.takeRight(q)) / mean(xs.slice(q, 2 * q))
    }
}
