package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of the Spark tasks that ran while one span was the innermost
  * open span. */
final class TaskStats {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var firstLaunchMs = Long.MaxValue
  /** task durations (ms) per stage, for the skew ratio */
  val stageDurations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** (launch, finish) of every task, epoch ms */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(stageId: Int, info: TaskInfo, m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    firstLaunchMs = math.min(firstLaunchMs, info.launchTime)
    stageDurations.getOrElseUpdate(stageId, mutable.ArrayBuffer.empty) += info.duration
    intervals += ((info.launchTime, info.finishTime))
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Wall time (s) during which at least one of these tasks ran. */
  def activeSeconds: Double = {
    var covered = 0L
    var end = Long.MinValue
    for ((a, b) <- intervals.sortBy(_._1)) {
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered / 1e3
  }

  /** Max over stages with at least two tasks of (max task time / median
    * task time); 1.0 when no stage qualifies. */
  def skew: Double = {
    val ratios = stageDurations.values.filter(_.size >= 2).map { ds =>
      val s = ds.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

final class Span(val id: Int, val name: String, val parent: Int,
                 val request: Int, val startNs: Long, val startMs: Long) {
  var endNs = 0L
  val stats = new TaskStats
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Routes each task to the span whose job group was set when its job
  * started. */
final class SpanListener extends SparkListener {
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  @volatile var spans: Map[Int, Span] = Map.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.flatMap(g => g.toIntOption).flatMap(spans.get).foreach { span =>
      e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    if (span != null && e.taskInfo != null) span.stats.synchronized {
      span.stats.add(e.stageId, e.taskInfo, e.taskMetrics)
    }
  }
}

/** Spans recorded by the benchmark around public calls of the program.
  * Disabled, a span is a plain call: no listener, no job group. Spans stay
  * in memory until the run writes them out. One client thread opens spans. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val all = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val listener = new SpanListener
  /** Request id stamped on new spans; the workloads number their rounds. */
  var request = 0
  /** Whether spans are recorded now; a traced run alternates untraced and
    * traced rounds to measure the tracing overhead. */
  var active = false
  if (enabled) sc.addSparkListener(listener)

  def spans: Seq[Span] = all.toSeq

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = new Span(all.size, name, open.headOption.map(_.id).getOrElse(-1),
        request, System.nanoTime(), System.currentTimeMillis())
      all += s
      listener.spans = listener.spans.updated(s.id, s)
      open.push(s)
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        open.pop()
        open.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait for the listener to see every finished task. */
  def settle(): Unit = if (enabled) org.apache.spark.GraftBenchAccess.drainListeners(sc)

  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id).toSeq

  /** The span's duration minus the time its children cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  /** Task stats of the span and all its descendants. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Driver-side wait: span start to its first task launch (whole subtree). */
  def planSeconds(s: Span): Double = {
    val first = subtree(s).map(_.stats.firstLaunchMs).min
    if (first == Long.MaxValue) s.seconds else math.max(0L, first - s.startMs) / 1e3
  }

  def toJsonLines: Seq[String] = all.toSeq.map { s =>
    val st = s.stats
    Json.obj(Seq(
      "id" -> Json.num(s.id), "name" -> Json.str(s.name), "parent" -> Json.num(s.parent),
      "request" -> Json.num(s.request), "start_ns" -> Json.num(s.startNs),
      "end_ns" -> Json.num(s.endNs), "seconds" -> Json.num(s.seconds),
      "self_s" -> Json.num(selfSeconds(s)), "plan_s" -> Json.num(planSeconds(s)),
      "tasks" -> Json.num(st.tasks), "cpu_s" -> Json.num(st.cpuNs / 1e9),
      "gc_s" -> Json.num(st.gcMs / 1e3), "spill_mb" -> Json.num(st.spillBytes / 1e6),
      "shuffle_mb" -> Json.num(st.shuffleWriteBytes / 1e6),
      "input_mb" -> Json.num(st.inputBytes / 1e6), "input_rows" -> Json.num(st.inputRecords),
      "output_mb" -> Json.num(st.outputBytes / 1e6), "task_skew" -> Json.num(st.skew)))
  }
}

/** Minimal JSON writer; the benchmark emits only flat numbers and strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def num(l: Long): String = l.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
