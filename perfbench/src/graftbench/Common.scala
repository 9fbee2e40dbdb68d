package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload run shares: the session, the tracer, its private work
  * directory, the seed and the timed budget, and the tallies that become
  * the result line. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
                val seed: Long, val seconds: Double) {

  /** Timing samples per end-to-end metric, in seconds (or MB for sizes). */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var pinnedBytes = 0L
  /** Per-round counters of the traced rounds, keyed (round, name). */
  val counters = mutable.LinkedHashMap.empty[(Int, String), Double]

  def count(name: String, v: Double): Unit = if (tracer.active) {
    val k = (tracer.request, name)
    counters(k) = counters.getOrElse(k, 0.0) + v
  }

  val tracedRounds = mutable.ArrayBuffer.empty[Int]

  /** Every round of a traced run is traced. */
  def beginRound(r: Int): Unit = {
    tracer.request = r
    tracer.active = tracer.enabled
    if (tracer.active) tracedRounds += r
  }
  def endRound(): Unit = tracer.active = false

  /** Runs `body` with no spans recorded: checks inside a traced round. */
  def untraced[T](body: => T): T = {
    val was = tracer.active
    tracer.active = false
    try body finally tracer.active = was
  }

  def sample(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One operation: counts as attempted; counts as failed when it throws or
    * when it returns false (a wrong answer). */
  def attempt(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try body
      catch { case scala.util.control.NonFatal(e) =>
        failures += s"$what: $e"
        e.printStackTrace()
        false
      }
    if (!ok) {
      failed += 1
      if (!failures.lastOption.exists(_.startsWith(what + ":"))) failures += s"$what: wrong output"
    }
    ok
  }

  /** Runs rounds while the next one, as long as the last, still fits the
    * timed budget; at least one. */
  def rounds(round: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var last = 0L
    var r = 0
    while (r == 0 || System.nanoTime() + last <= deadline) {
      val t0 = System.nanoTime()
      round(r)
      last = System.nanoTime() - t0
      r += 1
    }
  }

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

object Common {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The value with at least ten samples above it, at the highest such
    * rank; with ten samples or fewer, the smallest. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(math.max(0, s.size - 11))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  def dirFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).count()
      finally st.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally st.close()
  }
}
