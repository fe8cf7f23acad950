package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark operation as the client saw it. */
final class OpRecord(val kind: String, val ms: Double, var ok: Boolean,
                     val timed: Boolean, val stats: Option[OpStats]) {
  var why: String = ""
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
  /** Highest percentile with at least ten samples beyond it (0 if n < 20,
    * where no percentile at or above the median qualifies). */
  def tailQ(n: Int): Double = if (n < 20) 0.0 else 1.0 - 10.0 / n
}

/** Runs ops for one workload: times each, attributes listener and FS
  * counters to it when tracing is on, and keeps the attempt/failure
  * ledger. Ops run one at a time from the calling thread (closed loop,
  * one client). */
final class Harness(val spark: SparkSession, val traced: Boolean, val cpus: Int) {
  val records = ArrayBuffer.empty[OpRecord]
  val tracer = new Tracer
  val probe: Option[ExecProbe] = if (traced) Some(new ExecProbe) else None
  /** False during warm-up: those ops count as attempts but give no latency. */
  var timed = false
  private var tracingOn = false
  /** Toggled per round in traced runs. The listeners are registered and
    * the FS calls counted only while it is on, so the untraced rounds run
    * as an untraced run does and give the baseline for
    * `trace.overhead_ratio`. */
  def tracing: Boolean = tracingOn
  def tracing_=(on: Boolean): Unit = probe.foreach { p =>
    if (on != tracingOn) {
      if (on) {
        spark.sparkContext.addSparkListener(p)
        spark.listenerManager.register(p)
      } else {
        spark.sparkContext.removeSparkListener(p)
        spark.listenerManager.unregister(p)
      }
      CountingLocalFileSystem.enabled = on
      tracingOn = on
    }
  }
  /** Jobs whose end never arrived within the bounded drain wait. */
  var unmatchedJobs = 0L

  def say(s: String): Unit = println(s)

  /** Time `body` as one op of `kind`. A thrown exception is a failed op.
    * `timedOp = false` marks a layer probe: counted as an attempt, never
    * part of the end-to-end latencies. */
  def op[A](kind: String, timedOp: Boolean = true)(body: => A): (Option[A], OpRecord) = {
    val sc = spark.sparkContext
    val st = if (tracing) Some(new OpStats(tracer.nextId(), kind)) else None
    val fs0 = st.map(_ => (CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get,
      CountingLocalFileSystem.lists.get, CountingLocalFileSystem.bytesWritten))
    st.foreach { s =>
      probe.get.current = s
      sc.setLocalProperty(ExecProbe.OpProperty, kind)
    }
    val startUs = tracer.nowUs
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val endUs = tracer.nowUs
    st.foreach { s =>
      val (r0, w0, l0, b0) = fs0.get
      s.fsRead = CountingLocalFileSystem.reads.get - r0
      s.fsWrite = CountingLocalFileSystem.writes.get - w0
      s.fsList = CountingLocalFileSystem.lists.get - l0
      s.bytesWritten = CountingLocalFileSystem.bytesWritten - b0
      s.startMs = startUs / 1000
      s.endMs = endUs / 1000
      sc.setLocalProperty(ExecProbe.OpProperty, null)
      unmatchedJobs += probe.get.drain(sc)
      probe.get.current = null
      tracer.addOp(Span(s.id, 0, s.id, kind, startUs, endUs), s)
    }
    val rec = new OpRecord(kind, ms, res.isRight, timed && timedOp, st)
    res.left.foreach { e =>
      rec.why = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      System.err.println(s"[perfbench] $kind failed: ${rec.why}")
    }
    records += rec
    (res.toOption, rec)
  }

  /** Mark `rec` failed when a correctness check on its output fails. */
  def check(rec: OpRecord, ok: Boolean, why: => String): Unit =
    if (!ok && rec.ok) {
      rec.ok = false
      rec.why = why
      System.err.println(s"[perfbench] ${rec.kind} wrong answer: ${rec.why}")
    }

  /** A timed measurement that is not a benchmark op (layer probes). */
  def span[A](name: String)(body: => A): (A, Double) = {
    val id = tracer.nextId()
    val s = tracer.nowUs
    val t0 = System.nanoTime()
    val a = body
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.add(Span(id, 0, id, name, s, tracer.nowUs))
    (a, ms)
  }

  /** Warm-up rounds until two consecutive rounds differ by at most 10%
    * (at least `min`, at most `max`). Returns wall seconds spent. */
  def warmUp(min: Int, max: Int)(round: => Unit): Double = {
    timed = false
    val t0 = System.nanoTime()
    val durs = ArrayBuffer.empty[Double]
    var settled = false
    while (durs.size < max && !settled) {
      val before = records.size
      round
      durs += records.drop(before).map(_.ms).sum
      settled = durs.size >= min &&
        math.abs(durs.last - durs(durs.size - 2)) <= 0.1 * durs(durs.size - 2)
    }
    val s = (System.nanoTime() - t0) / 1e9
    say(f"warm-up: ${durs.size} rounds (${durs.map(d => f"${d / 1000}%.2f").mkString(", ")} s of ops), settled=$settled, $s%.2f s")
    s
  }

  /** Timed rounds until the ops in them add up to `seconds`. In traced
    * runs even rounds are traced and odd rounds are not. */
  def timedLoop(seconds: Double)(round: => Unit): Int = {
    timed = true
    var r = 0
    val t0 = System.nanoTime()
    def opSeconds = records.filter(_.timed).map(_.ms).sum / 1000
    while (opSeconds < seconds) {
      tracing = traced && r % 2 == 0
      round
      r += 1
    }
    tracing = false
    timed = false
    say(f"timed loop: $r rounds, $opSeconds%.2f s of ops in ${(System.nanoTime() - t0) / 1e9}%.2f s wall")
    r
  }

  def timedOk(kind: String => Boolean = _ => true): Seq[OpRecord] =
    records.filter(r => r.timed && r.ok && kind(r.kind)).toSeq
  def tracedOk(kind: String => Boolean = _ => true): Seq[OpRecord] =
    timedOk(kind).filter(_.stats.isDefined)

  /** End-to-end metrics every workload reports, from the timed ops. */
  def endToEnd(setupS: Double): Map[String, Double] = {
    val timedAll = records.filter(_.timed)
    val ok = timedOk()
    require(ok.nonEmpty, "no timed op succeeded")
    val attempted = records.size
    val failed = records.count(!_.ok)
    val kinds = ok.map(_.kind).distinct
    Map(
      "setup_s" -> setupS,
      "ok_ratio" -> (attempted - failed).toDouble / attempted,
      "ops_per_s" -> ok.size / (timedAll.map(_.ms).sum / 1000),
      "op_p50_ms" -> Stats.median(ok.map(_.ms)),
      "op_type_geomean_ms" -> Stats.geomean(kinds.map(k => Stats.median(ok.filter(_.kind == k).map(_.ms)))))
  }

  /** Latency summary line: median, the highest percentile with ten
    * samples beyond it, and the sample count. */
  def latencyLine(label: String, ms: Seq[Double]): String = {
    if (ms.isEmpty) return s"$label: no successful samples"
    val q = Stats.tailQ(ms.size)
    val tail = if (q > 0) f", p${q * 100}%.0f ${Stats.quantile(ms, q)}%.1f ms" else ""
    f"$label: p50 ${Stats.median(ms)}%.1f ms$tail (n=${ms.size})"
  }

  /** Per-layer counters shared by every workload, as per-op means over
    * the traced timed ops matching `kind`. */
  def execMetrics(kind: String => Boolean = _ => true): Map[String, Double] = {
    val st = tracedOk(kind).flatMap(_.stats)
    if (st.isEmpty) return Map.empty
    def m(f: OpStats => Double) = Stats.mean(st.map(f))
    val wall = st.map(_.wallMs).sum
    Map(
      "exec.jobs" -> m(_.jobs.toDouble),
      "exec.tasks" -> m(_.tasks.toDouble),
      "exec.task_s" -> m(_.taskMs / 1000.0),
      "exec.cpu_s" -> m(_.cpuNs / 1e9),
      "exec.gc_s" -> m(_.gcMs / 1000.0),
      "exec.shuffle_write_bytes" -> m(_.shuffleWriteBytes.toDouble),
      "exec.core_util" -> (if (wall > 0) st.map(_.taskMs.toDouble).sum / (wall * cpus) else 0.0))
  }

  def catalystMetrics(kind: String => Boolean = _ => true): Map[String, Double] = {
    val st = tracedOk(kind).flatMap(_.stats)
    if (st.isEmpty) return Map.empty
    Map(
      "catalyst.analysis_ms" -> Stats.mean(st.map(_.phaseMs("analysis"))),
      "catalyst.optimization_ms" -> Stats.mean(st.map(_.phaseMs("optimization"))),
      "catalyst.planning_ms" -> Stats.mean(st.map(_.phaseMs("planning"))),
      "driver.gap_ms" -> Stats.mean(st.map(_.gapMs)))
  }

  /** Median latency of the traced rounds' ops over that of the untraced
    * rounds' ops, per op kind, combined by geometric mean. */
  def overheadRatio(): Double = {
    val ok = timedOk()
    val ratios = ok.map(_.kind).distinct.flatMap { k =>
      val on = ok.filter(r => r.kind == k && r.stats.isDefined).map(_.ms)
      val off = ok.filter(r => r.kind == k && r.stats.isEmpty).map(_.ms)
      if (on.nonEmpty && off.nonEmpty) Some(Stats.median(on) / Stats.median(off)) else None
    }
    if (ratios.isEmpty) 0.0 else Stats.geomean(ratios)
  }

  def traceLines(): Unit = {
    say(s"jobs started but never seen to end: $unmatchedJobs")
    say("span self time (ms, count):")
    tracer.selfTimeMs.take(16).foreach { case (n, ms, c) => say(f"  $n%-28s $ms%10.1f  $c%5d") }
  }
}
