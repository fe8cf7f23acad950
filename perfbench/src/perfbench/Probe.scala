package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listeners and FS counters saw during one benchmark op.
  * Times are epoch milliseconds (the clock Spark's listener events use). */
final class OpStats(val id: Long, val kind: String) {
  var startMs = 0L
  var endMs = 0L
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var fsRead = 0L
  var fsWrite = 0L
  var fsList = 0L
  var bytesWritten = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  /** (phase, start, end) — analysis / optimization / planning. */
  val phases = ArrayBuffer.empty[(String, Long, Long)]

  def wallMs: Double = (endMs - startMs).toDouble
  def phaseMs(name: String): Double =
    phases.filter(_._1 == name).map(p => (p._3 - p._2).toDouble).sum
  /** Op wall time not covered by any Catalyst phase or Spark job. */
  def gapMs: Double = wallMs - Intervals.covered(
    (phases.map(p => (p._2, p._3)) ++ jobIntervals).toSeq, startMs, endMs)
}

object Intervals {
  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}

/** Hadoop `file:` FS that counts metadata and data calls while
  * `CountingLocalFileSystem.enabled` is on. Registered through
  * `spark.hadoop.fs.file.impl` in traced runs only. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count(reads); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    count(reads); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    count(writes)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count(writes); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count(writes); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = {
    count(writes); super.mkdirs(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    count(lists); super.listStatus(f)
  }
}

object CountingLocalFileSystem {
  val reads = new AtomicLong
  val writes = new AtomicLong
  val lists = new AtomicLong
  @volatile var enabled = false
  private def count(c: AtomicLong): Unit = if (enabled) c.incrementAndGet()

  /** Bytes written through every `file:` FileSystem instance. */
  def bytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
}

/** Spark listener + query-execution listener feeding [[OpStats]]. Every
  * event between an op's start and its drain belongs to that op: ops run
  * one at a time from one client thread, and [[drain]] waits until the
  * listener bus has delivered everything the op caused. */
final class ExecProbe extends SparkListener with QueryExecutionListener {
  import ExecProbe._

  @volatile var current: OpStats = _
  private val stageOp = new ConcurrentHashMap[Int, OpStats]()
  private val openJobs = new ConcurrentHashMap[Int, (OpStats, Long)]()
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var markerLatch = new CountDownLatch(0)
  private val seenPhases = ConcurrentHashMap.newKeySet[(Long, String, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).map(_.getProperty(OpProperty)).orNull
    if (tag == Marker) { markerJobs.add(e.jobId); return }
    val op = current
    if (op == null) return
    e.stageIds.foreach(s => stageOp.put(s, op))
    openJobs.put(e.jobId, (op, e.time))
    op.synchronized(op.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (markerJobs.remove(e.jobId)) { markerLatch.countDown(); return }
    Option(openJobs.remove(e.jobId)).foreach { case (op, t0) =>
      op.synchronized(op.jobIntervals += ((t0, e.time)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    if (op == null || e.taskMetrics == null) return
    val m = e.taskMetrics
    op.synchronized {
      op.tasks += 1
      op.taskMs += m.executorRunTime
      op.cpuNs += m.executorCpuTime
      op.gcMs += m.jvmGCTime
      op.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val op = current
    if (op == null) return
    val key = System.identityHashCode(qe).toLong
    qe.tracker.phases.foreach { case (name, s) =>
      // one QueryExecution can report once per action; count its phases once
      if (seenPhases.add((key, name, s.startTimeMs, s.endTimeMs)))
        op.synchronized(op.phases += ((name, s.startTimeMs, s.endTimeMs)))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Wait until the listener bus has delivered every event the last op
    * caused: a marker job is submitted after the op, and events arrive in
    * order, so once the marker's end is seen every earlier job start has
    * been seen; then wait (bounded) until each of those starts has its
    * end. Returns the number of jobs still unmatched at the deadline. */
  def drain(sc: SparkContext): Int = {
    val latch = new CountDownLatch(1)
    markerLatch = latch
    val prev = sc.getLocalProperty(OpProperty)
    sc.setLocalProperty(OpProperty, Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(OpProperty, prev)
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not deliver the marker job within 60 s")
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!openJobs.isEmpty && System.nanoTime() < deadline) Thread.sleep(2)
    val unmatched = openJobs.size
    openJobs.clear()
    stageOp.clear()
    seenPhases.clear()
    unmatched
  }
}

object ExecProbe {
  val OpProperty = "perfbench.op"
  val Marker = "perfbench.marker"
}

/** One traced interval. `parent` 0 means a root span; spans of one op
  * share `op`. Times are epoch microseconds. */
final case class Span(id: Long, parent: Long, op: Long, name: String, startUs: Long, endUs: Long) {
  def json: String =
    s"""{"id":$id,"parent":$parent,"op":$op,"name":"$name","start_us":$startUs,"end_us":$endUs}"""
}

/** In-memory span store, written out once when the benchmark ends. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.synchronized(spans += s)

  /** Root op span plus its Catalyst-phase and job child spans. */
  def addOp(opSpan: Span, st: OpStats): Unit = {
    add(opSpan)
    st.phases.foreach { case (n, a, b) =>
      add(Span(nextId(), opSpan.id, opSpan.op, s"catalyst.$n", a * 1000, b * 1000))
    }
    st.jobIntervals.foreach { case (a, b) =>
      add(Span(nextId(), opSpan.id, opSpan.op, "spark.job", a * 1000, b * 1000))
    }
  }

  /** Self time per span name: duration minus the part its children cover. */
  def selfTimeMs: Seq[(String, Double, Int)] = {
    val all = spans.synchronized(spans.toList)
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).toSeq.map { case (name, ss) =>
      val self = ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
        (s.endUs - s.startUs) - Intervals.covered(cs, s.startUs, s.endUs)
      }.sum / 1000.0
      (name, self, ss.size)
    }.sortBy(-_._2)
  }

  def write(path: String): Unit = {
    val all = spans.synchronized(spans.toList)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      all.map(_.json).mkString("", "\n", "\n"))
  }
}
