package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. Times are System.nanoTime; `parent` is the span
  * that caused this one (0 = none); `request` groups the spans of one
  * closed-loop unit (turn, op or micro-batch).
  */
final case class Span(id: Long, parent: Long, request: Long, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder plus the benchmark-side counters around the
  * engine's layers. Nothing here runs inside the engine: spans wrap the
  * benchmark's own calls, Spark jobs come from a listener, file-system
  * operations from [[CountingFs]]. With `enabled = false` every method
  * is a cheap no-op, so the untraced run measures the engine alone.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  @volatile private var currentRequest = 0L

  /** The local property that links a Spark job to the span that ran it. */
  val SpanProp = "perfbench.span"

  def newId(): Long = ids.incrementAndGet()

  /** Time `f` as a span; `link` also tags Spark jobs it launches. */
  def span[T](name: String, parent: Long = 0L, link: Boolean = false,
      sc: SparkContext = null)(f: Long => T): T = {
    if (!enabled) return f(0L)
    val id = newId()
    val req = if (parent == 0L) id else currentRequest
    val prevReq = currentRequest
    if (parent == 0L) currentRequest = id
    val prevProp = if (link) sc.getLocalProperty(SpanProp) else null
    if (link) sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try f(id)
    finally {
      spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
      if (link) sc.setLocalProperty(SpanProp, prevProp)
      if (parent == 0L) currentRequest = prevReq
    }
  }

  def record(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Write every span as one JSON line each (name, start/end in ns). */
  def dump(path: String, extra: Seq[Span]): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try (all ++ extra).sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Trace {
  /** Self time of each span: the part of its interval that no earlier
    * started sibling covers, minus the part of that which its children
    * cover. Concurrent siblings (Spark runs a query's broadcast and
    * shuffle jobs side by side) thus share their overlap instead of
    * counting it twice, so the self times of a tree whose children lie
    * inside their parents sum to the root's duration.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent).view.mapValues(_.sortBy(_.start)).toMap
    def iv(s: Span) = (s.start, s.end)
    val own = collection.mutable.Map(spans.map(s => s.id -> Seq(iv(s))): _*)
    kids.values.foreach(_.foldLeft(Seq.empty[(Long, Long)]) { (earlier, s) =>
      own(s.id) = minus(iv(s), earlier)
      earlier :+ iv(s)
    })
    spans.map { s =>
      val mine = own(s.id)
      val covered = kids.getOrElse(s.id, Nil).flatMap(c => mine.flatMap(m => intersect(m, iv(c))))
      s.id -> (mine.map { case (a, b) => b - a }.sum - unionLength(covered))
    }.toMap
  }

  private def intersect(a: (Long, Long), b: (Long, Long)): Option[(Long, Long)] = {
    val lo = math.max(a._1, b._1)
    val hi = math.min(a._2, b._2)
    if (hi > lo) Some((lo, hi)) else None
  }

  /** `a` minus the union of `others`, as disjoint intervals. */
  private def minus(a: (Long, Long), others: Seq[(Long, Long)]): Seq[(Long, Long)] =
    others.sortBy(_._1).foldLeft(Seq(a)) { (left, o) =>
      left.flatMap { case (x, y) =>
        Seq((x, math.min(y, o._1)), (math.max(x, o._2), y)).filter { case (p, q) => q > p }
      }
    }

  /** Union length of intervals (ns). */
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    ivs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}

/** Spark job/task listener: each job becomes a span whose parent is the
  * benchmark span named in its local properties (or, for a streaming
  * micro-batch, the batch id Structured Streaming stamps), attributed
  * to the engine file in its call site. Task metrics accumulate into
  * run totals between [[open]] and [[close]].
  */
final class JobListener(nanoOffset: Long) extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long, parent: Long,
      batch: Long, site: String)
  val jobs = new ConcurrentHashMap[Int, Job]
  @volatile var open = false
  val tasks = new LongAdder
  val runMs = new LongAdder
  val cpuNs = new LongAdder
  val schedMs = new LongAdder
  val shuffleWriteBytes = new LongAdder

  private def ns(epochMs: Long): Long = epochMs * 1000000L + nanoOffset

  /** "collect at Strategy.scala:150" -> "Strategy". */
  private def fileOf(callSite: String): String = {
    val at = callSite.lastIndexOf(" at ")
    val file = if (at < 0) callSite else callSite.substring(at + 4)
    file.takeWhile(_ != ':').stripSuffix(".scala").stripSuffix(".java")
  }

  /** Call site of each SQL execution, taken in the thread that started
    * it: adaptive execution submits a query's jobs from a thread pool,
    * so a job's own call site names the pool, not the caller.
    */
  private val execSites = new ConcurrentHashMap[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSites.put(s.executionId, fileOf(s.description))
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val p = Option(js.properties)
    def prop(k: String): Long =
      p.flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(-1L)
    val site = Option(execSites.get(prop("spark.sql.execution.id"))).getOrElse(
      if (js.stageInfos.isEmpty) "" else fileOf(js.stageInfos.maxBy(_.stageId).name))
    jobs.put(js.jobId, Job(js.jobId, ns(js.time), -1L,
      math.max(prop("perfbench.span"), 0L), prop("streaming.sql.batchId"), site))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobs.get(je.jobId)).foreach(_.end = ns(je.time))

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = if (open) {
    val m = te.taskMetrics
    if (m != null && te.taskInfo != null) {
      tasks.increment()
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      val sched = te.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      if (sched > 0) schedMs.add(sched)
    }
  }

  /** Block until every started job has ended (listener events lag). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (jobs.values.asScala.exists(_.end < 0) && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  def finished: Seq[Job] = jobs.values.asScala.filter(_.end >= 0).toSeq
}

/** Counting local file system, installed as `fs.file.impl` for traced
  * runs only: every call the engine makes through Hadoop's FileSystem on
  * local paths is counted by kind. `bytesWritten`/`bytesRead` come from
  * Hadoop's own per-scheme statistics.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable) = {
    writeOps.increment()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable) = {
    writeOps.increment()
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writeOps.increment(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writeOps.increment(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = {
    writeOps.increment(); super.mkdirs(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    listOps.increment(); super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int) = {
    readOps.increment(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    readOps.increment(); super.getFileStatus(f)
  }
}

object CountingFs {
  val writeOps = new LongAdder
  val readOps = new LongAdder
  val listOps = new LongAdder

  private def stats = org.apache.hadoop.fs.FileSystem.getAllStatistics
    .asScala.filter(_.getScheme == "file")

  final case class Snap(write: Long, read: Long, list: Long,
      bytesWritten: Long, bytesRead: Long) {
    def -(o: Snap): Snap = Snap(write - o.write, read - o.read,
      list - o.list, bytesWritten - o.bytesWritten, bytesRead - o.bytesRead)
    def +(o: Snap): Snap = Snap(write + o.write, read + o.read,
      list + o.list, bytesWritten + o.bytesWritten, bytesRead + o.bytesRead)
  }
  val zero: Snap = Snap(0, 0, 0, 0, 0)

  /** Current totals; the byte counters are Hadoop's and always on. */
  def snap(): Snap = Snap(writeOps.sum, readOps.sum, listOps.sum,
    stats.map(_.getBytesWritten).sum, stats.map(_.getBytesRead).sum)
}

/** Percentiles and the run report. A statistic of no samples is NaN,
  * which the harness refuses to report.
  */
object Stats {
  /** Nearest-rank percentile of a sample (q in [0, 1]). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length
  def ratio(a: Double, b: Double): Double = if (b == 0) Double.NaN else a / b
}

/** One reported number: name, value, unit and the samples behind it. */
final case class Metric(name: String, value: Double, unit: String,
    samples: Long)
