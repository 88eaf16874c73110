package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Merge

/** A keyed Merge table under a seeded mix of point lookups, range scans,
  * merge-on-read and copy-on-write upserts, deletion-vector deletes, and
  * scheduled compaction and vacuum; one time-travel read per run.
  *
  * The op mix is a fixed cycle of ten (the seed changes keys, values and
  * ranges, never the proportions):
  *
  *   lookup, upsert_dv, lookup, scan, upsert, lookup, delete_dv, compact,
  *   lookup, vacuum        (5 reads : 5 writes)
  *
  * and op 12, a lookup, is the run's one `as_of` read. The first three
  * ops warm up; the timed loop runs whole cycles, a number set by
  * `--seconds` alone (at least two), so every run has the same ops. Keys
  * are skewed towards recently written ones. A driver-side shadow model
  * of the op log checks every read.
  */
final class TableChurn(ctx: Ctx) extends Workload(ctx) {
  import TableChurn._
  private val spark = ctx.spark
  private val initialRows = if (ctx.tiny) 2000 else 10000
  private val batchRows = 12
  private val buckets = 32
  private val g = new Random(ctx.seed)

  private var path: String = _
  /** Shadow of the live table (key -> row) and of recent versions. */
  private var shadow = Map.empty[Long, Rec]
  private val history = mutable.Map.empty[Long, Map[Long, Rec]]
  private var version = 0L
  private var nextKey = 0L
  private var clock = 0L
  private var op = 0

  private final case class Done(kind: String, ms: Double, fs: CountingFs.Snap,
      touched: Double, retries: Int, userBytes: Long, filesRead: Double)
  private val done = mutable.ArrayBuffer.empty[Done]

  private var initial: DataFrame = _

  def prepare(dir: String): Unit = {
    path = s"$dir/table"
    val recs = (0L until initialRows).map(k => k -> rec(k))
    nextKey = initialRows
    shadow = recs.toMap
    initial = spark.createDataFrame(
      spark.sparkContext.parallelize(recs.map { case (k, r) => r.row(k) }, 4), Schema)
  }

  def setup(): Unit = {
    Merge.writeKeyed(initial, path, "k", buckets, statsCols = Seq("k", "ts"))
    version = Merge.currentVersion(spark, path)
    history(version) = shadow
  }

  private def rec(k: Long): Rec = {
    clock += 1
    Rec(g.nextLong(), Cats(g.nextInt(Cats.size)), g.alphanumeric.take(80).mkString, clock)
  }

  /** A key skewed towards the most recently inserted ones. */
  private def hotKey(): Long =
    math.max(0L, nextKey - 1 - (math.abs(g.nextGaussian()) * nextKey / 8).toLong)

  private def live(): Long = {
    var k = hotKey()
    var tries = 0
    while (!shadow.contains(k) && tries < 50) { k = hotKey(); tries += 1 }
    if (shadow.contains(k)) k else shadow.keysIterator.next()
  }

  private def updates(): Seq[(Long, Rec)] = {
    val fresh = (0 until batchRows / 5).map { _ => nextKey += 1; nextKey - 1 }
    val old = Seq.fill(batchRows - fresh.size)(live())
    (old ++ fresh).distinct.map(k => k -> rec(k))
  }

  private def frame(rs: Seq[(Long, Rec)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs.map { case (k, r) => r.row(k) }, 1), Schema)

  private def committed(): Unit = {
    version = Merge.currentVersion(spark, path)
    history(version) = shadow
    history.keys.filter(_ < version - 6).foreach(history.remove)
  }

  private def hashOf(m: Iterable[(Long, Rec)]): Long =
    m.foldLeft(0L) { case (h, (k, r)) => h ^ xxh(k, r.v) }

  private def stepKind(i: Int): String =
    if (i == 12) "as_of" else Cycle(i % Cycle.size)

  private def step(timed: Boolean): Unit = {
    val kind = stepKind(op)
    op += 1
    val fs0 = if (ctx.traced) CountingFs.snap() else CountingFs.zero
    var touched = -1.0
    var retries = 0
    var userBytes = 0L
    var filesRead = -1.0
    val t0 = System.nanoTime()
    // a read's check runs after its timing; traced runs also record the
    // share of the live files the read opened
    def readCheck(df: DataFrame, ok: Boolean, what: => String): Unit = {
      if (ctx.traced) filesRead = df.inputFiles.length / liveFiles()
      check(ok, what)
    }
    val out: Option[() => Unit] = unit(kind, timed) { _ =>
      kind match {
        case "lookup" =>
          val k = if (g.nextInt(10) == 0) nextKey + 1000 else live()
          val got = Merge.lookupKey(spark, path, k)
          val rows = got.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          () => readCheck(got, rows == shadow.get(k).map(r => (k, r.v)).toSeq,
            s"lookup $k: got $rows, expected ${shadow.get(k).map(_.v)}")
        case "scan" =>
          val hi = clock - g.nextInt(math.max(1, (clock / 4).toInt))
          val lo = hi - 2000
          val df = Merge.readVersionWhere(spark, path, version,
            col("ts") >= lo && col("ts") < hi)
          val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("k"), col("v"))), lit(0L)))
            .collect()(0)
          val want = shadow.filter { case (_, x) => x.ts >= lo && x.ts < hi }
          val (n, h) = (r.getLong(0), r.getLong(1))
          () => readCheck(df, n == want.size && h == hashOf(want),
            s"scan [$lo, $hi): got $n rows, expected ${want.size}")
        case "upsert" | "upsert_dv" =>
          val rs = updates()
          userBytes = rs.map { case (k, r) => r.json(k).length.toLong }.sum
          val st =
            if (kind == "upsert") Merge.upsert(spark, path, frame(rs), "k", buckets)
            else Merge.upsertDV(spark, path, frame(rs), "k", buckets)
          touched = st.bucketsTouched.toDouble / st.nBuckets
          retries = st.retries
          shadow = shadow ++ rs
          committed()
          () => ()
        case "delete_dv" =>
          val ks = Seq.fill(5)(live()).distinct
          val st = Merge.deleteWhereDV(spark, path, col("k").isin(ks: _*))
          retries = st.retries
          shadow = shadow -- ks
          committed()
          () => ()
        case "compact" =>
          Merge.compactVersion(spark, path)
          committed()
          () => ()
        case "vacuum" =>
          Merge.vacuum(spark, path, keepVersions = 4)
          () => ()
        case "as_of" =>
          val v = math.max(0L, version - 2)
          val ts = Merge.commitTime(spark, path, v)
          val r = Merge.readAsOf(spark, path, ts)
            .agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("k"), col("v"))), lit(0L)))
            .collect()(0)
          val want = history(v)
          () => check(r.getLong(0) == want.size && r.getLong(1) == hashOf(want),
            s"as_of v$v: got ${r.getLong(0)} rows, expected ${want.size}")
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    out.foreach { verdict =>
      val fs = if (ctx.traced) CountingFs.snap() - fs0 else CountingFs.zero
      verdict()
      if (timed) done += Done(kind, ms, fs, touched, retries, userBytes, filesRead)
    }
  }

  private def liveFiles(): Double =
    Merge.filesInfo(spark, path).count().toDouble

  def warmup(): Unit = (0 until 3).foreach(_ => step(timed = false))

  private var writtenBytes = 0L

  /** Whole cycles, one per 6 s of `--seconds` (a cycle took about that
    * long on the reference box) and at least two.
    */
  def run(): Unit = {
    val b0 = CountingFs.snap().bytesWritten
    repeatFixed(perMix = 6, atLeast = 2)(Cycle.foreach(_ => step(timed = true)))
    writtenBytes = CountingFs.snap().bytesWritten - b0
  }

  def verify(): Unit = {
    val r = Merge.readKeyed(spark, path)
      .agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("k"), col("v"))), lit(0L)))
      .collect()(0)
    check(r.getLong(0) == shadow.size && r.getLong(1) == hashOf(shadow),
      s"final readKeyed: ${r.getLong(0)} rows, expected ${shadow.size}")
  }

  private val Writes = Set("upsert", "upsert_dv", "delete_dv", "compact", "vacuum")
  private val Reads = Set("lookup", "scan", "as_of")

  private def diskBytes(): (Double, Double) = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.getContentSummary(root).getLength.toDouble
    val liveBytes = Merge.filesInfo(spark, path).agg(sum("bytes")).collect()(0).getLong(0).toDouble
    (onDisk, liveBytes)
  }

  def report(): Seq[Metric] = {
    val c = latencies(Writes.toSeq: _*)
    val rd = latencies(Reads.toSeq: _*)
    val user = done.map(_.userBytes).sum.toDouble
    val (onDisk, liveBytes) = diskBytes()
    Seq(
      Metric("commit_p50_ms", Stats.median(c), "ms", c.size),
      Metric("commit_p95_ms", Stats.pct(c, 0.95), "ms", c.size),
      Metric("read_p50_ms", Stats.median(rd), "ms", rd.size),
      Metric("read_p95_ms", Stats.pct(rd, 0.95), "ms", rd.size),
      Metric("write_amp", Stats.ratio(writtenBytes, user), "bytes/bytes", c.size),
      Metric("space_amp", Stats.ratio(onDisk, liveBytes), "bytes/bytes", 1))
  }

  def layers(): Seq[Metric] = {
    val ts = Layers.trees(this)
    def p50(kind: String) = Stats.median(done.filter(_.kind == kind).map(_.ms).toSeq)
    val commits = done.filter(d => Writes(d.kind)).toSeq
    val reads = done.filter(d => Reads(d.kind)).toSeq
    val nc = commits.size.toDouble
    val nr = reads.size.toDouble
    // driver time of a commit: wall minus the union of its Spark jobs
    val driverMs = ts.filter(t => Writes(t._1.kind)).map { case (u, tree) =>
      u.ms - Trace.unionLength(tree.filter(_.name.startsWith("job:"))
        .map(j => (j.start, j.end))) / 1e6
    }.sum
    val upserts = commits.filter(_.touched >= 0)
    val readRatios = reads.filter(_.filesRead >= 0).map(_.filesRead)
    Layers.common(this) ++ Seq(
      Metric("merge.upsert_ms_p50", p50("upsert"), "ms", commits.count(_.kind == "upsert")),
      Metric("merge.upsert_dv_ms_p50", p50("upsert_dv"), "ms", commits.count(_.kind == "upsert_dv")),
      Metric("merge.delete_dv_ms_p50", p50("delete_dv"), "ms", commits.count(_.kind == "delete_dv")),
      Metric("merge.compact_ms_p50", p50("compact"), "ms", commits.count(_.kind == "compact")),
      Metric("merge.vacuum_ms_p50", p50("vacuum"), "ms", commits.count(_.kind == "vacuum")),
      Metric("merge.driver_ms_per_commit", Stats.ratio(driverMs, nc), "ms/commit", commits.size),
      Metric("fs.write_ops_per_commit", Stats.ratio(commits.map(_.fs.write).sum, nc), "count/commit", commits.size),
      Metric("fs.read_ops_per_commit", Stats.ratio(commits.map(_.fs.read).sum, nc), "count/commit", commits.size),
      Metric("fs.list_ops_per_commit", Stats.ratio(commits.map(_.fs.list).sum, nc), "count/commit", commits.size),
      Metric("fs.bytes_written_per_commit", Stats.ratio(commits.map(_.fs.bytesWritten).sum, nc), "bytes/commit", commits.size),
      Metric("merge.buckets_touched_ratio", Stats.mean(upserts.map(_.touched)), "ratio", upserts.size),
      Metric("merge.retries", commits.map(_.retries).sum.toDouble, "count", commits.size),
      Metric("merge.lookup_ms_p50", p50("lookup"), "ms", reads.count(_.kind == "lookup")),
      Metric("merge.scan_ms_p50", p50("scan"), "ms", reads.count(_.kind == "scan")),
      Metric("skipping.files_read_ratio", Stats.mean(readRatios), "ratio", readRatios.size),
      Metric("fs.bytes_read_per_read", Stats.ratio(reads.map(_.fs.bytesRead).sum, nr), "bytes/read", reads.size),
      Metric("table.live_files", liveFiles(), "count", 1))
  }
}

object TableChurn {
  val Cycle = Seq("lookup", "upsert_dv", "lookup", "scan", "upsert", "lookup",
    "delete_dv", "compact", "lookup", "vacuum")
  val Cats = Seq("alpha", "beta", "gamma", "delta", "epsilon")
  val Schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType),
    StructField("cat", StringType), StructField("payload", StringType),
    StructField("ts", LongType)))

  final case class Rec(v: Long, cat: String, payload: String, ts: Long) {
    def row(k: Long): Row = Row(k, v, cat, payload, ts)
    def json(k: Long): String =
      s"""{"k":$k,"v":$v,"cat":"$cat","payload":"$payload","ts":$ts}"""
  }

  /** Spark's xxhash64 of bigint columns (seed 42), on the driver. */
  def xxh(k: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(k, 42L)
  def xxh(k: Long, v: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(v, xxh(k))
}
