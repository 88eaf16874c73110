package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.pipeline.DedupIndex
import graft.sources.Merge

/** Streaming near-duplicate admission into a keyed table.
  *
  * A corpus is indexed with `DedupIndex.build` and loaded into a keyed
  * Merge sink. Document micro-batches (one JSON file each) carry planted
  * near-duplicates: one word changed in an 80-word document, either of
  * an original in the same batch or of a document admitted in an earlier
  * round. `DedupIndex.streamingAdmitBatches` consumes them with
  * `Trigger.AvailableNow`, and the sink (this file) commits survivors
  * with `Merge.upsert(..., txn = Some((appId, batchId)))`.
  *
  * The loop is closed: after an untimed warm-up drain of two batches, a
  * fixed number of batch files (one per [[SecondsPerBatch]] of the run's
  * `--seconds`, however fast the engine is) is staged untimed and drained
  * by one AvailableNow query, timed. Every run therefore has the same
  * batches, and every batch the same mix (160 originals, 20 in-batch and
  * 20 cross-round near-duplicates); the seed changes only the text.
  */
final class IngestDedup(ctx: Ctx) extends Workload(ctx) {
  import IngestDedup._
  private val spark = ctx.spark
  private val corpusSize = if (ctx.tiny) 400 else 2000
  private val g = new Random(ctx.seed)

  private var dir: String = _
  private def sinkPath = s"$dir/sink"
  private def indexPath = s"$dir/index"
  private var nextId = 0L
  private var files = 0
  /** Ground truth: every admitted id, and texts admitted before the
    * current round (the only ones a cross-round duplicate may copy).
    */
  private val admitted = mutable.Set.empty[Long]
  private val earlier = mutable.ArrayBuffer.empty[String]
  private var batches = 0L

  private final case class Batch(id: Long, progress: Map[String, Long],
      startNs: Long, sinkMs: Double)
  private val done = mutable.ArrayBuffer.empty[Batch]
  private val sinkMs = mutable.Map.empty[Long, Double]
  private val survivors = mutable.Map.empty[Long, Long]
  private var sinkFs = CountingFs.zero
  private var sinkBytes = 0L
  private var drainFs = CountingFs.zero
  private var stagedBytes = 0L
  private var inputRows = 0L
  /** Documents staged in the current round. */
  private var stagedDocs = 0L

  private def text(): String = Seq.fill(80)(Words(g.nextInt(Words.size))).mkString(" ")
  private def nearDup(t: String): String = {
    val ws = t.split(" ")
    ws(g.nextInt(ws.length)) = Words(g.nextInt(Words.size))
    ws.mkString(" ")
  }

  private var corpus: DataFrame = _

  def prepare(d: String): Unit = {
    dir = d
    val docs = (0 until corpusSize).map { _ => nextId += 1; Row(nextId, text()) }
    docs.foreach { r => admitted += r.getLong(0); earlier += r.getString(1) }
    corpus = spark.createDataFrame(spark.sparkContext.parallelize(docs, 4), DocSchema)
    new java.io.File(s"$dir/incoming").mkdirs()
  }

  def setup(): Unit = {
    DedupIndex.build(corpus, "id", col("text"), indexPath)
    Merge.writeKeyed(corpus, sinkPath, "id", 8)
  }

  /** Stage one round's files; returns (files' bytes, originals). */
  private def stage(n: Int): (Long, Long) = {
    stagedDocs = 0
    var bytes = 0L
    var originals = 0L
    val fresh = mutable.ArrayBuffer.empty[String]
    (0 until n).foreach { _ =>
      val docs = mutable.ArrayBuffer.empty[(Long, String)]
      val own = (0 until Originals).map { _ => nextId += 1; (nextId, text()) }
      docs ++= own
      own.foreach { case (id, t) => admitted += id; fresh += t }
      originals += own.size
      (0 until Dups).foreach { _ =>
        nextId += 1; docs += ((nextId, nearDup(own(g.nextInt(own.size))._2)))
      }
      (0 until Dups).foreach { _ =>
        nextId += 1; docs += ((nextId, nearDup(earlier(g.nextInt(earlier.size)))))
      }
      stagedDocs += docs.size
      val body = g.shuffle(docs.toSeq).map { case (id, t) =>
        s"""{"id":$id,"text":"$t"}""" }.mkString("", "\n", "\n")
      val f = new java.io.File(f"$dir/incoming/batch-$files%06d.json")
      java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
      // file sources order new files by modification time
      f.setLastModified(1000000000000L + files * 1000L)
      files += 1
      bytes += body.length
    }
    earlier ++= fresh
    (bytes, originals)
  }

  private def sink(traced: Boolean)(surv: DataFrame, batchId: Long): Unit = {
    val sc = spark.sparkContext
    val id = ctx.tracer.newId()
    if (traced) sc.setLocalProperty(ctx.tracer.SpanProp, id.toString)
    val fs0 = CountingFs.snap()
    val t0 = System.nanoTime()
    val st = Merge.upsert(spark, sinkPath, surv, "id", 8, txn = Some(("perfbench", batchId)))
    val t1 = System.nanoTime()
    val fs = CountingFs.snap() - fs0
    if (traced) sc.setLocalProperty(ctx.tracer.SpanProp, null)
    ctx.tracer.record(Span(id, BatchBase + batchId, BatchBase + batchId, "sink", t0, t1))
    sinkMs(batchId) = (t1 - t0) / 1e6
    survivors(batchId) = st.rowsUpserted
    if (timing) { sinkFs += fs; sinkBytes += fs.bytesWritten }
  }
  private var timing = false

  /** Stage `n` batch files, then drain them with one AvailableNow query;
    * returns the drain's wall time (ns).
    */
  private def round(timed: Boolean, n: Int): Long = {
    val (bytes, originals) = stage(n)
    timing = timed
    val stream = spark.readStream.schema(DocSchema).option("maxFilesPerTrigger", 1)
      .json(s"$dir/incoming")
    val fs0 = CountingFs.snap()
    val before = survivors.values.sum
    val batches0 = survivors.size
    val t0 = System.nanoTime()
    val q = DedupIndex.streamingAdmitBatches(stream, indexPath, "id", "text")(sink(ctx.traced))
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/checkpoint")
      .start()
    q.awaitTermination()
    val wall = System.nanoTime() - t0
    val progress = q.recentProgress.filter(p => p.numInputRows > 0 && p.batchId >= batches0)
    batches += progress.length
    check(survivors.values.sum - before == originals,
      s"round admitted ${survivors.values.sum - before} documents, expected $originals")
    val off = System.nanoTime() - System.currentTimeMillis() * 1000000L
    if (timed) {
      progress.foreach { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + off
        done += Batch(p.batchId, d, start, sinkMs.getOrElse(p.batchId, 0.0))
        units += Sample("batch", d.getOrElse("triggerExecution", 0L).toDouble, BatchBase + p.batchId)
      }
      drainFs += CountingFs.snap() - fs0
      stagedBytes += bytes
      // the source's numInputRows counts each re-read of a batch, so
      // input rows are counted where they are staged
      inputRows += stagedDocs
    }
    wall
  }

  def warmup(): Unit = round(timed = false, n = 2)

  /** One drain of a fixed number of batches, set by `--seconds` alone. */
  def run(): Unit = {
    val n = math.max(2, math.round(ctx.seconds / SecondsPerBatch).toInt)
    measuredNs = round(timed = true, n)
  }

  def verify(): Unit = {
    val ids = Merge.readKeyed(spark, sinkPath).select("id").collect().map(_.getLong(0)).toSet
    check(ids == admitted.toSet, s"sink holds ${ids.size} ids, expected ${admitted.size} " +
      s"(${(ids -- admitted).size} duplicates admitted, ${(admitted.toSet -- ids).size} originals lost)")
    // exactly once: one sink commit per non-empty micro-batch
    check(Merge.currentVersion(spark, sinkPath) == batches,
      s"sink at version ${Merge.currentVersion(spark, sinkPath)} after $batches batches")
  }

  private def p50(k: String) = Stats.median(done.map(_.progress.getOrElse(k, 0L).toDouble).toSeq)

  def report(): Seq[Metric] = {
    val lat = latencies()
    Seq(
      Metric("batch_p50_ms", Stats.median(lat), "ms", lat.size),
      Metric("batch_p95_ms", Stats.pct(lat, 0.95), "ms", lat.size),
      Metric("ingest_rows_per_s", Stats.ratio(inputRows, measuredNs / 1e9), "rows/s", lat.size),
      Metric("write_amp", Stats.ratio(sinkBytes, stagedBytes), "bytes/bytes", lat.size))
  }

  def layers(): Seq[Metric] = {
    val n = done.size.toDouble
    val spans = done.map(b => Span(BatchBase + b.id, 0L, BatchBase + b.id, "batch",
      b.startNs, b.startNs + (b.progress.getOrElse("triggerExecution", 0L) * 1000000L))).toSeq
    val timedSink = done.map(b => sinkMs.getOrElse(b.id, 0.0)).toSeq
    val sinkWrites = sinkFs.write.toDouble
    // Structured Streaming stamps its own call site on every job of a
    // query, so jobs are attributed by span: the sink's to Merge, the
    // rest of the batch to DedupIndex (which includes its TxLog commits)
    Layers.common(this, spans,
      j => if (j.parent != 0L) j.parent else if (j.batch >= 0) BatchBase + j.batch else 0L,
      j => if (j.parent != 0L) "Merge" else "DedupIndex") ++ Seq(
      Metric("stream.trigger_ms_p50", p50("triggerExecution"), "ms", done.size),
      Metric("stream.add_batch_ms_p50", p50("addBatch"), "ms", done.size),
      Metric("stream.wal_commit_ms_p50", p50("walCommit"), "ms", done.size),
      Metric("stream.commit_offsets_ms_p50", p50("commitOffsets"), "ms", done.size),
      Metric("stream.query_planning_ms_p50", p50("queryPlanning"), "ms", done.size),
      Metric("stream.latest_offset_ms_p50", p50("latestOffset"), "ms", done.size),
      Metric("sink.upsert_ms_p50", Stats.median(timedSink), "ms", done.size),
      Metric("dedup.admit_ms_p50", Stats.median(done.map(b =>
        b.progress.getOrElse("addBatch", 0L) - b.sinkMs).toSeq), "ms", done.size),
      Metric("dedup.survivor_ratio", Stats.ratio(done.map(b => survivors.getOrElse(b.id, 0L)).sum,
        inputRows), "ratio", done.size),
      Metric("fs.write_ops_per_batch.sink", Stats.ratio(sinkWrites, n), "count/batch", done.size),
      Metric("fs.write_ops_per_batch.other", Stats.ratio(drainFs.write - sinkWrites, n), "count/batch", done.size))
  }
}

object IngestDedup {
  /** Synthetic batch spans get ids far above the tracer's own. */
  val BatchBase = 1L << 40
  /** Seconds of `--seconds` per batch: a batch took about 2 s on the
    * reference box, so a 12-s run drains 6.
    */
  val SecondsPerBatch = 2.0
  /** Per micro-batch: originals, then near-duplicates of each kind. */
  val Originals = 160
  val Dups = 20
  val DocSchema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
  val Words: IndexedSeq[String] = for {
    a <- "bdfgklmnprstvz"; b <- "aeiou"; c <- "bdfgklmnprstvz"; d <- "aeiou"
  } yield s"$a$b$c$d"
}
