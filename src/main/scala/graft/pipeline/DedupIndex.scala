package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TxLog

/** PERSISTED MinHash-LSH dedup index — near-duplicate detection for
  * CONTINUOUS INGESTION. The one-shot [[Dedup.minhashDedup]] rescans the
  * whole corpus per batch; at 100 TB that is a full-corpus job to admit
  * a 0.01% delta. This index persists the corpus's LSH band keys (and a
  * signature side table) once; each new batch then costs:
  *
  *   - ONE scan of the bands table, probed by a BROADCAST of the batch's
  *     band keys (a broadcast hash join — the big side never shuffles),
  *   - ONE scan of the signatures table for the verify step, again
  *     against broadcast candidate ids,
  *   - [[append]]: survivors' band/sig rows written as NEW files —
  *     existing index files are immutable (the [[Similarity.IvfPq]]
  *     append posture).
  *
  * Large batches ([[dedupAgainst]]'s `maxProbeBroadcastBytes`): the
  * broadcast-probe plan assumes batch ≪ corpus. A backfill-sized batch
  * switches automatically to plain equi-joins on the same keys — the
  * corpus tables shuffle once, which is the correct plan when the batch
  * is itself corpus-sized; admissions are identical either way
  * (DedupIndexSpec pins both plans and their agreement).
  *
  * Layout under `path`:
  *   bands/   (band INT, key LONG, id LONG)  — parquet, the probe table
  *   sigs/    (id LONG, sig ARRAY<LONG>)     — parquet, the verify table
  *   deletes/ (id LONG)                      — parquet, tombstones
  *   _idx_log/v{N}.json                      — [[TxLog]] version manifests
  *   _meta.json                              — frozen parameters
  *
  * COMMIT PROTOCOL (the [[graft.sources.Merge]] discipline via
  * [[TxLog]]): which files constitute each table is recorded in an
  * atomically-committed manifest; data files are immutable and only ever
  * added. A probe resolves the newest committed manifest ONCE, so every
  * maintenance operation is SNAPSHOT-ISOLATED from live probes:
  * [[compact]] commits a manifest referencing only its rewritten files
  * while probes that resolved earlier keep reading the old ones (still
  * on disk until [[vacuum]]), and a crash at any point — including
  * mid-compaction — leaves the last committed state fully readable plus
  * unreferenced orphans for vacuum. Concurrent [[append]]/[[remove]]/
  * [[compact]] serialize through the create-if-absent claim with
  * optimistic retry; no operation can present a torn index.
  *
  * Parameters (shingleN, k, bands, threshold) are FROZEN at [[build]]:
  * a probe or append under different parameters would silently miss
  * duplicates (band keys from different shingle sizes never collide),
  * so both fail fast on a mismatch. Reference semantics: same estimate
  * threshold contract as [[Dedup.minhashCandidates]] — the estimate-set
  * vs exact-set agreement argument of `q_dedup_minhash` carries over.
  *
  * Admission races: concurrent appends commit safely (the file-list
  * union is conflict-free), but two batches admitted in parallel can
  * both keep one member of a cross-batch duplicate pair — admission
  * order is application-level state the log cannot see. Serialize
  * admissions (the [[streamingAdmit]] pattern), or dedup across recent
  * batches downstream.
  */
object DedupIndex {

  final case class Meta(shingleN: Int, k: Int, bands: Int,
      threshold: Double)

  private val Tables = Seq("bands", "sigs", "deletes")

  /** Above this ESTIMATED batch input size (Catalyst plan stats — a
    * conservative proxy: the broadcast payload is the batch's band keys
    * and signatures, a fraction of its text bytes), probes switch from
    * broadcast-probe to shuffle equi-join. 256 MiB of batch text keeps
    * the derived broadcast comfortably inside executor memory.
    */
  val DefaultProbeBroadcastBytes: Long = 256L << 20

  private def metaPath(path: String) = new Path(path, "_meta.json")

  private def writeMeta(spark: SparkSession, path: String, m: Meta): Unit = {
    val p = metaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val body = (s"""{"shingleN":${m.shingleN},"k":${m.k},""" +
      s""""bands":${m.bands},"threshold":${m.threshold}}""").getBytes("UTF-8")
    val out = fs.create(p, true)
    try out.write(body) finally out.close()
  }

  def readMeta(spark: SparkSession, path: String): Meta = {
    val p = metaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"$path is not a dedup index (no _meta.json)")
    val in = fs.open(p)
    val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(body)
    def num(f: String): Double = j \ f match {
      case JInt(n) => n.toDouble; case JLong(n) => n.toDouble
      case JDouble(d) => d
      case _ => throw new IllegalArgumentException(s"bad _meta.json: $f")
    }
    Meta(num("shingleN").toInt, num("k").toInt, num("bands").toInt,
      num("threshold"))
  }

  /** (band, key, id) + (id, sig) rows for a frame, under `m`'s params.
    * Signature-less rows (null/too-short text) contribute nothing — they
    * can never be near-duplicates under the shingle contract.
    */
  private def bandRows(df: DataFrame, idCol: String, text: Column,
      m: Meta): (DataFrame, DataFrame) = {
    val sigs = Dedup.signatures(df, idCol, text, m.shingleN, m.k)
    val bands = sigs.select(col("id"),
        posexplode(Dedup.bandKeys(col("sig"), m.bands, m.k / m.bands))
          .as(Seq("band", "key")))
      .select(col("band").cast("int").as("band"), col("key"), col("id"))
    (bands, sigs)
  }

  /** Build the index over `df` (the corpus) at `path`, replacing any
    * existing index there (old files, tombstones, and log included).
    */
  def build(df: DataFrame, idCol: String, text: Column, path: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): Unit = {
    require(k % bands == 0, "bands must divide k")
    val spark = df.sparkSession
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true) // fresh index, fresh log
    TxLog.dropCachedStates(path) // rebuilt in place: stale memo out
    val m = Meta(shingleN, k, bands, threshold)
    val (b, s) = bandRows(df, idCol, text, m)
    val bandFiles = TxLog.stageInto(b, path, "bands")
    val sigFiles = TxLog.stageInto(s, path, "sigs")
    TxLog.commit(spark, path, TxLog.State(0L, -1L,
      Map("bands" -> bandFiles, "sigs" -> sigFiles)))
    writeMeta(spark, path, m)
  }

  /** The index's newest committed state. Pre-protocol layouts (a
    * directory tree without `_idx_log/`, built by an older version of
    * this object) resolve to None and fall back to raw directory reads —
    * correct for reads, but maintenance ops commit a log, so the first
    * [[append]]/[[remove]]/[[compact]] on a legacy index migrates it.
    */
  private def state(spark: SparkSession, path: String): Option[TxLog.State] =
    TxLog.currentState(spark, path)

  /** One sub-table at a resolved state (legacy fallback: raw dir). */
  private def table(spark: SparkSession, path: String,
      st: Option[TxLog.State], name: String): Option[DataFrame] =
    st match {
      case Some(s) => TxLog.readTable(spark, path, s, name)
      case None =>
        val p = new Path(path, name)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
    }

  /** A legacy (pre-log) index's table files, for the migration commit. */
  private def legacyFiles(spark: SparkSession, path: String,
      name: String): Seq[String] = {
    val p = new Path(path, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => s"$name/${f.getPath.getName}").toSeq.sorted
  }

  /** The tables map to commit against: the parent state's lists, or (on
    * a legacy index) a listing-derived snapshot of the raw dirs.
    */
  private def parentTables(spark: SparkSession, path: String,
      parent: Option[TxLog.State]): Map[String, Seq[String]] =
    parent.map(_.tables).getOrElse(
      Tables.map(t => t -> legacyFiles(spark, path, t)).toMap)

  /** Batch ids dominated by an INDEXED document (estimated Jaccard >=
    * the index's frozen threshold), with the best estimate per id.
    * Plan shape: for a normal (small) batch, bands scan + broadcast
    * probe, sigs scan + broadcast candidates — the corpus-sized tables
    * are read once and never shuffled (pinned in DedupIndexSpec). Above
    * `maxProbeBroadcastBytes` (estimated batch input bytes) the same
    * joins run as shuffle equi-joins instead — identical admissions,
    * the right plan for a corpus-sized backfill batch.
    */
  def dominatedBy(spark: SparkSession, path: String, newDf: DataFrame,
      idCol: String, text: Column,
      maxProbeBroadcastBytes: Long = DefaultProbeBroadcastBytes)
      : DataFrame = {
    val m = readMeta(spark, path)
    dominatedByAt(spark, path, state(spark, path), m, newDf, idCol, text,
      maxProbeBroadcastBytes)
  }

  private def dominatedByAt(spark: SparkSession, path: String,
      st: Option[TxLog.State], m: Meta, newDf: DataFrame, idCol: String,
      text: Column, maxProbeBroadcastBytes: Long): DataFrame = {
    val (nb, ns) = bandRows(newDf, idCol, text, m)
    val est = newDf.queryExecution.optimizedPlan.stats.sizeInBytes
    val useBroadcast = est <= BigInt(maxProbeBroadcastBytes)
    // small-side wrapper: broadcast the batch-derived sides on the
    // normal path; let them shuffle on the large-batch path
    def small(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df
    val bandsOpt = table(spark, path, st, "bands")
    val sigsOpt = table(spark, path, st, "sigs")
    if (bandsOpt.isEmpty || sigsOpt.isEmpty)
      // empty index: nothing can dominate
      return newDf.select(col(idCol)).limit(0)
        .withColumn("est", lit(0.0))
    val indexBands = bandsOpt.get
    val indexSigs = sigsOpt.get
    // candidate (corpus id, new id) pairs: any shared band key;
    // tombstoned corpus ids ([[remove]]) no longer suppress anything
    val cand0 = indexBands
      .join(small(nb.select(col("band"), col("key"),
        col("id").as("new_id"))), Seq("band", "key"))
      .select(col("id").as("corpus_id"), col("new_id"))
      .distinct()
    val cand = table(spark, path, st, "deletes") match {
      case Some(d) => cand0.join(
        broadcast(d.distinct().withColumnRenamed("id", "__del_id")),
        cand0("corpus_id") === col("__del_id"), "left_anti")
      case None => cand0
    }
    // verify on true signatures; candidate set is batch-bounded, so it
    // rides the same small-side rule as the other probe joins
    small(cand).join(indexSigs, cand("corpus_id") === indexSigs("id"))
      .select(col("corpus_id"), col("new_id"),
        col("sig").as("corpus_sig"))
      .join(small(ns.select(col("id").as("new_id"),
        col("sig").as("new_sig"))), Seq("new_id"))
      .select(col("new_id"),
        Dedup.estJaccard(col("corpus_sig"), col("new_sig")).as("est"))
      .filter(col("est") >= m.threshold)
      .groupBy("new_id").agg(max("est").as("est"))
      .select(col("new_id").as(idCol), col("est"))
  }

  /** Dedup `newDf` against the index AND within itself (smaller id wins,
    * [[Dedup.minhashDedup]] semantics), returning the surviving rows.
    * The batch-internal pass uses the index's frozen parameters so one
    * threshold governs both halves. Resolves the index state ONCE, so
    * the whole admission sees a single snapshot even beside a
    * concurrent compaction.
    */
  def dedupAgainst(spark: SparkSession, path: String, newDf: DataFrame,
      idCol: String, text: Column,
      maxProbeBroadcastBytes: Long = DefaultProbeBroadcastBytes,
      at: Option[TxLog.State] = None): DataFrame = {
    val m = readMeta(spark, path)
    // an explicit state pins the probe (how a TableCatalog admission
    // reads the index at the catalog's published version)
    val st = if (at.isDefined) at else state(spark, path)
    val inBatch = Dedup.minhashCandidates(newDf, idCol, text,
      m.shingleN, m.k, m.bands, m.threshold)
      .select(col("id_b").as(idCol)).distinct()
    val vsCorpus = dominatedByAt(spark, path, st, m, newDf, idCol, text,
      maxProbeBroadcastBytes).select(col(idCol))
    newDf.join(inBatch.unionByName(vsCorpus).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Append `survivors` (rows already admitted by [[dedupAgainst]]) to
    * the index: their band/sig rows land as new parquet files, existing
    * files untouched, then one log commit publishes them. Later probes
    * see them with zero reader changes; probes in flight keep their
    * snapshot. A lost commit race (concurrent maintenance) retries the
    * COMMIT only — the staged files are already in place and the
    * file-list union is conflict-free.
    */
  def append(spark: SparkSession, path: String, survivors: DataFrame,
      idCol: String, text: Column): Long = {
    val m = readMeta(spark, path)
    val (b, s) = bandRows(survivors, idCol, text, m)
    val bandFiles = TxLog.stageInto(b, path, "bands")
    val sigFiles = TxLog.stageInto(s, path, "sigs")
    TxLog.commitRetrying(spark, path) { parent =>
      val t = parentTables(spark, path, parent)
      t + ("bands" -> (t.getOrElse("bands", Nil) ++ bandFiles)) +
        ("sigs" -> (t.getOrElse("sigs", Nil) ++ sigFiles))
    }.version
  }

  /** Tombstone corpus ids OUT of the index (the compliance-delete path:
    * a document removed from the corpus must stop suppressing its
    * near-duplicates): one small file append to `deletes/` plus a log
    * commit, no index file rewritten. Probes anti-join the tombstones
    * out of the candidate set, so a copy of a removed document is
    * admissible again immediately; [[compact]] later drops the rows
    * physically. Mirrors [[Similarity.IvfPq.remove]].
    */
  def remove(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Long = {
    readMeta(spark, path) // fail fast on a non-index path
    val delFiles = TxLog.stageInto(
      ids.select(col(idCol).cast("long").as("id")).distinct(),
      path, "deletes")
    TxLog.commitRetrying(spark, path) { parent =>
      val t = parentTables(spark, path, parent)
      t + ("deletes" -> (t.getOrElse("deletes", Nil) ++ delFiles))
    }.version
  }

  // test seam: invoked between the compaction's stage and its commit so
  // a spec can simulate a crash (throw) or a race (conflicting commit)
  // at the protocol's only interesting instant
  @volatile private[graft] var compactFence: () => Unit = () => ()

  /** Maintenance rewrite: fold accumulated per-batch append files (and
    * drop tombstoned rows) into `targetFiles` coarse files per table,
    * committed as a NEW log version whose manifest references ONLY the
    * rewritten files (tombstones cleared). Probe results are identical
    * before and after, and the swap is SAFE BESIDE LIVE PROBES: a probe
    * that resolved the pre-compact manifest keeps reading the old files
    * (still on disk until [[vacuum]]); one that resolves after sees the
    * new ones; no interleaving reads a torn mix. A crash mid-compaction
    * leaves the old manifest current and the half-written files as
    * unreferenced orphans — the index never needs manual recovery. A
    * lost commit race (a concurrent append/remove landed first) redoes
    * the compaction against the new state so nothing it added is lost.
    */
  def compact(spark: SparkSession, path: String,
      targetFiles: Int = 16, maxRetries: Int = 5): Unit = {
    readMeta(spark, path)
    // a concurrent append/remove winning the version makes our rewrite
    // stale (it lacks their rows): the loop drops OUR files and redoes
    // the rewrite against the new state
    TxLog.rewriteRetrying(spark, path, maxRetries, "compact") { parent =>
      val del = table(spark, path, parent, "deletes").map(_.distinct())
      def kept(name: String): Option[DataFrame] =
        table(spark, path, parent, name).map { cur =>
          del match {
            case Some(d) => cur.join(
              broadcast(d.withColumnRenamed("id", "__del_id")),
              cur("id") === col("__del_id"), "left_anti")
            case None => cur
          }
        }
      val newFiles = Seq("bands", "sigs").flatMap { sub =>
        kept(sub).toSeq.map(df =>
          sub -> TxLog.stageInto(df.repartition(targetFiles), path, sub))
      }.toMap
      compactFence()
      (Map("bands" -> newFiles.getOrElse("bands", Nil),
        "sigs" -> newFiles.getOrElse("sigs", Nil),
        "deletes" -> Nil), newFiles.values.flatten.toSeq)
    }
    ()
  }

  /** Reclaim files no retained log version references — superseded
    * pre-compaction files, cleared tombstones, and crash orphans — plus
    * stale staging dirs. Keep enough versions (or grace) to cover the
    * longest-running concurrent probe: a probe holds its resolved file
    * set for its whole job, exactly like a Merge reader.
    */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1,
      graceMs: Long = 0L,
      orphanGraceMs: Long = graft.sources.Merge.DefaultOrphanGraceMs,
      dryRun: Boolean = false): Seq[String] =
    TxLog.vacuum(spark, path, Tables, keepVersions, graceMs,
      orphanGraceMs, dryRun)

  /** STREAMING admission: every micro-batch is deduped against the
    * index (and itself), survivors are handed to `sink`, then appended
    * to the index — so batch N+1's probe sees everything batch N
    * admitted. The index IS the stream's state, which is what makes a
    * restart safe: a replayed batch re-probes against the grown index
    * and its already-admitted rows drop as self-duplicates.
    *
    * Ordering contract: survivors are MATERIALIZED (localCheckpoint)
    * before anything else — the probe plan reads the index, so an
    * append before evaluation would make every survivor a duplicate of
    * itself — then `sink` runs BEFORE `append`. With an idempotent sink
    * (e.g. [[graft.sources.Merge.upsert]] with a txn stamp keyed on the
    * batch id) the pair is exactly-once under crash-replay: a crash
    * after sink, before append, replays into a txn no-op sink and a
    * fresh append; a crash after append replays into an empty survivor
    * set and touches nothing. A non-idempotent sink degrades to
    * at-least-once.
    */
  def streamingAdmit(stream: DataFrame, indexPath: String, idCol: String,
      textCol: String)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    streamingAdmitBatches(stream, indexPath, idCol, textCol)(
      (surv, _) => sink(surv))

  /** [[streamingAdmit]] variant handing the sink the micro-batch id —
    * the hook an exactly-once sink needs for its txn stamp (e.g.
    * `Merge.upsert(..., txn = Some((appId, batchId)))`): after a
    * checkpoint loss the replayed batch's survivors are empty (self
    * duplicates) AND the stamp no-ops, so the sink table's history is
    * untouched on every replay path.
    */
  def streamingAdmitBatches(stream: DataFrame, indexPath: String,
      idCol: String, textCol: String)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] = {
    require(stream.isStreaming, "streamingAdmit needs a streaming frame")
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val survivors = dedupAgainst(batch.sparkSession, indexPath,
          batch, idCol, col(textCol)).localCheckpoint(true)
        sink(survivors, batchId)
        append(batch.sparkSession, indexPath, survivors, idCol,
          col(textCol))
        ()
    }
  }
}
