package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Minimal VERSIONED FILE LOG for persisted index layouts (the
  * [[graft.pipeline.DedupIndex]] LSH tables, the
  * [[graft.pipeline.Similarity.IvfPq]] codes table) and for
  * [[graft.pipeline.IncrementalAgg]]'s state: the [[VersionLog]] commit
  * protocol that [[Merge]] also runs, over what an index needs — a set
  * of NAMED sub-tables, each a list of immutable parquet files, with an
  * atomic create-if-absent manifest as the commit point.
  *
  * Why indexes need this: a live probe resolves "the index" to a
  * concrete file set. Directory-read layouts make that resolution racy —
  * a maintenance compaction that deletes-then-renames directories can
  * present a torn index (half old files, half new) or, after a crash
  * between the delete and the rename, NO index at all. Under the log:
  *
  *   - data files are IMMUTABLE and only ever ADDED; which files
  *     constitute the index is a manifest under `_idx_log/v{N}.json`;
  *   - a probe resolves the newest committed manifest ONCE and reads
  *     exactly its files — snapshot isolation for free, because a later
  *     commit only adds files and a new manifest;
  *   - a compaction stages its rewritten files, then commits a manifest
  *     referencing ONLY them; old files stay on disk (still served to
  *     probes that resolved earlier) until [[vacuum]] reclaims them;
  *   - a crash at ANY point leaves either the old committed state or the
  *     new one, plus unreferenced orphan files — never a torn or missing
  *     table. Recovery is "nothing": the next reader resolves the last
  *     good manifest; the next vacuum sweeps the orphans.
  *
  * Concurrency: commits go through the shared [[VersionLog]] protocol —
  * the create-if-absent claim of `v{N}.json`, so two writers racing to
  * v{N+1} serialize (the loser gets [[LostRace]]; [[commitRetrying]]
  * wraps the retry loop), and the validated, memoized read that walks
  * back past a claimed-but-unwritten manifest.
  *
  * At 100 TB the cost model matches Merge's: a commit writes one small
  * JSON (O(index files) entries — index tables are a compressed fraction
  * of the corpus, so file counts stay far below the data table's; a
  * table that outgrows this wants Merge's sharded-manifest move) and
  * the data I/O is exactly the files the operation itself produced.
  */
object TxLog {

  /** One committed index state: for each named sub-table, the relative
    * paths (under the index root) of the parquet files that constitute
    * it. A table absent from the map (or mapped to Nil) is empty at
    * this version. `txn` is an optional (appId, batchId) stamp riding the
    * same claim (IncrementalAgg records the table version its state is
    * synced to); manifests written without it read as None.
    */
  final case class State(version: Long, parent: Long,
      tables: Map[String, Seq[String]],
      txn: Option[(String, Long)] = None)

  /** The create-if-absent claim found the version already committed —
    * re-resolve the log and retry against the new parent.
    */
  type LostRace = graft.sources.LostRace

  // test seam: invoked immediately before each commit attempt so a spec
  // can inject a conflicting commit deterministically
  @volatile private[graft] var commitFence: () => Unit = () => ()

  private def logDir(root: Path) = new Path(root, "_idx_log")
  private def stagingDir(root: Path) = new Path(root, "_idx_staging")

  private def fsFor(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[sources] def body(s: State): Array[Byte] = {
    val tables = s.tables.toSeq.sortBy(_._1).map { case (name, files) =>
      s""""${JsonEscape(name)}":""" +
        files.sorted.map(f => "\"" + JsonEscape(f) + "\"")
          .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val txnField = s.txn.map { case (app, batch) =>
      s""","txnApp":"${JsonEscape(app)}","txnBatch":$batch"""
    }.getOrElse("")
    (s"""{"version":${s.version},"parent":${s.parent},""" +
      s""""tables":$tables$txnField}""").getBytes("UTF-8")
  }

  /** Parsed states; probes resolve [[currentState]] per query, so a
    * memo hit keeps that to one getFileStatus per version.
    */
  private val states = new VersionLog.Memo[State]

  /** Purge memoized states under `root` — call when an index is
    * wholesale REBUILT at the same path (delete + re-commit v0), exactly
    * as [[Merge]]'s writeKeyed purges its memo.
    */
  def dropCachedStates(root: String): Unit = states.purge(new Path(root))

  private def parse(text: String): Option[State] = {
    import org.json4s._
    scala.util.Try(org.json4s.jackson.JsonMethods.parse(text)).toOption
      .flatMap { j =>
        def num(v: JValue): Option[Long] = v match {
          case JInt(n) => Some(n.toLong); case JLong(n) => Some(n)
          case _ => None
        }
        val tables = j \ "tables" match {
          case JObject(fields) =>
            val parsed = fields.map { case (name, v) =>
              v match {
                case JArray(xs) if xs.forall(_.isInstanceOf[JString]) =>
                  Some(name -> xs.collect { case JString(f) => f })
                case _ => None
              }
            }
            if (parsed.exists(_.isEmpty)) None
            else Some(parsed.flatten.toMap)
          case _ => None
        }
        val txn = (j \ "txnApp", num(j \ "txnBatch")) match {
          case (JString(a), Some(b)) => Some((a, b))
          case _ => None
        }
        for (v <- num(j \ "version"); p <- num(j \ "parent"); t <- tables)
          yield State(v, p, t, txn)
      }
  }

  /** One manifest; None when missing/truncated (a crashed claim). */
  private def readState(fs: FileSystem, root: Path,
      version: Long): Option[State] =
    states.read(fs, logDir(root), version)(parse)

  /** Newest COMMITTED state, walking back past torn manifests; None when
    * the root carries no log (a pre-protocol layout or a fresh path).
    */
  def currentState(spark: SparkSession, root: String): Option[State] = {
    val (fs, r) = fsFor(spark, root)
    VersionLog.newest(VersionLog.versions(fs, logDir(r)))(
      readState(fs, r, _))
  }

  /** Newest committed version; -1 when the root carries no log. */
  def currentVersion(spark: SparkSession, root: String): Long =
    currentState(spark, root).map(_.version).getOrElse(-1L)

  /** The committed state at an exact version (how a [[TableCatalog]]
    * pin resolves an index member); None when that version is missing
    * or torn.
    */
  def stateAt(spark: SparkSession, root: String,
      version: Long): Option[State] = {
    val (fs, r) = fsFor(spark, root)
    readState(fs, r, version)
  }

  /** Zero-copy rollback (the index-side [[Merge.restore]]): commit the
    * target version's exact table map as a NEW version — no data file
    * moves; later probes resolve the restored file set. No-op (returns
    * the current version) when already there. A [[TableCatalog]] uses
    * this to discard a crashed transaction's orphan index commits.
    */
  def restore(spark: SparkSession, root: String, version: Long,
      maxRetries: Int = 5): Long = {
    val target = stateAt(spark, root, version).getOrElse(
      throw new IllegalArgumentException(
        s"$root has no committed index version $version"))
    VersionLog.retrying(maxRetries,
        n => s"index restore lost the commit race $n times at $root") { _ =>
      val cur = currentState(spark, root).getOrElse(
        throw new IllegalStateException(s"$root lost its log"))
      if (cur.version == version) cur.version
      else {
        commit(spark, root,
          State(cur.version + 1, cur.version, target.tables, target.txn))
        cur.version + 1
      }
    }
  }

  /** Atomic create-if-absent commit of `s` (the [[VersionLog]] claim):
    * throws [[LostRace]] when v{s.version} is already claimed.
    */
  def commit(spark: SparkSession, root: String, s: State): Unit = {
    val (fs, r) = fsFor(spark, root)
    VersionLog.claim(fs, VersionLog.versionFile(logDir(r), s.version),
      body(s))
  }

  /** Optimistic-concurrency loop: resolve the current state, build the
    * next one with `step`, commit; on [[LostRace]] re-resolve and redo,
    * up to `maxRetries` times. `step` gets None on a fresh (un-logged)
    * root and must return the state to commit — its version is forced to
    * parent+1, so steps only describe the table contents.
    */
  def commitRetrying(spark: SparkSession, root: String, maxRetries: Int = 5)
      (step: Option[State] => Map[String, Seq[String]]): State =
    VersionLog.retrying(maxRetries,
        n => s"index commit lost the race $n times at $root — giving up") {
        _ =>
      val parent = currentState(spark, root)
      val next = State(parent.map(_.version + 1).getOrElse(0L),
        parent.map(_.version).getOrElse(-1L), step(parent))
      commitFence()
      commit(spark, root, next)
      next
    }

  /** The REWRITE form of [[commitRetrying]] (index compactions): `stage`
    * writes this attempt's files from the resolved parent and returns
    * (the tables to commit, the files it staged). A lost race deletes
    * exactly those files — never the winner's — and redoes the rewrite
    * against the new parent, so nothing the winner added is lost.
    */
  private[graft] def rewriteRetrying(spark: SparkSession, root: String,
      maxRetries: Int, op: String)
      (stage: Option[State] => (Map[String, Seq[String]], Seq[String]))
      : State =
    VersionLog.retrying(maxRetries,
        n => s"$op lost the commit race $n times at $root") { _ =>
      val parent = currentState(spark, root)
      val parentV = parent.map(_.version).getOrElse(-1L)
      val (tables, staged) = stage(parent)
      val next = State(parentV + 1, parentV, tables)
      try commit(spark, root, next)
      catch { case e: LostRace => deleteFiles(spark, root, staged); throw e }
      next
    }

  /** Write `df`'s rows as new parquet files under `<root>/<table>/` via
    * a job-scoped staging dir + rename, returning the EXACT relative
    * paths produced — a racing writer's files can never leak into this
    * committer's manifest (the Merge stage-and-move discipline). The
    * files are invisible to probes until a commit references them. The
    * written schema seeds the schema memo under the key a [[readTable]]
    * of exactly these files uses, so a state rewritten whole each time
    * (an IncrementalAgg fold) is never read back through inference.
    */
  def stageInto(df: DataFrame, root: String, table: String): Seq[String] = {
    val spark = df.sparkSession
    val (fs, r) = fsFor(spark, root)
    val staging = new Path(stagingDir(r), java.util.UUID.randomUUID.toString)
    df.write.mode("overwrite").parquet(staging.toString)
    val destDir = new Path(r, table)
    if (!fs.exists(destDir)) fs.mkdirs(destDir)
    val moved = Seq.newBuilder[String]
    fs.listStatus(staging)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        val dest = new Path(destDir, f.getPath.getName)
        // spark part names embed a per-job UUID: collisions impossible
        require(fs.rename(f.getPath, dest),
          s"failed to move staged file ${f.getPath} to $dest")
        moved += s"$table/${f.getPath.getName}"
      }
    fs.delete(staging, true)
    val files = moved.result().sorted
    files.headOption.foreach { f =>
      schemaMemo.put(schemaKey(Seq(new Path(r, f).toString), None),
        df.schema)
    }
    files
  }

  /** [[stageInto]] for a PARTITIONED sub-table (e.g. an ANN codes table
    * `partitionBy(cell)`): staged partition dirs are merged into the
    * table's, and the returned relative paths keep the `col=value/`
    * segments — [[readPartitioned]] recovers the partition column (and
    * its pruning) through `basePath`.
    */
  def stagePartitionedInto(df: DataFrame, root: String, table: String,
      partitionCols: Seq[String]): Seq[String] = {
    require(partitionCols.nonEmpty, "use stageInto for unpartitioned tables")
    val spark = df.sparkSession
    val (fs, r) = fsFor(spark, root)
    val staging = new Path(stagingDir(r), java.util.UUID.randomUUID.toString)
    df.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(staging.toString)
    val tableDir = new Path(r, table)
    val moved = Seq.newBuilder[String]
    // walk the staged partition tree; move leaf files preserving the
    // col=value dir chain (nested partitions supported)
    def walk(dir: Path, rel: String): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.contains("=")) {
          walk(st.getPath, s"$rel$name/")
        } else if (st.isFile && name.endsWith(".parquet")) {
          val destDir = if (rel.isEmpty) tableDir else new Path(tableDir, rel)
          if (!fs.exists(destDir)) fs.mkdirs(destDir)
          val dest = new Path(destDir, name)
          require(fs.rename(st.getPath, dest),
            s"failed to move staged file ${st.getPath} to $dest")
          moved += s"$table/$rel$name"
        }
      }
    walk(staging, "")
    fs.delete(staging, true)
    moved.result().sorted
  }

  /** Schema memo for sub-table reads: committed files are IMMUTABLE
    * (staged under unique part names, moved once, never rewritten in
    * place), so the schema inferred for a given file set can never go
    * stale — and skipping the per-read footer inference matters because
    * index probes and catalog transactions resolve sub-tables once per
    * micro-batch.
    *
    * Keying: a PLAIN read's schema rides the (immutable) head file, so
    * (first file, "") is a stable key that hits across growing states.
    * A PARTITIONED read additionally infers the partition columns' types
    * from the directory values of the WHOLE file list — two states of a
    * growing sub-table commonly share the head file while spanning new
    * partition directories, and a head-file key would freeze partition
    * typing at first read — so partitioned reads key on a digest of the
    * full file list instead (one inference per distinct state, still a
    * hit for the common repeated-resolution of one state per batch).
    * Entries come from a first inference or from [[stageInto]]'s own
    * write (a parquet read makes the written schema's fields nullable,
    * as inference would). Bounded by the [[VersionLog.Bounded]]
    * eviction rule (re-inference is correct, just slower), so a long
    * session cannot grow it.
    */
  private[sources] val schemaMemo =
    new VersionLog.Bounded[(String, String), StructType](4096)

  /** The memo key of a read: (head file, "") for a plain one; for a
    * partitioned one, a digest of the full file list with a NUL between
    * paths (no path contains NUL, so `["ab","c"]` and `["a","bc"]`
    * differ) paired with the base path.
    */
  private[sources] def schemaKey(paths: Seq[String],
      basePath: Option[String]): (String, String) = basePath match {
    case None => (paths.head, "")
    case Some(b) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      paths.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0: Byte) }
      (java.util.Base64.getEncoder.encodeToString(md.digest()), b)
  }

  /** Exactly `paths`, read as named through [[ManifestScan]] (no glob, no
    * listing, no listing job) under the memoized schema; a memo miss
    * infers it from the footers and memoizes what the read resolved.
    */
  private def readWithMemo(spark: SparkSession, paths: Seq[String],
      basePath: Option[String]): DataFrame = {
    val key = schemaKey(paths, basePath)
    val known = schemaMemo.get(key)
    val df = ManifestScan.read(spark, paths, basePath, known)
    if (known.isEmpty) schemaMemo.put(key, df.schema)
    df
  }

  /** [[readTable]] for a partitioned sub-table: reads the state's exact
    * files with `basePath = <root>/<table>` so the partition columns
    * come back (and partition-filter pruning still applies to the file
    * list).
    */
  def readPartitioned(spark: SparkSession, root: String, state: State,
      table: String): Option[DataFrame] = {
    val files = state.tables.getOrElse(table, Seq.empty)
    if (files.isEmpty) None
    else {
      val base = new Path(new Path(root), table)
      Some(readWithMemo(spark,
        files.map(f => new Path(new Path(root), f).toString),
        Some(base.toString)))
    }
  }

  /** One sub-table of a resolved state: exactly its files, or None when
    * the table is empty at that version (callers supply the empty-frame
    * semantics — for an index that is usually "no candidates").
    */
  def readTable(spark: SparkSession, root: String, state: State,
      table: String): Option[DataFrame] = {
    val files = state.tables.getOrElse(table, Seq.empty)
    if (files.isEmpty) None
    else Some(readWithMemo(spark,
      files.map(f => new Path(new Path(root), f).toString), None))
  }

  /** Delete files no retained version references (compaction leftovers
    * and crash orphans), manifests older than the horizon, and stale
    * staging dirs, by the [[VersionLog.Sweep]] rule. `graceMs` spares
    * recently-modified files — when vacuuming beside live writers set it
    * above the longest expected commit, exactly as with [[Merge.vacuum]].
    * Returns the reclaimed (or, with `dryRun = true`, the reclaimABLE
    * — nothing touched) root-relative paths, the same pre-flight
    * contract as [[Merge.vacuum]].
    */
  def vacuum(spark: SparkSession, root: String, tables: Seq[String],
      keepVersions: Int = 1, graceMs: Long = 0L,
      orphanGraceMs: Long = Merge.DefaultOrphanGraceMs,
      dryRun: Boolean = false): Seq[String] = {
    require(keepVersions >= 1, "must keep >= 1 version")
    val (fs, r) = fsFor(spark, root)
    val versions = VersionLog.versions(fs, logDir(r))
    if (versions.isEmpty) return Seq.empty
    val latest = versions.max
    val keepFrom = math.max(0L, latest - keepVersions + 1)
    val states = versions.map(v => v -> readState(fs, r, v)).toMap
    def files(ss: Iterable[State]) = ss.flatMap(_.tables.values.flatten).toSet
    val live = files((keepFrom to latest).flatMap(states.getOrElse(_, None)))
    val ever = files(states.values.flatten)
    val sweep = new VersionLog.Sweep(fs, r, graceMs, orphanGraceMs, dryRun)
    tables.foreach { t =>
      val dir = new Path(r, t)
      if (fs.exists(dir)) {
        // walk partition subdirs too (`cell=N/part-*.parquet`)
        def walk(d: Path, rel: String): Unit =
          fs.listStatus(d).foreach { st =>
            val name = st.getPath.getName
            if (st.isDirectory && name.contains("="))
              walk(st.getPath, s"$rel$name/")
            else if (st.isFile && name.endsWith(".parquet"))
              sweep.offer(st.getPath, s"$t/$rel$name",
                st.getModificationTime, live, ever)
          }
        walk(dir, "")
      }
    }
    sweep.expire(logDir(r), versions, keepFrom)
    sweep.staging(stagingDir(r))
    sweep.planned
  }

  /** Delete the exact relative files `rels` (a failed committer cleaning
    * up its own staged-and-moved output after a lost race).
    */
  def deleteFiles(spark: SparkSession, root: String,
      rels: Seq[String]): Unit = {
    val (fs, r) = fsFor(spark, root)
    rels.foreach(f => fs.delete(new Path(r, f), false))
  }
}
