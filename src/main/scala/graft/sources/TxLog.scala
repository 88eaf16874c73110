package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal VERSIONED FILE LOG for persisted index layouts (the
  * [[graft.pipeline.DedupIndex]] LSH tables, the
  * [[graft.pipeline.Similarity.IvfPq]] codes table): the same commit
  * protocol [[Merge]] gives keyed data tables, reduced to what an index
  * needs — a set of NAMED sub-tables, each a list of immutable parquet
  * files, with an atomic create-if-absent manifest as the commit point.
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
  * Concurrency: the manifest claim is create-if-absent (hard link on the
  * local filesystem — atomic AND all-or-nothing; namenode/conditional-put
  * atomicity on HDFS/object stores), so two writers racing to v{N+1}
  * serialize: the loser gets [[LostRace]] and must re-resolve and retry
  * ([[commitRetrying]] wraps the loop). Readers validate manifests and
  * walk back past a claimed-but-unwritten one, mirroring
  * `Merge.currentVersion`.
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
    * this version.
    */
  final case class State(version: Long, parent: Long,
      tables: Map[String, Seq[String]])

  /** The create-if-absent claim found the version already committed —
    * re-resolve the log and retry against the new parent.
    */
  final class LostRace(version: Long)
    extends Exception(s"lost index-log commit race for v$version")

  // test seam: invoked immediately before each commit attempt so a spec
  // can inject a conflicting commit deterministically
  @volatile private[graft] var commitFence: () => Unit = () => ()

  private def logDir(root: Path) = new Path(root, "_idx_log")
  private def stagingDir(root: Path) = new Path(root, "_idx_staging")

  private def fsFor(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def body(s: State): Array[Byte] = {
    val tables = s.tables.toSeq.sortBy(_._1).map { case (name, files) =>
      s""""${JsonEscape(name)}":""" +
        files.sorted.map(f => "\"" + JsonEscape(f) + "\"")
          .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    (s"""{"version":${s.version},"parent":${s.parent},""" +
      s""""tables":$tables}""").getBytes("UTF-8")
  }

  /** Parsed-state memo (the [[Merge]] manifest memo, mirrored).
    * Committed index manifests are IMMUTABLE under the create-if-absent
    * protocol, so a successful parse is reusable; (mtime, length) guard
    * the only way bytes could legitimately change under the same
    * (root, version) key — an index root wholesale rebuilt at the same
    * path. Probes resolve [[currentState]] per query (a walk over the
    * log tail), so without the memo every probe re-reads and re-parses
    * JSON it has seen before; with it, resolution is one getFileStatus
    * per version. Bounded; whole-map eviction.
    */
  private val stateCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, Long), State]
  private val maxStateCacheEntries = 8192

  /** Purge memoized states under `root` — call when an index is
    * wholesale REBUILT at the same path (delete + re-commit v0): the
    * (mtime, length) guard can collide across a same-millisecond
    * rebuild whose manifest bytes have identical length (staged file
    * names are fixed-width UUIDs), so the rebuild site purges
    * explicitly, exactly as [[Merge]]'s writeKeyed purges its memo.
    */
  def dropCachedStates(root: String): Unit = {
    val prefix = new Path(root).toString
    // exact root or a path COMPONENT under it — a bare startsWith
    // would also evict the sibling `/a/bc` when purging `/a/b`
    // (over-purge: benign but wasteful)
    stateCache.keySet.removeIf(k =>
      k._1 == prefix || k._1.startsWith(prefix + "/"))
  }

  /** Parse one manifest; None when missing/truncated (a crashed claim). */
  private def readState(spark: SparkSession, root: Path,
      version: Long): Option[State] = {
    val p = new Path(logDir(root), s"v$version.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stat =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val cacheKey = (root.toString, version,
      stat.getModificationTime, stat.getLen)
    val cached = stateCache.get(cacheKey)
    if (cached != null) return Some(cached)
    val text =
      try {
        val in = fs.open(p)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      } catch { case _: java.io.IOException => return None }
    import org.json4s._
    scala.util.Try(org.json4s.jackson.JsonMethods.parse(text)).toOption
      .flatMap { j =>
        def num(f: String): Option[Long] = j \ f match {
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
        for (v <- num("version"); p <- num("parent"); t <- tables)
          yield State(v, p, t)
      } match {
        case some @ Some(s) =>
          if (stateCache.size >= maxStateCacheEntries) stateCache.clear()
          stateCache.put(cacheKey, s)
          some
        case None => None
      }
  }

  private def listVersions(fs: FileSystem, root: Path): Seq[Long] = {
    val dir = logDir(root)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong).toSeq.sorted
  }

  /** Newest COMMITTED state, walking back past torn manifests; None when
    * the root carries no log (a pre-protocol layout or a fresh path).
    */
  def currentState(spark: SparkSession, root: String): Option[State] = {
    val (fs, r) = fsFor(spark, root)
    listVersions(fs, r).reverse.iterator
      .map(v => readState(spark, r, v))
      .collectFirst { case Some(s) => s }
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
    val (_, r) = fsFor(spark, root)
    readState(spark, r, version)
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
    var attempt = 0
    while (attempt <= maxRetries) {
      val cur = currentState(spark, root).getOrElse(
        throw new IllegalStateException(s"$root lost its log"))
      if (cur.version == version) return cur.version
      val next = State(cur.version + 1, cur.version, target.tables)
      try { commit(spark, root, next); return next.version }
      catch { case _: LostRace => attempt += 1 }
    }
    throw new IllegalStateException(
      s"index restore lost the commit race $attempt times at $root")
  }

  /** Atomic create-if-absent commit of `s` (the Merge manifest claim):
    * throws [[LostRace]] when v{s.version} is already claimed.
    */
  def commit(spark: SparkSession, root: String, s: State): Unit = {
    val (fs, r) = fsFor(spark, root)
    claimVersion(fs, logDir(r), s.version, body(s))
  }

  /** The create-if-absent version claim itself, shared with every other
    * versioned log in the engine ([[TableCatalog]]'s catalog log): write
    * `bytes` as `<dir>/v<version>.json` atomically-and-all-or-nothing,
    * throwing [[LostRace]] when the version is already claimed.
    */
  private[sources] def claimVersion(fs: FileSystem, dir: Path,
      version: Long, bytes: Array[Byte]): Unit = {
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val target = new Path(dir, s"v$version.json")
    if ("file" == target.getFileSystem(fs.getConf).getScheme) {
      // local fs: create(overwrite=false) is check-then-create; hard-link
      // a fully written temp file instead — atomic and all-or-nothing
      val tmp = java.nio.file.Paths.get(dir.toUri.getPath,
        s".tmp_v${version}_${java.util.UUID.randomUUID}.json")
      java.nio.file.Files.write(tmp, bytes)
      try java.nio.file.Files.createLink(
        java.nio.file.Paths.get(target.toUri.getPath), tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new LostRace(version)
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val out =
        try fs.create(target, false)
        catch { case _: java.io.IOException => throw new LostRace(version) }
      try out.write(bytes) finally out.close()
    }
  }

  /** Optimistic-concurrency loop: resolve the current state, build the
    * next one with `step`, commit; on [[LostRace]] re-resolve and redo,
    * up to `maxRetries` times. `step` gets None on a fresh (un-logged)
    * root and must return the state to commit — its version is forced to
    * parent+1, so steps only describe the table contents.
    */
  def commitRetrying(spark: SparkSession, root: String, maxRetries: Int = 5)
      (step: Option[State] => Map[String, Seq[String]]): State = {
    var attempt = 0
    while (attempt <= maxRetries) {
      val parent = currentState(spark, root)
      val next = State(parent.map(_.version + 1).getOrElse(0L),
        parent.map(_.version).getOrElse(-1L), step(parent))
      commitFence()
      try { commit(spark, root, next); return next }
      catch { case _: LostRace => attempt += 1 }
    }
    throw new IllegalStateException(
      s"index commit lost the race $attempt times at $root — giving up")
  }

  /** Write `df`'s rows as new parquet files under `<root>/<table>/` via
    * a job-scoped staging dir + rename, returning the EXACT relative
    * paths produced — a racing writer's files can never leak into this
    * committer's manifest (the Merge stage-and-move discipline). The
    * files are invisible to probes until a commit references them.
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
    moved.result().sorted
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
    * Bounded: cleared past a size cap (re-inference is correct, just
    * slower), so a long session cannot grow it without limit.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]
  private val SchemaMemoCap = 4096

  private def readWithMemo(spark: SparkSession, paths: Seq[String],
      basePath: Option[String]): DataFrame = {
    val key = basePath match {
      case None => (paths.head, "")
      case Some(b) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        paths.foreach(p => md.update(p.getBytes("UTF-8")))
        (java.util.Base64.getEncoder.encodeToString(md.digest()), b)
    }
    if (schemaMemo.size > SchemaMemoCap) schemaMemo.clear()
    val sch = schemaMemo.computeIfAbsent(key, _ =>
      basePath.foldLeft(spark.read) {
        (r, b) => r.option("basePath", b)
      }.parquet(paths: _*).schema)
    basePath.foldLeft(spark.read.schema(sch)) {
      (r, b) => r.option("basePath", b)
    }.parquet(paths: _*)
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
    * staging dirs. `graceMs` spares recently-modified files — when
    * vacuuming beside live writers set it above the longest expected
    * commit, exactly as with [[Merge.vacuum]].
    */
  /** Returns the reclaimed (or, with `dryRun = true`, the reclaimABLE
    * — nothing touched) root-relative paths, mirroring
    * [[Merge.vacuum]]'s pre-flight contract.
    */
  def vacuum(spark: SparkSession, root: String, tables: Seq[String],
      keepVersions: Int = 1, graceMs: Long = 0L,
      orphanGraceMs: Long = Merge.DefaultOrphanGraceMs,
      dryRun: Boolean = false): Seq[String] = {
    require(keepVersions >= 1, "must keep >= 1 version")
    val (fs, r) = fsFor(spark, root)
    val planned = Seq.newBuilder[String]
    def reclaim(p: Path, recursive: Boolean): Unit = {
      planned += p.toString.stripPrefix(r.toString).stripPrefix("/")
      if (!dryRun) { fs.delete(p, recursive); () }
    }
    val versions = listVersions(fs, r)
    if (versions.isEmpty) return Seq.empty
    val latest = versions.max
    val keepFrom = math.max(0L, latest - keepVersions + 1)
    val states = versions
      .map(v => v -> readState(spark, r, v)).toMap
    val live = (keepFrom to latest)
      .flatMap(v => states.getOrElse(v, None).toSeq.flatMap(_.tables.values))
      .flatten.toSet
    // the Merge.vacuum distinction: a file some manifest committed is
    // superseded history (caller's graceMs); a file NO manifest ever
    // referenced is a crash orphan OR an append mid-publish — it waits
    // out the orphan floor, so a graceMs=0 vacuum cannot eat a commit
    // between its stage-and-move and its claim
    val everReferenced = states.values.flatten
      .flatMap(_.tables.values).flatten.toSet
    val now = System.currentTimeMillis()
    val cutoff = now - graceMs
    val orphanCutoff = now - math.max(graceMs, orphanGraceMs)
    tables.foreach { t =>
      val dir = new Path(r, t)
      if (fs.exists(dir)) {
        // walk partition subdirs too (`cell=N/part-*.parquet`)
        def sweep(d: Path, rel: String): Unit =
          fs.listStatus(d).foreach { st =>
            val name = st.getPath.getName
            if (st.isDirectory && name.contains("="))
              sweep(st.getPath, s"$rel$name/")
            else if (st.isFile && name.endsWith(".parquet") &&
                !live(s"$t/$rel$name") &&
                st.getModificationTime <= (if (everReferenced(
                  s"$t/$rel$name")) cutoff else orphanCutoff))
              reclaim(st.getPath, recursive = false)
          }
        sweep(dir, "")
      }
    }
    versions.filter(_ < keepFrom).foreach { v =>
      reclaim(new Path(logDir(r), s"v$v.json"), recursive = false)
    }
    // staging dirs are never referenced by construction: orphan floor
    val sd = stagingDir(r)
    if (fs.exists(sd))
      fs.listStatus(sd)
        .filter(_.getModificationTime <= orphanCutoff)
        .foreach(d => reclaim(d.getPath, recursive = true))
    planned.result()
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
