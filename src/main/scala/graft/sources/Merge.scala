package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, ByteType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

import graft.exec.PinSet

/** Copy-on-write MERGE (upsert) for plain-parquet tables — the lakehouse
  * primitive (UPDATE existing keys + INSERT new ones in one atomic
  * commit) that raw `spark.write.parquet` lacks — with a minimal VERSION
  * LOG giving snapshot reads, time travel, schema evolution, and
  * log-aware compaction.
  *
  * Layout contract: the table is written `partitionBy(__bucket)` where
  * `__bucket = pmod(xxhash64(key), nBuckets)`. Data files are IMMUTABLE:
  * a commit only ever ADDS new files, never deletes or rewrites one.
  * Which files constitute a version is recorded in a JSON manifest under
  * `_graft_log/v{N}.json` (version, parent, relative file list, data
  * schema). An upsert:
  *
  *   1. buckets the updates and collects per-bucket row counts (bounded
  *      by nBuckets — a driver-safe collect, and the same job yields the
  *      upserted-row stat: no separate count() job);
  *   2. reads ONLY the current version's files in those buckets
  *      (manifest-level pruning — the scan cost is proportional to
  *      touched data, not table size);
  *   3. anti-joins away the replaced keys, unions the updates, writes the
  *      merged bucket slices into a job-scoped STAGING directory, then
  *      MOVES them (rename — a metadata operation) into the bucket dirs.
  *      The committer therefore knows its EXACT output file set; a
  *      concurrent committer's files can never be absorbed into this
  *      commit's manifest (no before/after listing diff);
  *   4. commits manifest v{N+1} = parent's untouched-bucket files + the
  *      moved files. The manifest create is the atomic commit point
  *      (create-if-absent). A committer that LOSES the race deletes its
  *      own staged files and RETRIES the whole merge against the new
  *      parent — two interleaved upserts serialize (MergeSpec pins it
  *      with a deterministic commit fence). A crash before the commit
  *      leaves only unreferenced orphan files, cleaned by [[vacuum]],
  *      never lost or half-visible data.
  *
  * Reader-side safety: a crash (or a racing reader) can observe a
  * claimed-but-not-yet-written manifest, so readers VALIDATE manifests —
  * [[currentVersion]] resolves to the newest version whose manifest
  * parses completely and falls back past a truncated one rather than
  * failing on it.
  *
  * At 100 TB with, say, 4096 buckets, upserting 0.1% of keys touches a
  * few buckets and leaves every other file byte-identical (a MergeSpec
  * assertion). [[readVersion]] reads any retained historical version —
  * pairs with `ops.TableDiff` for "what changed between v3 and v7".
  * Every commit appends one file per touched bucket, so a hot bucket's
  * dir (and the manifest) grows with commit count — [[compactVersion]]
  * is the log-aware maintenance pass: it rewrites multi-file buckets
  * coarse and commits the result as a NEW version (old versions keep
  * reading the old files until [[vacuum]] reclaims them).
  *
  * Past ~millions of files a single manifest JSON becomes the bottleneck
  * (every commit rewrites O(table files) of metadata): `writeKeyed
  * (manifestShardSpan = S)` opts into SHARDED manifests — the file/stats
  * lists split into content-addressed shard files of S buckets each
  * (`_graft_log/shards/s{idx}_{md5}.json`), the root manifest holds only
  * the refs, and a commit rewrites ONLY the shards its touched buckets
  * fall in; every other shard ref carries over verbatim (no
  * serialization, no write). Commit metadata cost is O(touched shards) —
  * the same copy-on-write granularity as the data files. Shards are
  * written before the root claim (orphans from lost races are
  * vacuum-reclaimed like staged data files), and content addressing
  * means racing committers producing identical content share one file.
  */
object Merge {

  private def bucketCol(keyCol: String, nBuckets: Int) =
    pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong))

  /** Composite GRID routing: each key column buckets INDEPENDENTLY
    * (`pmod(xxhash64(k_i), n_i)` — the same per-column rule the V2
    * bucket function re-derives) and the physical bucket id is the
    * row-major flattening of the tuple. Independence is the point:
    * Spark's storage-partitioned join supports only SINGLE-column
    * transforms (`KeyGroupedPartitioning.supportsExpressions` requires
    * one child per transform), so a composite layout must present as a
    * TUPLE of single-column transforms with tuple partition keys — a
    * chained multi-column hash could never be declared co-partitioned.
    */
  private[sources] def bucketColMulti(keyCols: Seq[String],
      ns: Seq[Int]) = {
    val parts = keyCols.zip(ns).map { case (k, n) =>
      pmod(xxhash64(col(k)), lit(n.toLong))
    }
    parts.zipWithIndex.foldLeft(lit(0L)) { case (acc, (b, i)) =>
      acc * lit(ns(i).toLong) + b
    }
  }

  /** Partition a bucket-tagged frame so `partitionBy("__bucket")` emits
    * exactly `filesPerBucket` file(s) per bucket. Without this, every
    * task fragments a file into every bucket dir it touches —
    * tasks × buckets small files per commit, the classic commit-time
    * file explosion. `filesPerBucket = 1` coalesces each bucket into one
    * task (right when bucket size ≈ the file-size target — size nBuckets
    * for that); larger values add a deterministic row-hash salt so a big
    * bucket's write parallelizes across that many tasks/files, and
    * [[compactVersion]] re-coarsens later.
    */
  private def bucketPartitioned(df: DataFrame, filesPerBucket: Int,
      buckets: Int, sortKey: Seq[String] = Seq.empty): DataFrame = {
    require(filesPerBucket >= 1, "filesPerBucket must be >= 1")
    // explicit partition count: REPARTITION_BY_NUM pins the shuffle so
    // AQE's small-partition coalescing cannot merge the per-file groups
    // back together (write parallelism here is the POINT, not a cost)
    val parts = math.max(1, buckets) * filesPerBucket
    val repart =
      if (filesPerBucket == 1) df.repartition(parts, col("__bucket"))
      else {
        val dataCols = df.columns.filterNot(_ == "__bucket").map(col).toSeq
        df.repartition(parts, col("__bucket"),
          pmod(xxhash64(dataCols: _*), lit(filesPerBucket.toLong)))
      }
    // KEY-SORTED FILES: leading with __bucket satisfies the writer's
    // required partition ordering (its own sort is elided — this local
    // sort replaces it, not adds to it), and the key order inside every
    // file turns parquet row-group/page stats into a binary search for
    // point lookups — at a 256 MB bucket file, a lookup decodes one
    // row group instead of all of them
    if (sortKey.isEmpty) repart
    else repart.sortWithinPartitions(
      (col("__bucket") +: sortKey.map(col)): _*)
  }

  /** The layout's key columns in sort order — single-key tables from
    * `layout`, composite grids from `layoutCols`; empty = unkeyed.
    */
  private def sortKeysOf(m: Manifest): Seq[String] =
    m.layout.map(l => Seq(l._1)).getOrElse(m.layoutCols)

  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def logPath(root: Path) = new Path(root, "_graft_log")
  private def shardsPath(root: Path) = new Path(logPath(root), "shards")
  private def stagingRoot(root: Path) = new Path(root, "_graft_staging")

  /** Every data file currently in the bucket dirs under `root`: its
    * relative path (`__bucket=N/name`) and listed status, by path.
    */
  private def listDataStatuses(fs: FileSystem,
      root: Path): Seq[(String, FileStatus)] = {
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("__bucket="))
      .flatMap { d =>
        fs.listStatus(d.getPath).filter(f => f.isFile &&
            f.getPath.getName.endsWith(".parquet"))
          .map(f => s"${d.getPath.getName}/${f.getPath.getName}" -> f)
      }.toSeq.sortBy(_._1)
  }

  /** Schema codec for manifests/anchors: DDL for plain schemas (keeps
    * the version log human-readable), Spark's lossless JSON form when
    * any field carries metadata — column DEFAULT values live in field
    * metadata, and `toDDL` renders a `DEFAULT` clause that `fromDDL`
    * cannot parse back. The reader sniffs the format, so every
    * pre-existing DDL manifest reads unchanged.
    */
  private[sources] def schemaToString(s: StructType): String =
    if (s.fields.exists(_.metadata !=
        org.apache.spark.sql.types.Metadata.empty)) s.json
    else s.toDDL

  private[sources] def schemaFromString(str: String): StructType =
    if (str.trim.startsWith("{"))
      org.apache.spark.sql.types.DataType.fromJson(str)
        .asInstanceOf[StructType]
    else StructType.fromDDL(str)

  private def bucketOf(file: String): Long = {
    // data file refs are "__bucket=N/part-..." for the table's own files
    // and ABSOLUTE ".../__bucket=N/part-..." for a shallow clone's
    // foreign refs — the bucket is always the data file's PARENT
    // directory (an ancestor directory that happens to be named
    // "__bucket=..." must not win, so take the last segment, not the
    // first)
    val seg = new Path(file).getParent.getName
    require(seg.startsWith("__bucket="),
      s"data file path $file has no __bucket= parent directory")
    seg.stripPrefix("__bucket=").toLong
  }

  private[sources] final case class Manifest(version: Long, parent: Long,
      files: Seq[String], dataSchema: Option[String],
      txn: Option[(String, Long)] = None,
      layout: Option[(String, Int)] = None, // (keyCol, nBuckets)
      statsCols: Seq[String] = Seq.empty,
      stats: Seq[Skipping.FileStats] = Seq.empty,
      ts: Long = -1L, // commit wall-clock millis; -1 = pre-ts manifest
      op: Option[String] = None, // write/upsert/delete/compact
      rowsUpserted: Long = -1L, rowsDeleted: Long = -1L, // -1 = unknown
      // SHARDED manifests (production posture past ~millions of files):
      // shardSpan = buckets per shard (0 = inline files, the small-table
      // format); shardIds = (shardIdx -> content-addressed shard file)
      // as READ from / WRITTEN to the log — in memory `files`/`stats`
      // are always the fully resolved view either way.
      shardSpan: Int = 0,
      shardIds: Seq[(Long, String)] = Seq.empty,
      // CHECK constraints (name -> SQL boolean expression) every row of
      // the table satisfies — enforced on each incoming batch at commit
      // time (see [[upsert]]) and on the whole table at [[addConstraint]]
      constraints: Seq[(String, String)] = Seq.empty,
      // DELETION VECTORS (merge-on-read delete): parquet sidecar files
      // of (file, pos) row positions readers subtract from the data
      // files — a [[deleteWhereDV]] commit adds sidecars and rewrites
      // NOTHING; [[compactVersion]] folds them physically
      dvFiles: Seq[String] = Seq.empty,
      // COLUMN MAPPING (Delta's column-mapping idea, name mode): data
      // files always store PHYSICAL column names; the manifest's
      // dataSchema/layout/statsCols/stats speak LOGICAL names; colMap
      // records the non-identity logical->physical entries a
      // [[renameColumn]] created. Translation happens ONLY at the
      // parquet boundary (versionDf read, stageAndMove write), so
      // every metadata consumer stays logical. physRetired lists
      // physical names old files may still contain after a
      // [[dropColumn]] — re-adding such a name would resurrect the old
      // files' values, so evolution refuses it.
      colMap: Seq[(String, String)] = Seq.empty,
      physRetired: Seq[String] = Seq.empty,
      // RENAME HISTORY (r19): retired LOGICAL names -> the physical name
      // their column stores, one entry per rename whose old name was not
      // the physical. Immutable statsx/bloom sidecars written BETWEEN
      // two renames store the then-current logical name — this is what
      // lets the planner translate such an entry through ANY number of
      // renames (colMap alone only survives one). Also the reservation
      // list: renaming TO a retired logical name would make old
      // sidecars' entries ambiguous, so evolution refuses it, exactly
      // like physRetired refuses physical reuse.
      colAliases: Seq[(String, String)] = Seq.empty,
      // COPY INTO bookkeeping: the SOURCE file URIs THIS commit
      // ingested (per-commit delta, never cumulative — manifests stay
      // O(commit)); the already-loaded set is the union over retained
      // manifests, with the same retention caveat as the txn watermark
      copied: Seq[String] = Seq.empty,
      // IDENTITY high-water marks (column -> last value at or past which
      // every issued id lies), advanced MONOTONICALLY per commit
      // (max/min of the parent's mark and the batch's extreme, by step
      // sign) and never re-derived from live-file stats — deleting the
      // current max-id row must not let the next insert re-mint its id
      // (Delta persists highWaterMark with the same contract)
      idHwm: Seq[(String, Long)] = Seq.empty,
      // EVERY data file key-sorted (the bucketPartitioned write
      // discipline): true from writeKeyed/replaceAll/relayout, carried
      // by upsert/delete/compact (their rewrites re-sort), FALSE after
      // a clusterBy/zOrder compaction (those sort by other columns) and
      // until a full key-sorted rewrite. What lets the native bucket
      // scan report per-partition ordering so merge joins skip their
      // sorts. Absent in legacy manifests -> false (conservative).
      keySorted: Boolean = false,
      // COMPOSITE bucket layout (>= 2 key columns, routed by the
      // CHAINED xxhash64 the multi-arg Spark expression computes).
      // Deliberately SEPARATE from `layout`: a composite table reads
      // as "unkeyed" to every single-key consumer (upsert/DML/sinks
      // refuse loudly instead of misrouting), while the native bucket
      // scan recognizes it for storage-partitioned joins.
      layoutCols: Seq[String] = Seq.empty,
      layoutNs: Seq[Int] = Seq.empty)

  /** The commit timestamp for a child of `parent`: wall clock, forced
    * STRICTLY increasing along the version chain (max(parent+1, now)) so
    * [[versionAsOf]] is well-defined even when two commits land within
    * one clock tick (or the clock steps backwards across a restart).
    */
  private def nextTs(parent: Manifest): Long =
    math.max(parent.ts + 1L, System.currentTimeMillis())

  /** The shared retry loop ([[VersionLog.retrying]]) with Merge's
    * exhaustion message: each attempt re-reads the log and redoes its
    * work against the new parent after a [[LostRace]].
    */
  private def retryCommit[A](op: String, path: String, maxRetries: Int,
      hint: String = "")(attempt: Int => A): A =
    VersionLog.retrying(maxRetries,
      n => s"$op lost the commit race $n times at $path$hint")(attempt)

  private val ContentionHint =
    " — giving up; retry with less write contention"

  // test seam: invoked between merge-write and manifest claim so a spec
  // can hold two committers at the same parent deterministically
  @volatile private[sources] var commitFence: () => Unit = () => ()

  private def statsEntriesJson(stats: Seq[Skipping.FileStats]): String =
    stats.map { e =>
      val mn = e.min.map(v => "\"" + JsonEscape(v) + "\"").getOrElse("null")
      val mx = e.max.map(v => "\"" + JsonEscape(v) + "\"").getOrElse("null")
      val r = if (e.rows >= 0) s""","r":${e.rows}""" else ""
      val bf = e.bloom.map(v => s""","bf":"$v"""").getOrElse("") // base64:
        // no JSON-special characters by construction
      val nu = if (e.nulls >= 0) s""","nu":${e.nulls}""" else ""
      val sm = e.sum.map(v => s""","sm":"$v"""").getOrElse("") // decimal
        // digits and sign only — never needs escaping
      s"""{"f":"${JsonEscape(e.file)}","c":"${JsonEscape(e.col)}",""" +
        s""""mn":$mn,"mx":$mx$r$bf$nu$sm}"""
    }.mkString("[", ",", "]")

  // hand-rolled JSON (flat schema; file names are spark part names and
  // bucket dirs — never need escaping; the DDL schema string is escaped)
  private[sources] def manifestBody(m: Manifest): Array[Byte] = {
    val filesField =
      if (m.shardSpan > 0)
        // sharded root: the file/stats lists live in content-addressed
        // shard files; the root carries refs only, so its size is
        // O(shards), not O(files)
        s""""shardSpan":${m.shardSpan},"shards":""" +
          m.shardIds.sortBy(_._1).map { case (i, id) =>
            s"""{"i":$i,"id":"${JsonEscape(id)}"}"""
          }.mkString("[", ",", "]")
      else
        s""""files":""" +
          m.files.map(f => "\"" + f + "\"").mkString("[", ",", "]")
    val schemaField = m.dataSchema
      .map(s => s""","dataSchema":"${JsonEscape(s)}"""").getOrElse("")
    val txnField = m.txn.map { case (app, batch) =>
      s""","txnApp":"${JsonEscape(app)}","txnBatch":$batch"""
    }.getOrElse("")
    val layoutField = m.layout.map { case (k, n) =>
      s""","keyCol":"${JsonEscape(k)}","nBuckets":$n"""
    }.getOrElse("")
    // per-file min/max stats (Delta/Iceberg-style): compact keys, values
    // in Skipping's type-exact string encoding so re-parse is lossless.
    // Sharded roots keep statsCols (the table's skipping contract) but
    // their stats entries live in the shards.
    val statsFields =
      if (m.statsCols.isEmpty) ""
      else {
        val cols = m.statsCols.map(c => "\"" + JsonEscape(c) + "\"")
          .mkString("[", ",", "]")
        s""","statsCols":$cols""" +
          (if (m.shardSpan > 0) ""
           else s""","stats":${statsEntriesJson(m.stats)}""")
      }
    val tsField = if (m.ts >= 0) s""","ts":${m.ts}""" else ""
    val opField = m.op.map(o => s""","op":"${JsonEscape(o)}"""")
      .getOrElse("") +
      (if (m.rowsUpserted >= 0) s""","rowsUp":${m.rowsUpserted}""" else "") +
      (if (m.rowsDeleted >= 0) s""","rowsDel":${m.rowsDeleted}""" else "")
    val constraintsField =
      if (m.constraints.isEmpty) ""
      else s""","constraints":""" + m.constraints.map { case (n, e) =>
        s"""{"n":"${JsonEscape(n)}","e":"${JsonEscape(e)}"}"""
      }.mkString("[", ",", "]")
    val dvField =
      if (m.dvFiles.isEmpty) ""
      else s""","dvFiles":""" + m.dvFiles.sorted
        .map(f => "\"" + JsonEscape(f) + "\"").mkString("[", ",", "]")
    val colMapField =
      if (m.colMap.isEmpty) ""
      else s""","colMap":""" + m.colMap.sortBy(_._1).map { case (l, p) =>
        s"""{"l":"${JsonEscape(l)}","p":"${JsonEscape(p)}"}"""
      }.mkString("[", ",", "]")
    val retiredField =
      if (m.physRetired.isEmpty) ""
      else s""","physRetired":""" + m.physRetired.sorted
        .map(f => "\"" + JsonEscape(f) + "\"").mkString("[", ",", "]")
    val aliasesField =
      if (m.colAliases.isEmpty) ""
      else s""","colAliases":""" + m.colAliases.sortBy(_._1).map {
        case (l, p) => s"""{"l":"${JsonEscape(l)}","p":"${JsonEscape(p)}"}"""
      }.mkString("[", ",", "]")
    val copiedField =
      if (m.copied.isEmpty) ""
      else s""","copied":""" + m.copied.sorted
        .map(f => "\"" + JsonEscape(f) + "\"").mkString("[", ",", "]")
    val idHwmField =
      if (m.idHwm.isEmpty) ""
      else s""","idHwm":""" + m.idHwm.sortBy(_._1).map { case (c, v) =>
        s"""{"c":"${JsonEscape(c)}","v":$v}"""
      }.mkString("[", ",", "]")
    val keySortedField = if (m.keySorted) s""","keySorted":true""" else ""
    val layoutColsField =
      if (m.layoutCols.isEmpty) ""
      else s""","layoutCols":""" + m.layoutCols
        .map(c => "\"" + JsonEscape(c) + "\"").mkString("[", ",", "]") +
        s""","layoutNs":""" + m.layoutNs.mkString("[", ",", "]")
    (s"""{"version":${m.version},"parent":${m.parent},""" +
      s"""$filesField$schemaField$txnField$layoutField$statsFields""" +
      s"""$tsField$opField$constraintsField$dvField$colMapField""" +
      s"""$retiredField$aliasesField$copiedField$idHwmField$keySortedField""" +
      s"""$layoutColsField}""")
      .getBytes("UTF-8")
  }

  /** One shard's body: the files of its bucket range plus their stats
    * entries, both sorted so identical content serializes to identical
    * bytes (content addressing relies on it).
    */
  private[sources] def shardBody(files: Seq[String],
      stats: Seq[Skipping.FileStats]): Array[Byte] = {
    val fs = files.sorted.map(f => "\"" + f + "\"").mkString("[", ",", "]")
    val st =
      if (stats.isEmpty) ""
      else s""","stats":${statsEntriesJson(
        stats.sortBy(e => (e.file, e.col)))}"""
    (s"""{"files":$fs$st}""").getBytes("UTF-8")
  }

  private def md5Hex(body: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(body)
      .map("%02x".format(_)).mkString

  /** Write one shard file content-addressed (`s{idx}_{md5}.json`),
    * create-if-absent: two committers racing to the same content write
    * identical bytes, so whoever loses simply reuses the winner's file.
    * Returns the shard id. Shards are written BEFORE the root claim —
    * like staged data files, an orphan shard from a crashed commit is
    * invisible until a root references it (vacuum reclaims it).
    */
  private def writeShard(fs: FileSystem, root: Path, idx: Long,
      body: Array[Byte]): String = {
    val dir = shardsPath(root)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val id = s"s${idx}_${md5Hex(body)}.json"
    val target = new Path(dir, id)
    // content addressing makes the complete file's size known, so "a
    // racer wrote it" is VERIFIABLE: only a same-length existing file is
    // reused. A truncated occupant (a crashed writer's orphan) is
    // replaced, and a genuine I/O failure (disk full, transient error)
    // propagates — it must fail THIS commit, not let it publish a root
    // referencing a missing/corrupt shard.
    def complete(): Boolean =
      try fs.getFileStatus(target).getLen == body.length.toLong
      catch { case _: java.io.IOException => false }
    if (fs.exists(target) && !complete())
      fs.delete(target, false) // truncated orphan occupying the address
    if (!fs.exists(target)) {
      try {
        val out = fs.create(target, false)
        try out.write(body) finally out.close()
      } catch {
        case race: java.io.IOException =>
          // reuse the racer's file only if it is verifiably complete;
          // anything else was a real write failure
          if (!complete()) throw race
      }
    }
    id
  }

  /** The manifest commit — THE atomic point of every commit: the
    * [[VersionLog.claim]] of `v{N}.json`. A concurrent writer racing to
    * the same version gets [[LostRace]] and must redo its merge against
    * the new parent; readers validate bodies ([[readManifestOpt]]).
    */
  private def writeManifest(fs: FileSystem, root: Path, m0: Manifest,
      parent: Option[Manifest] = None,
      touched: Option[Set[Long]] = None): Unit = {
    // sharded table: materialize this version's shard files first. A
    // shard whose bucket range the commit did not touch REUSES the
    // parent's shard ref verbatim — no serialization, no write: commit
    // metadata cost is O(touched shards), never O(table files).
    val m =
      if (m0.shardSpan <= 0) m0
      else {
        val span = m0.shardSpan
        val byShard = m0.files.groupBy(f => bucketOf(f) / span)
        val statsByShard = m0.stats.groupBy(e => bucketOf(e.file) / span)
        val parentIds: Map[Long, String] = parent
          .filter(_.shardSpan == span).map(_.shardIds.toMap)
          .getOrElse(Map.empty)
        val refs = byShard.keys.toSeq.sorted.map { idx =>
          val reusable = touched.exists(t =>
            !t.exists(b => b / span == idx)) && parentIds.contains(idx)
          val id =
            if (reusable) parentIds(idx)
            else writeShard(fs, root, idx, shardBody(byShard(idx),
              statsByShard.getOrElse(idx, Seq.empty)))
          idx -> id
        }
        m0.copy(shardIds = refs)
      }
    VersionLog.claim(fs, VersionLog.versionFile(logPath(root), m.version),
      manifestBody(m))
  }

  /** [[writeManifest]] for a commit that staged `newFiles` (and maybe a
    * sidecar dir): a lost race deletes exactly what this attempt wrote —
    * never the winner's — before the retry loop redoes the merge.
    */
  private def claimStaged(fs: FileSystem, root: Path, m: Manifest,
      parent: Manifest, touched: Option[Set[Long]], newFiles: Seq[String],
      sidecarDir: Option[Path] = None): Unit =
    try writeManifest(fs, root, m, Some(parent), touched)
    catch {
      case e: LostRace =>
        deleteFiles(fs, root, newFiles)
        sidecarDir.foreach(fs.delete(_, true))
        throw e
    }

  /** Parsed manifests ([[VersionLog.Memo]]): commit paths walk
    * O(versions) of them ([[currentVersion]], [[latestTxn]]) and
    * multi-read SQL sessions re-resolve per read. Each entry records
    * whether its shards are resolved; an inline manifest always is.
    */
  private val manifests = new VersionLog.Memo[(Manifest, Boolean)]

  private def dropCachedManifests(root: Path): Unit = manifests.purge(root)

  /** One manifest; None when the file is missing, empty, or truncated (a
    * crashed committer's claim) — readers treat such a version as never
    * committed. Driver-local parse (json4s, which Spark ships): a
    * manifest is a few KB of metadata, and a Spark job per read would
    * put a scheduler round-trip inside every commit.
    *
    * `resolveShards = false` skips loading a sharded manifest's shard
    * files (files/stats come back EMPTY): for validity walk-backs and
    * txn/ts scans that never touch the file list, it keeps metadata
    * reads O(1) per version instead of O(shards). Root-parse validity
    * is the correct commit criterion either way — shards are complete
    * before the root claim, exactly like data files.
    */
  private def readManifestOpt(spark: SparkSession, root: Path,
      version: Long, resolveShards: Boolean = true): Option[Manifest] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifests.read(fs, logPath(root), version,
        fits = (e: (Manifest, Boolean)) => e._2 || !resolveShards) { body =>
      parseManifest(fs, root, body, resolveShards)
        .map(m => (m, resolveShards || m.shardSpan == 0))
    }.map(_._1)
  }

  private def parseManifest(fs: FileSystem, root: Path, body: String,
      resolveShards: Boolean): Option[Manifest] = {
    import org.json4s._
    scala.util.Try(
      org.json4s.jackson.JsonMethods.parse(body)).toOption
      .flatMap { j =>
        def str(f: String): Option[String] = j \ f match {
          case JString(s) => Some(s); case _ => None
        }
        def num(f: String): Option[Long] = j \ f match {
          case JInt(n) => Some(n.toLong); case JLong(n) => Some(n)
          case _ => None
        }
        def parseStats(jv: JValue): Seq[Skipping.FileStats] = jv match {
          case JArray(xs) => xs.flatMap { e =>
            def f(n: String): Option[String] = e \ n match {
              case JString(s) => Some(s); case _ => None
            }
            val rows = e \ "r" match {
              case JInt(n) => n.toLong; case JLong(n) => n; case _ => -1L
            }
            val nulls = e \ "nu" match {
              case JInt(n) => n.toLong; case JLong(n) => n; case _ => -1L
            }
            for (file <- f("f"); c <- f("c"))
              yield Skipping.FileStats(file, c, f("mn"), f("mx"), rows,
                bloom = f("bf"), nulls = nulls, sum = f("sm"))
          }
          case _ => Nil
        }
        val statsCols = j \ "statsCols" match {
          case JArray(xs) => xs.collect { case JString(s) => s }
          case _ => Nil
        }
        val shardSpan = num("shardSpan").map(_.toInt).getOrElse(0)
        // resolved (files, stats, shardIds): inline form reads them off
        // the root; sharded form loads each referenced shard (shards are
        // complete before the root claim, so a parsed root implies
        // readable shards — any miss means external damage and the
        // version reads as not committed)
        val resolved: Option[(Seq[String], Seq[Skipping.FileStats],
            Seq[(Long, String)])] =
          if (shardSpan > 0) {
            val refs = j \ "shards" match {
              case JArray(xs) =>
                val rs = xs.flatMap { e =>
                  val i = e \ "i" match {
                    case JInt(n) => Some(n.toLong)
                    case JLong(n) => Some(n); case _ => None
                  }
                  val id = e \ "id" match {
                    case JString(s) => Some(s); case _ => None
                  }
                  for (a <- i; b <- id) yield (a, b)
                }
                if (rs.length == xs.length) Some(rs) else None
              case _ => None
            }
            if (!resolveShards)
              refs.map(rs => (Seq.empty[String],
                Seq.empty[Skipping.FileStats], rs))
            else refs.flatMap { rs =>
              val loaded = rs.map { case (idx, id) =>
                val sp = new Path(shardsPath(root), id)
                val sbody =
                  try {
                    if (!fs.exists(sp)) return None
                    val in = fs.open(sp)
                    try new String(in.readAllBytes(), "UTF-8")
                    finally in.close()
                  } catch { case _: java.io.IOException => return None }
                scala.util.Try(
                  org.json4s.jackson.JsonMethods.parse(sbody)).toOption
                  .flatMap { sj =>
                    sj \ "files" match {
                      case JArray(xs) if xs.forall(_.isInstanceOf[JString]) =>
                        Some((xs.collect { case JString(s) => s },
                          parseStats(sj \ "stats"), idx, id))
                      case _ => None
                    }
                  }
              }
              if (loaded.exists(_.isEmpty)) None
              else {
                val ls = loaded.flatten.sortBy(_._3)
                Some((ls.flatMap(_._1), ls.flatMap(_._2),
                  ls.map(l => (l._3, l._4))))
              }
            }
          } else j \ "files" match {
            case JArray(xs) if xs.forall(_.isInstanceOf[JString]) =>
              Some((xs.collect { case JString(s) => s },
                parseStats(j \ "stats"), Seq.empty))
            case _ => None
          }
        val constraints = j \ "constraints" match {
          case JArray(xs) => xs.flatMap { e =>
            (e \ "n", e \ "e") match {
              case (JString(n), JString(ex)) => Some((n, ex))
              case _ => None
            }
          }
          case _ => Nil
        }
        val dvFiles = j \ "dvFiles" match {
          case JArray(xs) => xs.collect { case JString(f) => f }
          case _ => Nil
        }
        val colMap = j \ "colMap" match {
          case JArray(xs) => xs.flatMap { e =>
            (e \ "l", e \ "p") match {
              case (JString(l), JString(p)) => Some((l, p))
              case _ => None
            }
          }
          case _ => Nil
        }
        val physRetired = j \ "physRetired" match {
          case JArray(xs) => xs.collect { case JString(f) => f }
          case _ => Nil
        }
        val colAliases = j \ "colAliases" match {
          case JArray(xs) => xs.flatMap { e =>
            (e \ "l", e \ "p") match {
              case (JString(l), JString(p)) => Some((l, p))
              case _ => None
            }
          }
          case _ => Nil
        }
        val copied = j \ "copied" match {
          case JArray(xs) => xs.collect { case JString(f) => f }
          case _ => Nil
        }
        val idHwm = j \ "idHwm" match {
          case JArray(xs) => xs.flatMap { e =>
            (e \ "c", e \ "v") match {
              case (JString(c), JInt(v)) => Some((c, v.toLong))
              case _ => None
            }
          }
          case _ => Nil
        }
        val keySorted = j \ "keySorted" match {
          case JBool(b) => b
          case _ => false
        }
        val layoutCols = j \ "layoutCols" match {
          case JArray(xs) => xs.collect { case JString(c) => c }
          case _ => Nil
        }
        val layoutNs = j \ "layoutNs" match {
          case JArray(xs) => xs.collect {
            case JInt(n) => n.toInt
            case JLong(n) => n.toInt
          }
          case _ => Nil
        }
        (num("version"), num("parent"), resolved) match {
          case (Some(v), Some(par), Some((fl, stats, shardIds))) =>
            Some(Manifest(v, par, fl, str("dataSchema"),
              for (a <- str("txnApp"); b <- num("txnBatch")) yield (a, b),
              for (k <- str("keyCol"); n <- num("nBuckets"))
                yield (k, n.toInt),
              statsCols, stats, num("ts").getOrElse(-1L),
              str("op"), num("rowsUp").getOrElse(-1L),
              num("rowsDel").getOrElse(-1L),
              shardSpan = shardSpan, shardIds = shardIds,
              constraints = constraints, dvFiles = dvFiles,
              colMap = colMap, physRetired = physRetired,
              colAliases = colAliases,
              copied = copied, idHwm = idHwm, keySorted = keySorted,
              layoutCols = layoutCols, layoutNs = layoutNs))
          case _ => None // truncated or foreign body: not committed
        }
      }
  }

  private[sources] def readManifest(spark: SparkSession, root: Path,
      version: Long): Manifest =
    readManifestOpt(spark, root, version).getOrElse {
      val vs = listVersions(spark, root)
      if (vs.nonEmpty && version < vs.min)
        throw new IllegalArgumentException(
          s"version $version of $root is no longer available — it was " +
          s"vacuumed (earliest retained version: ${vs.min}, latest: ${vs.max})")
      throw new IllegalArgumentException(
        s"version $version of $root does not exist or is not committed" +
        (if (vs.isEmpty) " (no version log)"
         else s" (committed versions: ${vs.min}..${vs.max})"))
    }

  /** All version numbers with a manifest file present (committed or not). */
  private def listVersions(spark: SparkSession, root: Path): Seq[Long] =
    VersionLog.versions(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration),
      logPath(root))

  /** Latest COMMITTED version, or -1 if the table has no version log
    * (pre-versioning layout — [[readKeyed]] falls back to a raw read).
    * Walks back past claimed-but-unwritten manifests (a crashed or
    * in-flight committer), so readers never resolve to a torn version.
    */
  def currentVersion(spark: SparkSession, path: String): Long = {
    val (_, root) = fsFor(spark, path)
    VersionLog.newest(listVersions(spark, root))(v =>
      readManifestOpt(spark, root, v, resolveShards = false).map(_ => v))
      .getOrElse(-1L)
  }

  /** The table's recorded bucketing layout `(keyCol, nBuckets)`, fixed at
    * [[writeKeyed]] time — None for a pre-layout manifest. Lets a caller
    * (e.g. [[TableCatalog.transact]]) build an upsert without re-stating
    * the layout it cannot legally change anyway.
    */
  def tableLayout(spark: SparkSession, path: String): Option[(String, Int)] = {
    val v = currentVersion(spark, path)
    require(v >= 0, s"$path has no version log")
    versionLayout(spark, path, v)
  }

  /** [[tableLayout]] at a PINNED version — what a time-traveled table
    * must report (a relayout after the pin changes the head's bucket
    * count, not the pinned version's files).
    */
  def versionLayout(spark: SparkSession, path: String,
      version: Long): Option[(String, Int)] = {
    val (_, root) = fsFor(spark, path)
    readManifestOpt(spark, root, version, resolveShards = false)
      .flatMap(_.layout)
  }

  /** The table's recorded layout in the UNIFORM shape — single-key
    * tables as one-element sequences, composite grids as their full
    * per-dimension key columns and bucket counts; None for unkeyed.
    * The shape the grid-capable DML verbs route by.
    */
  def tableLayoutKeys(spark: SparkSession, path: String)
      : Option[(Seq[String], Seq[Int])] = {
    val v = currentVersion(spark, path)
    require(v >= 0, s"$path has no version log")
    val (_, root) = fsFor(spark, path)
    readManifestOpt(spark, root, v, resolveShards = false).flatMap { m =>
      m.layout.map { case (k, n) => (Seq(k), Seq(n)) }
        .orElse(if (m.layoutCols.size >= 2 &&
            m.layoutNs.size == m.layoutCols.size)
          Some((m.layoutCols, m.layoutNs)) else None)
    }
  }

  /** The version's COMPOSITE (grid) layout — per-dimension key columns
    * and bucket counts; None for single-key or unkeyed tables.
    */
  def versionGridLayout(spark: SparkSession, path: String,
      version: Long): Option[(Seq[String], Seq[Int])] = {
    val (_, root) = fsFor(spark, path)
    readManifestOpt(spark, root, version, resolveShards = false)
      .filter(m => m.layoutCols.size >= 2 &&
        m.layoutNs.size == m.layoutCols.size)
      .map(m => (m.layoutCols, m.layoutNs))
  }

  /** The table's recorded stats specs (plain min/max columns and
    * `bloom:c` entries) — the skipping contract, for observability
    * surfaces like DESCRIBE EXTENDED.
    */
  def tableStatsCols(spark: SparkSession, path: String): Seq[String] = {
    val (_, root) = fsFor(spark, path)
    val v = currentVersion(spark, path)
    require(v >= 0, s"$path has no version log")
    readManifestOpt(spark, root, v, resolveShards = false)
      .map(_.statsCols).getOrElse(Seq.empty)
  }

  /** Whether every current data file is key-sorted (the sorted-scan
    * contract — see Manifest.keySorted). Operator-facing: DESCRIBE
    * surfaces it, and a false answer means a clusterBy/zOrder layout
    * is active and merge joins will sort.
    */
  def tableKeySorted(spark: SparkSession, path: String): Boolean = {
    val (_, root) = fsFor(spark, path)
    val v = currentVersion(spark, path)
    require(v >= 0, s"$path has no version log")
    readManifestOpt(spark, root, v, resolveShards = false)
      .exists(_.keySorted)
  }

  /** A batch (or the table, at [[addConstraint]] time) holds rows that
    * fail a recorded CHECK constraint — the commit was REFUSED, the
    * table is unchanged.
    */
  final class ConstraintViolation(msg: String)
    extends IllegalArgumentException(msg)

  /** SQL-CHECK evaluation (Delta semantics): a row VIOLATES a constraint
    * only when the expression evaluates to literal false — null passes
    * (that's what `x IS NOT NULL` constraints are for). One aggregate
    * job counts violations of EVERY constraint at once; throws
    * [[ConstraintViolation]] naming each failing constraint and its
    * count. `what` labels the batch in the error.
    */
  private def enforceConstraints(df: DataFrame,
      constraints: Seq[(String, String)], what: String): Unit = {
    if (constraints.isEmpty) return
    val aggs = constraints.map { case (_, e) =>
      sum(when(not(coalesce(expr(e).cast("boolean"), lit(true))), 1L)
        .otherwise(0L))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val violated = constraints.zipWithIndex.flatMap { case ((n, e), i) =>
      val c = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (c > 0) Some(s"$n (CHECK $e): $c row(s)") else None
    }
    if (violated.nonEmpty)
      throw new ConstraintViolation(
        s"$what violates ${violated.size} constraint(s) — commit refused: " +
        violated.mkString("; "))
  }

  /** The table's recorded CHECK constraints (name -> SQL expression). */
  def tableConstraints(spark: SparkSession,
      path: String): Seq[(String, String)] = {
    val (_, root) = fsFor(spark, path)
    val v = currentVersion(spark, path)
    require(v >= 0, s"$path has no version log")
    readManifestOpt(spark, root, v, resolveShards = false)
      .map(_.constraints).getOrElse(Seq.empty)
  }

  /** ADD CONSTRAINT (Delta's `ALTER TABLE ... ADD CONSTRAINT ... CHECK`):
    * validate every CURRENT row against `exprSql` (one scan — at 100 TB
    * this is the unavoidable full validation Delta performs too), then
    * commit a METADATA-ONLY version recording it; every later [[upsert]]
    * batch is checked against it at commit time. Refuses (and commits
    * nothing) when existing rows violate. NOT NULL is the special case
    * `col IS NOT NULL`.
    */
  def addConstraint(spark: SparkSession, path: String, name: String,
      exprSql: String, maxRetries: Int = 5): Long = {
    val (fs, root) = fsFor(spark, path)
    retryCommit("addConstraint", path, maxRetries) { _ =>
      val parentV = currentVersion(spark, path)
      require(parentV >= 0, s"$path has no version log")
      val parent = readManifest(spark, root, parentV)
      require(!parent.constraints.exists(_._1 == name),
        s"constraint $name already exists on $path")
      enforceConstraints(versionDf(spark, path, root, parent),
        Seq((name, exprSql)), s"the existing rows of $path")
      writeManifest(fs, root,
        parent.copy(version = parentV + 1, parent = parentV,
          txn = None, ts = nextTs(parent), op = Some("addConstraint"),
          rowsUpserted = 0L, rowsDeleted = 0L,
          constraints = parent.constraints :+ ((name, exprSql))),
        parent = Some(parent), touched = Some(Set.empty))
      parentV + 1
    }
  }

  /** DROP CONSTRAINT: metadata-only commit removing `name`. */
  def dropConstraint(spark: SparkSession, path: String, name: String,
      maxRetries: Int = 5): Long = {
    val (fs, root) = fsFor(spark, path)
    retryCommit("dropConstraint", path, maxRetries) { _ =>
      val parentV = currentVersion(spark, path)
      require(parentV >= 0, s"$path has no version log")
      val parent = readManifest(spark, root, parentV)
      require(parent.constraints.exists(_._1 == name),
        s"no constraint $name on $path (have: " +
        s"${parent.constraints.map(_._1).mkString(", ")})")
      writeManifest(fs, root,
        parent.copy(version = parentV + 1, parent = parentV,
          txn = None, ts = nextTs(parent), op = Some("dropConstraint"),
          rowsUpserted = 0L, rowsDeleted = 0L,
          constraints = parent.constraints.filterNot(_._1 == name)),
        parent = Some(parent), touched = Some(Set.empty))
      parentV + 1
    }
  }

  /** TYPE WIDENING (Delta's type-widening table, the subset whose
    * narrower values embed LOSSLESSLY in the wider type and whose
    * parquet physical encodings the Spark 4 readers promote): integral
    * up-chain, byte/short/int into double (53-bit mantissa holds every
    * int), float into double, and decimal growth that loses neither
    * scale nor integer digits. Widened commits record the wider schema;
    * older versions keep — and read under — their own narrower one.
    */
  private def canWiden(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) =>
        true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType)             => true
      case (FloatType, DoubleType)                          => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          t.precision - t.scale >= f.precision - f.scale &&
          (t.precision != f.precision || t.scale != f.scale)
      case _ => false
    }

  /** The column names a CHECK constraint's SQL expression references —
    * a rename/drop of one of them would silently invalidate the
    * recorded expression, so those operations refuse first.
    */
  private def constraintColumns(spark: SparkSession,
      exprSql: String): Set[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    spark.sessionState.sqlParser.parseExpression(exprSql).collect {
      case a: UnresolvedAttribute => a.nameParts.head
    }.toSet
  }

  /** RENAME COLUMN — metadata-only, Delta's column-mapping (name mode):
    * no data file is touched at any table size. The manifest's LOGICAL
    * schema renames the field; `colMap` records that the new logical
    * name still reads the column's original PHYSICAL name, which every
    * file — past and future — stores ([[stageAndMove]] translates
    * writes, [[versionDf]] translates reads). Time travel is exact:
    * each version reads under its OWN mapping, so pre-rename versions
    * answer with the old name; change feeds and diffs spanning the
    * rename align on the logical name. Layout key and statsCols follow
    * the rename (they are logical); CHECK constraints referencing the
    * column refuse the rename rather than silently break.
    *
    * The new name must be free: not an existing logical column, not a
    * physical name some OTHER column's data still occupies (colMap
    * values and [[dropColumn]]'s retired names) — re-using such a name
    * would make old files' values resurface under the wrong column.
    */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String, maxRetries: Int = 5): Long = {
    require(from != to, s"rename to the same name '$from' is a no-op")
    val (fs, root) = fsFor(spark, path)
    retryCommit("renameColumn", path, maxRetries) { _ =>
      val parentV = currentVersion(spark, path)
      require(parentV >= 0, s"$path has no version log")
      val parent = readManifest(spark, root, parentV)
      val schema = parent.dataSchema.map(schemaFromString).getOrElse(
        throw new IllegalArgumentException(
          s"$path records no schema — rewrite with writeKeyed first"))
      require(schema.fieldNames.contains(from),
        s"no column '$from' in ${schema.fieldNames.mkString(", ")}")
      require(!schema.fieldNames.contains(to),
        s"column '$to' already exists")
      require(!to.startsWith("@"),
        s"column name '$to' is reserved ('@' prefix marks engine " +
        "metadata entries — sidecar refs and the statsx placeholder); " +
        "its stats entries would collide with the per-file placeholder")
      val l2p = parent.colMap.toMap
      val physInUse = schema.fieldNames.toSeq.filterNot(_ == from)
        .map(c => l2p.getOrElse(c, c)).toSet ++ parent.physRetired
      require(!physInUse.contains(to),
        s"'$to' is still a PHYSICAL column name in this table's files " +
        "(held by another column or retired by a drop) — re-using it " +
        "would resurrect old file data under the new name; pick " +
        "another name or rewrite the table")
      // a RETIRED logical name is reserved too (r19): stats sidecars
      // written while it was current still store it, and reusing it
      // would make those entries ambiguous between the old column and
      // this one — mis-pruning territory
      require(!parent.colAliases.exists(_._1 == to),
        s"'$to' was a previous logical name of a column in this table " +
        "(immutable stats sidecars may still reference it) — pick " +
        "another name or rewrite the table")
      parent.constraints.foreach { case (n, e) =>
        require(!constraintColumns(spark, e).contains(from),
          s"CHECK constraint '$n' ($e) references '$from' — drop the " +
          "constraint first, then rename and re-add it")
      }
      val physical = l2p.getOrElse(from, from)
      val newMap = parent.colMap.filterNot(_._1 == from) :+
        ((to, physical))
      // rename history: sidecars written while `from` was current store
      // `from` in their entries; record the alias so the planner can
      // translate them forever (skipped when `from` IS the physical
      // name — colMap's physical->logical mapping already covers that)
      val newAliases =
        if (from == physical) parent.colAliases
        else parent.colAliases :+ ((from, physical))
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      writeManifest(fs, root,
        parent.copy(version = parentV + 1, parent = parentV,
          txn = None, ts = nextTs(parent), op = Some("renameColumn"),
          rowsUpserted = 0L, rowsDeleted = 0L,
          dataSchema = Some(schemaToString(newSchema)),
          layout = parent.layout.map { case (k, n) =>
            (if (k == from) to else k, n)
          },
          layoutCols = parent.layoutCols.map(k =>
            if (k == from) to else k),
          statsCols = parent.statsCols.map {
            case c if c == from => to
            // each spec KEEPS its own prefix (r18 fix: `bloomx:from`
            // used to rename to `bloom:to`, silently de-externalizing
            // the table's next commit; `statsx:from` didn't rename at
            // all, crashing the next stats aggregate)
            case c if Skipping.isExternalBloomSpec(c) &&
                Skipping.bloomBase(c) == from =>
              Skipping.BloomxPrefix + to
            case c if Skipping.isBloomSpec(c) &&
                Skipping.bloomBase(c) == from =>
              Skipping.BloomPrefix + to
            case c if Skipping.isStatsxSpec(c) &&
                c.stripPrefix(Skipping.StatsxPrefix) == from =>
              Skipping.StatsxPrefix + to
            case c if Skipping.isNdvSpec(c) &&
                c.stripPrefix(Skipping.NdvPrefix) == from =>
              Skipping.NdvPrefix + to
            case c if Skipping.isNdvxSpec(c) &&
                c.stripPrefix(Skipping.NdvxPrefix) == from =>
              Skipping.NdvxPrefix + to
            case c => c
          },
          stats = parent.stats.map {
            case e if e.col == from => e.copy(col = to)
            case e if Skipping.isBloomSpec(e.col) &&
                Skipping.bloomBase(e.col) == from =>
              e.copy(col = Skipping.BloomPrefix + to)
            case e if Skipping.isNdvSpec(e.col) &&
                e.col.stripPrefix(Skipping.NdvPrefix) == from =>
              e.copy(col = Skipping.NdvPrefix + to)
            case e => e
          },
          colMap = newMap.filter { case (l, p) => l != p },
          colAliases = newAliases),
        parent = Some(parent), touched = Some(Set.empty))
      parentV + 1
    }
  }

  /** ADD COLUMN — metadata-only (`ALTER TABLE ... ADD COLUMN`): the
    * logical schema gains a NULLABLE column; no file is touched at any
    * table size, existing rows read as null (the same alignment the
    * upsert-driven evolution path uses), and later upserts carry it
    * like any other column. The name must be free of the PHYSICAL
    * collisions [[renameColumn]] documents — a name old files still
    * hold (renamed-away or dropped) would resurrect their stale
    * values.
    */
  def addColumn(spark: SparkSession, path: String, name: String,
      dataType: DataType, maxRetries: Int = 5): Long = {
    val (fs, root) = fsFor(spark, path)
    retryCommit("addColumn", path, maxRetries) { _ =>
      val parentV = currentVersion(spark, path)
      require(parentV >= 0, s"$path has no version log")
      val parent = readManifest(spark, root, parentV)
      val schema = parent.dataSchema.map(schemaFromString).getOrElse(
        throw new IllegalArgumentException(
          s"$path records no schema — rewrite with writeKeyed first"))
      require(!schema.fieldNames.contains(name),
        s"column '$name' already exists")
      require(!name.startsWith("@"),
        s"column name '$name' is reserved ('@' prefix marks engine " +
        "metadata entries — sidecar refs and the statsx placeholder)")
      val l2p = parent.colMap.toMap
      val physInUse = schema.fieldNames.toSeq
        .map(c => l2p.getOrElse(c, c)).toSet ++ parent.physRetired
      require(!physInUse.contains(name),
        s"'$name' is still a PHYSICAL column name in this table's " +
        "files (held by a renamed column or retired by a drop) — " +
        "re-using it would resurrect old file data; pick another name")
      // a RETIRED logical name is reserved here exactly as in
      // [[renameColumn]]: stats sidecars written while it was current
      // still store it, and histToCur would translate the re-added
      // column's future entries into the RENAMED column's stats —
      // bounds on that column would then prune with this one's min/max
      require(!parent.colAliases.exists(_._1 == name),
        s"'$name' was a previous logical name of a column in this table " +
        "(immutable stats sidecars may still reference it) — pick " +
        "another name or rewrite the table")
      writeManifest(fs, root,
        parent.copy(version = parentV + 1, parent = parentV,
          txn = None, ts = nextTs(parent), op = Some("addColumn"),
          rowsUpserted = 0L, rowsDeleted = 0L,
          dataSchema = Some(schemaToString(schema.add(name, dataType,
            nullable = true)))),
        parent = Some(parent), touched = Some(Set.empty))
      parentV + 1
    }
  }

  /** WIDEN a column's type — metadata-only (`ALTER TABLE ... ALTER
    * COLUMN c TYPE t`): the logical schema takes the wider type, NO
    * file is touched at any table size (the Spark 4 parquet readers
    * promote the narrower physical values — the same mechanism the
    * upsert-driven widening rides), older versions keep their own
    * narrower schema, and later upserts speak the wide type without
    * allowEvolution. Only [[canWiden]] changes are accepted; the
    * LAYOUT KEY's type is part of the layout (its hash routes
    * buckets) and cannot change.
    */
  def widenColumn(spark: SparkSession, path: String, name: String,
      to: DataType, maxRetries: Int = 5): Long = {
    val (fs, root) = fsFor(spark, path)
    retryCommit("widenColumn", path, maxRetries) { _ =>
      val parentV = currentVersion(spark, path)
      require(parentV >= 0, s"$path has no version log")
      val parent = readManifest(spark, root, parentV)
      val schema = parent.dataSchema.map(schemaFromString).getOrElse(
        throw new IllegalArgumentException(
          s"$path records no schema — rewrite with writeKeyed first"))
      require(schema.fieldNames.contains(name),
        s"no column '$name' in ${schema.fieldNames.mkString(", ")}")
      val f = schema(name)
      if (f.dataType.catalogString == to.catalogString)
        parentV // no-op: already that type
      else {
        require(canWiden(f.dataType, to),
          s"column '$name' cannot change ${f.dataType.simpleString} -> " +
          s"${to.simpleString} — only lossless widening " +
          "(integral up-chain, float->double, decimal growth) is " +
          "metadata-only; anything else needs a rewrite")
        require(!parent.layoutCols.contains(name),
          s"the composite layout key '$name' cannot change type — its " +
          "hash routes grid cells; rewrite with writeKeyedCols")
        parent.layout.foreach { case (k, _) =>
          require(name != k,
            s"the layout key '$k' cannot change type — its hash routes " +
            "buckets; rewrite via relayout/writeKeyed")
        }
        writeManifest(fs, root,
          parent.copy(version = parentV + 1, parent = parentV,
            txn = None, ts = nextTs(parent), op = Some("widenColumn"),
            rowsUpserted = 0L, rowsDeleted = 0L,
            dataSchema = Some(schemaToString(StructType(schema.fields.map(x =>
              if (x.name == name) x.copy(dataType = to) else x)))),
            // the existing files' `bloom:name` filters hashed the
            // NARROW internal form (xxhash64(int) != xxhash64(long) for
            // the same value): probed under the wide type they would
            // report "absent" for present values and silently drop
            // files. Drop those stale entries (old files fall back to
            // never-prunes, which is sound); the spec stays in
            // statsCols so files written AFTER the widen index under
            // the wide type. Min/max interval entries survive: the
            // encoded domain (exact decimal strings; floats stored as
            // their exact double image) is widening-invariant.
            stats = parent.stats.filterNot(e =>
              Skipping.isBloomSpec(e.col) &&
                Skipping.bloomBase(e.col) == name)),
          parent = Some(parent), touched = Some(Set.empty))
        parentV + 1
      }
    }
  }

  /** DROP COLUMN — metadata-only, like [[renameColumn]]: the column
    * leaves the logical schema and every read projects it away; old
    * files keep the physical bytes until their buckets naturally
    * rewrite. Its physical name is RETIRED (recorded in the manifest)
    * so a later add-column cannot collide with it and resurrect stale
    * values. Time travel still reads the column at pre-drop versions.
    * The layout key cannot be dropped; CHECK constraints referencing
    * the column refuse the drop.
    */
  def dropColumn(spark: SparkSession, path: String, name: String,
      maxRetries: Int = 5): Long = {
    val (fs, root) = fsFor(spark, path)
    retryCommit("dropColumn", path, maxRetries) { _ =>
      val parentV = currentVersion(spark, path)
      require(parentV >= 0, s"$path has no version log")
      val parent = readManifest(spark, root, parentV)
      val schema = parent.dataSchema.map(schemaFromString).getOrElse(
        throw new IllegalArgumentException(
          s"$path records no schema — rewrite with writeKeyed first"))
      require(schema.fieldNames.contains(name),
        s"no column '$name' in ${schema.fieldNames.mkString(", ")}")
      require(schema.fields.length > 1,
        s"cannot drop the last column of $path")
      parent.layout.foreach { case (k, _) =>
        require(k != name,
          s"'$name' is the table's bucketing key — relayout first")
      }
      require(!parent.layoutCols.contains(name),
        s"'$name' is part of the table's composite bucketing key — " +
        "rewrite with a new layout first")
      parent.constraints.foreach { case (n, e) =>
        require(!constraintColumns(spark, e).contains(name),
          s"CHECK constraint '$n' ($e) references '$name' — drop the " +
          "constraint first")
      }
      val physical = parent.colMap.toMap.getOrElse(name, name)
      writeManifest(fs, root,
        parent.copy(version = parentV + 1, parent = parentV,
          txn = None, ts = nextTs(parent), op = Some("dropColumn"),
          rowsUpserted = 0L, rowsDeleted = 0L,
          dataSchema = Some(schemaToString(StructType(
            schema.fields.filterNot(_.name == name)))),
          statsCols = parent.statsCols.filterNot(c => c == name ||
            (Skipping.isBloomSpec(c) && Skipping.bloomBase(c) == name) ||
            // r18: a dropped statsx column's spec must go too, or the
            // next commit's stats aggregate references a gone column
            (Skipping.isStatsxSpec(c) &&
              c.stripPrefix(Skipping.StatsxPrefix) == name) ||
            ((Skipping.isNdvSpec(c) || Skipping.isNdvxSpec(c)) &&
              Skipping.ndvBase(c) == name)),
          stats = parent.stats.filterNot(e =>
            (Skipping.isNdvSpec(e.col) &&
              e.col.stripPrefix(Skipping.NdvPrefix) == name) ||
            (e.col == name &&
            // dropping a data column literally named "statsx" on a
            // pre-r19 table must not purge the shape-identical legacy
            // placeholder entries — that would orphan every OTHER
            // externalized column's sidecar stats and their liveness
            !Skipping.isStatsxPlaceholder(e)) ||
            (Skipping.isBloomSpec(e.col) &&
              Skipping.bloomBase(e.col) == name)),
          colMap = parent.colMap.filterNot(_._1 == name),
          physRetired = (parent.physRetired :+ physical).distinct),
        parent = Some(parent), touched = Some(Set.empty))
      parentV + 1
    }
  }

  /** Per-file min/max stats for bucket-partitioned parquet under `dir`,
    * keyed by the table-relative `__bucket=N/<file>` name — one aggregate
    * job over just-written (hot) data; result rows bounded by
    * files × statsCols, a driver-safe collect. Values use [[Skipping]]'s
    * type-exact string encoding, so re-parse-and-compare is lossless.
    */
  /** EXTERNALIZE `bloomx:` filters (see [[Skipping.BloomxPrefix]]):
    * each affected entry's inline blob moves to one content-private
    * sidecar file under `_graft_bloom/<commit-uuid>/` and the entry
    * keeps only the `@`-prefixed root-relative ref — bytes of
    * manifest per file instead of ~12 KB. Inline `bloom:` entries
    * pass through untouched; entries already holding refs (carried
    * over from the parent manifest) too. Sidecars are immutable and
    * vacuum-managed like DV sidecars.
    */
  private def externalizeBlooms(fs: FileSystem, root: Path,
      entries: Seq[Skipping.FileStats], statsCols: Seq[String])
      : Seq[Skipping.FileStats] = {
    val ext = statsCols.filter(Skipping.isExternalBloomSpec)
      .map(Skipping.bloomBase).toSet
    // `statsx:` range entries externalize too — but a column ALSO
    // declared plain stays inline (the caller asked for both forms)
    val extStats = statsCols.filter(Skipping.isStatsxSpec)
      .map(_.stripPrefix(Skipping.StatsxPrefix)).toSet --
      statsCols.filterNot(c =>
        Skipping.isBloomSpec(c) || Skipping.isStatsxSpec(c)).toSet
    val entries1 =
      if (extStats.isEmpty) entries
      else externalizeRangeStats(fs, root, entries, extStats)
    // `ndvx:` sketch blobs externalize exactly like bloomx filters:
    // the entry (named `ndv:c` either way) keeps only the `@` ref
    val extNdv = statsCols.filter(Skipping.isNdvxSpec)
      .map(Skipping.ndvBase).toSet
    if (ext.isEmpty && extNdv.isEmpty) return entries1
    val entries2 = entries1
    val dir = "_graft_bloom/" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val todo = entries2.zipWithIndex.filter { case (e, _) =>
      ((Skipping.isBloomSpec(e.col) &&
          ext.contains(Skipping.bloomBase(e.col))) ||
        (Skipping.isNdvSpec(e.col) &&
          extNdv.contains(Skipping.ndvBase(e.col)))) &&
        e.bloom.exists(!Skipping.isBloomRef(_))
    }
    if (todo.isEmpty) return entries2
    fs.mkdirs(new Path(root, dir))
    // the sidecar creates are independent tiny writes — parallelize
    // (a wide commit externalizes one file per data file·column; at
    // ~10 ms per create, serial would dominate the commit)
    val out = new Array[Skipping.FileStats](entries2.size)
    entries2.zipWithIndex.foreach { case (e, i) => out(i) = e }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, todo.size)))
    try {
      val futures = todo.map { case (e, i) =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val md = java.security.MessageDigest.getInstance("MD5")
            val name = md.digest((e.file + "|" + e.col)
              .getBytes("UTF-8")).map("%02x".format(_)).mkString
            val rel = s"$dir/$name.bf"
            val o = fs.create(new Path(root, rel), true)
            try o.write(
              java.util.Base64.getDecoder.decode(e.bloom.get))
            finally o.close()
            out(i) = e.copy(bloom = Some(Skipping.BloomRefMark + rel))
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    out.toSeq
  }

  /** EXTERNALIZE `statsx:` range entries (see [[Skipping.StatsxPrefix]]):
    * each data file's statsx-column min/max/null/sum entries move to ONE
    * `.sx` sidecar (all columns together, one tiny create per file, not
    * per file·column) under the same `_graft_bloom/<commit-uuid>/`
    * family as external blooms; the manifest keeps one placeholder
    * entry per file — name [[Skipping.StatsxEntry]], the `@` ref in its
    * `bloom` field (vacuum liveness + manifest round-trip for free) and
    * the file's row count preserved for COUNT(*) planning. Entries
    * already externalized (parent carry-over placeholders) pass through.
    */
  private def externalizeRangeStats(fs: FileSystem, root: Path,
      entries: Seq[Skipping.FileStats], extCols: Set[String])
      : Seq[Skipping.FileStats] = {
    val (move, keep) = entries.partition(e =>
      extCols.contains(e.col) && !Skipping.isBloomSpec(e.col) &&
        // a carried-over placeholder (incl. the legacy bare-named one)
        // must pass through, never be re-externalized as if it were a
        // data column's entry
        !Skipping.isStatsxPlaceholder(e))
    if (move.isEmpty) return entries
    val dir = "_graft_bloom/" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    fs.mkdirs(new Path(root, dir))
    val byFile = move.groupBy(_.file).toSeq.sortBy(_._1)
    val placeholders = new Array[Skipping.FileStats](byFile.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, byFile.size)))
    try {
      val futures = byFile.zipWithIndex.map { case ((f, es), i) =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val md = java.security.MessageDigest.getInstance("MD5")
            val name = md.digest((f + "|statsx").getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            val rel = s"$dir/$name.sx"
            val o = fs.create(new Path(root, rel), true)
            try o.write(Skipping.encodeStatsSidecar(es))
            finally o.close()
            placeholders(i) = Skipping.FileStats(f, Skipping.StatsxEntry,
              None, None, rows = es.head.rows,
              bloom = Some(Skipping.BloomRefMark + rel))
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    (keep ++ placeholders).sortBy(e => (e.file, e.col))
  }

  /** Shape/type validation for a stats-spec list against a schema.
    * Runs even for EMPTY commits (CREATE TABLE before any INSERT),
    * where the per-file stats pass never executes but the spec
    * PERSISTS in the manifest: a bad spec must be refused at
    * declaration, not as an opaque DATATYPE_MISMATCH deep inside the
    * first INSERT's stats job (which would poison every later write).
    * `ndv:` accepts exactly hll_sketch_agg's input types; int→long
    * widening keeps existing sketches consistent (the agg updates both
    * as the long value — verified against the Spark 4.1.2 bytecode),
    * so no widen guard is needed.
    */
  private def validateStatsSpecs(schema: StructType,
      statsCols: Seq[String]): Unit = statsCols.foreach { c =>
    val base =
      if (Skipping.isBloomSpec(c)) Skipping.bloomBase(c)
      else if (Skipping.isStatsxSpec(c))
        c.stripPrefix(Skipping.StatsxPrefix)
      else if (Skipping.isNdvSpec(c) || Skipping.isNdvxSpec(c))
        Skipping.ndvBase(c)
      else c
    require(!base.startsWith("@"),
      s"stats column name '$base' is reserved ('@' prefix marks " +
        "engine metadata entries)")
    require(schema.fieldNames.contains(base),
      s"stats column $base not in ${schema.fieldNames.mkString(", ")}")
    if (Skipping.isNdvSpec(c) || Skipping.isNdvxSpec(c))
      schema(base).dataType match {
      case IntegerType | LongType | StringType | BinaryType => ()
      case dt => throw new IllegalArgumentException(
        s"ndv: supports int/long/string/binary columns; '$base' is " +
          s"${dt.simpleString} — cast or hash it into a supported " +
          "column first")
    }
  }

  /** The shared per-file stats kernel — aggregation columns and the
    * group-row → entries decoder — used by BOTH the write path
    * ([[bucketFileStats]], grouped by staged file) and ANALYZE
    * ([[analyzeTable]], grouped by live file), so the encodings (sum
    * decimal widening, bloom bits, ndv lgK, the all-null ndv entry
    * convention) can never drift between them.
    */
  private def statsSumCols(df: DataFrame,
      rangeCols: Seq[String]): Seq[String] =
    // integral AND decimal stats columns also record an EXACT per-file
    // sum (integrals summed as decimal(38,0) so no overflow at any
    // file size; decimals keep their scale — a per-file overflow of
    // decimal(38,s) nulls the entry, which reads as "unknown" and
    // soundly declines the pushdown) — what lets SUM(col) answer from
    // the manifest like COUNT/MIN/MAX. Floats stay out: their sum
    // depends on addition order.
    rangeCols.filter(c => df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _: DecimalType => true
      case _ => false
    })

  private def statsAggs(df: DataFrame, rangeCols: Seq[String],
      sumCols: Seq[String], bloomCols: Seq[String],
      ndvCols: Seq[String]): Seq[Column] = {
    def sumAgg(c: String) = df.schema(c).dataType match {
      case _: DecimalType => sum(col(c))
      case _ => sum(col(c).cast(DecimalType(38, 0)))
    }
    rangeCols.flatMap(c =>
      Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c"),
        count(col(c)).as(s"__nn_$c"))) ++
      sumCols.map(c => sumAgg(c).as(s"__sm_$c")) ++
      bloomCols.map(c => org.apache.spark.sql.GraftShim.bloomAgg(
        xxhash64(col(c)), Skipping.BloomExpectedItems,
        Skipping.BloomNumBits).as(s"__bf_$c")) ++
      ndvCols.map(c => hll_sketch_agg(col(c),
        lit(Skipping.NdvLgK)).as(s"__nv_$c")) :+
      count(lit(1)).as("__rows")
  }

  private def statsEntriesOf(r: org.apache.spark.sql.Row, file: String,
      rangeCols: Seq[String], sumCols: Seq[String],
      bloomCols: Seq[String], ndvCols: Seq[String])
      : Seq[Skipping.FileStats] = {
    val nRows = r.getLong(r.fieldIndex("__rows"))
    rangeCols.map { c =>
      Skipping.FileStats(file, c,
        Option(r.get(r.fieldIndex(s"__mn_$c")))
          .map(v => Skipping.encode(Skipping.statMin(v))),
        Option(r.get(r.fieldIndex(s"__mx_$c")))
          .map(v => Skipping.encode(Skipping.statMax(v))),
        rows = nRows,
        nulls = nRows - r.getLong(r.fieldIndex(s"__nn_$c")),
        sum =
          if (!sumCols.contains(c)) None
          else Option(r.get(r.fieldIndex(s"__sm_$c")))
            .map(_.asInstanceOf[java.math.BigDecimal].toPlainString))
    } ++ bloomCols.flatMap { c =>
      Option(r.getAs[Array[Byte]](r.fieldIndex(s"__bf_$c"))).map(b =>
        Skipping.FileStats(file, Skipping.BloomPrefix + c, None, None,
          rows = nRows,
          bloom = Some(java.util.Base64.getEncoder.encodeToString(b))))
    } ++ ndvCols.map { c =>
      // always an entry: an all-null file's sketch may come back null
      // and must read as "contributes zero distincts", not "missing"
      Skipping.FileStats(file, Skipping.NdvPrefix + c, None, None,
        rows = nRows,
        bloom = Option(r.getAs[Array[Byte]](r.fieldIndex(s"__nv_$c")))
          .map(java.util.Base64.getEncoder.encodeToString))
    }
  }

  /** Per-file stats of `files`, the `__bucket=N/` data files a writer
    * just listed under `dir`, read under `schema`, the schema it wrote
    * (the __bucket partition column included): no listing and no footer
    * inference.
    */
  private def bucketFileStats(spark: SparkSession, dir: Path,
      files: Seq[FileStatus], statsCols: Seq[String],
      schema: StructType): Seq[Skipping.FileStats] = {
    // an EMPTY initial commit (CREATE TABLE before any INSERT) wrote no
    // data files — nothing to collect stats over; later commits record
    // stats for the files they write, statsCols persists in the manifest
    if (statsCols.isEmpty || files.isEmpty) return Seq.empty
    val df = ManifestScan.scan(spark, files, Some(dir.toString), Some(schema))
    // `bloom:c` specs index column c with a per-file Bloom filter
    // (point-lookup pruning); plain names and `statsx:c` record min/max
    // intervals (statsx differs only at manifest-write time, where
    // [[externalizeBlooms]] moves the entries to a sidecar); `ndv:c`
    // records a per-file HLL distinct sketch ([[Skipping.NdvPrefix]]).
    // One aggregate pass computes all of it.
    val (bloomSpecs, nonBloom) = statsCols.partition(Skipping.isBloomSpec)
    val (ndvSpecs, rangeSpecs) = nonBloom.partition(c =>
      Skipping.isNdvSpec(c) || Skipping.isNdvxSpec(c))
    val rangeCols = rangeSpecs
      .map(_.stripPrefix(Skipping.StatsxPrefix)).distinct
    val bloomCols = bloomSpecs.map(Skipping.bloomBase).distinct
    val ndvCols = ndvSpecs.map(Skipping.ndvBase).distinct
    (rangeCols ++ bloomCols ++ ndvCols).foreach { c =>
      // `@` leads sidecar refs and the statsx placeholder entry
      // ([[Skipping.StatsxEntry]]); a stats entry with that prefix would
      // be indistinguishable from engine metadata
      require(!c.startsWith("@"),
        s"stats column name '$c' is reserved ('@' prefix marks engine " +
          "metadata entries)")
      require(df.columns.contains(c),
        s"stats column $c not in ${df.columns.mkString(", ")}")
    }
    val sumCols = statsSumCols(df, rangeCols)
    val aggs = statsAggs(df, rangeCols, sumCols, bloomCols, ndvCols)
    val rows = df.groupBy(input_file_name().as("__f"), col("__bucket"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.flatMap { r =>
      val name = new Path(r.getString(0)).getName
      val bucket = r.get(1) match { case n: Number => n.longValue }
      statsEntriesOf(r, s"__bucket=$bucket/$name", rangeCols, sumCols,
        bloomCols, ndvCols)
    }.toSeq.sortBy(e => (e.file, e.col))
  }

  /** Write `df` hash-bucketed by `keyCol` into `path` (the upsert-able
    * layout) and commit it as version 0. Bucket count sizes the rewrite
    * granularity: more buckets = finer copy-on-write, more directories.
    *
    * `statsCols` opts the table into MANIFEST-LEVEL DATA SKIPPING: every
    * commit (this one and each later upsert/delete/compaction) records
    * per-file min/max for these columns in its manifest, and the
    * `*Skipping` readers prune files by interval bounds before Spark
    * lists or opens anything — the Delta/Iceberg file-stats idea applied
    * to the version log. Costs one extra aggregate over each commit's
    * newly written files; tables that never pass `statsCols` pay nothing.
    *
    * `manifestShardSpan` opts the table into SHARDED manifests (the
    * production posture past ~millions of files): the version log's
    * file/stats lists are split into content-addressed shard files of
    * `manifestShardSpan` buckets each, the root manifest holds only the
    * shard refs, and every later commit rewrites ONLY the shards whose
    * bucket range it touched — commit metadata cost and write
    * amplification become O(touched data), matching the data files'
    * copy-on-write granularity. 0 (default) keeps the single-file
    * manifest, right for small tables. The span is part of the table
    * layout: later commits inherit it from the parent manifest.
    */
  def writeKeyed(df: DataFrame, path: String, keyCol: String,
      nBuckets: Int, statsCols: Seq[String] = Seq.empty,
      filesPerBucket: Int = 1, manifestShardSpan: Int = 0,
      constraints: Seq[(String, String)] = Seq.empty): Unit = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    require(manifestShardSpan >= 0, "manifestShardSpan must be >= 0")
    require(constraints.map(_._1).distinct.size == constraints.size,
      "constraint names must be unique")
    // validate the initial load BEFORE any write: a refused table leaves
    // no files behind — and the stats specs BEFORE they persist (an
    // empty CREATE commit skips the stats pass but keeps the spec)
    enforceConstraints(df, constraints, "the initial load")
    validateStatsSpecs(df.schema, statsCols)
    val (fs, root) = fsFor(df.sparkSession, path)
    if (fs.exists(root)) fs.delete(root, true) // fresh table, fresh log
    dropCachedManifests(root) // replaced table: stale memo entries out
    bucketPartitioned(
      df.withColumn("__bucket", bucketCol(keyCol, nBuckets)),
      filesPerBucket, nBuckets, sortKey = Seq(keyCol))
      .write.mode("overwrite").partitionBy("__bucket").parquet(path)
    val written = listDataStatuses(fs, root)
    writeManifest(fs, root, Manifest(0L, -1L, written.map(_._1),
      Some(schemaToString(df.schema)), layout = Some((keyCol, nBuckets)),
      statsCols = statsCols,
      stats = externalizeBlooms(fs, root,
        bucketFileStats(df.sparkSession, root, written.map(_._2), statsCols,
          df.schema.add("__bucket", LongType)), statsCols),
      ts = System.currentTimeMillis(), op = Some("write"),
      shardSpan = manifestShardSpan, constraints = constraints,
      keySorted = true))
  }

  /** Write a table bucketed on a COMPOSITE key tuple — the `(tenant,
    * id)`-style GRID layout whose whole point is the exchange-free
    * storage-partitioned join on both columns. Each column buckets
    * independently into its own `nBuckets(i)` cells and the physical
    * bucket is the row-major flattening ([[bucketColMulti]] — the
    * tuple-of-single-column-transforms shape Spark's SPJ machinery
    * accepts). The layout is recorded in the manifest's
    * `layoutCols`/`layoutNs`, NOT `layout`, so every single-key
    * consumer (upsert, DML, sinks, CDC slicing) sees an unkeyed table
    * and refuses loudly instead of misrouting — a composite table is
    * replace-whole by design until those verbs learn tuples. Reads
    * (V1 bridge and the native bucket scan), time travel, stats
    * skipping and vacuum work unchanged. Join sides must declare the
    * SAME column order with the same per-column counts (or compatible
    * ones under the gcd reduction, per dimension).
    */
  def writeKeyedCols(df: DataFrame, path: String, keyCols: Seq[String],
      nBuckets: Seq[Int], statsCols: Seq[String] = Seq.empty,
      filesPerBucket: Int = 1): Unit = {
    require(keyCols.size >= 2,
      "writeKeyedCols needs >= 2 key columns (writeKeyed for one)")
    require(keyCols.distinct.size == keyCols.size,
      "key columns must be distinct")
    require(nBuckets.size == keyCols.size,
      "one bucket count per key column")
    require(nBuckets.forall(_ >= 1), "bucket counts must be >= 1")
    val total = nBuckets.map(_.toLong).product
    require(total <= (1L << 20),
      s"grid of $total buckets is past the 2^20 sanity bound")
    validateStatsSpecs(df.schema, statsCols)
    val (fs, root) = fsFor(df.sparkSession, path)
    if (fs.exists(root)) fs.delete(root, true)
    dropCachedManifests(root)
    bucketPartitioned(
      df.withColumn("__bucket", bucketColMulti(keyCols, nBuckets)),
      filesPerBucket, total.toInt, sortKey = keyCols)
      .write.mode("overwrite").partitionBy("__bucket").parquet(path)
    val written = listDataStatuses(fs, root)
    writeManifest(fs, root, Manifest(0L, -1L, written.map(_._1),
      Some(schemaToString(df.schema)),
      statsCols = statsCols,
      stats = externalizeBlooms(fs, root,
        bucketFileStats(df.sparkSession, root, written.map(_._2), statsCols,
          df.schema.add("__bucket", LongType)), statsCols),
      ts = System.currentTimeMillis(), op = Some("write"),
      layoutCols = keyCols, layoutNs = nBuckets, keySorted = true))
  }

  /** Read a manifest's file set with the version's own schema (plus the
    * __bucket partition column, typed explicitly so files that PREDATE an
    * added column fill it with nulls instead of failing or being schema-
    * merged). The files, data and deletion vectors alike, are read as
    * named through [[ManifestScan]]: no glob, no listing and no listing
    * job. Only a manifest that records no schema (one written before
    * schema evolution) still goes through `spark.read`, with footer
    * inference and partition discovery.
    */
  private def versionDf(spark: SparkSession, path: String, root: Path,
      m: Manifest, keepPos: Boolean = false): DataFrame = {
    if (m.files.isEmpty) {
      // a legitimate state, not an error: a delete can empty the table
      // (found by MergeSpec's model property test). Only pre-schema
      // manifests have nothing to type an empty frame with.
      val schema = m.dataSchema.map(schemaFromString).getOrElse(
        throw new IllegalArgumentException(
          s"version ${m.version} of $path is empty and records no " +
          "schema — cannot type the empty frame"))
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.add("__bucket", "long"))
      return if (!keepPos) empty
        else empty.withColumn("__dv_file", lit(null).cast("string"))
          .withColumn("__dv_pos", lit(null).cast("long"))
    }
    // COLUMN MAPPING: files store PHYSICAL names — read under them,
    // rename back to the version's logical names at the end
    val l2p = m.colMap.toMap
    val schemaOpt = m.dataSchema.map(ddl =>
      StructType(schemaFromString(ddl).fields.map(f =>
        f.copy(name = l2p.getOrElse(f.name, f.name))))
        .add("__bucket", "long"))
    // deletion vectors (and position-keeping callers) need each row's
    // (file, position) identity from the scan's metadata columns
    val withPos = keepPos || m.dvFiles.nonEmpty
    // a shallow CLONE's manifest references files under OTHER table
    // roots by absolute path; each source root is its own basePath so
    // the __bucket partition column still derives from the dir name
    val (foreign, local) = m.files.partition(f => new Path(f).isAbsolute)
    require(foreign.isEmpty || schemaOpt.isDefined,
      s"version ${m.version} of $path references clone-source files " +
      "but records no schema — cannot align the groups")
    def read(base: String, files: Seq[String]) = {
      val df = schemaOpt match {
        case Some(_) => ManifestScan.read(spark, files, Some(base), schemaOpt)
        case None => spark.read.option("basePath", base).parquet(files: _*)
      }
      if (!withPos) df
      else df.withColumn("__dv_file", col("_metadata.file_path"))
        .withColumn("__dv_pos", col("_metadata.row_index"))
    }
    val parts =
      (if (local.nonEmpty)
        Seq(read(path, local.map(f => new Path(root, f).toString)))
      else Nil) ++
        foreign.groupBy(f => new Path(f).getParent.getParent.toString)
          .toSeq.sortBy(_._1)
          .map { case (base, fs) => read(base, fs) }
    val base = parts.reduce(_.unionByName(_))
    // MERGE-ON-READ: subtract the deletion vectors' (file, pos) rows.
    // The DV side is deleted-row-count sized; the anti-join broadcasts
    // it under the engine's own size estimate like any small side.
    // Mixed v1 (row) / v2 (bitmap) sidecars both resolve through the
    // superset schema — v2 blobs explode back to positions here (the
    // V1 bridge is per-row anyway; the native scan decodes blobs
    // straight into its sorted skip arrays instead).
    val dvApplied =
      if (m.dvFiles.isEmpty) base
      else {
        val raw = readDv(spark, root, m.dvFiles)
        val dv = raw.where(col("dv").isNull)
          .select(col("file"), col("pos"))
          .unionAll(raw.where(col("dv").isNotNull)
            .select(col("file"),
              explode(dvDecodeUdf(col("dv"))).as("pos")))
        base.join(dv, base("__dv_file") === dv("file") &&
          base("__dv_pos") === dv("pos"), "left_anti")
      }
    val logical = m.colMap.foldLeft(dvApplied) { case (df, (l, p)) =>
      if (l == p) df else df.withColumnRenamed(p, l)
    }
    if (keepPos) logical
    else if (withPos) logical.drop("__dv_file", "__dv_pos")
    else logical
  }

  /** The rows of one committed version (layout column dropped). Reads
    * with the version's OWN schema when the manifest records one, so a
    * version that predates an added column comes back without it, and a
    * post-evolution version reads pre-evolution files with nulls in the
    * new columns. Vacuumed versions raise a clear retention error.
    */
  def readVersion(spark: SparkSession, path: String,
      version: Long): DataFrame = {
    val (_, root) = fsFor(spark, path)
    val m = readManifest(spark, root, version)
    versionDf(spark, path, root, m).drop("__bucket")
  }

  /** The recorded commit wall-clock (epoch millis) of one version —
    * strictly increasing along the chain by construction.
    */
  def commitTime(spark: SparkSession, path: String, version: Long): Long = {
    val (_, root) = fsFor(spark, path)
    val ts = readManifest(spark, root, version).ts
    require(ts >= 0,
      s"$path v$version predates commit timestamps (manifest has no ts)")
    ts
  }

  /** TIME TRAVEL resolution: the version whose commit is the LATEST at
    * or before `timestampMillis` (Delta's `timestampAsOf` rule). Errors
    * if the timestamp predates the oldest RETAINED commit — after a
    * vacuum, history before the retention horizon is gone and silently
    * answering with a later snapshot would be wrong. Planning walks the
    * retained manifest chain driver-locally: O(versions) small JSON
    * reads, no data touched.
    */
  def versionAsOf(spark: SparkSession, path: String,
      timestampMillis: Long): Long = {
    val (_, root) = fsFor(spark, path)
    val cur = currentVersion(spark, path)
    require(cur >= 0, s"$path has no version log")
    var v = cur
    var oldestSeen = Long.MaxValue
    while (v >= 0) {
      readManifestOpt(spark, root, v, resolveShards = false) match {
        case Some(m) if m.ts >= 0 =>
          if (m.ts <= timestampMillis) return v
          oldestSeen = m.ts
        case _ => // vacuumed or pre-ts manifest: retention horizon
          throw new IllegalArgumentException(
            s"timestamp $timestampMillis predates $path's retained " +
            s"history (oldest retained commit: " +
            (if (oldestSeen == Long.MaxValue) "none with a timestamp"
             else s"$oldestSeen") +
            ") — older snapshots were vacuumed or predate commit stamps")
      }
      v -= 1
    }
    throw new IllegalArgumentException(
      s"timestamp $timestampMillis predates $path's first commit " +
      s"(v0 at $oldestSeen)")
  }

  /** Read the table AS OF a wall-clock instant ([[versionAsOf]] +
    * [[readVersion]]) — `SELECT ... TIMESTAMP AS OF` for the version
    * log.
    */
  def readAsOf(spark: SparkSession, path: String,
      timestampMillis: Long): DataFrame =
    readVersion(spark, path, versionAsOf(spark, path, timestampMillis))

  /** The table's current logical rows (latest version; raw directory read
    * for pre-versioning tables without a log).
    */
  def readKeyed(spark: SparkSession, path: String): DataFrame = {
    val v = currentVersion(spark, path)
    if (v < 0) spark.read.parquet(path).drop("__bucket")
    else readVersion(spark, path, v)
  }

  /** `exprs` evaluated on the driver: over a one-row LOCAL relation the
    * optimizer folds them to literals, so no Spark job runs.
    */
  private[sources] def evalLocal(spark: SparkSession,
      exprs: Seq[Column]): org.apache.spark.sql.Row =
    spark.createDataFrame(java.util.List.of(org.apache.spark.sql.Row()),
      new StructType()).select(exprs: _*).head()

  /** Files of `version` whose recorded per-file stats admit every bound,
    * plus the version's total file count — the MANIFEST-LEVEL skipping
    * plan for a versioned table (the [[Skipping]] sidecar idea composed
    * with the version log, as Delta/Iceberg record file stats in theirs).
    * Files without stats (table written before `statsCols`, or a column
    * not indexed) are conservatively kept. Exposed so callers and specs
    * can assert the index actually pruned.
    */
  def planVersionFiles(spark: SparkSession, path: String, version: Long,
      bounds: Seq[Skipping.Bound]): (Seq[String], Int) = {
    val (fs, root) = fsFor(spark, path)
    val m = readManifest(spark, root, version)
    val schema = m.dataSchema.map(schemaFromString).getOrElse(
      throw new IllegalArgumentException(
        s"$path v$version records no schema — cannot type the bounds"))
    bounds.foreach(b => require(schema.fieldNames.contains(b.column),
      s"bound column ${b.column} not in ${schema.fieldNames.mkString(", ")}"))
    // BUCKET-HASH pruning: a point or point-SET bound on a LAYOUT
    // KEY column (equality, IN-list, equality-OR) names its buckets —
    // the same local-row hash the writer used — so a point lookup
    // keeps its keys' buckets even on a table with NO stats recorded:
    // structural, not statistical. Composite GRIDS prune PER
    // DIMENSION: the physical bucket is the row-major flattening of
    // the per-column hashes, so a point on `tenant` alone keeps
    // 1/n_tenant of the cells, a point on both columns keeps exactly
    // one — the digits decompose independently. A value whose hash is
    // null cannot equal any key of the column's type, so dropping it
    // from a dimension's set is sound; huge IN-lists (pruning power
    // gone anyway) leave that dimension unpruned.
    val dims: Seq[(String, Int)] = m.layout.map(l => Seq(l))
      .getOrElse(if (m.layoutCols.size >= 2 &&
          m.layoutNs.size == m.layoutCols.size)
        m.layoutCols.zip(m.layoutNs) else Seq.empty)
    val perDim: Seq[Option[Set[Long]]] = dims.map { case (kc, n) =>
      bounds.collectFirst {
        case b if b.column == kc &&
            Skipping.pointsOf(b).isDefined => Skipping.pointsOf(b).get
      }.filter(ps => ps.nonEmpty && ps.size <= 1024).map { ps =>
        val dt = schema(kc).dataType
        val row = evalLocal(spark, ps.map(p =>
          pmod(xxhash64(lit(p).cast(dt)), lit(n.toLong))))
        ps.indices.filterNot(row.isNullAt).map(row.getLong).toSet
      }
    }
    val candidates =
      if (dims.isEmpty || perDim.forall(_.isEmpty)) m.files
      else {
        val sizes = dims.map(_._2.toLong)
        // row-major digits, leftmost dimension most significant —
        // exactly bucketColMulti's fold inverted
        def digits(bucket: Long): Array[Long] = {
          var rem = bucket
          val out = new Array[Long](sizes.length)
          var i = sizes.length - 1
          while (i >= 0) { out(i) = rem % sizes(i); rem /= sizes(i)
            i -= 1 }
          out
        }
        m.files.filter { f =>
          val ds = digits(bucketOf(f))
          perDim.zip(ds.toSeq).forall { case (a, d) =>
            a.forall(_.contains(d))
          }
        }
      }
    val byFile = m.stats.groupBy(_.file).view
      .mapValues(_.map(s => s.col -> s).toMap).toMap
    // `statsx:` range stats resolve LAZILY (r18, the bloomx discipline
    // for min/max/null entries): a candidate's `.sx` sidecar is read
    // only when some bound references an externalized column the
    // inline map doesn't already answer — files the bucket/grid prune
    // dropped never cost a read, repeat plans hit the decode-once cache
    val statsxBases = m.statsCols.filter(Skipping.isStatsxSpec)
      .map(_.stripPrefix(Skipping.StatsxPrefix)).toSet
    // sidecars are immutable: one written in an earlier naming era
    // stores the THEN-current name — the original physical, or any
    // intermediate logical a later rename retired (recorded in
    // colAliases) — so the translation maps every historical name to
    // the column's CURRENT logical name. Built once per plan, not per
    // candidate file (r19).
    val histToCur: Map[String, String] = {
      val cur = m.colMap.map(_.swap).toMap // physical -> current logical
      cur ++ m.colAliases.flatMap { case (old, p) =>
        cur.get(p).map(old -> _)
      }
    }
    def colStatsOf(f: String): Map[String, Skipping.FileStats] = {
      val cs0 = byFile.getOrElse(f, Map.empty)
      // pre-r19 manifests stored the placeholder under the bare name
      // "statsx": normalize to the reserved key so (a) its sidecar
      // still resolves below and (b) its min/max=None can never read as
      // "all-null column" under a bound on a data column named statsx
      val cs = cs0.get(Skipping.LegacyStatsxEntry)
        .filter(Skipping.isStatsxPlaceholder) match {
        case Some(e) =>
          cs0 - Skipping.LegacyStatsxEntry + (Skipping.StatsxEntry -> e)
        case None => cs0
      }
      if (statsxBases.isEmpty ||
          !bounds.exists(b => statsxBases(b.column) && !cs.contains(b.column)))
        cs
      else cs.get(Skipping.StatsxEntry).flatMap(_.bloom)
        .filter(Skipping.isBloomRef) match {
        case Some(ref) =>
          cs ++ Skipping.readStatsSidecar(fs, root, ref, f)
            .map(e => histToCur.getOrElse(e.col, e.col) -> e)
        case None => cs
      }
    }
    val sel0 = candidates.filter(f =>
      Skipping.survives(schema, colStatsOf(f), bounds))
    // EXTERNAL (`bloomx:`) filters refine LAZILY: only the files that
    // survived every other prune read their sidecar (driver-cached,
    // bytes-sized), only under a point bound on that column — at a
    // million files the manifest stays ref-sized and a point probe
    // costs candidate-count tiny reads, not 12 GB of inline blobs
    val ptBounds = bounds.flatMap(b =>
      Skipping.pointsOf(b).map(ps => (b.column, ps)))
    val sel =
      if (ptBounds.isEmpty) sel0
      else sel0.filter { f =>
        val cs = byFile.getOrElse(f, Map.empty)
        ptBounds.forall { case (c, ps) =>
          cs.get(Skipping.BloomPrefix + c).flatMap(_.bloom)
            .filter(Skipping.isBloomRef) match {
            case Some(ref) =>
              Skipping.readBloomSidecar(fs, root, ref).forall(b64 =>
                Skipping.bloomAnyMightContain(
                  schema(c).dataType, ps, b64))
            case None => true
          }
        }
      }
    (sel, m.files.size)
  }

  /** The version's LOGICAL schema straight off the manifest — the
    * planning-cost path for connectors: resolving a table's shape must
    * not construct a DataFrame over its (possibly millions of) files.
    * None for pre-schema manifests.
    */
  def versionSchema(spark: SparkSession, path: String,
      version: Long): Option[StructType] = {
    val (_, root) = fsFor(spark, path)
    // all-nullable, deliberately: a column ADDED by evolution reads as
    // null on pre-evolution rows whatever the batch that added it
    // declared, and the parquet read path reports nullable anyway
    readManifest(spark, root, version).dataSchema
      .map(ddl => StructType(schemaFromString(ddl).fields
        .map(_.copy(nullable = true))))
  }

  /** The version's EXACT row count — Some only when every file carries
    * a recorded row count (stats written since r10). Costs zero data
    * I/O on a DV-free version: this is what lets a `SELECT count(*)`
    * answer at any table size without touching a data file. With LIVE
    * deletion vectors the gross count is adjusted by ONE job over the
    * deleted-row-count-sized sidecars (grouped to ≤ file-count rows,
    * restricted to files still live — a rewritten bucket's inert DV
    * entries don't subtract): a `count(*)` on a CDC-maintained 100 TB
    * table still never scans the table. Positions are unique per live
    * (file, pos) by construction — every DV find scan is itself
    * DV-filtered, so a row is never deleted twice.
    */
  def versionRowCount(spark: SparkSession, path: String,
      version: Long): Option[Long] = {
    val (_, root) = fsFor(spark, path)
    val m = readManifest(spark, root, version)
    if (m.files.isEmpty) return Some(0L)
    val byFile = m.stats.filter(_.rows >= 0L)
      .groupBy(_.file).view.mapValues(_.head.rows).toMap
    if (!m.files.forall(byFile.contains)) return None
    val gross = m.files.map(byFile).sum
    if (m.dvFiles.isEmpty) return Some(gross)
    Some(gross - dvDeletedPerFile(spark, root, m).values.sum)
  }

  /** The version's EXACT global (min, max) for one column from the
    * manifest stats — Some only when the stats are provably exact:
    * the column is indexed on every file, its type's encoding is
    * lossless (strings are truncated — excluded), and no live
    * deletion vector touches a file that could ATTAIN either extreme
    * (r16: DVs on non-extreme files no longer decline — a deleted row
    * elsewhere can never be the global min/max). Inner Nones mean the
    * column is null in every row. Values come back in the column's
    * external (Row) type.
    */
  /** Per-file stats entries for one column, resolving `statsx:`
    * sidecars when the column is externalized (r18): the agg-pushdown
    * paths below are one-shot driver reads, so paying O(files) tiny
    * CACHED sidecar reads there keeps `SELECT count(c)/sum(c)/min(c)`
    * manifest-answered on statsx tables too — the trade statsx
    * initially declined, now closed.
    */
  private def columnEntries(fs: FileSystem, root: Path, m: Manifest,
      column: String): Map[String, Skipping.FileStats] = {
    // a legacy bare-named placeholder must not masquerade as inline
    // stats for a data column named "statsx" (its min/max=None would
    // read as an all-null column)
    val inline = m.stats.filter(e => e.col == column &&
        !Skipping.isStatsxPlaceholder(e))
      .groupBy(_.file).view.mapValues(_.head).toMap
    if (!m.statsCols.contains(Skipping.StatsxPrefix + column)) inline
    else {
      // sidecars written in earlier naming eras store the then-current
      // name: the original physical, or any retired intermediate
      // logical recorded in colAliases (r19)
      val phys = m.colMap.toMap.getOrElse(column, column)
      val names = Set(column, phys) ++
        m.colAliases.collect { case (old, p) if p == phys => old }
      val fromSidecars = m.stats
        .filter(e => Skipping.isStatsxPlaceholder(e) &&
          !inline.contains(e.file))
        .flatMap(e => e.bloom.filter(Skipping.isBloomRef).toSeq
          .flatMap(ref => Skipping.readStatsSidecar(fs, root, ref, e.file))
          .filter(s => names.contains(s.col)))
        .groupBy(_.file).view.mapValues(_.head).toMap
      inline ++ fromSidecars
    }
  }

  def versionColumnBounds(spark: SparkSession, path: String,
      version: Long, column: String): Option[(Option[Any], Option[Any])] = {
    val (fs, root) = fsFor(spark, path)
    val m = readManifest(spark, root, version)
    if (!m.statsCols.contains(column) &&
        !m.statsCols.contains(Skipping.StatsxPrefix + column)) return None
    val schema = m.dataSchema.map(schemaFromString).getOrElse(
      return None)
    val dt = schema.find(_.name == column).map(_.dataType).getOrElse(
      return None)
    if (m.files.isEmpty) return Some((None, None))
    val entries = columnEntries(fs, root, m, column)
    if (!m.files.forall(entries.contains)) return None
    val perFile = m.files.map(entries)
    // an entry with no bounds = that file is all-null in the column;
    // files with bounds must BOTH decode or the type is unsupported
    val bounded = perFile.filter(e => e.min.isDefined || e.max.isDefined)
    if (bounded.exists(e => e.min.isEmpty || e.max.isEmpty)) return None
    if (bounded.isEmpty) return Some((None, None))
    val decoded = bounded.map { e =>
      for (mn <- Skipping.decodeStat(dt, e.min.get);
           mx <- Skipping.decodeStat(dt, e.max.get)) yield (mn, mx)
    }
    if (decoded.exists(_.isEmpty)) return None
    val key = (s: String) => Skipping.statKey(dt, s)
    val minEntry = bounded.minBy(e => key(e.min.get))(
      Ordering.fromLessThan[Any]((a, b) => Skipping.ltKey(a, b)))
    val maxEntry = bounded.maxBy(e => key(e.max.get))(
      Ordering.fromLessThan[Any]((a, b) => Skipping.ltKey(a, b)))
    // LIVE DELETION VECTORS taint an extreme only when they touch a
    // file that could ATTAIN it (a deleted row elsewhere can never be
    // the global min/max — its file's own bound already wasn't).
    // Deletes touch few buckets at steady state, so MIN/MAX pushdown
    // usually survives merge-on-read; a tainted extreme declines as
    // before. One sidecar-sized job, only when DVs are live.
    if (m.dvFiles.nonEmpty) {
      val touched = dvDeletedPerFile(spark, root, m).keySet
      def eq(a: Any, b: Any): Boolean =
        !Skipping.ltKey(a, b) && !Skipping.ltKey(b, a)
      def attains(pick: Skipping.FileStats => String,
          extreme: String): Boolean =
        bounded.exists(e => touched.contains(e.file) &&
          eq(key(pick(e)), key(extreme)))
      if (attains(_.min.get, minEntry.min.get) ||
          attains(_.max.get, maxEntry.max.get)) return None
    }
    Some((Skipping.decodeStat(dt, minEntry.min.get),
      Skipping.decodeStat(dt, maxEntry.max.get)))
  }

  /** Approximate DISTINCT COUNT for one column from the manifest's
    * per-file `ndv:` HLL sketches ([[Skipping.NdvPrefix]] — the
    * Iceberg-puffin NDV idea on the version log): a driver-side UNION
    * over the live files' ~1 KB sketch blobs. No data file is opened at
    * any table size, a DML commit re-sketched only the files it
    * rewrote, and the estimate is DETERMINISTIC for a given value set
    * (fixed hash, order-free union; RSE ≈ 0.81 % at lgK=14).
    *
    * Declines (None) when the spec is absent, when any live file lacks
    * its entry (written before the spec — one [[analyzeTable]] heals
    * it), or when LIVE deletion vectors exist: recorded sketches are
    * GROSS like every per-file stat, and a union cannot subtract a
    * deleted row's contribution, so a mass delete would leave the
    * estimate arbitrarily high — after purge/compaction it answers
    * again. An entry with no blob is an all-null file (zero
    * contribution).
    */
  def versionColumnNdv(spark: SparkSession, path: String,
      version: Long, column: String): Option[Long] = {
    val (_, root) = fsFor(spark, path)
    val m = readManifest(spark, root, version)
    if (!m.statsCols.contains(Skipping.NdvPrefix + column) &&
        !m.statsCols.contains(Skipping.NdvxPrefix + column)) return None
    val spec = Skipping.NdvPrefix + column // entries keep the ndv: name
    if (m.dvFiles.nonEmpty) return None
    if (m.files.isEmpty) return Some(0L)
    val blobs = m.stats.filter(_.col == spec)
      .groupBy(_.file).view.mapValues(_.head).toMap
    if (!m.files.forall(blobs.contains)) return None
    val fs = root.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val u = new org.apache.datasketches.hll.Union(Skipping.NdvLgK)
    m.files.foreach { f =>
      blobs(f).bloom.foreach { b0 =>
        // `ndvx:` entries hold a sidecar ref; resolve through the same
        // decode-once cache the bloomx probe path uses — a one-shot
        // O(files) pass of ~1 KB reads, repeat queries all cached
        val b =
          if (!Skipping.isBloomRef(b0)) b0
          else Skipping.readBloomSidecar(fs, root, b0).getOrElse(
            return None) // unreadable ref: decline, never guess
        try u.update(org.apache.datasketches.hll.HllSketch.heapify(
          org.apache.datasketches.memory.Memory.wrap(
            java.util.Base64.getDecoder.decode(b))))
        catch { case _: Exception => return None } // undecodable: decline
      }
    }
    Some(Math.round(u.getEstimate))
  }

  /** The version's EXACT (non-null count, sum) for one column from the
    * manifest stats — Some only when provably exact: the column is
    * stats-indexed on every file with null counts recorded (r16+) and
    * no deletion vector is live (a deleted row's nullness and value
    * are unknown to the manifest — unlike COUNT(*), no sidecar job can
    * adjust). The sum is Some only when every file records one
    * (integral and decimal columns — floats never do: their sum
    * depends on addition order) or is provably all-null (contributes
    * 0); a column with ZERO non-null rows sums to SQL NULL — the
    * caller checks the count. Zero data I/O: `SELECT count(c), sum(c)`
    * on a 100 TB table is one driver-side manifest read.
    */
  def versionColumnAggStats(spark: SparkSession, path: String,
      version: Long, column: String)
      : Option[(Long, Option[java.math.BigDecimal])] = {
    val (fs, root) = fsFor(spark, path)
    val m = readManifest(spark, root, version)
    if (!m.statsCols.contains(column) &&
        !m.statsCols.contains(Skipping.StatsxPrefix + column)) return None
    if (m.dvFiles.nonEmpty) return None
    if (m.files.isEmpty)
      return Some((0L, Some(java.math.BigDecimal.ZERO)))
    val entries = columnEntries(fs, root, m, column)
      .filter { case (_, e) => e.rows >= 0L && e.nulls >= 0L }
    if (!m.files.forall(entries.contains)) return None
    val perFile = m.files.map(entries)
    val nonNull = perFile.map(e => e.rows - e.nulls).sum
    val sums = perFile.map(e =>
      e.sum.map(new java.math.BigDecimal(_))
        .orElse(if (e.nulls == e.rows) Some(java.math.BigDecimal.ZERO)
          else None))
    val total =
      if (sums.exists(_.isEmpty)) None
      else Some(sums.flatten.reduce(_.add(_)))
    Some((nonNull, total))
  }

  /** ANALYZE TABLE: record (or refresh) per-file column stats for the
    * CURRENT version as ONE metadata commit — how an existing table
    * opts into manifest-level skipping, Bloom point-lookup pruning and
    * manifest-answered aggregates (COUNT/MIN/MAX/SUM) WITHOUT
    * rewriting a byte of data. Cost is the honest one: one aggregate
    * job over the live files (at most one pass of the table — the
    * price [[writeKeyed]] pays at write time), then a manifest commit;
    * the data files are untouched, so every other version keeps
    * reading them. `statsCols` accepts the same specs as writeKeyed
    * (plain columns = min/max/nulls/sum intervals, `bloom:c` = a
    * per-file Bloom filter). Under live deletion vectors the analyze
    * scan reads the files GROSS (DV subtraction bypassed): per-file
    * stats must stay gross — pruning only over-approximates under a
    * gross interval, and the COUNT adjustment subtracts the vectors
    * from gross row counts — so a merge-on-read table adopts skipping
    * and pushdown WITHOUT compacting first. Returns (new version,
    * files analyzed).
    */
  def analyzeTable(spark: SparkSession, path: String,
      statsCols: Seq[String], maxRetries: Int = 5): (Long, Int) = {
    require(statsCols.nonEmpty, "analyze needs >= 1 stats column")
    val (fs, root) = fsFor(spark, path)
    retryCommit("analyze", path, maxRetries) { _ =>
      val parentV = currentVersion(spark, path)
      require(parentV >= 0, s"$path has no version log")
      val parent = readManifest(spark, root, parentV)
      // specs persist even over an EMPTY table — refuse bad shape/type
      // at declaration (see [[validateStatsSpecs]])
      parent.dataSchema.map(schemaFromString)
        .foreach(validateStatsSpecs(_, statsCols))
      val (bloomSpecs, nonBloom) =
        statsCols.partition(Skipping.isBloomSpec)
      val (ndvSpecs, rangeSpecs) = nonBloom.partition(c =>
        Skipping.isNdvSpec(c) || Skipping.isNdvxSpec(c))
      // `statsx:c` analyzes like a plain range column; externalization
      // happens at manifest-write time (externalizeBlooms below)
      val rangeCols = rangeSpecs
        .map(_.stripPrefix(Skipping.StatsxPrefix)).distinct
      val bloomCols = bloomSpecs.map(Skipping.bloomBase).distinct
      val ndvCols = ndvSpecs.map(Skipping.ndvBase).distinct
      val entries: Seq[Skipping.FileStats] =
        if (parent.files.isEmpty) Seq.empty
        else {
          // GROSS scan: drop the DV refs so versionDf skips the
          // subtracting anti-join — recorded stats must cover every
          // physical row (deleted ones included) for the count
          // adjustment and bloom probes to stay sound
          val df = versionDf(spark, path, root,
            parent.copy(dvFiles = Seq.empty), keepPos = true)
          (rangeCols ++ bloomCols ++ ndvCols).foreach(c =>
            require(df.columns.contains(c),
              s"stats column $c not in ${df.columns.mkString(", ")}"))
          val sumCols = statsSumCols(df, rangeCols)
          val aggs = statsAggs(df, rangeCols, sumCols, bloomCols,
            ndvCols)
          val rows = df.groupBy(col("__dv_file").as("__f"))
            .agg(aggs.head, aggs.tail: _*).collect()
          val qualToName: Map[String, String] = parent.files.map { f =>
            val p = new Path(f)
            val abs = if (p.isAbsolute) p else new Path(root, p)
            fs.makeQualified(abs).toString -> f
          }.toMap
          rows.flatMap { r =>
            val name = qualToName.getOrElse(
              new Path(r.getString(0)).toString,
              sys.error(s"analyzed file ${r.getString(0)} is not in " +
                s"version $parentV"))
            statsEntriesOf(r, name, rangeCols, sumCols, bloomCols,
              ndvCols)
          }.toSeq.sortBy(e => (e.file, e.col))
        }
      commitFence()
      writeManifest(fs, root,
        parent.copy(version = parentV + 1, parent = parentV,
          txn = None, statsCols = statsCols,
          stats = externalizeBlooms(fs, root, entries, statsCols),
          ts = nextTs(parent), op = Some("analyze"),
          rowsUpserted = 0L, rowsDeleted = 0L, copied = Seq.empty),
        parent = Some(parent), touched = None) // stats changed in
          // EVERY shard — no shard ref is reusable
      (parentV + 1, parent.files.size)
    }
  }

  /** Per-file inventory of the CURRENT version (`DESCRIBE DETAIL` at
    * file granularity): relative path, bucket, recorded row count (-1
    * where stats predate row recording), and on-disk bytes. Driver
    * reads the manifest plus one getFileStatus per file; rows bounded
    * by the version's file count. The operator's first question —
    * "is this table's layout healthy, and where did the bytes go?" —
    * answered without a scan.
    */
  def filesInfo(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val (fs, root) = fsFor(spark, path)
    val v = currentVersion(spark, path)
    require(v >= 0, s"$path has no version log")
    val m = readManifest(spark, root, v)
    val byFile = m.stats.filter(_.rows >= 0L)
      .groupBy(_.file).view.mapValues(_.head.rows).toMap
    m.files.map { f =>
      val p = new Path(f)
      val abs = if (p.isAbsolute) p else new Path(root, f)
      val len = try fs.getFileStatus(abs).getLen
                catch { case _: java.io.IOException => -1L }
      (f, bucketOf(f), byFile.getOrElse(f, -1L), len)
    }.toDF("file", "bucket", "rows", "bytes")
  }

  /** Driver-side (bytes, rows) estimate for a version's — optionally
    * bounds-pruned — file set, for the optimizer's JOIN planning: a
    * small graft table must look small, or it never broadcasts. Bytes
    * come from one getFileStatus per file (skipped above a file-count
    * cap — at that size the answer is "not broadcastable" anyway);
    * rows from the recorded per-file counts when complete and no
    * deletion vectors are live.
    */
  def estimateVersionSize(spark: SparkSession, path: String,
      version: Long, bounds: Seq[Skipping.Bound] = Seq.empty,
      maxStatFiles: Int = 4096): (Option[Long], Option[Long]) = {
    val (fs, root) = fsFor(spark, path)
    val m = readManifest(spark, root, version)
    val files =
      if (bounds.isEmpty) m.files
      else planVersionFiles(spark, path, version, bounds)._1
    if (files.size > maxStatFiles) return (None, None)
    val bytes =
      try Some(files.map { f =>
        val p = new Path(f)
        fs.getFileStatus(
          if (p.isAbsolute) p else new Path(root, f)).getLen
      }.sum)
      catch { case _: java.io.IOException => None }
    val byFile = m.stats.filter(_.rows >= 0L)
      .groupBy(_.file).view.mapValues(_.head.rows).toMap
    val rows =
      if (m.dvFiles.isEmpty && files.forall(byFile.contains))
        Some(files.map(byFile).sum)
      else None
    (bytes, rows)
  }

  /** Read at most enough FILES of `version` to cover `limit` rows —
    * the LIMIT-pushdown plan: when every file records its row count
    * and no deletion vectors are live, a `LIMIT n` reads the shortest
    * file prefix whose counts reach n instead of the whole version
    * (the caller still applies the row-exact limit on top). Falls back
    * to the full version otherwise.
    */
  def readVersionLimited(spark: SparkSession, path: String,
      version: Long, limit: Int): DataFrame = {
    val (_, root) = fsFor(spark, path)
    val m = readManifest(spark, root, version)
    val byFile = m.stats.filter(_.rows >= 0L)
      .groupBy(_.file).view.mapValues(_.head.rows).toMap
    if (m.files.isEmpty || !m.files.forall(byFile.contains)) {
      lastLimitPrefix = None
      return versionDf(spark, path, root, m).drop("__bucket")
    }
    // under live DVs the prefix is sized by NET counts (gross minus the
    // per-file deleted positions — one job over the deleted-row-count-
    // sized sidecars), so the pruned read still delivers >= limit LIVE
    // rows; the prefix manifest keeps its dvFiles, so versionDf
    // subtracts the deletions from the surviving files as usual
    val deleted: Map[String, Long] =
      if (m.dvFiles.isEmpty) Map.empty
      else dvDeletedPerFile(spark, root, m)
    var acc = 0L
    val prefix = m.files.takeWhile { f =>
      val need = acc < limit
      acc += math.max(0L, byFile(f) - deleted.getOrElse(f, 0L))
      need
    }
    lastLimitPrefix = Some((prefix.size, m.files.size))
    versionDf(spark, path, root, m.copy(files = prefix)).drop("__bucket")
  }

  /** Test seam: (files read, files total) of the most recent
    * LIMIT file-prefix prune; None when the prune declined.
    */
  @volatile var lastLimitPrefix: Option[(Int, Int)] = None

  /** v2 bitmap-sidecar blob → its position array, for the V1 bridge's
    * (file, pos) anti-join — the one DV consumer that genuinely wants
    * per-row positions. A UDF because the decode is a custom varint
    * codec no builtin expresses; it runs over deleted-FILE-count rows.
    */
  private lazy val dvDecodeUdf =
    udf((b: Array[Byte]) => DvCodec.decode(b))

  /** The rows of the DV sidecars `dvFiles` (root-relative), v1 and v2
    * alike, under the superset schema.
    */
  private def readDv(spark: SparkSession, root: Path,
      dvFiles: Seq[String]): DataFrame =
    ManifestScan.read(spark, dvFiles.map(f => new Path(root, f).toString),
      None, Some(DvCodec.SupersetSchema))

  /** Per-file LIVE deleted-row counts of a manifest's DV sidecars,
    * keyed by the manifest's own file names (inert entries for
    * rewritten files drop out). One job, output bounded by the
    * referenced file count — and with v2 (bitmap) sidecars the INPUT
    * is file-count rows too: the exact counts ride the `n` column, no
    * position is ever materialized. v1 rows count as 1 each.
    */
  private def dvDeletedPerFile(spark: SparkSession, root: Path,
      m: Manifest): Map[String, Long] = {
    val fs = root.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val qualToName: Map[String, String] = m.files.map { f =>
      val p = new Path(f)
      val abs = if (p.isAbsolute) p else new Path(root, p)
      fs.makeQualified(abs).toString -> f
    }.toMap
    readDv(spark, root, m.dvFiles)
      .groupBy("file")
      .agg(sum(coalesce(col("n"), lit(1L))).as("deleted"))
      .collect()
      .flatMap(r => qualToName.get(new Path(r.getString(0)).toString)
        .map(_ -> r.getLong(1)))
      .toMap
  }

  /** The bucket ids whose FILE SETS differ between two committed
    * versions — the commit log's record of where change can possibly
    * live (files are immutable, so an untouched bucket is byte-identical
    * by construction). Planning is manifest-only: two small JSON reads,
    * no listing, no data.
    */
  def changedBuckets(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long): Seq[Long] = {
    val (_, root) = fsFor(spark, path)
    val o = readManifest(spark, root, fromVersion).files.groupBy(bucketOf)
    val n = readManifest(spark, root, toVersion).files.groupBy(bucketOf)
    (o.keySet ++ n.keySet).toSeq.sorted
      .filter(b => o.get(b).map(_.sorted) != n.get(b).map(_.sorted))
  }

  /** CHANGE DATA FEED between two committed versions: the +1/-1 row
    * deltas ([[graft.ops.TableDiff.changeDeltas]] semantics — updates
    * emit their old image at -1 and new image at +1) computed by reading
    * ONLY the buckets whose file sets changed between the manifests.
    * At 100 TB this is the difference between diffing the table and
    * diffing the commits: a 10-key upsert touches ≤ 10 buckets, and the
    * feed's scan cost is those buckets at both versions — everything
    * else is provably unchanged because data files are immutable.
    * Compaction-only commits rewrite buckets without changing rows; they
    * cost a scan of those buckets and emit zero deltas. Under schema
    * evolution, pre-evolution rows align with nulls in added columns
    * (the same convention [[readVersion]] applies). The output feeds
    * [[graft.pipeline.IncrementalAgg.updateWithRetractions]] or a
    * tombstone-fold into a downstream [[upsert]] directly.
    */
  /** The buckets a manifest PAIR can differ in: the file-set diff plus
    * the buckets referenced by CHANGED deletion vectors (a dv commit
    * changes no data file, so the file diff alone would miss it — one
    * footer-cheap distinct over the delta sidecars, bounded by the
    * referenced file count).
    */
  private def touchedBucketsOf(spark: SparkSession, root: Path,
      o: Manifest, n: Manifest): Set[Long] = {
    val om = o.files.groupBy(bucketOf)
    val nm = n.files.groupBy(bucketOf)
    val fileDiff = (om.keySet ++ nm.keySet)
      .filter(b => om.get(b).map(_.sorted) != nm.get(b).map(_.sorted))
    val dvDelta = (n.dvFiles.toSet diff o.dvFiles.toSet) ++
      (o.dvFiles.toSet diff n.dvFiles.toSet)
    val dvTouched: Set[Long] =
      if (dvDelta.isEmpty) Set.empty
      else readDv(spark, root, dvDelta.toSeq.sorted)
        .select("file").distinct().collect()
        .map(r => bucketOf(r.getString(0))).toSet
    fileDiff ++ dvTouched
  }

  /** One COMMIT's touched buckets (sorted — the deterministic unit
    * order streaming admission splits on) paired with a CHANGE-FEED
    * row estimate per bucket: the sum of the manifest per-file row
    * counts of that bucket's files at BOTH endpoint versions (the feed
    * emits old images at -1 and new at +1, so the pair sum bounds it).
    * `None` when any of the bucket's files predates row-count stats —
    * consumers must treat unknown as "big". Planning is manifest-only
    * except when the commit changed deletion vectors (their sidecars
    * are read to find the referenced buckets).
    */
  def commitBucketRows(spark: SparkSession, path: String,
      version: Long): Seq[(Long, Option[Long])] = {
    require(version >= 1,
      s"commitBucketRows describes a DELTA commit, got v$version")
    val (_, root) = fsFor(spark, path)
    val o = readManifest(spark, root, version - 1)
    val n = readManifest(spark, root, version)
    def rowsOf(m: Manifest): Map[String, Long] =
      m.stats.collect { case e if e.rows >= 0 => e.file -> e.rows }.toMap
    val or = rowsOf(o)
    val nr = rowsOf(n)
    touchedBucketsOf(spark, root, o, n).toSeq.sorted.map { b =>
      val of = o.files.filter(f => bucketOf(f) == b)
      val nf = n.files.filter(f => bucketOf(f) == b)
      val est =
        if (of.forall(or.contains) && nf.forall(nr.contains))
          Some(of.map(or).sum + nf.map(nr).sum)
        else None
      b -> est
    }
  }

  def changesBetween(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long, opCol: String = "op",
      bucketSubset: Option[Set[Long]] = None): DataFrame = {
    require(fromVersion < toVersion,
      s"changesBetween needs fromVersion < toVersion, got " +
      s"$fromVersion >= $toVersion")
    val (_, root) = fsFor(spark, path)
    val o = readManifest(spark, root, fromVersion)
    val n = readManifest(spark, root, toVersion)
    // single-key tables diff on their key, composite GRIDS on the full
    // tuple — a tuple's whole history lives in one cell (per-dimension
    // hash routing), so the bucket-slice contract below holds verbatim
    val keyCols: Seq[String] =
      Seq(sortKeysOf(n), sortKeysOf(o)).find(_.nonEmpty).getOrElse(
        throw new IllegalArgumentException(
          s"$path records no bucketing layout — changesBetween " +
          "needs the key to diff on"))
    // `bucketSubset` restricts the feed to a SLICE of the touched
    // buckets (the streaming rate limit's unit of admission) — sound
    // because buckets are disjoint by construction: the key-hash
    // routing means a key's whole history lives in one bucket, so a
    // bucket slice of the diff is the exact feed for those keys
    val touched0 = touchedBucketsOf(spark, root, o, n)
    val touched = bucketSubset.map(touched0.intersect).getOrElse(touched0)
    val newSchema = n.dataSchema.map(schemaFromString).getOrElse(
      throw new IllegalArgumentException(
        s"$path v$toVersion records no schema"))
    def side(m: Manifest): DataFrame = {
      val picked = m.files.filter(f => touched(bucketOf(f)))
      val base =
        if (picked.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            m.dataSchema.map(schemaFromString).getOrElse(newSchema))
        else versionDf(spark, path, root, m.copy(files = picked))
          .drop("__bucket")
      // align to the newer schema: evolution ADDS columns (older side
      // takes nulls), WIDENS types (older side casts exactly up), or
      // RENAMES — the PHYSICAL name is the column's identity across
      // versions, so correlate each new logical name through it to
      // whatever the old version called the same column
      val oldP2L = m.colMap.map(_.swap).toMap
      val newL2P = n.colMap.toMap
      base.select(newSchema.fieldNames.map { c =>
        val phys = newL2P.getOrElse(c, c)
        val oldName = oldP2L.getOrElse(phys, phys)
        (if (base.columns.contains(oldName)) {
          if (base.schema(oldName).dataType.catalogString ==
              newSchema(c).dataType.catalogString) col(oldName)
          else col(oldName).cast(newSchema(c).dataType)
        } else lit(null).cast(newSchema(c).dataType)).as(c)
      }.toSeq: _*)
    }
    graft.ops.TableDiff.changeDeltas(side(o), side(n), keyCols, opCol)
  }

  /** Delta-DIALECT change data feed: [[changesBetween]] resolved per
    * COMMIT and labeled with Delta CDF's column contract —
    * `_change_type` in {insert, update_preimage, update_postimage,
    * delete}, `_commit_version`, `_commit_timestamp` — so consumers
    * written against `table_changes(...)` / Delta's CDF read port
    * without translation. Work: one bucket-pruned [[changesBetween]]
    * per commit in `(fromVersion, toVersion]` (each costs its own
    * commit's touched buckets) plus a per-key count window WITHIN each
    * commit's slim feed to tell updates (a key with both a -1 and a +1
    * image in one commit) from plain inserts/deletes. Commit
    * timestamps come from the manifests, so the feed is replayable
    * from the log alone.
    */
  def changesBetweenCdf(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long,
      bucketSubset: Option[Set[Long]] = None): DataFrame = {
    require(fromVersion < toVersion,
      s"changesBetweenCdf needs fromVersion < toVersion, got " +
      s"$fromVersion >= $toVersion")
    val keyCols = tableLayoutKeys(spark, path).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"$path records no layout — the CDF dialect classifies " +
        "updates by key"))
    val feeds = ((fromVersion + 1) to toVersion).map { v =>
      val ts = commitTime(spark, path, v)
      // the per-key update classification below stays exact under a
      // bucket slice: a key's whole history (both update images) lives
      // in one bucket, so no slice can split a pre/post pair
      val f = changesBetween(spark, path, v - 1, v, opCol = "__op",
        bucketSubset = bucketSubset)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
      f.withColumn("__n", count(lit(1)).over(w))
        .withColumn("_change_type",
          when(col("__op") < 0 && col("__n") === 2, "update_preimage")
            .when(col("__op") > 0 && col("__n") === 2, "update_postimage")
            .when(col("__op") > 0, "insert")
            .otherwise("delete"))
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp",
          (lit(ts) / lit(1000.0)).cast("timestamp"))
        .drop("__op", "__n")
    }
    feeds.reduce(_.unionByName(_))
  }

  /** RESTORE: roll the table back to `version`'s exact image as a NEW
    * commit (Delta's RESTORE verb) — the new manifest references the
    * historical version's files directly, so no data moves at ANY table
    * size, and both the mistake and the recovery stay in history (a
    * later vacuum reclaims whatever the restored chain no longer
    * references). The restored version must still be retained
    * (readManifest raises the retention error otherwise). Same
    * create-if-absent commit point as every other commit; on a lost
    * race the restore re-reads the log and re-targets the SAME
    * historical image over the new parent. On a sharded-manifest table
    * the shard bodies are content-addressed, so the restore commit
    * reuses the historical version's shard files byte-for-byte without
    * writing anything.
    *
    * Returns the new (restore) version number.
    */
  def restore(spark: SparkSession, path: String, version: Long,
      maxRetries: Int = 5): Long = {
    val (fs, root) = fsFor(spark, path)
    val target = readManifest(spark, root, version)
    retryCommit("restore", path, maxRetries) { _ =>
      val parentV = currentVersion(spark, path)
      require(parentV >= 0, s"$path has no version log")
      if (parentV == version) parentV // already there: no-op
      else {
        val parent = readManifest(spark, root, parentV)
        writeManifest(fs, root,
          Manifest(parentV + 1, parentV, target.files, target.dataSchema,
            layout = target.layout.orElse(parent.layout),
            statsCols = target.statsCols, stats = target.stats,
            ts = nextTs(parent), op = Some("restore"),
            rowsUpserted = 0L, rowsDeleted = 0L,
            shardSpan = parent.shardSpan,
            // full state rollback includes table metadata: the restored
            // rows satisfied the TARGET version's constraint set
            constraints = target.constraints,
            dvFiles = target.dvFiles,
            colMap = target.colMap, physRetired = target.physRetired,
            colAliases = target.colAliases,
            // identity marks are monotonic ACROSS restore: the HEAD's
            // mark covers every id the restored-away versions issued
            idHwm = parent.idHwm,
            // the restored FILE SET is the target's, so its sort
            // contract travels with it
            keySorted = target.keySorted,
            layoutCols = target.layoutCols, layoutNs = target.layoutNs),
          parent = Some(parent), touched = None)
        parentV + 1
      }
    }
  }

  /** APPLY CHANGES (Delta's `APPLY CHANGES INTO`): fold one batch of
    * change-feed rows — the [[changesBetween]] / graft-table streaming
    * dialect, data columns + `opCol` INT with updates as old@-1 +
    * new@+1 — into this keyed table as ONE tombstone upsert. The key
    * and bucketing come from the table's recorded layout, so a caller
    * cannot mis-fold.
    *
    * The fold is a NET fold over full row images (`sum(op)` per
    * image): a batch that spans several commits — or a snapshot union
    * — telescopes correctly, because intermediate images cancel and
    * only each key's final image stays net-positive, while a key with
    * a strictly NEGATIVE net image is a delete. A key whose images ALL
    * net to exactly zero (an update applied and then reverted inside
    * the batch, A→B→A) is a NO-OP — it ends the batch where it
    * started, so deleting it would diverge a replica. One aggregate +
    * one
    * anti-join, both batch-sized; the table-side cost is the upsert's
    * (touched buckets only). A batch yielding two net-positive images
    * for one key is ill-formed (flattened unordered history) and is
    * refused loudly.
    *
    * With `txn = (appId, batchId)` the apply is EXACTLY-ONCE under
    * streaming replay (the [[upsert]] stamp) — so
    *
    * {{{
    *   spark.readStream.format("graft-table").option("path", src).load()
    *     .writeStream.foreachBatch { (b, id) =>
    *       Merge.applyChanges(spark, replica, b, txn = Some(("rep", id)))
    *     }
    * }}}
    *
    * is complete, checkpoint-recoverable TABLE REPLICATION: initial
    * snapshot, every subsequent commit, deletes included, no double
    * apply on any recovery path.
    *
    * @return the upsert's [[MergeStats]] (zero-row batches no-op).
    */
  def applyChanges(spark: SparkSession, path: String, changes: DataFrame,
      opCol: String = "op", txn: Option[(String, Long)] = None,
      maxRetries: Int = 5, filesPerBucket: Int = 1): MergeStats = {
    require(changes.columns.contains(opCol),
      s"changes carry no '$opCol' column — not a change feed")
    // folds by the table's own key — one column, or the full tuple on
    // a composite grid
    val keyCols = tableLayoutKeys(spark, path).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"$path records no bucketing layout — applyChanges " +
        "folds by the table's own key"))
    // REPLAY short-circuit (r18): the txn stamp would no-op this apply
    // inside the upsert anyway, but only after the change feed had been
    // evaluated and materialized — for a checkpoint-wipe replay of N
    // batches that is N wasted feed scans. Check the stamp FIRST; the
    // no-op costs one manifest read, not the feed. (upsertGrid keeps
    // its own guard for the race where a duplicate lands between this
    // check and the commit.)
    txn.foreach { case (app, batch0) =>
      if (latestTxn(spark, path, app).exists(_ >= batch0)) {
        val parentV = currentVersion(spark, path)
        val nTot = tableLayoutKeys(spark, path)
          .map(_._2.map(_.toLong).product.toInt).getOrElse(-1)
        return MergeStats(0, nTot, 0L, parentV, 0, skippedDupTxn = true)
      }
    }
    val dataCols = changes.columns.filterNot(_ == opCol).toSeq
    keyCols.foreach(kc => require(dataCols.contains(kc),
      s"changes lack the table key '$kc'"))
    // MATERIALIZE the net image ONCE (the sql_merge localCheckpoint
    // move, r10/SCALE.md): everything below — the dup-key guard, the
    // pos/del split, and upsertGrid's several passes — re-evaluates
    // this frame, and `changes` is typically a CHANGE-FEED SCAN whose
    // windowed diff is the expensive part. One evaluation of the feed,
    // then a batch-sized local frame; measured 2-3 s -> <1 s per
    // replication micro-batch at sf0.1.
    val net = changes.groupBy(dataCols.map(col): _*)
      .agg(sum(col(opCol).cast("long")).as("__net"))
      .localCheckpoint()
    val pos = net.filter(col("__net") > 0).drop("__net")
    val dupKeys = pos.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).count()
    require(dupKeys == 0L,
      s"$dupKeys key(s) have more than one net-positive image — the " +
      "batch flattens unordered history; feed commit-shaped batches " +
      "(changesBetween output or graft-table micro-batches)")
    // strictly-negative net only: an image netting to exactly zero was
    // applied and reverted within the batch (A→B→A across commits) and
    // must be a no-op, not a delete — see the contract above
    val delRows = net.filter(col("__net") < 0).drop("__net")
      .join(pos.select(keyCols.map(col): _*), keyCols, "left_anti")
      .dropDuplicates(keyCols)
    val batch = pos.withColumn("__apply_del", lit(false))
      .unionByName(delRows.withColumn("__apply_del", lit(true)))
    try upsertGrid(spark, path, batch,
      maxRetries = maxRetries, txn = txn,
      tombstoneCol = Some("__apply_del"), filesPerBucket = filesPerBucket)
    // drop the pinned net image's blocks: a long streaming session
    // folds hundreds of batches and the ContextCleaner only reclaims
    // them on GC — unpin deterministically once the commit consumed it
    finally org.apache.spark.sql.GraftShim.unpinLocalCheckpoint(net)
  }

  /** [[applyChanges]] for DELTA CDF-DIALECT feeds: fold a batch labeled
    * with `_change_type` (the shape `readChangeFeed` streams and
    * [[changesBetweenCdf]] / the `graft_table_changes` TVF return) into
    * this keyed table — so CDC replication in the Delta dialect is
    *
    * {{{
    *   spark.readStream.format("graft-table").option("path", src)
    *     .option("readChangeFeed", "true").load()
    *     .writeStream.foreachBatch { (b, id) =>
    *       Merge.applyChangesCdf(spark, replica, b,
    *         txn = Some(("rep", id))); ()
    *     }
    * }}}
    *
    * Labels map to the op dialect (insert/update_postimage → +1,
    * delete/update_preimage → -1; anything else fails loudly), the CDF
    * bookkeeping columns drop, and [[applyChanges]]'s net-image fold
    * does the rest — a multi-commit batch (A→B then B→C) nets B to
    * zero and applies C, exactly once under the same txn stamp.
    */
  def applyChangesCdf(spark: SparkSession, path: String,
      changes: DataFrame, txn: Option[(String, Long)] = None,
      maxRetries: Int = 5, filesPerBucket: Int = 1): MergeStats = {
    require(changes.columns.contains("_change_type"),
      "changes carry no '_change_type' column — not a CDF-dialect feed " +
      "(for the slim op INT dialect use applyChanges)")
    val op = when(col("_change_type").isin("insert", "update_postimage"),
        1)
      .when(col("_change_type").isin("delete", "update_preimage"), -1)
    val labeled = changes
      .withColumn("__cdf_op", coalesce(op,
        raise_error(concat(lit("unknown _change_type '"),
          col("_change_type"), lit("'")))))
      .drop("_change_type", "_commit_version", "_commit_timestamp")
    applyChanges(spark, path, labeled, opCol = "__cdf_op", txn = txn,
      maxRetries = maxRetries, filesPerBucket = filesPerBucket)
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE dst SHALLOW CLONE src`):
    * start a NEW versioned table at `dst` whose v0 is `src`'s image at
    * `version` — the clone's manifest references the source's data
    * files by ABSOLUTE path, so no data moves at any table size and
    * the clone costs one manifest write. From there the tables diverge
    * by ordinary copy-on-write: an upsert on the clone rewrites only
    * its touched buckets into the clone's own directory (the manifest
    * then mixes local and foreign refs; readers group by source root),
    * and the source never sees any of it. [[compactVersion]] on the
    * clone rewrites every referenced file locally — Delta's
    * "materialize the clone" move — after which no foreign ref remains.
    *
    * The one cross-table hazard is Delta's too, and it is documented
    * there as it is here: [[vacuum]] on the SOURCE does not know about
    * clones, so it can reclaim files a clone still references. Keep the
    * cloned version tagged ([[tagVersion]]) on the source for as long
    * as un-materialized clones of it exist — tag-aware vacuum then
    * provably never deletes what the clone reads.
    *
    * Layout, schema, stats (re-anchored to the absolute refs, so
    * data skipping and [[lookupKey]] prune on the clone exactly as on
    * the source), CHECK constraints, and the manifest shard span all
    * carry over. Replaces any existing table at `dst`.
    */
  def cloneTableAt(spark: SparkSession, src: String, dst: String,
      version: Long): Unit = {
    val (sfs, sroot) = fsFor(spark, src)
    // the clone REPLACES dst (recursive delete) — refuse any overlap
    // with the source, or a one-argument mistake (src == dst, or one
    // nested in the other) deletes the source's data and log before
    // the manifest referencing them is written: unrecoverable loss
    val (dfs0, droot0) = fsFor(spark, dst)
    val sq = sfs.makeQualified(sroot).toString.stripSuffix("/")
    val dq = dfs0.makeQualified(droot0).toString.stripSuffix("/")
    require(sq != dq && !sq.startsWith(dq + "/") && !dq.startsWith(sq + "/"),
      s"clone destination $dq overlaps source $sq — a clone recursively " +
      "replaces its destination, which here would delete source data")
    val m = readManifest(spark, sroot, version)
    require(m.dataSchema.isDefined,
      s"$src v$version records no schema — a clone could not align " +
      "foreign and local reads; rewrite the source with writeKeyed first")
    val abs = m.files.map(f =>
      sfs.makeQualified(new Path(sroot, f)).toString)
    val byRel = m.files.zip(abs).toMap
    val (dfs, droot) = fsFor(spark, dst)
    if (dfs.exists(droot)) dfs.delete(droot, true)
    dropCachedManifests(droot)
    writeManifest(dfs, droot,
      Manifest(0L, -1L, abs.sorted, m.dataSchema,
        layout = m.layout, statsCols = m.statsCols,
        stats = m.stats.map(e => e.copy(file =
          byRel.getOrElse(e.file, e.file))),
        ts = System.currentTimeMillis(), op = Some("clone"),
        rowsUpserted = 0L, rowsDeleted = 0L,
        shardSpan = m.shardSpan, constraints = m.constraints,
        dvFiles = m.dvFiles.map(f =>
          sfs.makeQualified(new Path(sroot, f)).toString),
        colMap = m.colMap, physRetired = m.physRetired,
            colAliases = m.colAliases,
        idHwm = m.idHwm, keySorted = m.keySorted,
        layoutCols = m.layoutCols, layoutNs = m.layoutNs))
  }

  /** [[cloneTableAt]] of the source's current version. */
  def cloneTable(spark: SparkSession, src: String, dst: String): Unit =
    cloneTableAt(spark, src, dst, currentVersion(spark, src))

  // ------------------------------------------------------------- tags

  private def tagsPath(root: Path) = new Path(logPath(root), "tags")

  /** TAG a committed version with an immutable name — Iceberg's tags,
    * git tags for tables: `readTag(spark, path, "v2026-08-release")`
    * stays answerable forever, because [[vacuum]] keeps tagged
    * versions (manifest, data files, shards) alive regardless of
    * `keepVersions` until the tag is dropped. Tags live in the
    * [[VersionLog.Tags]] store: created through the claim and never
    * repointed — re-tagging an existing name throws; delete and
    * re-create to move it, so a reader can cache what a tag meant.
    */
  def tagVersion(spark: SparkSession, path: String, tag: String,
      version: Long): Unit = {
    VersionLog.Tags.requireValid(tag)
    val (fs, root) = fsFor(spark, path)
    readManifest(spark, root, version) // must exist and be retained
    VersionLog.Tags.create(fs, tagsPath(root), tag, version, path)
  }

  /** The version a tag names; throws on an unknown tag. */
  def tagVersionOf(spark: SparkSession, path: String, tag: String): Long = {
    val (fs, root) = fsFor(spark, path)
    VersionLog.Tags.versionOf(fs, tagsPath(root), tag, path)
  }

  /** All tags: (tag, version), driver-local listing of the tags dir. */
  def tags(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val (fs, root) = fsFor(spark, path)
    VersionLog.Tags.list(fs, tagsPath(root)).toDF("tag", "version")
  }

  /** Drop a tag (the version becomes vacuumable like any other). */
  def deleteTag(spark: SparkSession, path: String, tag: String): Unit = {
    val (fs, root) = fsFor(spark, path)
    VersionLog.Tags.delete(fs, tagsPath(root), tag, path)
  }

  /** The rows of the version a tag names (`VERSION AS OF 'tag'`). */
  def readTag(spark: SparkSession, path: String, tag: String): DataFrame =
    readVersion(spark, path, tagVersionOf(spark, path, tag))

  /** Commit history of the RETAINED versions (DESCRIBE HISTORY): one
    * row per manifest — version, parent, operation, commit timestamp,
    * file count, row deltas (-1 where a pre-metadata manifest didn't
    * record them). Driver-local manifest reads; rows bounded by the
    * retained version count.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val (_, root) = fsFor(spark, path)
    val latest = currentVersion(spark, path)
    require(latest >= 0, s"$path has no version log")
    (0L to latest).flatMap(v => readManifestOpt(spark, root, v)).map { m =>
      (m.version, m.parent, m.op.getOrElse("unknown"), m.ts,
        m.files.size, m.rowsUpserted, m.rowsDeleted)
    }.toDF("version", "parent", "op", "ts", "n_files",
      "rows_upserted", "rows_deleted")
  }

  /** One version's recorded per-file stats entries (table-relative file,
    * column, min/max in [[Skipping]]'s encoding) — the observability
    * hook for layout tooling and specs: what can this version's manifest
    * prune on, and how tight are the per-file ranges?
    */
  def versionFileStats(spark: SparkSession, path: String,
      version: Long): Seq[Skipping.FileStats] = {
    val (_, root) = fsFor(spark, path)
    readManifest(spark, root, version).stats
  }

  /** A version's (shardIdx → shard file id) manifest refs — empty for
    * inline-manifest tables. The inspection hook sharding specs and
    * gates pin REUSE with: an untouched shard must carry the same
    * content-addressed id across commits (the O(touched) commit
    * contract), and a touched one must get a new id.
    */
  def manifestShardRefs(spark: SparkSession, path: String,
      version: Long): Seq[(Long, String)] = {
    val (_, root) = fsFor(spark, path)
    readManifest(spark, root, version).shardIds
  }

  /** Read one committed version under interval `bounds`: manifest-stats
    * file pruning + the bounds as a residual filter — result ≡ reading
    * the whole version and filtering, scan cost ∝ the files whose
    * recorded ranges intersect. At 100 TB this is what makes a filtered
    * read of a versioned table cheap: planning consults the manifest
    * alone (no listing, no footers), then reads only surviving files.
    */
  def readVersionSkipping(spark: SparkSession, path: String, version: Long,
      bounds: Seq[Skipping.Bound]): DataFrame = {
    require(bounds.nonEmpty, "readVersionSkipping needs >= 1 bound")
    val (_, root) = fsFor(spark, path)
    val m = readManifest(spark, root, version)
    val schema = m.dataSchema.map(schemaFromString).getOrElse(
      throw new IllegalArgumentException(
        s"$path v$version records no schema — cannot type the bounds"))
    val (sel, _) = planVersionFiles(spark, path, version, bounds)
    val base =
      if (sel.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else versionDf(spark, path, root, m.copy(files = sel)).drop("__bucket")
    bounds.foldLeft(base)((df, b) =>
      df.filter(Skipping.residual(schema(b.column).dataType, b)))
  }

  /** [[readVersionSkipping]] at the latest committed version. */
  def readKeyedSkipping(spark: SparkSession, path: String,
      bounds: Seq[Skipping.Bound]): DataFrame = {
    val v = currentVersion(spark, path)
    require(v >= 0, s"$path has no version log — readKeyedSkipping needs one")
    readVersionSkipping(spark, path, v, bounds)
  }

  /** Filtered read of one version driven by a plain predicate: bounds
    * auto-extracted via [[Skipping.impliedBounds]] prune files from the
    * manifest, the FULL predicate applies after — result ≡
    * `readVersion(...).filter(pred)` whatever the extraction found.
    * This is the API a query layer should call: the user writes the
    * filter they mean, the manifest stats do what they can.
    */
  def readVersionWhere(spark: SparkSession, path: String, version: Long,
      pred: org.apache.spark.sql.Column): DataFrame = {
    val bounds = Skipping.impliedBounds(pred)
    val base =
      if (bounds.isEmpty) readVersion(spark, path, version)
      else readVersionSkipping(spark, path, version, bounds)
    base.filter(pred)
  }

  /** Key types the native bucket scan's V2 `bucket` function can
    * re-derive the writer's xxhash64 routing for — the int-backed
    * (INT, DATE), the long-backed (BIGINT, TIMESTAMP, TIMESTAMP_NTZ)
    * and default-collation STRING. A table keyed on anything else is
    * still a perfectly good graft table; it just reads through the V1
    * bridge and joins with a shuffle.
    */
  val spjKeyTypes: Set[org.apache.spark.sql.types.DataType] = Set(
    org.apache.spark.sql.types.LongType,
    org.apache.spark.sql.types.IntegerType,
    org.apache.spark.sql.types.StringType,
    org.apache.spark.sql.types.DateType,
    org.apache.spark.sql.types.TimestampType,
    org.apache.spark.sql.types.TimestampNTZType)

  /** The NATIVE bucket-grouped scan's planning result: per-bucket
    * (absolutePath, byteLength) file groups, plus the version's LIVE
    * deletion-vector sidecars (absolutePath, byteLength) — the reader
    * subtracts their (file, pos) rows as a skip mask, so merge-on-read
    * deletes survive the zero-shuffle path instead of forcing the V1
    * fallback exactly where a CDC-maintained table lives.
    */
  final case class BucketScanPlan(keyCols: Seq[String],
      bucketNs: Seq[Int],
      keySorted: Boolean, units: Seq[(Long, Seq[(String, Long)])],
      dvFiles: Seq[(String, Long)],
      colMap: Seq[(String, String)] = Seq.empty)

  /** Planning units for the NATIVE bucket-grouped DSv2 scan
    * ([[graft.sources.v2]] storage-partitioned joins): Some(plan) when
    * the version is natively scannable — a recorded layout + schema
    * and a key type the V2 bucket function can hash. Live deletion
    * vectors AND column mapping both ride along (see
    * [[BucketScanPlan]]). `bounds` prune files through
    * the manifest stats exactly as [[readVersionSkipping]]; a
    * fully-pruned bucket disappears from the plan
    * (KeyGroupedPartitioning handles the missing partition values).
    * Lengths come from one `listStatus` per bucket directory —
    * O(buckets) namenode calls, never O(files).
    */
  def bucketScanUnits(spark: SparkSession, path: String, version: Long,
      bounds: Seq[Skipping.Bound]): Option[BucketScanPlan] = {
    val (fs, root) = fsFor(spark, path)
    val m = readManifest(spark, root, version)
    // single-key layout OR a composite tuple (layoutCols): the V2
    // bucket function binds either shape
    val keyLayout: Option[(Seq[String], Seq[Int])] =
      m.layout.map { case (k, kn) => (Seq(k), Seq(kn)) }
        .orElse(if (m.layoutCols.size >= 2 &&
            m.layoutNs.size == m.layoutCols.size &&
            m.layoutNs.forall(_ >= 1))
          Some((m.layoutCols, m.layoutNs)) else None)
    if (keyLayout.isEmpty || m.dataSchema.isEmpty) return None
    val (keyCols, ns) = keyLayout.get
    // the V2 bucket function cannot bind these key types — never build
    // a native scan the planner would then fail to resolve
    if (!m.dataSchema.map(schemaFromString).exists(s =>
        keyCols.forall(k => s.fieldNames.contains(k) &&
          spjKeyTypes.contains(s(k).dataType)))) return None
    val sel =
      if (bounds.isEmpty) m.files
      else planVersionFiles(spark, path, version, bounds)._1
    // lengths via ONE listStatus per bucket DIRECTORY — O(buckets)
    // namenode calls, never O(files): a million-file table plans with
    // thousands of listings, the same cost class as any partitioned
    // file index
    val abs: Map[String, Path] = sel.map { f =>
      val p = new Path(f)
      (f, if (p.isAbsolute) p else new Path(root, f))
    }.toMap
    val lenByPath: Map[String, Long] = abs.values.map(_.getParent)
      .toSeq.distinct
      .flatMap(dir => fs.listStatus(dir).filter(_.isFile)
        .map(st => st.getPath.toString -> st.getLen))
      .toMap
    val units = sel.groupBy(bucketOf).toSeq.sortBy(_._1).map {
      case (b, files) =>
        (b, files.sorted.map { f =>
          val p = abs(f)
          val key = fs.makeQualified(p).toString
          (key, lenByPath.getOrElse(key,
            fs.getFileStatus(p).getLen)) // racing compaction landed a
              // file after the listing: stat it directly
        })
    }
    // the DV side is deleted-row-count sized (compaction folds it back
    // to zero); one getFileStatus per sidecar
    val dv = m.dvFiles.map { f =>
      val p = new Path(root, f)
      (fs.makeQualified(p).toString, fs.getFileStatus(p).getLen)
    }
    // COLUMN MAPPING rides along: files store PHYSICAL names; the scan
    // renames its read schemas logical→physical at the reader doorway
    // (rows are positional — nothing else changes)
    Some(BucketScanPlan(keyCols, ns, m.keySorted, units, dv, m.colMap))
  }

  /** [[readVersionWhere]] at the latest committed version. */
  def readKeyedWhere(spark: SparkSession, path: String,
      pred: org.apache.spark.sql.Column): DataFrame = {
    val v = currentVersion(spark, path)
    require(v >= 0, s"$path has no version log — readKeyedWhere needs one")
    readVersionWhere(spark, path, v, pred)
  }

  /** POINT LOOKUP: the current rows for one key, reading ONLY the files
    * of the bucket the key hashes to — at 100 TB with 4096 buckets, one
    * lookup touches 1/4096th of the table's files (and after
    * [[compactVersion]], typically ONE file) instead of a full scan. The
    * key column and bucket count come from the manifest's recorded
    * layout, so the caller cannot mis-hash; `key` is cast to the key
    * column's own type before hashing (a string "5" against a LONG key
    * hashes as the long 5).
    */
  def lookupKey(spark: SparkSession, path: String, key: Any): DataFrame = {
    val (_, root) = fsFor(spark, path)
    val v = currentVersion(spark, path)
    require(v >= 0, s"$path has no version log — lookupKey needs one")
    val m = readManifest(spark, root, v)
    require(m.layoutCols.isEmpty,
      s"$path is bucketed on the COMPOSITE key " +
      s"(${m.layoutCols.mkString(", ")}) — use lookupKeyTuple with " +
      "one value per key column")
    val (keyCol, nBuckets) = m.layout.getOrElse(throw
      new IllegalArgumentException(s"$path's manifest predates layout " +
        "recording — rewrite it with writeKeyed to enable lookupKey"))
    val keyType = m.dataSchema.map(schemaFromString)
      .map(_(keyCol).dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"$path's manifest records no schema"))
    // ONE planning path with [[planVersionFiles]]: the point bound on
    // the layout key gets the writer's bucket-hash prune (structural),
    // the within-bucket [min, max]/inline-bloom prune, AND the lazy
    // `bloomx:` sidecar refinement — a bloomx-indexed hot bucket costs
    // one sidecar read per surviving file, not a scan of its history
    val files = planVersionFiles(spark, path, v,
      Seq(Skipping.Bound(keyCol, Some(key), Some(key))))._1
    if (files.isEmpty) // bucket never materialized (or every file's key
      // range excludes it): provably no such key
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        m.dataSchema.map(schemaFromString).get)
    versionDf(spark, path, root, m.copy(files = files))
      .drop("__bucket")
      .filter(col(keyCol) === lit(key).cast(keyType))
  }

  /** [[lookupKey]] for a composite-key GRID (and, degenerately, a
    * single-key table): the values pair positionally with the
    * recorded layout columns, each dimension's hash names its digit,
    * and the scan reads exactly the ONE cell the tuple flattens to —
    * at a 4096-cell grid, 1/4096th of the table's files, structurally
    * (no stats needed), via the same per-dimension pruning
    * [[planVersionFiles]] applies to any point bound.
    */
  def lookupKeyTuple(spark: SparkSession, path: String,
      keys: Seq[Any]): DataFrame = {
    val (_, root) = fsFor(spark, path)
    val v = currentVersion(spark, path)
    require(v >= 0, s"$path has no version log — lookupKeyTuple needs one")
    val m = readManifest(spark, root, v)
    val dims: Seq[String] = m.layout.map(l => Seq(l._1))
      .getOrElse(m.layoutCols)
    require(dims.nonEmpty,
      s"$path records no bucketing layout — lookup needs one")
    require(keys.size == dims.size,
      s"$path is keyed on (${dims.mkString(", ")}) — pass one value " +
      s"per key column, got ${keys.size}")
    val schema = m.dataSchema.map(schemaFromString).getOrElse(
      throw new IllegalArgumentException(
        s"$path's manifest records no schema"))
    val bounds = dims.zip(keys).map { case (kc, k) =>
      Skipping.Bound(kc, Some(k), Some(k))
    }
    val files = planVersionFiles(spark, path, v, bounds)._1
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    dims.zip(keys).foldLeft(
      versionDf(spark, path, root, m.copy(files = files))
        .drop("__bucket")) { case (df, (kc, k)) =>
      df.filter(col(kc) === lit(k).cast(schema(kc).dataType))
    }
  }

  final case class MergeStats(bucketsTouched: Int, nBuckets: Int,
      rowsUpserted: Long, version: Long, retries: Int = 0,
      skippedDupTxn: Boolean = false, rowsDeleted: Long = 0L)

  /** The highest batch id `appId` has committed among the RETAINED
    * manifests, or None — the idempotence watermark for transactional
    * writers ([[streamingUpsert]]). Vacuum bounds how far back this can
    * see: when vacuuming under a live transactional writer, keep enough
    * versions to cover the longest possible batch replay (Structured
    * Streaming replays at most the final uncommitted batch, so
    * `keepVersions >= 2` suffices for one stream into the table).
    */
  def latestTxn(spark: SparkSession, path: String,
      appId: String): Option[Long] = {
    val (_, root) = fsFor(spark, path)
    val batches = listVersions(spark, root)
      .flatMap(v => readManifestOpt(spark, root, v,
        resolveShards = false))
      .flatMap(_.txn)
      .collect { case (app, batch) if app == appId => batch }
    if (batches.isEmpty) None else Some(batches.max)
  }

  /** The source-file URIs every retained commit has already COPY'd
    * INTO this table — [[copyInto]]'s idempotence set, read from the
    * version log alone (each manifest records only ITS commit's delta,
    * so manifests stay O(commit) however many files ever loaded). Same
    * retention caveat as [[latestTxn]]: vacuum bounds how far back
    * this sees — keep enough versions to cover the landing zone's
    * lifetime, or move loaded files out of it.
    */
  def ingestedFiles(spark: SparkSession, path: String): Set[String] = {
    val (_, root) = fsFor(spark, path)
    listVersions(spark, root)
      .flatMap(v => readManifestOpt(spark, root, v, resolveShards = false))
      .flatMap(_.copied).toSet
  }

  final case class CopyStats(version: Long, filesCopied: Int,
      filesSkipped: Int, rowsCopied: Long)

  /** COPY INTO (the lakehouse idempotent-ingestion verb): load the
    * data files under `source` into the keyed table, EXACTLY ONCE PER
    * FILE across any number of calls — the landing-zone pattern, where
    * an external system keeps dropping files and a scheduled loader
    * sweeps them in. Each call lists the source, subtracts the already-
    * loaded set ([[ingestedFiles]]), and folds ONLY the fresh files
    * through one [[upsert]] commit whose manifest atomically records
    * their URIs — so the data and the "loaded" mark commit together:
    * a crash at any point either loaded a file and remembers it, or
    * neither. Re-running after a partial failure resumes exactly.
    *
    * Contracts: the table's layout key must be present in the source
    * rows (COPY INTO folds through the keyed upsert — a key seen twice
    * across the fresh files is refused loudly rather than resolved by
    * file-listing order); source columns must match the table schema
    * by name (castable types align; project upstream otherwise);
    * sub-directories and `_`/`.`-prefixed files are ignored, exactly
    * like Spark's own file listing. A fresh file with ZERO rows
    * commits nothing and is therefore re-examined (and re-skipped as
    * empty) by later calls — documented cost of keeping the loaded
    * mark inside the data commit. Racing loaders may both load the
    * same fresh batch: the second's keyed re-merge of identical rows
    * is a no-op image-wise and the duplicate `copied` entries are
    * harmless (the idempotence set is a union).
    */
  def copyInto(spark: SparkSession, path: String, source: String,
      format: String = "parquet",
      options: Map[String, String] = Map.empty): CopyStats = {
    val (keyCol, nBuckets) = tableLayout(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"$path records no (keyCol, nBuckets) layout — COPY INTO " +
        "folds through the keyed upsert"))
    val src = new Path(source)
    val sfs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(sfs.exists(src), s"COPY INTO source $source does not exist")
    val listed = sfs.listStatus(src)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted.toSeq
    val fresh = listed.filterNot(ingestedFiles(spark, path))
    val head = currentVersion(spark, path)
    if (fresh.isEmpty) return CopyStats(head, 0, listed.size, 0L)
    val raw = spark.read.format(format).options(options)
      .load(fresh: _*)
    val schema = versionSchema(spark, path, head).getOrElse(raw.schema)
    val missing = schema.fieldNames.filterNot(raw.columns.contains)
    require(missing.isEmpty,
      s"source files lack table column(s) ${missing.mkString(", ")} — " +
      "project them in upstream (defaults do not apply to COPY INTO)")
    val extra = raw.columns.filterNot(schema.fieldNames.contains)
    require(extra.isEmpty,
      s"source files carry extra column(s) ${extra.mkString(", ")} — " +
      "COPY INTO matches the table schema by name; project upstream")
    val df = raw.select(schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val dups = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).count()
    require(dups == 0L,
      s"$dups key(s) appear more than once across the fresh source " +
      "files — COPY INTO is append-shaped; dedupe upstream or fold " +
      "through upsert batches in a chosen order")
    val st = upsert(spark, path, df, keyCol, nBuckets,
      copiedFiles = fresh)
    CopyStats(st.version, fresh.size, listed.size - fresh.size,
      st.rowsUpserted)
  }

  /** Write `df` partitioned by __bucket into a fresh job-scoped staging
    * dir, move every produced file into its bucket dir under the root,
    * and return the moved files' table-relative paths — the committer's
    * EXACT output set (racing writers' files can never leak in) — plus
    * their per-file stats for `statsCols` (computed on the staged files
    * BEFORE the move; the rename preserves both the bucket dir and the
    * file name, so the relative keys stay valid).
    */
  private def stageAndMove(spark: SparkSession, fs: FileSystem, root: Path,
      df: DataFrame, statsCols: Seq[String] = Seq.empty,
      colMap: Seq[(String, String)] = Seq.empty)
      : (Seq[String], Seq[Skipping.FileStats]) = {
    val staging = new Path(stagingRoot(root),
      java.util.UUID.randomUUID.toString)
    // COLUMN MAPPING: every data file stores PHYSICAL names, whatever
    // renames happened — the one invariant that lets a single read
    // schema span pre- and post-rename files
    val phys = colMap.foldLeft(df) { case (d, (l, p)) =>
      if (l == p) d else d.withColumnRenamed(l, p)
    }
    phys.write.mode("overwrite").partitionBy("__bucket")
      .parquet(staging.toString)
    val l2p = colMap.toMap
    val p2l = colMap.map(_.swap).toMap
    // stats specs and entries speak LOGICAL names; translate through
    // the mapping prefix-aware (`bloom:c` / `statsx:c` rename with c)
    def mapCol(c: String, m: Map[String, String]): String =
      if (Skipping.isBloomSpec(c))
        Skipping.BloomPrefix +
          m.getOrElse(Skipping.bloomBase(c), Skipping.bloomBase(c))
      else if (Skipping.isStatsxSpec(c)) {
        val b = c.stripPrefix(Skipping.StatsxPrefix)
        Skipping.StatsxPrefix + m.getOrElse(b, b)
      } else if (Skipping.isNdvSpec(c)) {
        val b = c.stripPrefix(Skipping.NdvPrefix)
        Skipping.NdvPrefix + m.getOrElse(b, b)
      } else if (Skipping.isNdvxSpec(c)) {
        val b = c.stripPrefix(Skipping.NdvxPrefix)
        Skipping.NdvxPrefix + m.getOrElse(b, b)
      } else m.getOrElse(c, c)
    // one listing of the staged files serves the stats pass and the move
    // (an empty write has no bucket dirs, so nothing to stat or move)
    val staged = listDataStatuses(fs, staging)
    val stats = bucketFileStats(spark, staging, staged.map(_._2),
        statsCols.map(mapCol(_, l2p)),
        phys.schema) // the staged frame's own schema (physical names,
          // __bucket included) — no inference
      .map(e => e.copy(col = mapCol(e.col, p2l)))
    staged.groupBy(_._1.takeWhile(_ != '/')).foreach { case (dir, files) =>
      val destDir = new Path(root, dir)
      if (!fs.exists(destDir)) fs.mkdirs(destDir)
      files.foreach { case (rel, f) =>
        val dest = new Path(root, rel)
        // spark part names embed a per-job UUID: collisions impossible
        require(fs.rename(f.getPath, dest),
          s"failed to move staged file ${f.getPath} to $dest")
      }
    }
    fs.delete(staging, true)
    (staged.map(_._1), externalizeBlooms(fs, root, stats, statsCols))
  }

  private def deleteFiles(fs: FileSystem, root: Path,
      relFiles: Seq[String]): Unit =
    relFiles.foreach(f => fs.delete(new Path(root, f), false))

  /** Advance `parent`'s identity high-water marks by `batch`'s id
    * extremes — one small agg job on identity tables only (returns
    * `parent.idHwm` verbatim otherwise). Monotonic: never moves a mark
    * backwards in step direction. A legacy table without a persisted
    * mark bootstraps from the parent's per-file stats (falling back to
    * `start - step` when stats are absent — sound here because the
    * callers replace the table's whole row set, so the batch extremes
    * cover everything live).
    */
  private def advanceIdHwm(parent: Manifest, schema: Option[StructType],
      batch: DataFrame): Seq[(String, Long)] = {
    val idn = org.apache.spark.sql.catalyst.util.IdentityColumn
    val idFields = schema.map(_.fields.toSeq).getOrElse(Seq.empty)
      .filter(_.metadata.contains(idn.IDENTITY_INFO_START))
    if (idFields.isEmpty) return parent.idHwm
    val aggs = idFields.map { f =>
      val step = f.metadata.getLong(idn.IDENTITY_INFO_STEP)
      (if (step > 0) max(col(f.name).cast(LongType))
       else min(col(f.name).cast(LongType))).as(s"__idx_${f.name}")
    }
    val r = batch.agg(aggs.head, aggs.tail: _*).collect().head
    val advanced = idFields.zipWithIndex.map { case (f, i) =>
      val start = f.metadata.getLong(idn.IDENTITY_INFO_START)
      val step = f.metadata.getLong(idn.IDENTITY_INFO_STEP)
      val base = parent.idHwm
        .collectFirst { case (c, v) if c == f.name => v }
        .getOrElse {
          val vals = parent.stats.filter(_.col == f.name)
            .flatMap(e => if (step > 0) e.max else e.min).map(_.toLong)
          if (vals.isEmpty) start - step
          else if (step > 0) math.max(vals.max, start - step)
          else math.min(vals.min, start - step)
        }
      val v =
        if (r.isNullAt(i)) base
        else if (step > 0) math.max(base, r.getLong(i))
        else math.min(base, r.getLong(i))
      f.name -> v
    }
    val names = advanced.map(_._1).toSet
    (parent.idHwm.filterNot(e => names(e._1)) ++ advanced).sortBy(_._1)
  }

  /** Upsert `updates` (one row per key — last-writer-wins across calls,
    * caller guarantees in-batch key uniqueness) into the keyed table at
    * `path`, committing a new version. Returns how much of the table the
    * write actually touched and the committed version number.
    *
    * Concurrency: safe under concurrent upserts. Losing the manifest race
    * deletes this attempt's files and redoes the merge against the winner's
    * version, up to `maxRetries` times — interleaved committers serialize
    * into a linear version history (equivalent to SOME sequential order;
    * disjoint-key batches commute exactly).
    *
    * Schema evolution: with `allowEvolution = true`, columns present in
    * `updates` but not in the table are ADDED — existing rows read back
    * with nulls in the new columns, and the committed manifest records the
    * widened schema (older versions keep their own). Updates must always
    * carry every existing column; column drops/renames are not evolution.
    *
    * Exactly-once: a `txn = (appId, batchId)` stamps the commit; a later
    * call with the same app and a batch id at or below the committed
    * watermark is a NO-OP (`skippedDupTxn = true`) — the replay guard
    * that makes a restarted foreachBatch writer idempotent. The check
    * re-runs on every commit-race retry, so a replayed batch can never
    * double-apply even when it races its own first application.
    *
    * Deletes: with `tombstoneCol = Some(c)`, updates carry an extra
    * BOOLEAN column `c` (not part of the table schema); rows where it is
    * true are TOMBSTONES — their key is removed from the table instead of
    * upserted. This is merge-with-delete: one commit applies updates,
    * inserts, and deletes, which is exactly the shape a CDC delta stream
    * (`ops.TableDiff.changeDeltas`) folds into.
    */
  def upsert(spark: SparkSession, path: String, updates: DataFrame,
      keyCol: String, nBuckets: Int, allowEvolution: Boolean = false,
      maxRetries: Int = 5, txn: Option[(String, Long)] = None,
      tombstoneCol: Option[String] = None,
      filesPerBucket: Int = 1,
      copiedFiles: Seq[String] = Seq.empty): MergeStats =
    upsertImpl(spark, path, updates,
      Some((Seq(keyCol), Seq(nBuckets))), allowEvolution, maxRetries,
      txn, tombstoneCol, filesPerBucket, copiedFiles)

  /** [[upsert]] routed by the table's OWN recorded layout — single key
    * or composite GRID ([[writeKeyedCols]]): a `(tenant, id)` grid
    * upserts by key TUPLE, each incoming row hashing per dimension
    * into exactly the cell holding its current image, so a small
    * batch rewrites only its keys' cells (never the table) and the
    * grid's exchange-free storage-partitioned joins survive the
    * commit (the rewrite re-sorts each cell by the full key tuple).
    * The layout is read from the manifest — it is fixed at write time
    * and a caller could not legally restate it anyway. Same dialect
    * as [[upsert]]: schema evolution, tombstone deletes, identity /
    * generated columns, CHECK constraints, `txn` replay, lost-race
    * retry.
    */
  def upsertGrid(spark: SparkSession, path: String, updates: DataFrame,
      allowEvolution: Boolean = false, maxRetries: Int = 5,
      txn: Option[(String, Long)] = None,
      tombstoneCol: Option[String] = None,
      filesPerBucket: Int = 1): MergeStats =
    upsertImpl(spark, path, updates, None, allowEvolution, maxRetries,
      txn, tombstoneCol, filesPerBucket, Seq.empty)

  /** The manifest's recorded layout as a key-column/bucket-count pair
    * of sequences (single-key from `layout`, grids from `layoutCols`),
    * validated against what the caller claimed (None = take the
    * manifest's): a caller-supplied key/bucketing that disagrees would
    * scatter keys across buckets and silently corrupt every later
    * merge — fail fast instead.
    */
  private def resolveLayout(parent: Manifest,
      caller: Option[(Seq[String], Seq[Int])], path: String,
      verb: String): (Seq[String], Seq[Int]) = {
    val recorded: Option[(Seq[String], Seq[Int])] =
      parent.layout.map { case (k, n) => (Seq(k), Seq(n)) }
        .orElse(if (parent.layoutCols.size >= 2 &&
            parent.layoutNs.size == parent.layoutCols.size)
          Some((parent.layoutCols, parent.layoutNs)) else None)
    (recorded, caller) match {
      case (Some(r), Some(c)) =>
        require(r == c,
          s"$path is bucketed as (${r._1.mkString(", ")}) × " +
          s"(${r._2.mkString(", ")}) but the $verb says " +
          s"(${c._1.mkString(", ")}) × (${c._2.mkString(", ")}) — " +
          "layout is fixed at write time")
        r
      case (Some(r), None) => r
      case (None, Some(c)) => c // pre-layout table: the caller's
        // claim becomes the recorded layout at commit
      case (None, None) => throw new IllegalArgumentException(
        s"$path records no bucketing layout — write it with " +
        s"writeKeyed/writeKeyedCols before $verb")
    }
  }

  /** The physical bucket id for a key layout: the single-column hash,
    * or the row-major flattened per-dimension grid hash.
    */
  private def bucketExprFor(keyCols: Seq[String], ns: Seq[Int]) =
    if (keyCols.size == 1) bucketCol(keyCols.head, ns.head)
    else bucketColMulti(keyCols, ns)

  /** Should a commit pin (localCheckpoint) its batch before the several
    * actions that consume it? Yes only when re-evaluation is genuinely
    * expensive: the frame computes a join/aggregate/window/distinct —
    * callers routinely pass derived batches (a rollup delta is a
    * join+agg over the whole table) and each extra evaluation repeats
    * that work. Plain scan/filter/project batches (and frames already
    * pinned upstream, e.g. a change feed's localCheckpoint — a bare
    * LogicalRDD leaf) skip the pin: for them the block-store write
    * costs more than the re-scan it saves.
    */
  private def worthPinning(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    var hot = false
    df.queryExecution.analyzed.foreach {
      case _: Join | _: Aggregate | _: Window | _: Distinct |
          _: Deduplicate => hot = true
      case _ => ()
    }
    hot
  }

  private def upsertImpl(spark: SparkSession, path: String,
      updates: DataFrame,
      callerLayout: Option[(Seq[String], Seq[Int])],
      allowEvolution: Boolean,
      maxRetries: Int, txn: Option[(String, Long)],
      tombstoneCol: Option[String],
      filesPerBucket: Int,
      copiedFiles: Seq[String]): MergeStats = {
    val (fs, root) = fsFor(spark, path)
    retryCommit("upsert", path, maxRetries, ContentionHint) { attempt =>
      val parentV = currentVersion(spark, path)
      txn.foreach { case (app, batch) =>
        if (latestTxn(spark, path, app).exists(_ >= batch)) {
          // stats on the skip path report the table's REAL cell count,
          // same as every committed path: grid verbs pass
          // callerLayout = None, so resolve from the parent manifest
          // (one manifest read — the non-skip path does it anyway)
          val nTot = callerLayout.map(_._2.map(_.toLong).product.toInt)
            .getOrElse(if (parentV >= 0) {
              val m = readManifest(spark, root, parentV)
              if (m.layoutNs.nonEmpty) m.layoutNs.map(_.toLong).product.toInt
              else -1
            } else -1)
          return MergeStats(0, nTot,
            0L, parentV, attempt, skippedDupTxn = true)
        }
      }
      require(parentV >= 0,
        s"$path has no version log — write it with writeKeyed first")
      val parent = readManifest(spark, root, parentV)
      val (keyCols, bucketNs) =
        resolveLayout(parent, callerLayout, path, "upsert")
      val nTotal = bucketNs.map(_.toLong).product.toInt
      tombstoneCol.foreach { tc =>
        require(updates.columns.contains(tc),
          s"tombstone column $tc not in the updates")
        require(updates.schema(tc).dataType ==
          org.apache.spark.sql.types.BooleanType,
          s"tombstone column $tc must be BOOLEAN")
      }
      val parentSchema = parent.dataSchema.map(schemaFromString)
      // the tombstone marker never enters the table schema
      val updCols = updates.columns.toSeq.filterNot(tombstoneCol.contains)
      tombstoneCol.foreach(tc => require(
        !parentSchema.exists(_.fieldNames.contains(tc)),
        s"tombstone column $tc collides with a table column"))
      val parentCols: Seq[String] = parentSchema.map(_.fieldNames.toSeq)
        .getOrElse(updCols)
      val missing = parentCols.filterNot(updCols.contains)
      require(missing.isEmpty,
        s"updates must carry every table column; missing: " +
        missing.mkString(", "))
      val newCols = updCols.filterNot(parentCols.contains)
      require(newCols.isEmpty || allowEvolution,
        s"updates add columns [${newCols.mkString(", ")}] not in the table " +
        s"schema — pass allowEvolution = true to add them")
      // under column mapping, an added column's physical name is its own
      // name: refuse names old files still carry physically (another
      // column's pre-rename name, or a dropped column) — the read
      // schema would resurrect those files' stale values into it.
      // Schema evolution is an addColumn in disguise, so it enforces
      // addColumn's full reservation set: retired LOGICAL names too
      // (histToCur would translate the new column's future sidecar
      // entries into the renamed column's stats — silent mis-pruning),
      // and the '@' engine-metadata prefix
      if (newCols.nonEmpty) {
        val atClash = newCols.filter(_.startsWith("@"))
        require(atClash.isEmpty,
          s"added column names [${atClash.mkString(", ")}] are reserved " +
          "('@' prefix marks engine metadata entries)")
        val aliasClash = newCols.filter(c =>
          parent.colAliases.exists(_._1 == c))
        require(aliasClash.isEmpty,
          s"added columns [${aliasClash.mkString(", ")}] were previous " +
          "logical names of columns in this table (immutable stats " +
          "sidecars may still reference them) — pick different names " +
          "or rewrite the table")
      }
      if (newCols.nonEmpty &&
          (parent.colMap.nonEmpty || parent.physRetired.nonEmpty)) {
        val l2p = parent.colMap.toMap
        val physInUse = parentCols.map(c => l2p.getOrElse(c, c)).toSet ++
          parent.physRetired
        val clash = newCols.filter(physInUse.contains)
        require(clash.isEmpty,
          s"added columns [${clash.mkString(", ")}] collide with " +
          "PHYSICAL names still present in this table's files (a " +
          "renamed-away or dropped column) — pick different names or " +
          "rewrite the table")
      }
      // evolution ADDS columns or WIDENS types (Delta's type-widening
      // table: the narrower physical values embed losslessly, and the
      // Spark 4 parquet readers read a narrower file under the wider
      // schema) — any other retype is refused, old files could not be
      // read under it. Compare by catalogString: the manifest stores
      // the schema as DDL, which cannot carry nested nullability
      // (containsNull/valueContainsNull), so a strict DataType equality
      // would spuriously reject e.g. an array<float> batch against its
      // own table after one round trip.
      val widenedCols = scala.collection.mutable.HashSet.empty[String]
      parentSchema.foreach(_.foreach { f =>
        val u = updates.schema(f.name)
        val widens = canWiden(f.dataType, u.dataType)
        require(u.dataType.catalogString == f.dataType.catalogString ||
            (widens && allowEvolution),
          if (widens)
            s"column ${f.name} widens ${f.dataType.simpleString} -> " +
            s"${u.dataType.simpleString} — pass allowEvolution = true"
          else
            s"column ${f.name} is ${f.dataType.simpleString} in the " +
            s"table but ${u.dataType.simpleString} in the updates — " +
            "only widening type changes are schema evolution")
        // the LAYOUT KEY's type feeds the bucket hash (xxhash64 of an
        // int and of the same value as a long DIFFER): widening it
        // would route new keys into different buckets than the files
        // holding their current rows hold — silent corruption. The key
        // type is part of the layout; relayout is the escape.
        if (u.dataType.catalogString != f.dataType.catalogString) {
          widenedCols += f.name
          require(!keyCols.contains(f.name),
            s"the layout key '${f.name}' cannot change type " +
            s"(${f.dataType.simpleString} -> ${u.dataType.simpleString})" +
            " — its hash routes buckets; rewrite via relayout/writeKeyed")
        }
      })
      val outCols = parentCols ++ newCols
      // existing columns keep the TABLE's field (metadata rides along —
      // column DEFAULT values live there and a batch frame never
      // carries them) under the batch's possibly-widened type; genuinely
      // new columns take the batch's field
      val outSchema = StructType(outCols.map { c =>
        val u = updates.schema.find(_.name == c)
        parentSchema.flatMap(_.find(_.name == c)) match {
          case Some(pf) => pf.copy(dataType = u.getOrElse(pf).dataType)
          case None => u.get
        }
      })
      // IDENTITY columns: null incoming values take generated ids past
      // the table's high-water mark. The mark is PERSISTED in the
      // manifest (`idHwm`) and advances MONOTONICALLY per commit —
      // extreme(parent's mark, the batch's extreme) in step direction —
      // so deleting the current max-id row can never re-issue its id
      // (the tombstone upsert rewrites that bucket and its live-file
      // stats DROP; a mark re-derived from stats would drop with them —
      // Delta persists highWaterMark with the same never-lowered
      // contract). A legacy table without a persisted mark bootstraps
      // ONCE from the per-file max stats (recorded from birth — see
      // the catalog's CREATE); the commit then persists the advanced
      // mark. A commit-race retry re-reads the WINNER's manifest so
      // racing writers cannot mint the same id. Values are contiguous
      // within a batch but gaps across batches/deletes are normal
      // (every identity implementation's contract). Explicit non-null
      // values pass through — the upsert verb is insert+update in one,
      // so an update's carried id is indistinguishable from an explicit
      // insert here (the SQL INSERT doorway, where they ARE
      // distinguishable, enforces allowExplicitInsert) — and they
      // advance the mark too, so later mints never collide with them.
      // Cost on identity tables only: one pass pinning the null-id
      // subset plus a bounded per-partition offsets job — minting runs
      // PARALLEL per partition, so seed backfills of any size mint at
      // scan speed.
      val idn = org.apache.spark.sql.catalyst.util.IdentityColumn
      // (field, step, base mark): every id ever issued is at or behind
      // `base` in step direction
      val idBases: Seq[(StructField, Long, Long)] =
        outSchema.fields.toSeq
          .filter(_.metadata.contains(idn.IDENTITY_INFO_START))
          .map { f =>
            val start = f.metadata.getLong(idn.IDENTITY_INFO_START)
            val step = f.metadata.getLong(idn.IDENTITY_INFO_STEP)
            val base = parent.idHwm
              .collectFirst { case (c, v) if c == f.name => v }
              .getOrElse {
                val entries = parent.stats.filter(_.col == f.name)
                val statted = entries.map(_.file).toSet
                require(parent.files.forall(statted.contains),
                  s"identity column ${f.name}: a data file records no " +
                  "stats — identity tables must record stats on the " +
                  "identity column from birth (the catalog CREATE does)")
                val vals = entries
                  .flatMap(e => if (step > 0) e.max else e.min)
                  .map(_.toLong)
                if (vals.isEmpty) start - step
                else if (step > 0) math.max(vals.max, start - step)
                else math.min(vals.min, start - step)
              }
            (f, step, base)
          }
      // identity tables evaluate the batch several times below (null
      // probe, offsets count, the union) — pin an EXPENSIVE batch once
      // first; plain tables skip straight through (the fold is a no-op)
      val pinBatch = worthPinning(updates)
      // EVERY checkpoint this attempt creates is tracked and released in
      // one finally — the seed pin and the minting pins used to leak
      // (only withB was unpinned, and only when the commit try was
      // reached; a constraint/stage failure leaked even that)
      val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def pin(df: DataFrame, eager: Boolean): DataFrame = {
        val c = df.localCheckpoint(eager); pins += c; c
      }
      def unpinAll(): Unit = pins.foreach(
        org.apache.spark.sql.GraftShim.unpinLocalCheckpoint)
      try {
      val idApplied = idBases.foldLeft(
        if (idBases.isEmpty || !pinBatch) updates
        else pin(updates, eager = false)) {
          case (d, (f, step, hwm)) =>
        if (d.filter(col(f.name).isNull).isEmpty) d
        else {
          // DISTRIBUTED minting: per-partition row_number + broadcast
          // partition offsets — never a single-partition window, so a
          // billion-row seed backfill mints in parallel. The null-id
          // subset is PINNED first (localCheckpoint) so the offsets
          // job and the numbering job see identical partitions.
          val nulls = pin(d.filter(col(f.name).isNull), eager = true)
          val withPid = nulls.withColumn("__pid", spark_partition_id())
          val counts = withPid.groupBy("__pid").count().collect()
            .map(r => (r.getInt(0), r.getLong(1)))
            .sortBy(_._1) // bounded by the batch's partition count
          val offsets: Map[Int, Long] = counts
            .scanLeft((Int.MinValue, 0L)) { case ((_, acc), (pid, n)) =>
              (pid, acc + n)
            }
            .sliding(2).collect { case Array((_, acc), (pid, _)) =>
              pid -> acc
            }.toMap
          // the offsets ride a MAP LITERAL + element_at (codegen'd, no
          // UDF in the minting scan); bounded by the batch's partition
          // count, a few KB at any scale
          val offOf = org.apache.spark.sql.functions.element_at(
            typedLit(offsets), col("__pid"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("__pid").orderBy(monotonically_increasing_id())
          pin(d.filter(col(f.name).isNotNull).unionByName(
            withPid.withColumn(f.name,
              (lit(hwm) + lit(step) *
                (offOf + row_number().over(w)))
                .cast(f.dataType))
              .drop("__pid")),
            eager = true) // minted ids must survive the
                          // merge's several passes unchanged
        }
      }
      // GENERATED columns (`GENERATED ALWAYS AS (expr)`): the ENGINE
      // owns the value — every incoming image RECOMPUTES it from the
      // row's other columns, whatever the image carried. Recompute-
      // always (not validate-then-refuse) is the rule that keeps
      // UPDATE/MERGE correct: a row-level update of a referenced
      // column builds its new image with the STALE generated value,
      // and the recomputation is what brings it back in sync (Delta's
      // UPDATE behavior); it is also idempotent for replayed change
      // feeds, whose carried values recompute to themselves. Applied
      // before constraints and bucketing so both see the final images.
      val genApplied = outSchema.fields.toSeq
        .filter(_.metadata.contains(org.apache.spark.sql.catalyst.util
          .GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY))
        .foldLeft(idApplied) { (d, f) =>
          d.withColumn(f.name, expr(f.metadata.getString(
            org.apache.spark.sql.catalyst.util.GeneratedColumn
              .GENERATION_EXPRESSION_METADATA_KEY)).cast(f.dataType))
        }
      // The batch frame is consumed by SEVERAL actions below (constraint
      // agg, per-bucket agg, broadcast key build, the staged write) and
      // callers routinely pass DERIVED batches — a rollup delta is a
      // join+agg over the whole table — so materialize it ONCE (lazy
      // localCheckpoint: the first action below pays the evaluation and
      // every later consumer reads the stored blocks; guide §1.2 "don't
      // recompute what you throw away", the applyChanges discipline).
      // Lazy, not eager, so no extra job is spawned for plain batches.
      val withB = {
        val b = genApplied
          .withColumn("__bucket", bucketExprFor(keyCols, bucketNs))
        if (pinBatch) pin(b, eager = false) else b
      }
      // CHECK constraints gate the commit: every surviving (non-
      // tombstoned) incoming row must satisfy them. Existing rows were
      // validated at their own commit (or at addConstraint), so checking
      // the batch alone keeps the whole-table invariant — at any scale,
      // enforcement costs one pass over the BATCH, never the table.
      // Runs over the checkpointed frame (the extra __bucket column is
      // invisible to the constraint exprs, which reference table columns).
      enforceConstraints(
        tombstoneCol.map(tc =>
          withB.filter(!coalesce(col(tc), lit(false))))
          .getOrElse(withB),
        parent.constraints, "the update batch")
      // one job: touched bucket ids, the upserted/deleted row counts,
      // AND (identity tables only) the batch's id extremes — the
      // high-water-mark advance rides the agg we run anyway
      val delAgg = tombstoneCol
        .map(tc => sum(when(col(tc), 1L).otherwise(0L)))
        .getOrElse(sum(lit(0L))).as("d")
      val idAggs = idBases.map { case (f, step, _) =>
        (if (step > 0) max(col(f.name).cast(LongType))
         else min(col(f.name).cast(LongType))).as(s"__idx_${f.name}")
      }
      val perBucketRows = withB.groupBy("__bucket")
        .agg(count(lit(1)).as("n"), (delAgg +: idAggs): _*)
        .collect() // bounded by nBuckets
      val perBucket =
        perBucketRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      if (perBucket.isEmpty) {
        // the enclosing finally releases the pins
        return MergeStats(0, nTotal, 0L, parentV, attempt)
      }
      // advance each identity mark monotonically: never below (above,
      // for negative step) the parent's persisted mark, whatever this
      // commit deletes or rewrites
      val newIdHwm: Seq[(String, Long)] =
        if (idBases.isEmpty) parent.idHwm
        else {
          val advanced = idBases.zipWithIndex.map {
            case ((f, step, base), i) =>
              val vals = perBucketRows.toSeq
                .filterNot(_.isNullAt(3 + i)).map(_.getLong(3 + i))
              val v =
                if (vals.isEmpty) base
                else if (step > 0) math.max(base, vals.max)
                else math.min(base, vals.min)
              f.name -> v
          }
          val names = advanced.map(_._1).toSet
          (parent.idHwm.filterNot(e => names(e._1)) ++ advanced)
            .sortBy(_._1)
        }
      val touched = perBucket.map(_._1).toSet
      val rowsDeleted = perBucket.map(_._3).sum
      val rowsUpserted = perBucket.map(_._2).sum - rowsDeleted
      // the current version's files in the touched buckets only — manifest
      // pruning, no directory listing of the untouched ones
      val parentTouchedFiles = parent.files.filter(f => touched(bucketOf(f)))
      val base =
        if (parentTouchedFiles.isEmpty) // all-new buckets: nothing to merge
          withB.filter(lit(false))
        else versionDf(spark, path, root,
          parent.copy(files = parentTouchedFiles))
      // align both sides to the (possibly widened) output schema: base
      // rows take null in added columns and CAST to widened types
      // (exact by canWiden's construction). Cast ONLY on a real type
      // change — nested nullability (containsNull) can differ across a
      // DDL round trip and a same-type cast would be refused.
      val baseAligned = base.select(outCols.map(c =>
        (if (base.columns.contains(c)) {
          if (base.schema(c).dataType.catalogString ==
              outSchema(c).dataType.catalogString) col(c)
          else col(c).cast(outSchema(c).dataType)
        } else lit(null).cast(outSchema(c).dataType)).as(c)) :+
        col("__bucket"): _*)
      // tombstoned keys are anti-joined away like updated ones (the join
      // is on ALL update keys) but never re-inserted — that IS the delete
      val inserts = tombstoneCol
        .map(tc => withB.filter(!coalesce(col(tc), lit(false))))
        .getOrElse(withB)
        .select((outCols :+ "__bucket").map(col): _*)
      // filesPerBucket file(s) per touched bucket ([[bucketPartitioned]])
      // the anti-join's right side is just the batch's KEYS — for the
      // typical small batch (we know its exact row count from the
      // perBucket agg) hint a broadcast, so the touched-bucket base
      // rows stream STRAIGHT from parquet into the join with no
      // shuffle: a small upsert into a huge table then pays one
      // shuffle (the bucket repartition), not two. Big batches keep
      // the shuffled join. The gate is BYTES, not rows: broadcast()
      // overrides Spark's size threshold, so rows × an (overestimated
      // for variable-width types) per-key width must stay driver-safe
      // — a million 8-byte longs broadcasts, a million wide strings
      // falls to Spark's own size-based planning.
      val updKeys = withB.select(keyCols.map(col): _*)
      val keyWidth = keyCols.map(k => outSchema(k).dataType match {
        case _: org.apache.spark.sql.types.StringType |
             _: org.apache.spark.sql.types.BinaryType => 64L
        case dt => dt.defaultSize.toLong
      }).sum
      val joinKeys =
        if ((rowsUpserted + rowsDeleted) * keyWidth <= (32L << 20))
          broadcast(updKeys)
        else updKeys
      val merged = bucketPartitioned(baseAligned
        .join(joinKeys, keyCols, "left_anti")
        .unionByName(inserts), filesPerBucket, touched.size,
        sortKey = keyCols)
      // APPEND-only: stage to a job-scoped dir, move the exact file set in
      val (newFiles, newStats) =
        stageAndMove(spark, fs, root, merged, parent.statsCols,
          parent.colMap)
      val files = parent.files.filterNot(f => touched(bucketOf(f))) ++ newFiles
      commitFence()
      // someone else committing v{parentV+1} makes our merge stale: the
      // claim removes OUR files (exact set — never the winner's) and the
      // loop redoes the merge
      claimStaged(fs, root,
        Manifest(parentV + 1, parentV, files.sorted,
          Some(schemaToString(outSchema)), txn,
          parent.layout.orElse(if (keyCols.size == 1)
            Some((keyCols.head, bucketNs.head)) else None),
          parent.statsCols,
          // untouched buckets keep their stats, EXCEPT bloom filters
          // on a column this commit widened: those hashed the narrow
          // internal form and would wrongly prune under the wide
          // probe type (rewritten buckets' newStats hashed wide)
          parent.stats.filterNot(e => touched(bucketOf(e.file)))
            .filterNot(e => Skipping.isBloomSpec(e.col) &&
              widenedCols.contains(Skipping.bloomBase(e.col))) ++
            newStats,
          ts = nextTs(parent),
          op = Some(if (copiedFiles.nonEmpty) "copyInto" else "upsert"),
          rowsUpserted = rowsUpserted, rowsDeleted = rowsDeleted,
          shardSpan = parent.shardSpan,
          constraints = parent.constraints,
          dvFiles = parent.dvFiles,
          colMap = parent.colMap, physRetired = parent.physRetired,
          colAliases = parent.colAliases,
          copied = copiedFiles, idHwm = newIdHwm,
          keySorted = parent.keySorted, // rewrites re-sort; the
            // untouched files keep whatever the parent knew
          layoutCols =
            if (keyCols.size >= 2) keyCols else parent.layoutCols,
          layoutNs =
            if (keyCols.size >= 2) bucketNs else parent.layoutNs),
        parent, Some(touched), newFiles)
      MergeStats(touched.size, nTotal, rowsUpserted, parentV + 1,
        attempt, rowsDeleted = rowsDeleted)
      // deterministic block release for every pin this attempt made —
      // on success, on a lost race (the retry re-pins), and on ANY
      // failure path (constraint refusal, stage error): without it a
      // long session's hundreds of commits leave their checkpoint
      // blocks to GC-triggered cleaning (block-manager bloat)
      } finally unpinAll()
    }
  }

  /** MERGE-ON-READ UPSERT: land a batch of updates/inserts WITHOUT
    * rewriting any existing data file — the replaced keys' old rows
    * are deletion-vectored (one bitmap sidecar, see [[DvCodec]]) and
    * the batch's rows APPEND as new files in their buckets. Contrast
    * with [[upsert]] (copy-on-write), which rewrites every touched
    * bucket: on a 100 TB table, a 0.1%-key update scattered across
    * all buckets costs a full-table rewrite copy-on-write but only
    * (update-sized files + one sidecar) merge-on-read. The trade is
    * read amplification until [[compactVersion]] folds — the same
    * trade Delta/Iceberg merge-on-read MERGE makes — so use this for
    * frequent small-batch CDC ingestion and compact on your schedule
    * (the targeted purge rewrites only the DV-touched buckets).
    *
    * The find scan reads ONLY the touched buckets (manifest pruning)
    * and is itself DV-filtered, so re-upserting a key twice vectors
    * each old image exactly once. Same contracts as upsert: unique
    * keys per batch, layout fixed at writeKeyed time, CHECK
    * constraints enforced on the batch, `txn` replay guard,
    * lost-race retry. Deliberately NARROWER than upsert: no schema
    * evolution, identity or generated columns — those verbs rewrite
    * (or mint) per-bucket state that belongs to the copy-on-write
    * path; predicate deletes compose with [[deleteWhereDV]].
    * `keySorted` drops to false — appended files overlap the old
    * ones' key ranges, so the sort-free zipper re-plans its Sorts
    * until a key-sorted rewrite restores the contract.
    *
    * Deletes: `tombstoneCol = Some(c)` takes the same tombstone
    * dialect as [[upsert]] — updates carry a BOOLEAN column `c` (not
    * part of the table schema); rows where it is true are key-
    * addressed DELETES. A delete is merge-on-read's NATIVE verb: the
    * key's old image joins the deletion vector like any replaced
    * image, just with no new image appended — so a three-branch CDC
    * MERGE (update + insert + delete) lands with every pre-existing
    * data file byte-untouched, which copy-on-write upsert can never
    * do.
    *
    * Stats: old files keep their (gross) entries — sound for pruning
    * (over-approximate) and REQUIRED for the DV count adjustment; new
    * files record fresh entries, so COUNT(*)/LIMIT stay exact.
    */
  def upsertDV(spark: SparkSession, path: String, updates: DataFrame,
      keyCol: String, nBuckets: Int, maxRetries: Int = 5,
      txn: Option[(String, Long)] = None,
      tombstoneCol: Option[String] = None): MergeStats =
    upsertDVImpl(spark, path, updates,
      Some((Seq(keyCol), Seq(nBuckets))), maxRetries, txn, tombstoneCol)

  /** [[upsertDV]] routed by the table's OWN recorded layout — single
    * key or composite GRID ([[writeKeyedCols]]): the merge-on-read
    * CDC path for `(tenant, id)`-style tables. Old images deletion-
    * vector by key TUPLE (the find scan prunes to exactly the touched
    * cells), surviving images append into their cells, no data file
    * rewritten.
    */
  def upsertDVGrid(spark: SparkSession, path: String,
      updates: DataFrame, maxRetries: Int = 5,
      txn: Option[(String, Long)] = None,
      tombstoneCol: Option[String] = None): MergeStats =
    upsertDVImpl(spark, path, updates, None, maxRetries, txn,
      tombstoneCol)

  private def upsertDVImpl(spark: SparkSession, path: String,
      updates: DataFrame,
      callerLayout: Option[(Seq[String], Seq[Int])],
      maxRetries: Int, txn: Option[(String, Long)],
      tombstoneCol: Option[String]): MergeStats = {
    val (fs, root) = fsFor(spark, path)
    retryCommit("upsertDV", path, maxRetries) { attempt =>
      val parentV = currentVersion(spark, path)
      txn.foreach { case (app, batch) =>
        if (latestTxn(spark, path, app).exists(_ >= batch)) {
          // stats on the skip path report the table's REAL cell count,
          // same as every committed path: grid verbs pass
          // callerLayout = None, so resolve from the parent manifest
          // (one manifest read — the non-skip path does it anyway)
          val nTot = callerLayout.map(_._2.map(_.toLong).product.toInt)
            .getOrElse(if (parentV >= 0) {
              val m = readManifest(spark, root, parentV)
              if (m.layoutNs.nonEmpty) m.layoutNs.map(_.toLong).product.toInt
              else -1
            } else -1)
          return MergeStats(0, nTot,
            0L, parentV, attempt, skippedDupTxn = true)
        }
      }
      require(parentV >= 0,
        s"$path has no version log — write it with writeKeyed first")
      val parent = readManifest(spark, root, parentV)
      val (keyCols, bucketNs) =
        resolveLayout(parent, callerLayout, path, "upsertDV")
      val nTotal = bucketNs.map(_.toLong).product.toInt
      tombstoneCol.foreach { tc =>
        require(updates.columns.contains(tc),
          s"tombstone column $tc not in the updates")
        require(updates.schema(tc).dataType ==
          org.apache.spark.sql.types.BooleanType,
          s"tombstone column $tc must be BOOLEAN")
      }
      val updCols = updates.columns.toSeq.filterNot(tombstoneCol.contains)
      val parentSchema = parent.dataSchema.map(schemaFromString)
      tombstoneCol.foreach(tc => require(
        !parentSchema.exists(_.fieldNames.contains(tc)),
        s"tombstone column $tc collides with a table column"))
      val parentCols: Seq[String] = parentSchema.map(_.fieldNames.toSeq)
        .getOrElse(updCols)
      require(updCols.toSet == parentCols.toSet,
        s"upsertDV takes the exact table schema (no evolution): table " +
        s"[${parentCols.mkString(", ")}], batch " +
        s"[${updCols.mkString(", ")}]")
      parentSchema.foreach(_.foreach { f =>
        require(updates.schema(f.name).dataType.catalogString ==
            f.dataType.catalogString,
          s"column ${f.name} is ${f.dataType.simpleString} in the " +
          s"table but ${updates.schema(f.name).dataType.simpleString} " +
          "in the batch — upsertDV does not evolve types")
        val idn = org.apache.spark.sql.catalyst.util.IdentityColumn
        require(!f.metadata.contains(idn.IDENTITY_INFO_START) &&
            !f.metadata.contains(org.apache.spark.sql.catalyst.util
              .GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY),
          s"column ${f.name} is identity/generated — minting and " +
          "recomputation belong to the copy-on-write upsert")
      })
      // Materialize an EXPENSIVE batch ONCE (lazy localCheckpoint)
      // before the several consumers below — constraint agg, per-bucket
      // agg, broadcast key build, the DV semi-join and the staged append
      // all re-evaluate a derived batch otherwise (same move, and same
      // cheap-batch exemption, as upsertImpl).
      val pinBatch = worthPinning(updates)
      val withB = {
        val b = updates
          .withColumn("__bucket", bucketExprFor(keyCols, bucketNs))
        if (pinBatch) b.localCheckpoint(false) else b
      }
      def unpinBatch(): Unit =
        if (pinBatch) org.apache.spark.sql.GraftShim.unpinLocalCheckpoint(withB)
      // release the pin on EVERY exit from this attempt — success, lost
      // race (the retry re-pins), and any failure before the commit try
      // (constraint refusal, stage error) — not just the commit paths
      try {
      // CHECK constraints gate only the SURVIVING images — a
      // tombstoned key's carried columns are never stored
      enforceConstraints(
        tombstoneCol.map(tc =>
          withB.filter(!coalesce(col(tc), lit(false))))
          .getOrElse(withB),
        parent.constraints, "the update batch")
      // one job: touched buckets + per-bucket total and tombstone counts
      val delAgg = tombstoneCol
        .map(tc => sum(when(col(tc), 1L).otherwise(0L)))
        .getOrElse(sum(lit(0L))).as("d")
      val perBucket = withB.groupBy("__bucket")
        .agg(count(lit(1)).as("n"), delAgg).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        // bounded by nBuckets
      if (perBucket.isEmpty) {
        // the enclosing finally releases the pin
        return MergeStats(0, nTotal, 0L, parentV, attempt)
      }
      val touched = perBucket.map(_._1).toSet
      val rowsIn = perBucket.map(_._2).sum
      val rowsTombstoned = perBucket.map(_._3).sum
      // the REPLACED rows' (file, pos): read only the touched buckets,
      // DV-filtered (a twice-replaced key vectors each image once),
      // semi-joined on the batch's keys (broadcast under the same
      // bytes gate as upsert)
      val parentTouchedFiles =
        parent.files.filter(f => touched(bucketOf(f)))
      val updKeys = withB.select(keyCols.map(col): _*)
      val keyWidth = keyCols.map(k => updates.schema(k).dataType match {
        case _: org.apache.spark.sql.types.StringType |
             _: org.apache.spark.sql.types.BinaryType => 64L
        case dt => dt.defaultSize.toLong
      }).sum
      val joinKeys =
        if (rowsIn * keyWidth <= (32L << 20)) broadcast(updKeys)
        else updKeys
      val matched =
        if (parentTouchedFiles.isEmpty)
          spark.emptyDataFrame
            .withColumn("file", lit(null).cast("string"))
            .withColumn("pos", lit(null).cast("long"))
        else versionDf(spark, path, root,
            parent.copy(files = parentTouchedFiles), keepPos = true)
          .join(joinKeys, keyCols, "left_semi")
          .select(col("__dv_file").as("file"), col("__dv_pos").as("pos"))
      val (dvRefs, nReplaced) =
        writeDvSidecar(spark, fs, root, matched, bitmapFormat = true)
      // the batch's SURVIVING rows APPEND as fresh per-bucket files
      // (key-sorted within each file, like every graft write);
      // tombstoned keys contributed their old images to the vector
      // above and append nothing — that IS the merge-on-read delete
      val staged = bucketPartitioned(
        tombstoneCol.map(tc =>
            withB.filter(!coalesce(col(tc), lit(false))))
          .getOrElse(withB)
          .select((parentCols :+ "__bucket").map(col): _*),
        filesPerBucket = 1, buckets = touched.size,
        sortKey = keyCols)
      val (newFiles, newStats) =
        stageAndMove(spark, fs, root, staged, parent.statsCols,
          parent.colMap)
      commitFence()
      claimStaged(fs, root,
        Manifest(parentV + 1, parentV,
          (parent.files ++ newFiles).sorted, parent.dataSchema, txn,
          parent.layout.orElse(if (keyCols.size == 1)
            Some((keyCols.head, bucketNs.head)) else None),
          parent.statsCols,
          parent.stats ++ newStats, // old files keep GROSS entries
          ts = nextTs(parent), op = Some("upsert-dv"),
          rowsUpserted = rowsIn - rowsTombstoned,
          rowsDeleted = nReplaced,
          shardSpan = parent.shardSpan,
          constraints = parent.constraints,
          dvFiles = parent.dvFiles ++ dvRefs,
          colMap = parent.colMap, physRetired = parent.physRetired,
          colAliases = parent.colAliases,
          idHwm = parent.idHwm,
          // appended ranges overlap old files; a pure-delete batch
          // (no appends) leaves the sort contract as it was
          keySorted = newFiles.isEmpty && parent.keySorted,
          layoutCols =
            if (keyCols.size >= 2) keyCols else parent.layoutCols,
          layoutNs =
            if (keyCols.size >= 2) bucketNs else parent.layoutNs),
        parent, Some(touched), newFiles,
        dvRefs.headOption.map(r => new Path(root, r).getParent))
      MergeStats(touched.size, nTotal, rowsIn - rowsTombstoned, parentV + 1,
        attempt, rowsDeleted = nReplaced)
      } finally unpinBatch()
    }
  }

  /** INSERT OVERWRITE (full replace) as ONE versioned commit: the new
    * rows land under the table's recorded layout, the manifest
    * references ONLY them, and — unlike a `writeKeyed` re-write — the
    * version log, retained history, tags, layout, statsCols,
    * constraints and column mapping all survive: readers that resolved
    * earlier keep their snapshot, time travel still answers, vacuum
    * reclaims the replaced files on its normal schedule. This is the
    * write the DSv2 `SaveMode.Overwrite` / `INSERT OVERWRITE` doorway
    * needs; the replaced rows' cost is one write of the NEW data (old
    * files are not touched, just no longer referenced).
    */
  def replaceAll(spark: SparkSession, path: String, df: DataFrame,
      maxRetries: Int = 5, txn: Option[(String, Long)] = None)
      : MergeStats = {
    val (fs, root) = fsFor(spark, path)
    retryCommit("replaceAll", path, maxRetries) { attempt =>
      val parentV = currentVersion(spark, path)
      require(parentV >= 0,
        s"$path has no version log — write it with writeKeyed first")
      txn.foreach { case (app, batch) =>
        if (latestTxn(spark, path, app).exists(_ >= batch))
          return MergeStats(0, 0, 0L, parentV, attempt,
            skippedDupTxn = true)
      }
      val parent = readManifest(spark, root, parentV)
      // single-key layout or a composite grid: replace routes by
      // whichever the manifest records
      val keyLayout: (Seq[String], Seq[Int]) = parent.layout
        .map { case (k, n) => (Seq(k), Seq(n)) }
        .orElse(if (parent.layoutCols.size >= 2 &&
            parent.layoutNs.size == parent.layoutCols.size)
          Some((parent.layoutCols, parent.layoutNs)) else None)
        .getOrElse(throw new IllegalArgumentException(
          s"$path records no bucketing layout"))
      val (keyCols, bucketNs) = keyLayout
      val parentSchema = parent.dataSchema.map(schemaFromString)
      parentSchema.foreach { sch =>
        require(df.columns.toSet == sch.fieldNames.toSet,
          s"replace must carry exactly the table columns " +
          s"[${sch.fieldNames.mkString(", ")}], got " +
          s"[${df.columns.mkString(", ")}]")
        sch.foreach { f =>
          require(df.schema(f.name).dataType.catalogString ==
              f.dataType.catalogString,
            s"column ${f.name} is ${f.dataType.simpleString} in the " +
            s"table but ${df.schema(f.name).dataType.simpleString} in " +
            "the replacement")
        }
      }
      enforceConstraints(df, parent.constraints, "the replacement rows")
      val ordered = parentSchema
        .map(sch => df.select(sch.fieldNames.map(col).toSeq: _*))
        .getOrElse(df)
      val withB = ordered.withColumn("__bucket",
        if (keyCols.size == 1) bucketCol(keyCols.head, bucketNs.head)
        else bucketColMulti(keyCols, bucketNs))
      val rows = withB.count()
      // explicit ids in the replacement advance the identity marks —
      // monotonic past the parent's, never reset by the overwrite
      val newIdHwm = advanceIdHwm(parent, parentSchema, withB)
      val merged = bucketPartitioned(withB, 1,
        bucketNs.map(_.toLong).product.toInt, sortKey = keyCols)
      val (newFiles, newStats) =
        stageAndMove(spark, fs, root, merged, parent.statsCols,
          parent.colMap)
      commitFence()
      claimStaged(fs, root,
        Manifest(parentV + 1, parentV, newFiles.sorted,
          parent.dataSchema, txn, parent.layout,
          parent.statsCols, newStats,
          ts = nextTs(parent), op = Some("replace"),
          rowsUpserted = rows, rowsDeleted = -1L,
          shardSpan = parent.shardSpan,
          constraints = parent.constraints,
          dvFiles = Seq.empty, // replaced rows: vectors are history
          colMap = parent.colMap, physRetired = parent.physRetired,
          colAliases = parent.colAliases,
          idHwm = newIdHwm,
          keySorted = true, // full key-sorted rewrite
          layoutCols = parent.layoutCols, layoutNs = parent.layoutNs),
        parent, None, newFiles)
      val cells = bucketNs.map(_.toLong).product.toInt
      MergeStats(cells, cells, rows, parentV + 1, attempt)
    }
  }

  /** Row-level DELETE: remove every current row satisfying `predicate`
    * (SQL DELETE semantics — rows where the predicate is null are KEPT)
    * and commit the result as a new version. Copy-on-write at BUCKET
    * granularity: only buckets that actually hold a matching row are
    * rewritten; every other file carries over byte-untouched, and older
    * versions still read the pre-delete rows until [[vacuum]]. This is
    * the compliance-delete / CDC-delete path the insert-only [[upsert]]
    * could not express (for key-addressed deletes in a mixed batch, use
    * `upsert(..., tombstoneCol = ...)` instead).
    *
    * `bounds` prunes the FIND scan with the manifest's per-file stats
    * (when the table records them): a 100 TB "delete last month's rows"
    * should locate its buckets by reading candidate files only, not the
    * table. The bounds must be implied by the predicate (rows outside
    * them are never deleted) — correctness does not depend on them, scan
    * cost does.
    *
    * Same commit protocol as [[upsert]] (staging + exact-file move +
    * create-if-absent manifest + retry on a lost race), and the same
    * `txn` replay guard for exactly-once streaming appliers.
    */
  def deleteWhere(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      bounds: Seq[Skipping.Bound] = Seq.empty, maxRetries: Int = 5,
      txn: Option[(String, Long)] = None,
      filesPerBucket: Int = 1): MergeStats = {
    val (fs, root) = fsFor(spark, path)
    retryCommit("deleteWhere", path, maxRetries, ContentionHint) { attempt =>
      val parentV = currentVersion(spark, path)
      require(parentV >= 0,
        s"$path has no version log — write it with writeKeyed first")
      val nB = readManifestOpt(spark, root, parentV,
          resolveShards = false)
        .flatMap(m => m.layout.map(_._2).orElse(
          // composite grids record layoutNs, not layout — report the
          // real cell count on the no-op paths too (r18)
          if (m.layoutNs.nonEmpty)
            Some(m.layoutNs.map(_.toLong).product.toInt) else None))
        .getOrElse(-1)
      txn.foreach { case (app, batch) =>
        if (latestTxn(spark, path, app).exists(_ >= batch))
          return MergeStats(0, nB, 0L, parentV, attempt,
            skippedDupTxn = true)
      }
      val parent = readManifest(spark, root, parentV)
      val candFiles =
        if (bounds.isEmpty) parent.files
        else planVersionFiles(spark, path, parentV, bounds)._1
      if (candFiles.isEmpty)
        return MergeStats(0, nB, 0L, parentV, attempt)
      // one bounded job: buckets holding >= 1 doomed row + the doomed count
      val hits = versionDf(spark, path, root, parent.copy(files = candFiles))
        .filter(predicate).groupBy("__bucket")
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))) // <= nBuckets rows
      if (hits.isEmpty)
        return MergeStats(0, nB, 0L, parentV, attempt)
      val touched = hits.map(_._1).toSet
      val rowsDeleted = hits.map(_._2).sum
      val parentTouchedFiles = parent.files.filter(f => touched(bucketOf(f)))
      val keep = bucketPartitioned(versionDf(spark, path, root,
          parent.copy(files = parentTouchedFiles))
        .filter(!coalesce(predicate, lit(false))), // null predicate: keep
        filesPerBucket, touched.size,
        sortKey = sortKeysOf(parent))
      val (newFiles, newStats) =
        stageAndMove(spark, fs, root, keep, parent.statsCols,
          parent.colMap)
      val files = parent.files.filterNot(f => touched(bucketOf(f))) ++ newFiles
      commitFence()
      claimStaged(fs, root,
        Manifest(parentV + 1, parentV, files.sorted, parent.dataSchema,
          txn, parent.layout, parent.statsCols,
          parent.stats.filterNot(e => touched(bucketOf(e.file))) ++
            newStats,
          ts = nextTs(parent), op = Some("delete"),
          rowsUpserted = 0L, rowsDeleted = rowsDeleted,
          shardSpan = parent.shardSpan,
          constraints = parent.constraints,
          dvFiles = parent.dvFiles,
          colMap = parent.colMap, physRetired = parent.physRetired,
          colAliases = parent.colAliases,
          // DELETE must never lower an identity mark — that is the
          // exact re-mint hazard the persisted mark exists to close
          idHwm = parent.idHwm, keySorted = parent.keySorted,
          layoutCols = parent.layoutCols, layoutNs = parent.layoutNs),
        parent, Some(touched), newFiles)
      MergeStats(touched.size, nB, 0L, parentV + 1, attempt,
        rowsDeleted = rowsDeleted)
    }
  }

  final case class CompactStats(version: Long, bucketsRewritten: Int,
      filesBefore: Int, filesAfter: Int)

  /** Version-log-aware compaction: rewrite every bucket that has
    * accumulated more than `targetFilesPerBucket` files into that many
    * coarse files and commit the result as a NEW version with identical
    * rows. Buckets already at-or-under the target keep their existing
    * files BYTE-UNTOUCHED (their manifest entries carry over), older
    * versions still read the old files, and [[vacuum]] reclaims them once
    * the horizon passes. This is the maintenance pass that keeps read
    * amplification and manifest size bounded when a hot bucket takes one
    * new file per commit forever — run it on the same cadence as vacuum.
    *
    * Same commit protocol as [[upsert]] (staging + exact-file move +
    * create-if-absent manifest, retry on a lost race), so it is safe to
    * run beside live writers.
    *
    * STATS CLUSTERING (the OPTIMIZE ... ZORDER BY analogue): with
    * `clusterBy` non-empty, EVERY bucket is rewritten and each bucket's
    * rows are RANGE-partitioned on the cluster columns — sibling files
    * inside one bucket then hold contiguous, disjoint cluster ranges
    * (range boundaries follow the (bucket, cluster...) sort order), so
    * the manifest's per-file min/max over those columns actually prune
    * WITHIN buckets. A keyed table's bucket hash randomizes every
    * non-key dimension; after clustering, a time-range read of a
    * key-bucketed 100 TB table touches ~1/targetFilesPerBucket of each
    * bucket instead of all of it. Rows are additionally sorted within
    * files for parquet row-group locality. File counts per bucket are
    * approximate under `clusterBy` (range boundaries need not land on
    * bucket edges); list `clusterBy` columns in the table's `statsCols`
    * for the manifest to record what the layout now offers.
    */
  /** RE-LAYOUT: change the table's bucket count in ONE commit — the
    * operational escape hatch when a table outgrows the layout
    * [[writeKeyed]] fixed (a 64-bucket table that grew 100× has
    * gigabyte buckets; point lookups and upserts want 4096). Every
    * current row rewrites under the new hash — a full shuffle BY
    * DESIGN, priced like a whole-table OPTIMIZE and run as rarely.
    * History is untouched: older versions keep reading their own
    * files; only the new manifest records the new layout, and because
    * [[lookupKey]] and the layout-driven upsert paths route by the
    * CURRENT manifest's layout, every consumer switches automatically
    * (a caller still passing the old bucket count to [[upsert]] gets
    * the fail-fast layout error, exactly as intended). Live deletion
    * vectors fold during the rewrite like compaction. Same
    * create-if-absent commit + lost-race retry as every other commit.
    *
    * @return the new version number.
    */
  def relayout(spark: SparkSession, path: String, newBuckets: Int,
      filesPerBucket: Int = 1, maxRetries: Int = 5): Long =
    relayoutImpl(spark, path, Seq(newBuckets), filesPerBucket,
      maxRetries, grid = false)

  /** [[relayout]] for a composite GRID: change the per-dimension cell
    * counts in ONE commit — the same operational escape hatch (a
    * (tenant, id) grid that grew 100× wants more id cells). Key
    * columns are fixed (they are the rows' identity); only the counts
    * move. Full shuffle by design, history untouched, DVs fold.
    */
  def relayoutGrid(spark: SparkSession, path: String,
      newNs: Seq[Int], filesPerBucket: Int = 1,
      maxRetries: Int = 5): Long =
    relayoutImpl(spark, path, newNs, filesPerBucket, maxRetries,
      grid = true)

  private def relayoutImpl(spark: SparkSession, path: String,
      newNs: Seq[Int], filesPerBucket: Int, maxRetries: Int,
      grid: Boolean): Long = {
    require(newNs.nonEmpty && newNs.forall(_ >= 1),
      "bucket counts must be >= 1")
    require(newNs.map(_.toLong).product <= (1L << 20),
      "grid of more than 2^20 cells is past the sanity bound")
    val (fs, root) = fsFor(spark, path)
    retryCommit("relayout", path, maxRetries) { _ =>
      val parentV = currentVersion(spark, path)
      require(parentV >= 0, s"$path has no version log")
      val parent = readManifest(spark, root, parentV)
      val (keyCols, oldNs) = resolveLayout(parent, None, path, "relayout")
      require(keyCols.size == newNs.size,
        s"$path is keyed on (${keyCols.mkString(", ")}) — pass one " +
        s"bucket count per key column, got ${newNs.size}")
      require(grid == (keyCols.size >= 2),
        if (grid) s"$path is single-key — use relayout(newBuckets)"
        else s"$path is a composite grid — use relayoutGrid(newNs)")
      if (oldNs == newNs) return parentV // already there
      val rows = versionDf(spark, path, root, parent).drop("__bucket")
        .withColumn("__bucket", bucketExprFor(keyCols, newNs))
      val repart = bucketPartitioned(rows, filesPerBucket,
        newNs.map(_.toLong).product.toInt, sortKey = keyCols)
      val (newFiles, newStats) =
        stageAndMove(spark, fs, root, repart, parent.statsCols,
          parent.colMap)
      commitFence()
      claimStaged(fs, root,
        Manifest(parentV + 1, parentV, newFiles.sorted,
          parent.dataSchema,
          layout = if (keyCols.size == 1)
            Some((keyCols.head, newNs.head)) else None,
          statsCols = parent.statsCols, stats = newStats,
          ts = nextTs(parent), op = Some("relayout"),
          rowsUpserted = 0L, rowsDeleted = 0L,
          shardSpan = parent.shardSpan,
          constraints = parent.constraints,
          dvFiles = Seq.empty, // the rewrite folded them
          colMap = parent.colMap, physRetired = parent.physRetired,
          colAliases = parent.colAliases,
          idHwm = parent.idHwm,
          keySorted = true, // full key-sorted rewrite
          layoutCols = if (keyCols.size >= 2) keyCols else Seq.empty,
          layoutNs = if (keyCols.size >= 2) newNs else Seq.empty),
        parent, None, newFiles)
      parentV + 1
    }
  }

  /** MERGE-ON-READ DELETE via DELETION VECTORS (Delta's DV feature):
    * record the (file, row position) of every matching CURRENT row in
    * parquet sidecars under `_graft_dv/` and commit a manifest that
    * references them — NO data file is rewritten at any table size, so
    * a selective compliance delete costs its find scan plus a sidecar
    * proportional to the MATCHED rows (copy-on-write [[deleteWhere]]
    * rewrites whole buckets and stays the right tool when a large
    * fraction of the table dies). Readers subtract the vectors with
    * one anti-join against the deleted-row-count-sized DV table, and
    * EVERY read path resolves through the same reader — versioned
    * reads, skipping reads, lookupKey, change feeds, and the base side
    * of later upserts all see the deletes at once. Per-file stats stay
    * untouched (they only over-approximate, so pruning remains sound).
    * [[compactVersion]] folds live DVs physically — TARGETED: only the
    * DV-touched buckets rewrite — and clears the sidecar list;
    * [[vacuum]] reclaims sidecars no retained version references.
    *
    * Positions are `_metadata.row_index` within each immutable data
    * file, captured and matched through the same scan machinery.
    * `bounds` prune the find scan via manifest stats exactly as in
    * [[deleteWhere]]; SQL DELETE null semantics (null-predicate rows
    * are kept); same commit protocol (lost-race retry, `txn` replay
    * guard); a no-match delete commits nothing. Deleting an
    * already-DV-deleted row is naturally a no-op: the find scan itself
    * is DV-filtered.
    */
  def deleteWhereDV(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      bounds: Seq[Skipping.Bound] = Seq.empty, maxRetries: Int = 5,
      txn: Option[(String, Long)] = None,
      bitmapFormat: Boolean = true): MergeStats = {
    val (fs, root) = fsFor(spark, path)
    retryCommit("deleteWhereDV", path, maxRetries) { attempt =>
      val parentV = currentVersion(spark, path)
      require(parentV >= 0,
        s"$path has no version log — write it with writeKeyed first")
      val nB = readManifestOpt(spark, root, parentV,
          resolveShards = false)
        .flatMap(m => m.layout.map(_._2).orElse(
          // composite grids record layoutNs, not layout — report the
          // real cell count on the no-op paths too (r18)
          if (m.layoutNs.nonEmpty)
            Some(m.layoutNs.map(_.toLong).product.toInt) else None))
        .getOrElse(-1)
      txn.foreach { case (app, batch) =>
        if (latestTxn(spark, path, app).exists(_ >= batch))
          return MergeStats(0, nB, 0L, parentV, attempt,
            skippedDupTxn = true)
      }
      val parent = readManifest(spark, root, parentV)
      val candFiles =
        if (bounds.isEmpty) parent.files
        else planVersionFiles(spark, path, parentV, bounds)._1
      if (candFiles.isEmpty)
        return MergeStats(0, nB, 0L, parentV, attempt)
      val matched = versionDf(spark, path, root,
          parent.copy(files = candFiles), keepPos = true)
        .filter(predicate)
        .select(col("__dv_file").as("file"), col("__dv_pos").as("pos"))
      val (dvRefs, n) = writeDvSidecar(spark, fs, root, matched,
        bitmapFormat)
      if (n == 0L)
        return MergeStats(0, nB, 0L, parentV, attempt)
      commitFence()
      claimStaged(fs, root,
        Manifest(parentV + 1, parentV, parent.files, parent.dataSchema,
          txn, parent.layout, parent.statsCols, parent.stats,
          ts = nextTs(parent), op = Some("delete-dv"),
          rowsUpserted = 0L, rowsDeleted = n,
          shardSpan = parent.shardSpan,
          constraints = parent.constraints,
          dvFiles = parent.dvFiles ++ dvRefs,
          colMap = parent.colMap, physRetired = parent.physRetired,
          colAliases = parent.colAliases,
          idHwm = parent.idHwm,
          keySorted = parent.keySorted, // files untouched
          layoutCols = parent.layoutCols, layoutNs = parent.layoutNs),
        parent, Some(Set.empty), Nil,
        Some(new Path(root, dvRefs.head).getParent))
      MergeStats(0, nB, 0L, parentV + 1, attempt, rowsDeleted = n)
    }
  }

  /** Most files one DV commit writes into its sidecar dir. */
  private val DvSidecarParts = 4

  /** Write `matched` (file, pos) rows as ONE new sidecar dir under
    * `_graft_dv/` and return (manifest-relative sidecar refs, recorded
    * row count) — (empty, 0) with the dir already cleaned when nothing
    * matched. v2 BITMAP format (the default): ONE row per touched data
    * file — (file, n, dv) with dv the delta-varint blob of that file's
    * sorted positions (see [[DvCodec]]). The encode is one shuffle of
    * the matched pairs, hash-partitioned by file and sorted within
    * partitions, then a streaming per-file fold — memory is bounded by
    * the largest single file's blob, never the delete. The sidecar is
    * written in at most [[DvSidecarParts]] partitions, fewer when the
    * estimated size of `matched` is small
    * ([[graft.exec.PinSet.partitionsFor]]). The estimate follows the
    * scanned table's size, not the matched row count (counting would cost
    * a job): on a table of a few MB a delete writes one file, whatever
    * its part-file names hash to, while a few-row delete on a larger
    * table still writes up to [[DvSidecarParts]].
    * bitmapFormat=false keeps the v1 row format (the mixed-manifest
    * compatibility tests write through it).
    */
  private def writeDvSidecar(spark: SparkSession, fs: FileSystem,
      root: Path, matched: DataFrame, bitmapFormat: Boolean)
      : (Seq[String], Long) = {
    val dvDir = "_graft_dv/" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val dvPath = new Path(root, dvDir)
    val parts = math.min(DvSidecarParts, PinSet.partitionsFor(matched))
    val dvDf =
      if (!bitmapFormat) matched.coalesce(parts)
      else {
        import spark.implicits._
        matched.repartition(parts, col("file"))
          .sortWithinPartitions("file", "pos")
          .as[(String, Long)]
          .mapPartitions { it =>
            val buf = it.buffered
            new Iterator[(String, Long, Array[Byte])] {
              def hasNext: Boolean = buf.hasNext
              def next(): (String, Long, Array[Byte]) = {
                val f = buf.head._1
                val b = new scala.collection.mutable.ArrayBuilder.ofLong()
                while (buf.hasNext && buf.head._1 == f)
                  b.addOne(buf.next()._2)
                val a = b.result()
                (f, a.length.toLong, DvCodec.encode(a))
              }
            }
          }.toDF("file", "n", "dv")
      }
    dvDf.write.mode("overwrite").parquet(dvPath.toString)
    // count what was actually recorded: v1 = footer row counts, v2 =
    // the n column over file-count rows — over the one listing that also
    // names the sidecars for the manifest
    val written = fs.listStatus(dvPath)
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
    val n = ManifestScan.scan(spark, written, None,
        Some(DvCodec.SupersetSchema))
      .agg(coalesce(sum(coalesce(col("n"), lit(1L))), lit(0L)))
      .collect()(0).getLong(0)
    if (n == 0L) {
      fs.delete(dvPath, true)
      (Seq.empty, 0L)
    } else
      (written.map(st => s"$dvDir/${st.getPath.getName}").sorted, n)
  }

  def compactVersion(spark: SparkSession, path: String,
      targetFilesPerBucket: Int = 1, maxRetries: Int = 5,
      clusterBy: Seq[String] = Seq.empty,
      zOrderBy: Seq[String] = Seq.empty, zBits: Int = 16,
      resortKey: Boolean = false): CompactStats = {
    require(targetFilesPerBucket >= 1, "targetFilesPerBucket must be >= 1")
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy (linear) and zOrderBy (Morton) are exclusive — pick the " +
      "layout that matches the query mix")
    require(!resortKey || (clusterBy.isEmpty && zOrderBy.isEmpty),
      "resortKey restores the KEY-sorted layout — contradictory with " +
      "a clusterBy/zOrder rewrite, which sorts by other columns")
    val (fs, root) = fsFor(spark, path)
    retryCommit("compactVersion", path, maxRetries) { _ =>
      val parentV = currentVersion(spark, path)
      require(parentV >= 0, s"$path has no version log")
      val parent = readManifest(spark, root, parentV)
      val byBucket = parent.files.groupBy(bucketOf)
      // clustering is a layout change: existing files are NOT clustered,
      // so every bucket rewrites regardless of its file count. A bucket
      // holding FOREIGN (clone-source) refs also always rewrites —
      // compaction is how a shallow clone materializes, so "compact to
      // target" must leave every live ref local.
      // live deletion vectors fold TARGETED (r16): only the buckets
      // whose files actually carry live DV positions rewrite — at
      // 100 TB a 3-bucket delete folds 3 buckets, never the table
      // (Delta's REORG ... APPLY (PURGE)). Finding them is one job
      // over the sidecars (file-count rows under v2 bitmaps). Every
      // live entry's bucket rewrites, so dropping dvFiles below stays
      // sound; entries for already-rewritten files are inert anyway.
      val dvTouched: Set[Long] =
        if (parent.dvFiles.isEmpty) Set.empty
        else dvDeletedPerFile(spark, root, parent).keySet.map(bucketOf)
      // resortKey forces a FULL key-sorted rewrite — how a table whose
      // bucket-level order broke (merge-on-read appends overlap the
      // old files' key ranges, so upsertDV drops keySorted) restores
      // the sort-free SPJ zipper in one maintenance pass
      val toRewrite =
        if (clusterBy.nonEmpty || zOrderBy.nonEmpty || resortKey) byBucket
        else byBucket.filter { case (b, fls) =>
          dvTouched.contains(b) ||
            fls.size > targetFilesPerBucket ||
            fls.exists(f => new Path(f).isAbsolute)
        }
      if (toRewrite.isEmpty) {
        // nothing to rewrite, but fully-inert sidecars (every entry
        // points at an already-rewritten file) still pin their parquet
        // from vacuum — drop them with one metadata-only commit
        if (parent.dvFiles.nonEmpty) {
          commitFence()
          writeManifest(fs, root,
            parent.copy(version = parentV + 1, parent = parentV,
              txn = None, ts = nextTs(parent), op = Some("compact"),
              rowsUpserted = 0L, rowsDeleted = 0L,
              dvFiles = Seq.empty, copied = Seq.empty),
            parent = Some(parent), touched = Some(Set.empty))
          CompactStats(parentV + 1, 0, parent.files.size, parent.files.size)
        } else
          CompactStats(parentV, 0, parent.files.size, parent.files.size)
      } else {
      val rewriteFiles = toRewrite.values.flatten.toSeq.sorted
      val rows = versionDf(spark, path, root,
        parent.copy(files = rewriteFiles))
      clusterBy.foreach(c => require(rows.columns.contains(c),
        s"clusterBy column $c not in ${rows.columns.mkString(", ")}"))
      // the planned coarse layout: exactly targetFilesPerBucket file(s)
      // per rewritten bucket ([[bucketPartitioned]]); under clusterBy,
      // a (bucket, cluster...) range partition instead — bucket leads
      // the range order, so each file's cluster range is contiguous and
      // disjoint from its siblings'
      val repart =
        if (zOrderBy.nonEmpty) {
          // MULTI-DIMENSIONAL layout (OPTIMIZE ZORDER BY): Morton-
          // interleave the dims and range-partition each bucket on the
          // z-value — every file becomes a small hyper-rectangle in ALL
          // dims, so the manifest stats prune on ANY of them (linear
          // clusterBy prunes only its leading column). One tiny global
          // min/max aggregate scales the dims.
          zOrderBy.foreach(c => require(rows.columns.contains(c),
            s"zOrderBy column $c not in ${rows.columns.mkString(", ")}"))
          // time types need a numeric projection before scaling (epoch
          // seconds — layout quality only, correctness never depends on it)
          def dim(k: String): org.apache.spark.sql.Column =
            rows.schema(k).dataType match {
              case org.apache.spark.sql.types.TimestampNTZType =>
                col(k).cast("timestamp").cast("double")
              case _: org.apache.spark.sql.types.TimestampType |
                   _: org.apache.spark.sql.types.DateType =>
                col(k).cast("timestamp").cast("double")
              case _ => col(k).cast("double")
            }
          val aggs = zOrderBy.flatMap(k => Seq(
            min(dim(k)).as(s"mn_$k"), max(dim(k)).as(s"mx_$k")))
          val r = rows.agg(aggs.head, aggs.tail: _*).collect()(0)
          val scaled = zOrderBy.zipWithIndex.map { case (k, i) =>
            ZOrder.scale(dim(k), r.getDouble(2 * i), r.getDouble(2 * i + 1),
              zBits)
          }
          rows.withColumn("__z", ZOrder.interleave(scaled, zBits))
            .repartitionByRange(toRewrite.size * targetFilesPerBucket,
              col("__bucket"), col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
        } else if (clusterBy.isEmpty)
          bucketPartitioned(rows, targetFilesPerBucket, toRewrite.size,
            sortKey = sortKeysOf(parent))
        else rows
          .repartitionByRange(toRewrite.size * targetFilesPerBucket,
            col("__bucket") +: clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      val (newFiles, newStats) =
        stageAndMove(spark, fs, root, repart, parent.statsCols,
          parent.colMap)
      val files = parent.files.filterNot(f => toRewrite.contains(bucketOf(f))) ++
        newFiles
      commitFence()
      claimStaged(fs, root,
        Manifest(parentV + 1, parentV, files.sorted, parent.dataSchema,
          layout = parent.layout, statsCols = parent.statsCols,
          stats = parent.stats.filterNot(e =>
            toRewrite.contains(bucketOf(e.file))) ++ newStats,
          ts = nextTs(parent), op = Some("compact"),
          rowsUpserted = 0L, rowsDeleted = 0L,
          shardSpan = parent.shardSpan,
          constraints = parent.constraints,
          // every DV-touched bucket is in toRewrite: folded
          dvFiles = Seq.empty,
          colMap = parent.colMap, physRetired = parent.physRetired,
          colAliases = parent.colAliases,
          idHwm = parent.idHwm,
          // a clusterBy/zOrder rewrite sorts files by the CLUSTER
          // columns, not the key — the sorted-scan contract breaks
          // until a full key-sorted rewrite restores it. A plain
          // compact sorts its rewrites by key and carries the rest;
          // when it rewrote EVERY bucket (resortKey, or they all
          // exceeded target), the whole table is freshly key-sorted
          // and the flag flips TRUE — the restore path after
          // merge-on-read upserts dropped it.
          keySorted =
            if (clusterBy.nonEmpty || zOrderBy.nonEmpty) false
            else if (toRewrite.size == byBucket.size &&
                sortKeysOf(parent).nonEmpty) true
            else parent.keySorted,
          layoutCols = parent.layoutCols, layoutNs = parent.layoutNs),
        parent, Some(toRewrite.keySet.toSet), newFiles)
      CompactStats(parentV + 1, toRewrite.size, parent.files.size,
        files.size)
      }
    }
  }

  /** EXACTLY-ONCE streaming upsert: sink a stream of updates into the
    * keyed table, one committed version per micro-batch. Returns the
    * configured writer — set a trigger and `.start()` it:
    *
    * {{{
    * Merge.streamingUpsert(updates, path, "id", 64, ckpt, "my-app")
    *   .trigger(Trigger.AvailableNow()).start().awaitTermination()
    * }}}
    *
    * End-to-end exactly-once comes from composing the two halves that
    * each exist already: Structured Streaming's checkpoint replays a
    * failed batch with the SAME batch id, and [[upsert]]'s txn stamp
    * makes the replayed (appId, batchId) a no-op. A crash between the
    * manifest commit and the checkpoint write — the classic at-least-once
    * window of foreachBatch sinks — re-delivers the batch, hits the txn
    * watermark, and changes nothing.
    *
    * Within a batch, keys must be unique ([[upsert]]'s contract) — CDC
    * sources should compact to the last image per key upstream (e.g.
    * `ops.TableDiff.changeDeltas` output folded per key).
    */
  def streamingUpsert(updates: DataFrame, path: String, keyCol: String,
      nBuckets: Int, checkpointLocation: String, appId: String,
      allowEvolution: Boolean = false,
      tombstoneCol: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] = {
    require(updates.isStreaming, "streamingUpsert needs a streaming frame")
    updates.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsert(batch.sparkSession, path, batch, keyCol, nBuckets,
          allowEvolution = allowEvolution, txn = Some((appId, batchId)),
          tombstoneCol = tombstoneCol)
        ()
      }
  }

  /** [[streamingUpsert]]'s MERGE-ON-READ sibling: each micro-batch
    * lands through [[upsertDV]] — old images vectored, batch rows
    * appended, NO data file rewritten — which is the write shape CDC
    * ingestion wants at 100 TB: per-batch cost ∝ the batch, with
    * [[compactVersion]]'s targeted purge folding on a maintenance
    * schedule instead of every micro-batch paying bucket rewrites.
    * Same exactly-once composition (checkpoint replay × `txn` stamp)
    * and the same unique-keys-per-batch contract; upsertDV's narrower
    * surface applies (no evolution/tombstones/identity/generated).
    */
  def streamingUpsertDV(updates: DataFrame, path: String, keyCol: String,
      nBuckets: Int, checkpointLocation: String, appId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] = {
    require(updates.isStreaming,
      "streamingUpsertDV needs a streaming frame")
    updates.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertDV(batch.sparkSession, path, batch, keyCol, nBuckets,
          txn = Some((appId, batchId)))
        ()
      }
  }

  /** Default grace for NEVER-REFERENCED files (possible mid-commit
    * state): a live committer moves its staged files into the bucket
    * dirs BEFORE the manifest claim, so for a short window they are
    * indistinguishable from crash orphans. 10 minutes dwarfs any real
    * commit's stage-to-claim gap; a crash's true orphans simply wait
    * one floor before a later vacuum reclaims them.
    */
  val DefaultOrphanGraceMs: Long = 10L * 60L * 1000L

  /** Drop versions older than the latest `keepVersions` and delete every
    * data file no retained version references (crash orphans and
    * superseded pre-compaction files included), plus abandoned staging
    * dirs. Time travel back past the horizon is gone after this — the
    * storage-reclamation half of the copy-on-write contract. TAGGED
    * versions survive any keepVersions (Iceberg semantics): their
    * manifests, files, and shards live until the tag is dropped.
    *
    * Every file kind — data files, manifest shards, deletion-vector and
    * bloom sidecars — is reclaimed by the one [[VersionLog.Sweep]] rule:
    * not live in a retained version, then past `graceMs` if some
    * manifest ever referenced it, else past the orphan floor
    * `orphanGraceMs` (a commit in flight stages its files before its
    * claim, so a never-referenced file may be mid-publish).
    *
    * `graceMs` spares files/staging dirs modified within the last N ms:
    * when vacuuming beside live writers set it above the longest
    * expected commit (with the default 0, do not run vacuum concurrently
    * with writers). This applies with EXTRA force to SHARDED-manifest
    * tables: a shard file is written BEFORE the root that references it,
    * so a graceMs=0 vacuum racing an in-flight commit can reclaim a shard
    * moments before its root lands — the commit still succeeds but the
    * version is unreadable. The rule is one rule, not two: vacuum beside
    * live writers ONLY with graceMs greater than the longest possible
    * commit duration; graceMs = 0 is for quiesced tables.
    *
    * Returns the reclaimed (or, with `dryRun = true`, the reclaimABLE
    * — nothing is touched) file paths, table-root-relative where they
    * live under it. Dry run is the operator's pre-flight: the same
    * retention/tag/grace/orphan rules decide the set either way.
    */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1,
      graceMs: Long = 0L,
      orphanGraceMs: Long = DefaultOrphanGraceMs,
      dryRun: Boolean = false): Seq[String] = {
    require(keepVersions >= 1, "must keep >= 1 version")
    val (fs, root) = fsFor(spark, path)
    val latest = currentVersion(spark, path)
    require(latest >= 0, s"$path has no version log")
    val keepFrom = math.max(0L, latest - keepVersions + 1)
    val tagged = VersionLog.Tags.versions(fs, tagsPath(root))
    val allVersions = listVersions(spark, root)
    val all = allVersions.flatMap(v => readManifestOpt(spark, root, v))
    val kept = ((keepFrom to latest) ++ tagged.filter(_ < keepFrom))
      .sorted.flatMap(v => readManifestOpt(spark, root, v))
    val sweep = new VersionLog.Sweep(fs, root, graceMs, orphanGraceMs,
      dryRun)
    // (live, ever referenced) names of one file kind
    def refs(of: Manifest => Seq[String]): (Set[String], Set[String]) =
      (kept.flatMap(of).toSet, all.flatMap(of).toSet)
    val (liveData, everData) = refs(_.files)
    listDataStatuses(fs, root).foreach { case (f, st) =>
      sweep.offer(new Path(root, f), f, st.getModificationTime,
        liveData, everData)
    }
    sweep.expire(logPath(root), allVersions, keepFrom, tagged)
    // content-addressed shards: a shard can serve many versions, so it
    // dies only when its last referencing root is gone
    val sp = shardsPath(root)
    if (fs.exists(sp)) {
      val (live, ever) = refs(_.shardIds.map(_._2))
      fs.listStatus(sp).foreach(st => sweep.offer(st.getPath,
        st.getPath.getName, st.getModificationTime, live, ever))
    }
    // sidecar trees `<dir>/<commit>/<file>`, swept by their root-relative
    // name; a commit dir left empty goes too
    def sidecars(dir: String, of: Manifest => Seq[String]): Unit = {
      val top = new Path(root, dir)
      if (fs.exists(top)) {
        val (live, ever) = refs(of)
        fs.listStatus(top).filter(_.isDirectory).foreach { d =>
          fs.listStatus(d.getPath).foreach { f =>
            sweep.offer(f.getPath,
              s"$dir/${d.getPath.getName}/${f.getPath.getName}",
              f.getModificationTime, live, ever)
          }
          if (!dryRun && fs.listStatus(d.getPath).isEmpty)
            fs.delete(d.getPath, true)
        }
      }
    }
    sidecars("_graft_dv", _.dvFiles)
    sidecars("_graft_bloom", _.stats.flatMap(_.bloom)
      .filter(Skipping.isBloomRef).map(_.stripPrefix(Skipping.BloomRefMark)))
    sweep.staging(stagingRoot(root))
    sweep.planned
  }

  /** Time-based retention (Delta's `delete retention period` shape):
    * keep every version committed within the last `retainMillis` PLUS
    * the newest version at or before that horizon — so [[readAsOf]] /
    * [[versionAsOf]] stay answerable for every instant inside the
    * retention window (the snapshot current at the window's start is
    * the one a horizon-edge timestamp resolves to). Translates to a
    * version count and delegates to [[vacuum]]. Versions without a
    * commit stamp (pre-ts manifests) count as infinitely old.
    */
  def vacuumRetain(spark: SparkSession, path: String,
      retainMillis: Long, graceMs: Long = 0L): Seq[String] = {
    require(retainMillis >= 0, "retainMillis must be >= 0")
    val (_, root) = fsFor(spark, path)
    val latest = currentVersion(spark, path)
    require(latest >= 0, s"$path has no version log")
    val horizon = System.currentTimeMillis() - retainMillis
    // newest version at or before the horizon (or the oldest retained,
    // when every commit is inside the window)
    var keepFrom = latest
    var v = latest
    var done = false
    while (v >= 0 && !done) {
      readManifestOpt(spark, root, v, resolveShards = false) match {
        case Some(m) =>
          keepFrom = v
          if (m.ts < 0 || m.ts <= horizon) done = true else v -= 1
        case None => done = true // already vacuumed below here
      }
    }
    vacuum(spark, path, keepVersions = (latest - keepFrom + 1).toInt,
      graceMs = graceMs)
  }
}
