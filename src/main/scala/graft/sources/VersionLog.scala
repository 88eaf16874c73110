package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The create-if-absent claim found `target` already taken: another writer
  * committed that version (or tag) first. Re-resolve the log and retry.
  */
final class LostRace(target: Path)
  extends Exception(s"lost the create-if-absent race for $target")

/** An optimistic retry loop lost the commit race on every attempt. Typed,
  * so a caller that can redo the whole attempt ([[TableCatalog.transact]])
  * matches the type, never the message.
  */
final class RetriesExhausted(message: String)
  extends IllegalStateException(message)

/** The commit protocol every versioned log in the engine shares:
  * [[Merge]]'s table manifests (`_graft_log/`), [[TxLog]]'s index states
  * (`_idx_log/`, which also carry IncrementalAgg's state) and
  * [[TableCatalog]]'s catalog pins (`_cat_log/`). Each log keeps only its
  * own manifest schema and writer; this object owns the protocol:
  *
  *   1. the claim ([[claim]]): `dir/v{N}.json` is created if absent,
  *      atomically and all-or-nothing; a second writer gets [[LostRace]];
  *   2. the listing of `v{N}.json` files ([[versions]]) and the walk-back
  *      to the newest version that validates ([[newest]]), past claims a
  *      crashed writer left torn;
  *   3. the validated read through one bounded memo ([[Memo]]);
  *   4. the optimistic retry loop ([[retrying]]);
  *   5. release tags ([[Tags]]), written through the claim;
  *   6. the orphan sweep of vacuum ([[Sweep]]).
  *
  * A crash at any step leaves the old committed version current plus
  * files no manifest references; the next reader resolves the last valid
  * manifest and the next vacuum sweeps the rest.
  */
private[sources] object VersionLog {

  def versionFile(dir: Path, version: Long): Path =
    new Path(dir, s"v$version.json")

  /** Create `target` holding `bytes` if it does not exist — the atomic
    * point of every commit and of every tag. Throws [[LostRace]] when it
    * exists.
    *
    * On the local filesystem `FileSystem.create(f, overwrite = false)` is
    * check-THEN-create (two racers can both pass the check), so there the
    * claim hard-links a fully written temp file: atomic (O_EXCL semantics)
    * and all-or-nothing, with no torn window. On HDFS and object stores
    * the namenode / conditional-put create is already atomic; readers
    * still validate bodies to cover a crash between create and write.
    */
  def claim(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit = {
    val dir = target.getParent
    if (!fs.exists(dir)) fs.mkdirs(dir)
    if ("file" == target.getFileSystem(fs.getConf).getScheme) {
      // '+' is outside both the v{N}.json pattern and the tag alphabet,
      // so a listing never mistakes the temp file for a claim
      val tmp = java.nio.file.Paths.get(dir.toUri.getPath,
        s".tmp+${target.getName}+${java.util.UUID.randomUUID}")
      java.nio.file.Files.write(tmp, bytes)
      try java.nio.file.Files.createLink(
        java.nio.file.Paths.get(target.toUri.getPath), tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new LostRace(target)
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val out =
        try fs.create(target, false)
        catch {
          case e: java.io.IOException =>
            if (fs.exists(target)) throw new LostRace(target) else throw e
        }
      try out.write(bytes) finally out.close()
    }
  }

  /** Every version with a `v{N}.json` under `dir`, committed or torn,
    * ascending; empty when the log does not exist.
    */
  def versions(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong).toSeq.sorted

  /** The newest of `versions` that `read` validates: the walk-back past
    * claims that are missing or torn.
    */
  def newest[T](versions: Seq[Long])(read: Long => Option[T]): Option[T] =
    versions.reverseIterator.map(read).collectFirst { case Some(t) => t }

  /** Read a small metadata file fully to EOF. A single
    * `InputStream.read` may return fewer bytes than available on remote
    * filesystems — truncating, say, a tag's version string and letting
    * vacuum compute a wrong keep-set — so loop until -1.
    */
  def readSmallUtf8(fs: FileSystem, f: Path): String = {
    val in = fs.open(f)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** A bounded memo: past `cap` entries the least recently used one goes.
    * The one eviction rule of the log memos (no whole-map clear, which
    * drops every hot entry at once).
    */
  final class Bounded[K, V <: AnyRef](cap: Int) {
    private val m = new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[K, V]): Boolean = this.size > cap
    }
    def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))
    def put(k: K, v: V): Unit = m.synchronized { m.put(k, v); () }
    /** `v` is computed outside the lock: two racing misses both compute
      * and the later put wins, which is fine for memoized pure values.
      */
    def getOrElseUpdate(k: K)(v: => V): V =
      get(k).getOrElse { val x = v; put(k, x); x }
    def removeKeys(p: K => Boolean): Unit =
      m.synchronized { m.keySet.removeIf(k => p(k)); () }
    def size: Int = m.synchronized(m.size)
  }

  /** Parsed manifests of one log kind. Committed manifests are immutable
    * under the claim, so a parse is reusable; the file's (mtime, length)
    * guard the one legitimate way bytes change under one (dir, version) —
    * a log rebuilt wholesale at the same path, whose rebuild site also
    * [[purge]]s (a same-millisecond rebuild of equal length would
    * otherwise collide). A re-walk of the log tail then costs one
    * getFileStatus per version instead of a read and a parse.
    */
  final class Memo[V <: AnyRef] {
    private val memo = new Bounded[(String, Long, Long, Long), V](8192)

    /** `dir/v{version}.json` parsed by `parse`; None when the file is
      * missing, unreadable or does not parse (a torn claim), so callers
      * treat that version as never committed. A memoized value is reused
      * when `fits` accepts it; otherwise the file is read again and the
      * new parse replaces it.
      */
    def read(fs: FileSystem, dir: Path, version: Long,
        fits: V => Boolean = (_: V) => true)
        (parse: String => Option[V]): Option[V] = {
      val p = versionFile(dir, version)
      val stat =
        try fs.getFileStatus(p)
        catch { case _: java.io.FileNotFoundException => return None }
      val key = (dir.toString, version, stat.getModificationTime,
        stat.getLen)
      memo.get(key).filter(fits).orElse {
        val parsed =
          try parse(readSmallUtf8(fs, p))
          catch { case _: java.io.IOException => None }
        parsed.foreach(memo.put(key, _))
        parsed
      }
    }

    /** Forget every manifest memoized under `root`: the path itself or a
      * path below it by whole components (a bare prefix match would also
      * purge the sibling `/a/bc` when purging `/a/b`).
      */
    def purge(root: Path): Unit = {
      val r = root.toString
      memo.removeKeys(k => k._1 == r || k._1.startsWith(r + "/"))
    }
  }

  /** The optimistic retry loop: run `body(lost)` — `lost` counts the races
    * lost so far — until it returns. A [[LostRace]] runs it again, up to
    * `maxRetries` more times; then [[RetriesExhausted]] carries
    * `exhausted(lost)`. The body re-resolves its parent each time; the
    * loop only counts.
    */
  def retrying[A](maxRetries: Int, exhausted: Int => String)
      (body: Int => A): A = {
    var attempt = 0
    while (attempt <= maxRetries) {
      try return body(attempt)
      catch { case _: LostRace => attempt += 1 }
    }
    throw new RetriesExhausted(exhausted(attempt))
  }

  /** Release tags: an immutable name for one version, stored as a small
    * file under the log's `tags/` dir holding the version number. A tag
    * is created through [[claim]], so of two racing taggers exactly one
    * wins, and it is never repointed: delete and re-create to move it.
    * Vacuum keeps every tagged version alive.
    */
  object Tags {
    private def isValid(tag: String): Boolean =
      tag.nonEmpty && tag.forall(c =>
        c.isLetterOrDigit || c == '.' || c == '_' || c == '-')

    def requireValid(tag: String): Unit =
      require(isValid(tag), s"tag names are [A-Za-z0-9._-]+, got '$tag'")

    def create(fs: FileSystem, dir: Path, tag: String, version: Long,
        owner: String): Unit = {
      requireValid(tag)
      try claim(fs, new Path(dir, tag), version.toString.getBytes("UTF-8"))
      catch {
        case _: LostRace => throw new IllegalArgumentException(
          s"tag '$tag' already exists on $owner (tags are immutable — " +
          "deleteTag first to repoint)")
      }
    }

    /** The version `tag` names; throws on an unknown tag. */
    def versionOf(fs: FileSystem, dir: Path, tag: String,
        owner: String): Long = {
      requireValid(tag)
      val f = new Path(dir, tag)
      require(fs.exists(f), s"no tag '$tag' on $owner")
      readSmallUtf8(fs, f).trim.toLong
    }

    /** Every (tag, version), sorted by tag. */
    def list(fs: FileSystem, dir: Path): Seq[(String, Long)] =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(isValid).sorted
        .map(t => t -> readSmallUtf8(fs, new Path(dir, t)).trim.toLong)

    def delete(fs: FileSystem, dir: Path, tag: String, owner: String)
        : Unit = {
      requireValid(tag)
      val f = new Path(dir, tag)
      require(fs.exists(f), s"no tag '$tag' on $owner")
      fs.delete(f, false)
    }

    def versions(fs: FileSystem, dir: Path): Set[Long] =
      list(fs, dir).map(_._2).toSet
  }

  /** The orphan sweep of every vacuum. A file no retained version
    * references is reclaimed once old enough: under `graceMs` when some
    * manifest ever referenced it (superseded history), under the orphan
    * floor `orphanGraceMs` when none did — a crash orphan and a commit
    * between its stage-and-move and its claim look the same, so a
    * graceMs = 0 vacuum cannot eat a commit mid-publish. Reclamation can
    * only ever be delayed, never early. With `dryRun` nothing is deleted;
    * [[planned]] lists the reclaimed (or reclaimable) paths, relative to
    * `root` where they live under it.
    */
  final class Sweep(fs: FileSystem, root: Path, graceMs: Long,
      orphanGraceMs: Long, dryRun: Boolean) {
    private val now = System.currentTimeMillis()
    private val cutoff = now - graceMs
    private val orphanCutoff = now - math.max(graceMs, orphanGraceMs)
    private val out = Seq.newBuilder[String]

    def reclaim(p: Path, recursive: Boolean = false): Unit = {
      out += p.toString.stripPrefix(root.toString).stripPrefix("/")
      if (!dryRun) { fs.delete(p, recursive); () }
    }

    /** Reclaim `p`, known to manifests as `rel`, unless `live(rel)`, once
      * its modification time is past the cutoff its history earns.
      * `mtime` is only evaluated for a file that is not live.
      */
    def offer(p: Path, rel: String, mtime: => Long, live: String => Boolean,
        ever: String => Boolean, recursive: Boolean = false): Unit =
      if (!live(rel) && mtime <= (if (ever(rel)) cutoff else orphanCutoff))
        reclaim(p, recursive)

    /** Expired manifests: every version below `keepFrom` that `keep` does
      * not retain (a tagged one, say).
      */
    def expire(dir: Path, versions: Seq[Long], keepFrom: Long,
        keep: Long => Boolean = _ => false): Unit =
      versions.filter(v => v < keepFrom && !keep(v))
        .foreach(v => reclaim(versionFile(dir, v)))

    /** Abandoned staging dirs: never referenced by construction, so each
      * waits out the orphan floor.
      */
    def staging(dir: Path): Unit =
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        offer(st.getPath, st.getPath.getName, st.getModificationTime,
          _ => false, _ => false, recursive = true)
      }

    def planned: Seq[String] = out.result()
  }
}
