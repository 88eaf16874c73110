package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** MULTI-TABLE ATOMIC TRANSACTIONS over [[Merge]] tables — the one
  * coordination primitive the per-table version logs cannot give on
  * their own: "apply this batch to table A AND its rollup to table B,
  * and let no reader ever see one without the other".
  *
  * This is the Iceberg-REST-catalog move (Delta lacks it): each member
  * table keeps its own versioned manifest log exactly as before, and a
  * CATALOG LOG above them pins, per catalog version, the table version
  * every member is at. The catalog commit — one create-if-absent JSON
  * claim ([[TxLog.claimVersion]], the same atomic point Merge manifests
  * use) — is the transaction's single publication event:
  *
  *   - readers that resolve through the catalog ([[readTable]]) read
  *     each member AT ITS PINNED VERSION; since pinned manifests are
  *     immutable, a catalog snapshot is cross-table consistent forever;
  *   - a transaction applies its per-table operations as ordinary Merge
  *     commits FIRST (each individually atomic, invisible through the
  *     catalog), then publishes all of them with one catalog claim;
  *   - a crash at ANY point before the catalog claim leaves the catalog
  *     unchanged: the half-applied table versions are ORPHANS above the
  *     pins, invisible to catalog readers, and the next [[transact]] (or
  *     [[recover]]) rolls each touched member back to its pin with a
  *     zero-copy [[Merge.restore]] before doing its own work.
  *
  * Isolation against a CONCURRENT transact interleaving between this
  * one's restore and its table ops: every Merge commit consumes exactly
  * one version number on a linear chain, so after restoring a member to
  * its pin at version R, this transact's own ops must land at R+1..R+k
  * CONTIGUOUSLY. An op that returns any other version proves a foreign
  * commit slipped under it — the published pin would smuggle that
  * foreign (possibly half-transacted) history into the catalog — so the
  * attempt is abandoned and redone from fresh pins ([[StaleAttempt]]).
  * With that check, a catalog version can only ever pin `pin-content +
  * exactly this transaction's ops`, which is serializability: racing
  * transacts are ordered by who wins the catalog claim; the loser
  * re-applies on top of the winner's pins.
  *
  * Contract: member tables are written ONLY through [[transact]]. A
  * direct `Merge.upsert` against a member is indistinguishable from a
  * crashed transaction's orphan and WILL be rolled back by the next
  * transact touching that table.
  *
  * At 100 TB the extra cost of the protocol is metadata-only: a
  * transaction adds one small catalog JSON and (on the recovery path) a
  * zero-copy restore commit per touched table; data I/O is exactly the
  * Merge ops' own (touched buckets only). Catalog resolution is one
  * driver-side JSON read; pinned-version reads plan from the member's
  * manifest exactly like any time-travel read.
  */
object TableCatalog {

  /** One member's pinned state at a catalog version. `kind` is "merge"
    * (a [[Merge]] version log) or "idx" (a [[TxLog]]-rooted index
    * layout — the persisted dedup/ANN indexes); the kind picks the
    * restore/version machinery, the atomicity story is identical.
    */
  final case class Pin(path: String, version: Long, kind: String = "merge")

  /** One committed catalog version: every member's pin. `ts` is commit
    * wall-clock millis, strictly increasing along the chain (the Merge
    * rule, so [[stateAsOf]] is well-defined). `txn` is the optional
    * (appId, batchId) stamp of an exactly-once streaming applier.
    */
  final case class CatState(version: Long, parent: Long, ts: Long,
      op: String, pins: Map[String, Pin],
      txn: Option[(String, Long)] = None)

  /** One per-table operation inside a transaction. Ops on the same
    * table apply in list order.
    */
  sealed trait TxnOp { def table: String }

  /** Keyed upsert into `table` ([[Merge.upsert]] semantics — the key
    * column and bucket count come from the member's recorded layout).
    */
  final case class TxnUpsert(table: String, updates: DataFrame,
      tombstoneCol: Option[String] = None,
      allowEvolution: Boolean = false,
      filesPerBucket: Int = 1) extends TxnOp

  /** Row-level delete from `table` ([[Merge.deleteWhere]] semantics;
    * `bounds` prune the find scan, correctness never depends on them).
    */
  final case class TxnDelete(table: String, predicate: Column,
      bounds: Seq[Skipping.Bound] = Seq.empty) extends TxnOp

  /** An op on an INDEX member ("idx" kind): `run(spark, path)` must
    * perform EXACTLY ONE [[TxLog]] commit on the member and return the
    * committed version — e.g. `DedupIndex.append(...)` or
    * `DedupIndex.remove(...)` (both do). The one-commit contract is what
    * lets the catalog's contiguity check hold for index members too.
    */
  final case class TxnIndex(table: String,
      run: (SparkSession, String) => Long) extends TxnOp

  /** The escape hatch for every OTHER Merge verb on a "merge" member —
    * maintenance included. A direct `Merge.compactVersion` /
    * `addConstraint` / `restore` against a member outside a transaction
    * is indistinguishable from a crashed transaction's orphan and gets
    * ROLLED BACK by the next transact, so maintenance must ride a
    * transaction too: `run(spark, path)` performs exactly one Merge
    * commit and returns its version, e.g.
    * `TxnTable("t", (s, p) => Merge.compactVersion(s, p).version)` or
    * `TxnTable("t", (s, p) => Merge.addConstraint(s, p, n, expr))`.
    */
  final case class TxnTable(table: String,
      run: (SparkSession, String) => Long) extends TxnOp

  // test seams: catFence runs immediately before each catalog claim
  // attempt; opFence runs after each applied table op (crash injection
  // between a transaction's table commits)
  @volatile private[graft] var catFence: () => Unit = () => ()
  @volatile private[graft] var opFence: String => Unit = _ => ()

  /** A foreign Merge commit interleaved under this attempt's table ops —
    * publishing would leak un-cataloged history; redo from fresh pins.
    */
  private final class StaleAttempt extends Exception

  private def logDir(root: Path) = new Path(root, "_cat_log")

  private def fsFor(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def body(s: CatState): Array[Byte] = {
    val pins = s.pins.toSeq.sortBy(_._1).map { case (name, p) =>
      s""""${JsonEscape(name)}":{"path":"${JsonEscape(p.path)}",""" +
        s""""version":${p.version},"kind":"${JsonEscape(p.kind)}"}"""
    }.mkString("{", ",", "}")
    val txnField = s.txn.map { case (app, batch) =>
      s""","txnApp":"${JsonEscape(app)}","txnBatch":$batch"""
    }.getOrElse("")
    (s"""{"version":${s.version},"parent":${s.parent},"ts":${s.ts},""" +
      s""""op":"${JsonEscape(s.op)}","pins":$pins$txnField}""")
      .getBytes("UTF-8")
  }

  /** Parse one catalog manifest; None when missing/truncated (a crashed
    * claim) — readers walk back past it, mirroring Merge.
    */
  private def readState(spark: SparkSession, root: Path,
      version: Long): Option[CatState] = {
    val p = new Path(logDir(root), s"v$version.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val text =
      try {
        val in = fs.open(p)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      } catch { case _: java.io.IOException => return None }
    import org.json4s._
    scala.util.Try(org.json4s.jackson.JsonMethods.parse(text)).toOption
      .flatMap { j =>
        def num(v: JValue): Option[Long] = v match {
          case JInt(n) => Some(n.toLong); case JLong(n) => Some(n)
          case _ => None
        }
        val pins = j \ "pins" match {
          case JObject(fields) =>
            val parsed = fields.map { case (name, v) =>
              ((v \ "path"), num(v \ "version")) match {
                case (JString(path), Some(ver)) =>
                  val kind = v \ "kind" match {
                    case JString(k) => k
                    case _ => "merge" // pre-kind catalogs were all-Merge
                  }
                  Some(name -> Pin(path, ver, kind))
                case _ => None
              }
            }
            if (parsed.exists(_.isEmpty)) None
            else Some(parsed.flatten.toMap)
          case _ => None
        }
        val op = j \ "op" match {
          case JString(o) => Some(o); case _ => None
        }
        val txn = (j \ "txnApp", num(j \ "txnBatch")) match {
          case (JString(a), Some(b)) => Some((a, b))
          case _ => None
        }
        for (v <- num(j \ "version"); pa <- num(j \ "parent");
             ts <- num(j \ "ts"); o <- op; pi <- pins)
          yield CatState(v, pa, ts, o, pi, txn)
      }
  }

  private def listVersions(fs: FileSystem, root: Path): Seq[Long] = {
    val dir = logDir(root)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong).toSeq.sorted
  }

  /** Register a catalog over `tables` (name -> Merge table path), each
    * pinned at its CURRENT version. Every member must already carry a
    * version log ([[Merge.writeKeyed]]); the catalog root must not
    * already hold one.
    */
  def create(spark: SparkSession, catRoot: String,
      tables: Map[String, String],
      indexes: Map[String, String] = Map.empty): CatState = {
    require(tables.nonEmpty || indexes.nonEmpty,
      "a catalog needs >= 1 member")
    require((tables.keySet & indexes.keySet).isEmpty,
      "a member name cannot be both a table and an index")
    val (fs, root) = fsFor(spark, catRoot)
    require(listVersions(fs, root).isEmpty,
      s"$catRoot already holds a catalog log")
    val pins = tables.map { case (name, path) =>
      val v = Merge.currentVersion(spark, path)
      require(v >= 0,
        s"member $name at $path has no version log — writeKeyed it first")
      name -> Pin(path, v)
    } ++ indexes.map { case (name, path) =>
      val v = TxLog.currentVersion(spark, path)
      require(v >= 0,
        s"index member $name at $path has no _idx_log — build it first")
      name -> Pin(path, v, kind = "idx")
    }
    val s = CatState(0L, -1L, System.currentTimeMillis(), "create", pins)
    TxLog.claimVersion(fs, logDir(root), 0L, body(s))
    s
  }

  /** Newest committed catalog state, walking back past torn claims. */
  def state(spark: SparkSession, catRoot: String): CatState = {
    val (fs, root) = fsFor(spark, catRoot)
    listVersions(fs, root).reverse.iterator
      .map(v => readState(spark, root, v))
      .collectFirst { case Some(s) => s }
      .getOrElse(throw new IllegalArgumentException(
        s"$catRoot holds no catalog log — create it first"))
  }

  /** The catalog state at an exact version (catalog time travel). */
  def stateAt(spark: SparkSession, catRoot: String,
      version: Long): CatState = {
    val (_, root) = fsFor(spark, catRoot)
    readState(spark, root, version).getOrElse(
      throw new IllegalArgumentException(
        s"$catRoot has no committed catalog version $version"))
  }

  /** The newest catalog state committed at or before `timestampMillis`
    * (Delta's timestampAsOf rule, at the catalog level: one resolution
    * time-travels EVERY member consistently).
    */
  def stateAsOf(spark: SparkSession, catRoot: String,
      timestampMillis: Long): CatState = {
    val (fs, root) = fsFor(spark, catRoot)
    listVersions(fs, root).reverse.iterator
      .flatMap(v => readState(spark, root, v))
      .find(_.ts <= timestampMillis)
      .getOrElse(throw new IllegalArgumentException(
        s"timestamp $timestampMillis predates $catRoot's retained history"))
  }

  /** Read one member at its catalog-pinned version — THE cross-table
    * consistent read. Pass an explicit `at` state to read several
    * members from one snapshot resolution.
    */
  def readTable(spark: SparkSession, catRoot: String, name: String,
      at: Option[CatState] = None): DataFrame = {
    val st = at.getOrElse(state(spark, catRoot))
    val pin = st.pins.getOrElse(name, throw new IllegalArgumentException(
      s"$name is not a member of the catalog at $catRoot " +
      s"(members: ${st.pins.keys.toSeq.sorted.mkString(", ")})"))
    require(pin.kind == "merge",
      s"$name is an index member — resolve it with indexState instead")
    Merge.readVersion(spark, pin.path, pin.version)
  }

  /** The pinned [[TxLog.State]] of an index member — pass it to the
    * index's probe API (e.g. `DedupIndex.dedupAgainst(..., at = ...)`)
    * so the probe reads the CATALOG-PUBLISHED index, not whatever the
    * member log's latest happens to be (a crashed transaction's orphan
    * append stays invisible to admissions exactly like a data orphan).
    */
  def indexState(spark: SparkSession, catRoot: String, name: String,
      at: Option[CatState] = None): TxLog.State = {
    val st = at.getOrElse(state(spark, catRoot))
    val pin = st.pins.getOrElse(name, throw new IllegalArgumentException(
      s"$name is not a member of the catalog at $catRoot"))
    require(pin.kind == "idx",
      s"$name is a table member — read it with readTable instead")
    TxLog.stateAt(spark, pin.path, pin.version).getOrElse(
      throw new IllegalStateException(
        s"pinned index version ${pin.version} of ${pin.path} is missing " +
        "— was the member vacuumed outside TableCatalog.vacuum?"))
  }

  /** [[readTable]] with a predicate: manifest-stats file skipping at the
    * pinned version ([[Merge.readVersionWhere]]).
    */
  def readTableWhere(spark: SparkSession, catRoot: String, name: String,
      pred: Column, at: Option[CatState] = None): DataFrame = {
    val st = at.getOrElse(state(spark, catRoot))
    val pin = st.pins.getOrElse(name, throw new IllegalArgumentException(
      s"$name is not a member of the catalog at $catRoot"))
    Merge.readVersionWhere(spark, pin.path, pin.version, pred)
  }

  /** The highest batch id `appId` has committed among the RETAINED
    * catalog versions — the replay guard for exactly-once streaming
    * appliers (the catalog-level [[Merge.latestTxn]]; the same vacuum
    * caveat applies: keep at least the replayable window of versions).
    */
  def latestTxn(spark: SparkSession, catRoot: String,
      appId: String): Option[Long] = {
    val (fs, root) = fsFor(spark, catRoot)
    val batches = listVersions(fs, root)
      .flatMap(v => readState(spark, root, v))
      .flatMap(_.txn)
      .collect { case (a, b) if a == appId => b }
    if (batches.isEmpty) None else Some(batches.max)
  }

  /** Apply `ops` to their member tables and publish ALL of them with one
    * atomic catalog commit — all-or-nothing across tables. Returns the
    * committed catalog state. Optimistic concurrency: on a lost catalog
    * claim (or a detected foreign interleaving) the attempt's table
    * versions are abandoned as orphans and the whole transaction redoes
    * against the winner's pins, up to `maxRetries` times.
    *
    * `txn = (appId, batchId)` makes the transaction EXACTLY-ONCE for a
    * streaming applier: a batch at or below the app's committed
    * watermark no-ops (returns the current state unchanged), so a
    * checkpoint-lost replay cannot double-apply across ANY member — the
    * cross-table generalization of `Merge.upsert(txn = ...)`, checked
    * both before the first attempt and after every lost race (the racer
    * may have been a twin applier of the same batch).
    */
  def transact(spark: SparkSession, catRoot: String, ops: Seq[TxnOp],
      maxRetries: Int = 5, opName: String = "transact",
      txn: Option[(String, Long)] = None): CatState =
    transactWith(spark, catRoot, _ => ops, maxRetries, opName, txn)

  /** [[transact]] with the ops REBUILT from the current catalog state on
    * every claim attempt — the read-modify-write form. A transaction
    * whose new rows derive from a catalog read (e.g. "stats = stats +
    * batch") must use this: a static op list computed before a lost
    * race would republish values read from the pre-race snapshot,
    * silently dropping the racing transaction's update (classic OCC
    * lost-update). `opsOf` runs once per attempt; reads made through
    * [[readTable]]/[[indexState]] inside it resolve the attempt's fresh
    * pins, so the retry recomputes against the winner's state.
    */
  def transactWith(spark: SparkSession, catRoot: String,
      opsOf: CatState => Seq[TxnOp],
      maxRetries: Int = 5, opName: String = "transact",
      txn: Option[(String, Long)] = None): CatState = {
    val (fs, root) = fsFor(spark, catRoot)
    var attempt = 0
    while (attempt <= maxRetries) {
      val st = state(spark, catRoot)
      // exactly-once replay check BEFORE building the ops (r19, the
      // applyChanges discipline): `opsOf` typically probes indexes /
      // materializes the batch — a checkpoint-lost replay must no-op on
      // the txn stamp alone, not re-pay that work per replayed batch
      txn.foreach { case (app, batch) =>
        if (latestTxn(spark, catRoot, app).exists(_ >= batch))
          return st // replay of a committed batch: exactly-once no-op
      }
      val ops = opsOf(st)
      require(ops.nonEmpty, "a transaction needs >= 1 op")
      ops.foreach { o =>
        val pin = st.pins.getOrElse(o.table,
          throw new IllegalArgumentException(
            s"${o.table} is not a member of the catalog at $catRoot"))
        val wantIdx = o.isInstanceOf[TxnIndex]
        require((pin.kind == "idx") == wantIdx,
          s"${o.table} is a ${pin.kind} member — " +
          (if (wantIdx) "TxnIndex ops need an index member"
           else "use TxnIndex ops for index members"))
      }
      try {
        val touched = ops.map(_.table).distinct
        // roll each touched member back to its pin: discards orphans of
        // crashed/raced transactions (zero data movement), and gives the
        // contiguity baseline R below
        val baseV: Map[String, Long] = touched.map { t =>
          val pin = st.pins(t)
          val restored = pin.kind match {
            case "idx" =>
              if (TxLog.currentVersion(spark, pin.path) == pin.version)
                pin.version
              else TxLog.restore(spark, pin.path, pin.version)
            case _ =>
              val cur = Merge.currentVersion(spark, pin.path)
              if (cur == pin.version) cur
              else Merge.restore(spark, pin.path, pin.version)
          }
          t -> restored
        }.toMap
        // apply in order; every op must land exactly one version above
        // the last state THIS attempt produced for its table — any gap
        // is a foreign commit that would leak into the published pin
        val newV = collection.mutable.Map(baseV.toSeq: _*)
        ops.foreach { op =>
          val pin = st.pins(op.table)
          val expected = newV(op.table)
          val got = op match {
            case u: TxnUpsert =>
              val (keyCol, nBuckets) =
                Merge.tableLayout(spark, pin.path).getOrElse(
                  throw new IllegalArgumentException(
                    s"${op.table} records no bucketing layout — " +
                    "catalog upserts need a keyed member"))
              Merge.upsert(spark, pin.path, u.updates, keyCol, nBuckets,
                allowEvolution = u.allowEvolution, maxRetries = 0,
                tombstoneCol = u.tombstoneCol,
                filesPerBucket = u.filesPerBucket).version
            case d: TxnDelete =>
              Merge.deleteWhere(spark, pin.path, d.predicate, d.bounds,
                maxRetries = 0).version
            case tv: TxnTable => tv.run(spark, pin.path)
            case i: TxnIndex => i.run(spark, pin.path)
          }
          // a no-op (empty batch / no matching rows) commits nothing and
          // reports the unchanged version — contiguity allows both
          if (got != expected && got != expected + 1)
            throw new StaleAttempt
          newV(op.table) = got
          opFence(op.table)
        }
        val next = CatState(st.version + 1, st.version,
          math.max(st.ts + 1, System.currentTimeMillis()), opName,
          st.pins ++ touched.map(t =>
            t -> st.pins(t).copy(version = newV(t))), txn)
        catFence()
        TxLog.claimVersion(fs, logDir(root), next.version, body(next))
        return next
      } catch {
        // lost the catalog claim, a foreign commit interleaved, or a
        // member-level claim race (inner maxRetries = 0): this attempt's
        // table versions stay as orphans (invisible through the catalog;
        // the retry's restore discards them) — redo from fresh pins
        case _: TxLog.LostRace | _: StaleAttempt => attempt += 1
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("commit race") =>
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"transaction lost the catalog race $attempt times at $catRoot — " +
      "giving up; retry with less write contention")
  }

  /** Streaming sink: apply each micro-batch as ONE exactly-once
    * cross-table transaction. `mkOps` builds the batch's ops and may
    * read members through the catalog (a read-modify-write rollup reads
    * the pre-batch pins); the micro-batch id becomes the txn stamp
    * under `appId`, so a checkpoint-lost replay no-ops on EVERY member
    * at once — the cross-table form of [[Merge.streamingUpsert]]'s
    * guarantee. The batch is materialized once (localCheckpoint) so the
    * ops can consume it repeatedly without re-reading the source.
    *
    * `mkOps` may run once per claim attempt ([[transactWith]]): catalog
    * reads inside it resolve each attempt's fresh pins, so a
    * read-modify-write rollup recomputes correctly after a lost race
    * beside another writer. It must therefore be effect-free apart from
    * building the ops.
    */
  def streamingTransact(stream: DataFrame, catRoot: String, appId: String)
      (mkOps: (DataFrame, Long) => Seq[TxnOp])
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // LAZY checkpoint (r19): the first op action materializes the
      // batch once and every later consumer reuses it — but a replayed
      // batch, no-op'd by the txn stamp before any op is built, never
      // evaluates the source at all
      val b = batch.localCheckpoint(eager = false)
      try transactWith(b.sparkSession, catRoot, _ => mkOps(b, batchId),
        txn = Some((appId, batchId)))
      // drop the batch's pinned blocks once the txn consumed it — a
      // long stream's checkpoints otherwise wait on GC to be reclaimed
      finally org.apache.spark.sql.GraftShim.unpinLocalCheckpoint(b)
      ()
    }

  /** Register an additional member in a LIVE catalog (a catalog commit:
    * readers at older catalog versions don't see it, time travel works).
    * The member joins pinned at its current version; "merge" kind needs
    * a [[Merge]] log, "idx" a [[TxLog]] one.
    */
  def addMember(spark: SparkSession, catRoot: String, name: String,
      path: String, kind: String = "merge",
      maxRetries: Int = 5): CatState = {
    require(kind == "merge" || kind == "idx", s"unknown member kind $kind")
    val (fs, root) = fsFor(spark, catRoot)
    val v = kind match {
      case "idx" => TxLog.currentVersion(spark, path)
      case _ => Merge.currentVersion(spark, path)
    }
    require(v >= 0, s"member $name at $path has no $kind version log")
    var attempt = 0
    while (attempt <= maxRetries) {
      val st = state(spark, catRoot)
      require(!st.pins.contains(name),
        s"$name is already a member of the catalog at $catRoot")
      val next = CatState(st.version + 1, st.version,
        math.max(st.ts + 1, System.currentTimeMillis()), "addMember",
        st.pins + (name -> Pin(path, v, kind)))
      try { TxLog.claimVersion(fs, logDir(root), next.version, body(next))
            return next }
      catch { case _: TxLog.LostRace => attempt += 1 }
    }
    throw new IllegalStateException(
      s"addMember lost the catalog race $attempt times at $catRoot")
  }

  /** Drop a member from the catalog (a catalog commit). The member's
    * own log and files are untouched — it simply leaves the catalog's
    * consistency domain; retained older catalog versions still resolve
    * its historical pins.
    */
  def removeMember(spark: SparkSession, catRoot: String, name: String,
      maxRetries: Int = 5): CatState = {
    val (fs, root) = fsFor(spark, catRoot)
    var attempt = 0
    while (attempt <= maxRetries) {
      val st = state(spark, catRoot)
      require(st.pins.contains(name),
        s"$name is not a member of the catalog at $catRoot")
      require(st.pins.size > 1, "a catalog cannot drop its last member")
      val next = CatState(st.version + 1, st.version,
        math.max(st.ts + 1, System.currentTimeMillis()), "removeMember",
        st.pins - name)
      try { TxLog.claimVersion(fs, logDir(root), next.version, body(next))
            return next }
      catch { case _: TxLog.LostRace => attempt += 1 }
    }
    throw new IllegalStateException(
      s"removeMember lost the catalog race $attempt times at $catRoot")
  }

  /** Roll every member whose table log has advanced past its pin back to
    * the pin (zero-copy restores): explicit cleanup of crashed
    * transactions' orphan versions, so direct (non-catalog) readers of
    * the member tables converge to the published state too. Returns the
    * names restored.
    */
  def recover(spark: SparkSession, catRoot: String): Seq[String] = {
    val st = state(spark, catRoot)
    st.pins.toSeq.sortBy(_._1).flatMap { case (name, pin) =>
      val cur = pin.kind match {
        case "idx" => TxLog.currentVersion(spark, pin.path)
        case _ => Merge.currentVersion(spark, pin.path)
      }
      if (cur != pin.version) {
        pin.kind match {
          case "idx" => TxLog.restore(spark, pin.path, pin.version)
          case _ => Merge.restore(spark, pin.path, pin.version)
        }
        Some(name)
      } else None
    }
  }

  /** Catalog commit history, newest first: one row per catalog version
    * per member pin — (cat_version, parent, ts, op, table, table_version).
    * Driver-local JSON walks, rows bounded by versions x members.
    */
  def history(spark: SparkSession, catRoot: String): DataFrame = {
    val (fs, root) = fsFor(spark, catRoot)
    val rows = listVersions(fs, root).reverse
      .flatMap(v => readState(spark, root, v))
      .flatMap(s => s.pins.toSeq.sortBy(_._1).map { case (name, p) =>
        (s.version, s.parent, s.ts, s.op, name, p.version, p.kind)
      })
    import spark.implicits._
    rows.toDF("cat_version", "parent", "ts", "op", "table",
      "table_version", "kind")
  }

  /** Reclaim history: drop catalog manifests older than the newest
    * `keepCatalogVersions`, then vacuum every member keeping AT LEAST
    * every table version still pinned by a retained catalog state — a
    * member vacuum sized from the member log alone could reclaim a
    * pinned version's files and break the catalog's snapshots, so size
    * it here, from the pins. `graceMs` as in [[Merge.vacuum]]: beside
    * live transactions, set it above the longest expected commit.
    */
  // ------------------------------------------------- catalog tags

  private def tagsDir(root: Path) = new Path(logDir(root), "tags")

  private def requireValidTag(tag: String): Unit =
    require(tag.nonEmpty &&
      tag.forall(c => c.isLetterOrDigit || c == '.' || c == '_' ||
        c == '-'),
      s"tag names are [A-Za-z0-9._-]+, got '$tag'")

  /** RELEASE TAGS at the catalog level: an immutable name for one
    * catalog version — which pins EVERY member's version at once, so
    * `readTable(..., Some(stateAtTag(...)))` is a named, permanent cross-table
    * snapshot ("the corpus + its dedup index + the stats rollup, as
    * shipped in rel-2026-08"). Same discipline as [[Merge.tagVersion]]:
    * create-if-absent, never repointed (delete and re-create to move),
    * and [[vacuum]] keeps a tagged catalog version AND everything its
    * pins reference alive until the tag is dropped.
    */
  def tag(spark: SparkSession, catRoot: String, name: String,
      version: Long): Unit = {
    requireValidTag(name)
    val (fs, root) = fsFor(spark, catRoot)
    stateAt(spark, catRoot, version) // must exist and be retained
    val dir = tagsDir(root)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val f = new Path(dir, name)
    try {
      val out = fs.create(f, false)
      try out.write(version.toString.getBytes("UTF-8"))
      finally out.close()
    } catch {
      case e: java.io.IOException =>
        if (fs.exists(f)) throw new IllegalArgumentException(
          s"tag '$name' already exists on $catRoot (tags are immutable " +
          "— deleteTag first to repoint)")
        else throw e
    }
  }

  /** The catalog version a tag names; throws on an unknown tag. */
  def tagVersionOf(spark: SparkSession, catRoot: String,
      name: String): Long = {
    requireValidTag(name)
    val (fs, root) = fsFor(spark, catRoot)
    val f = new Path(tagsDir(root), name)
    require(fs.exists(f), s"no tag '$name' on $catRoot")
    Merge.readSmallUtf8(fs, f).trim.toLong
  }

  /** The pinned cross-table snapshot a tag names. */
  def stateAtTag(spark: SparkSession, catRoot: String,
      name: String): CatState =
    stateAt(spark, catRoot, tagVersionOf(spark, catRoot, name))

  /** All tags: (tag, version), driver-local. */
  def tags(spark: SparkSession, catRoot: String): DataFrame = {
    import spark.implicits._
    val (fs, root) = fsFor(spark, catRoot)
    val dir = tagsDir(root)
    val rows =
      if (!fs.exists(dir)) Seq.empty[(String, Long)]
      else fs.listStatus(dir).toSeq.map(_.getPath.getName).sorted
        .map(t => t -> tagVersionOf(spark, catRoot, t))
    rows.toDF("tag", "version")
  }

  /** Drop a tag (its catalog version becomes vacuumable again). */
  def deleteTag(spark: SparkSession, catRoot: String,
      name: String): Unit = {
    requireValidTag(name)
    val (fs, root) = fsFor(spark, catRoot)
    val f = new Path(tagsDir(root), name)
    require(fs.exists(f), s"no tag '$name' on $catRoot")
    fs.delete(f, false)
  }

  private def taggedVersions(fs: FileSystem, root: Path): Set[Long] = {
    val dir = tagsDir(root)
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).toSeq
      .map(s => Merge.readSmallUtf8(fs, s.getPath).trim.toLong).toSet
  }

  def vacuum(spark: SparkSession, catRoot: String,
      keepCatalogVersions: Int = 1, graceMs: Long = 0L): Unit = {
    require(keepCatalogVersions >= 1, "must keep >= 1 catalog version")
    val (fs, root) = fsFor(spark, catRoot)
    val versions = listVersions(fs, root)
    if (versions.isEmpty) return
    val latest = versions.max
    val keepFrom = math.max(0L, latest - keepCatalogVersions + 1)
    // tagged catalog versions survive any keepCatalogVersions: their
    // state files stay, and their pins join the per-member floor below
    // so member vacuums never reclaim what a tagged snapshot reads
    val tagged = taggedVersions(fs, root)
    val retained =
      ((keepFrom to latest) ++ tagged.filter(_ < keepFrom)).sorted
      .flatMap(v => readState(spark, root, v))
    val minPin: Map[String, (Pin, Long)] = retained
      .flatMap(_.pins.toSeq)
      .groupBy(_._1)
      .map { case (name, pins) =>
        name -> (pins.head._2, pins.map(_._2.version).min)
      }
    minPin.values.foreach { case (pin, oldestPinned) =>
      pin.kind match {
        case "idx" =>
          val cur = TxLog.currentVersion(spark, pin.path)
          val keep = math.max(1L, cur - oldestPinned + 1L)
          // sweep every sub-table any retained state references
          val subs = (oldestPinned to cur)
            .flatMap(v => TxLog.stateAt(spark, pin.path, v))
            .flatMap(_.tables.keys).distinct
          TxLog.vacuum(spark, pin.path, subs, keepVersions = keep.toInt,
            graceMs = graceMs)
        case _ =>
          val cur = Merge.currentVersion(spark, pin.path)
          val keep = math.max(1L, cur - oldestPinned + 1L)
          Merge.vacuum(spark, pin.path, keepVersions = keep.toInt,
            graceMs = graceMs)
      }
    }
    versions.filter(v => v < keepFrom && !tagged(v)).foreach { v =>
      fs.delete(new Path(logDir(root), s"v$v.json"), false)
    }
  }
}
