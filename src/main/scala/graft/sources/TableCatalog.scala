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
  * every member is at. The catalog log runs the shared [[VersionLog]]
  * protocol (claim, validated memoized read, retry loop, tags, sweep);
  * the catalog commit — one create-if-absent claim of `v{N}.json` — is
  * the transaction's single publication event:
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
  * attempt is abandoned and redone from fresh pins (a lost race).
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

  private def logDir(root: Path) = new Path(root, "_cat_log")

  private def fsFor(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[sources] def body(s: CatState): Array[Byte] = {
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

  private def parse(text: String): Option[CatState] = {
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

  private val states = new VersionLog.Memo[CatState]

  /** One catalog manifest; None when missing/truncated (a crashed
    * claim) — readers walk back past it.
    */
  private def readState(fs: FileSystem, root: Path,
      version: Long): Option[CatState] =
    states.read(fs, logDir(root), version)(parse)

  private def listVersions(fs: FileSystem, root: Path): Seq[Long] =
    VersionLog.versions(fs, logDir(root))

  private def claim(fs: FileSystem, root: Path, s: CatState): Unit =
    VersionLog.claim(fs, VersionLog.versionFile(logDir(root), s.version),
      body(s))

  /** One metadata commit on top of the current state, retried on a lost
    * claim: `next` builds the child of the state it is given.
    */
  private def commitRetrying(spark: SparkSession, catRoot: String,
      maxRetries: Int, op: String)(next: CatState => CatState): CatState = {
    val (fs, root) = fsFor(spark, catRoot)
    VersionLog.retrying(maxRetries,
        n => s"$op lost the catalog race $n times at $catRoot") { _ =>
      val s = next(state(spark, catRoot))
      claim(fs, root, s)
      s
    }
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
    claim(fs, root, s)
    s
  }

  /** Newest committed catalog state, walking back past torn claims. */
  def state(spark: SparkSession, catRoot: String): CatState = {
    val (fs, root) = fsFor(spark, catRoot)
    VersionLog.newest(listVersions(fs, root))(readState(fs, root, _))
      .getOrElse(throw new IllegalArgumentException(
        s"$catRoot holds no catalog log — create it first"))
  }

  /** The catalog state at an exact version (catalog time travel). */
  def stateAt(spark: SparkSession, catRoot: String,
      version: Long): CatState = {
    val (fs, root) = fsFor(spark, catRoot)
    readState(fs, root, version).getOrElse(
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
      .flatMap(v => readState(fs, root, v))
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
      .flatMap(v => readState(fs, root, v))
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
    VersionLog.retrying(maxRetries,
        n => s"transaction lost the catalog race $n times at $catRoot — " +
          "giving up; retry with less write contention") { _ =>
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
          // reports the unchanged version — contiguity allows both; any
          // other version means a foreign commit won the member's log
          if (got != expected && got != expected + 1)
            throw new LostRace(new Path(pin.path))
          newV(op.table) = got
          opFence(op.table)
        }
        val next = CatState(st.version + 1, st.version,
          math.max(st.ts + 1, System.currentTimeMillis()), opName,
          st.pins ++ touched.map(t =>
            t -> st.pins(t).copy(version = newV(t))), txn)
        catFence()
        claim(fs, root, next)
        next
      } catch {
        // a member-level claim race (inner maxRetries = 0) loses this
        // attempt like a lost catalog claim or a foreign commit: its
        // table versions stay as orphans (invisible through the catalog;
        // the retry's restore discards them) — redo from fresh pins
        case _: RetriesExhausted =>
          throw new LostRace(VersionLog.versionFile(logDir(root),
            st.version + 1))
      }
    }
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
    val v = kind match {
      case "idx" => TxLog.currentVersion(spark, path)
      case _ => Merge.currentVersion(spark, path)
    }
    require(v >= 0, s"member $name at $path has no $kind version log")
    commitRetrying(spark, catRoot, maxRetries, "addMember") { st =>
      require(!st.pins.contains(name),
        s"$name is already a member of the catalog at $catRoot")
      CatState(st.version + 1, st.version,
        math.max(st.ts + 1, System.currentTimeMillis()), "addMember",
        st.pins + (name -> Pin(path, v, kind)))
    }
  }

  /** Drop a member from the catalog (a catalog commit). The member's
    * own log and files are untouched — it simply leaves the catalog's
    * consistency domain; retained older catalog versions still resolve
    * its historical pins.
    */
  def removeMember(spark: SparkSession, catRoot: String, name: String,
      maxRetries: Int = 5): CatState =
    commitRetrying(spark, catRoot, maxRetries, "removeMember") { st =>
      require(st.pins.contains(name),
        s"$name is not a member of the catalog at $catRoot")
      require(st.pins.size > 1, "a catalog cannot drop its last member")
      CatState(st.version + 1, st.version,
        math.max(st.ts + 1, System.currentTimeMillis()), "removeMember",
        st.pins - name)
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
      .flatMap(v => readState(fs, root, v))
      .flatMap(s => s.pins.toSeq.sortBy(_._1).map { case (name, p) =>
        (s.version, s.parent, s.ts, s.op, name, p.version, p.kind)
      })
    import spark.implicits._
    rows.toDF("cat_version", "parent", "ts", "op", "table",
      "table_version", "kind")
  }

  // ------------------------------------------------- catalog tags

  private def tagsDir(root: Path) = new Path(logDir(root), "tags")

  /** RELEASE TAGS at the catalog level: an immutable name for one
    * catalog version — which pins EVERY member's version at once, so
    * `readTable(..., Some(stateAtTag(...)))` is a named, permanent cross-table
    * snapshot ("the corpus + its dedup index + the stats rollup, as
    * shipped in rel-2026-08"). The [[VersionLog.Tags]] store, as for
    * [[Merge.tagVersion]]: created through the claim, never repointed
    * (delete and re-create to move), and [[vacuum]] keeps a tagged
    * catalog version AND everything its pins reference alive until the
    * tag is dropped.
    */
  def tag(spark: SparkSession, catRoot: String, name: String,
      version: Long): Unit = {
    VersionLog.Tags.requireValid(name)
    val (fs, root) = fsFor(spark, catRoot)
    stateAt(spark, catRoot, version) // must exist and be retained
    VersionLog.Tags.create(fs, tagsDir(root), name, version, catRoot)
  }

  /** The catalog version a tag names; throws on an unknown tag. */
  def tagVersionOf(spark: SparkSession, catRoot: String,
      name: String): Long = {
    val (fs, root) = fsFor(spark, catRoot)
    VersionLog.Tags.versionOf(fs, tagsDir(root), name, catRoot)
  }

  /** The pinned cross-table snapshot a tag names. */
  def stateAtTag(spark: SparkSession, catRoot: String,
      name: String): CatState =
    stateAt(spark, catRoot, tagVersionOf(spark, catRoot, name))

  /** All tags: (tag, version), driver-local. */
  def tags(spark: SparkSession, catRoot: String): DataFrame = {
    import spark.implicits._
    val (fs, root) = fsFor(spark, catRoot)
    VersionLog.Tags.list(fs, tagsDir(root)).toDF("tag", "version")
  }

  /** Drop a tag (its catalog version becomes vacuumable again). */
  def deleteTag(spark: SparkSession, catRoot: String,
      name: String): Unit = {
    val (fs, root) = fsFor(spark, catRoot)
    VersionLog.Tags.delete(fs, tagsDir(root), name, catRoot)
  }

  /** Reclaim history: drop catalog manifests older than the newest
    * `keepCatalogVersions`, then vacuum every member keeping AT LEAST
    * every table version still pinned by a retained catalog state — a
    * member vacuum sized from the member log alone could reclaim a
    * pinned version's files and break the catalog's snapshots, so size
    * it here, from the pins. `graceMs` as in [[Merge.vacuum]]: beside
    * live transactions, set it above the longest expected commit.
    */
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
    val tagged = VersionLog.Tags.versions(fs, tagsDir(root))
    val retained =
      ((keepFrom to latest) ++ tagged.filter(_ < keepFrom)).sorted
      .flatMap(v => readState(fs, root, v))
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
    new VersionLog.Sweep(fs, root, 0L, 0L, dryRun = false)
      .expire(logDir(root), versions, keepFrom, tagged)
  }
}
