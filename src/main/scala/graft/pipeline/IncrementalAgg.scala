package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance: a materialized per-group aggregate
  * (count, exact decimal sum, min, max) kept as a parquet state table and
  * folded forward with each new data delta — the ETL pattern that at
  * 100 TB replaces "rescan all history every day" with "aggregate today's
  * partition and merge" (work proportional to the delta plus the group
  * count, not to history).
  *
  * Two delta shapes:
  *
  *   - [[update]] — APPEND-ONLY deltas. count/sum add, min/max only
  *     tighten, so folding in any order equals the full recompute EXACTLY
  *     (decimal sums make that bit-stable; the q_incremental_agg gate pins
  *     incremental == from-scratch in DuckDB).
  *   - [[updateWithRetractions]] — deltas carrying DELETES: each row is a
  *     +1 insert or -1 retraction of a previously-inserted row. count and
  *     sum are abelian-group aggregates and fold retractions exactly; a
  *     group whose count reaches zero disappears. min/max are NOT
  *     invertible — retracting a row that ties the stored extreme may
  *     expose a different one — so such groups are flagged dirty and
  *     repaired by [[rebuild]] from the net raw table, scanning ONLY the
  *     flagged groups' rows (a left-semi prune, not history).
  *
  * Contract: retractions must match prior inserts (the relational
  * "multiset difference is non-negative" rule); a group driven below zero
  * is dropped like an emptied one.
  *
  * Storage: the state path is a one-sub-table [[graft.sources.TxLog]]
  * log — the state's parquet files under `state/`, the committed file set
  * in `_idx_log/v{N}.json`. Each fold is one staged write plus one
  * claim, so a reader sees the old state or the new one, never a mix,
  * and a crash anywhere leaves the last committed state (plus orphan
  * files a later fold's vacuum reclaims). The fold reads version N and claims
  * N+1: the read-modify-write cycle is single-writer, and a second
  * writer loses the claim instead of silently overwriting. A state path
  * written before the log (parquet files at its root, with an optional
  * `_graft_synced` mark) still reads; its first fold migrates it.
  */
object IncrementalAgg {
  import graft.sources.{Merge, TxLog}

  private val flagCols = Seq("dirty_min", "dirty_max")

  /** The app id of the synced-version stamp [[syncFromTable]] puts on
    * each state it commits (the old layout kept it in a file by this name).
    */
  private val Synced = "_graft_synced"

  // test seams: beforeClaimHook runs after a fold's new state is durably
  // staged and before the claim publishes it (a spec simulates executor
  // block loss there); afterClaimHook runs once the claim has published
  // it (a spec simulates a crash before the caller returns)
  @volatile private[pipeline] var beforeClaimHook: () => Unit = () => ()
  @volatile private[pipeline] var afterClaimHook: () => Unit = () => ()

  /** The state rows at `st`; reads go through TxLog's schema memo. When
    * None (the pre-log layout), exactly the root's own parquet files: a
    * directory read is left to Spark's listing rules, and a first fold
    * stages its files under `state/` before the claim.
    */
  private def readState(spark: SparkSession, path: String,
      st: Option[TxLog.State]): DataFrame = st match {
    case Some(s) => TxLog.readTable(spark, path, s, "state").getOrElse(
      throw new IllegalStateException(s"$path v${s.version} has no state"))
    case None =>
      val files = rootFiles(spark, path).map(_.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith("."))
      require(files.nonEmpty, s"$path holds no state")
      spark.read.parquet(files.map(new Path(path, _).toString): _*)
  }

  /** The files at the state path's root: only the pre-log layout has
    * any (its parquet, `_SUCCESS`, the `_graft_synced` mark).
    */
  private def rootFiles(spark: SparkSession, path: String): Seq[Path] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isFile).map(_.getPath).toSeq
  }

  /** Stage `df` as the state's next file set (durable, but invisible
    * until claimed); returns the staged relative paths.
    */
  private def stage(df: DataFrame, path: String): Seq[String] =
    TxLog.stageInto(df, path, "state")

  /** Publish `files` as the state's version after `parent` with one
    * claim, stamped `synced`. Then reclaim what the claim superseded:
    * the state keeps its last two versions (crash orphans wait out the
    * orphan floor), and the old layout's root files go, since readers
    * resolve the log from now on (every fold sweeps them, so a crash
    * between the migrating claim and that delete leaks nothing).
    */
  private def publish(spark: SparkSession, path: String,
      parent: Option[TxLog.State], files: Seq[String],
      synced: Option[(String, Long)]): Unit = {
    beforeClaimHook()
    val v = parent.map(_.version + 1).getOrElse(0L)
    TxLog.commit(spark, path,
      TxLog.State(v, v - 1, Map("state" -> files), synced))
    afterClaimHook()
    TxLog.vacuum(spark, path, Seq("state"), keepVersions = 2)
    val old = rootFiles(spark, path)
    if (old.nonEmpty) {
      val fs = old.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
      old.foreach(fs.delete(_, false))
    }
  }

  /** The table version the state at `parent` is synced to: its stamp,
    * or on a pre-log path the `_graft_synced` mark file.
    */
  private def syncedAt(spark: SparkSession, path: String,
      parent: Option[TxLog.State]): Option[Long] = parent match {
    case Some(s) => s.txn.collect { case (Synced, v) => v }
    case None =>
      val mark = new Path(path, Synced)
      val fs = mark.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(mark)) None
      else {
        val in = fs.open(mark)
        try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
        finally in.close()
      }
  }

  /** One fold: `next` maps the current state rows to the new ones (None:
    * nothing to change), which are staged and claimed on top; the synced
    * version carries over.
    */
  private def fold(spark: SparkSession, path: String)
      (next: DataFrame => Option[DataFrame]): Unit = {
    val parent = TxLog.currentState(spark, path)
    next(withFlags(readState(spark, path, parent))).foreach { df =>
      publish(spark, path, parent, stage(df, path),
        syncedAt(spark, path, parent).map((Synced, _)))
    }
  }

  private def aggregate(df: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        sum(col(valueCol).cast("decimal(28,2)")).as("sum_exact"),
        min(col(valueCol).cast("double")).as("min_v"),
        max(col(valueCol).cast("double")).as("max_v"))

  private def initial(df: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame =
    aggregate(df, keys, valueCol)
      .withColumn("dirty_min", lit(false))
      .withColumn("dirty_max", lit(false))

  /** Initialize the state table from a first batch (on a path that holds
    * one already, the new state replaces it in one claim).
    */
  def init(df: DataFrame, path: String, keys: Seq[String],
      valueCol: String): Unit = {
    val spark = df.sparkSession
    val parent = TxLog.currentState(spark, path)
    publish(spark, path, parent, stage(initial(df, keys, valueCol), path),
      None)
  }

  // older state tables predate the dirty flags; treat absent as clean
  private def withFlags(state: DataFrame): DataFrame =
    flagCols.foldLeft(state) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(false))
    }

  /** Fold an append-only delta into the state: aggregate the delta (the
    * only scan of raw data), full-outer merge with the state on the group
    * keys, write the new state. Work = O(delta + |groups|). Dirty flags
    * pass through: appends can neither repair nor worsen a stale extreme.
    */
  def update(spark: SparkSession, path: String, delta: DataFrame,
      keys: Seq[String], valueCol: String,
      checkpointDir: Option[String] = None): Unit =
    fold(spark, path) { state =>
      val d = aggregate(delta, keys, valueCol)
        .select(keys.map(col) ++
          Seq("cnt", "sum_exact", "min_v", "max_v")
            .map(c => col(c).as(s"d_$c")): _*)
      Some(state.join(d, keys, "full_outer")
        .select(keys.map(col) ++ Seq(
          (coalesce(col("cnt"), lit(0L)) +
            coalesce(col("d_cnt"), lit(0L))).as("cnt"),
          (coalesce(col("sum_exact"), lit(0).cast("decimal(28,2)")) +
            coalesce(col("d_sum_exact"), lit(0).cast("decimal(28,2)")))
            .cast("decimal(28,2)").as("sum_exact"),
          least(col("min_v"), col("d_min_v")).as("min_v"),
          greatest(col("max_v"), col("d_max_v")).as("max_v"),
          coalesce(col("dirty_min"), lit(false)).as("dirty_min"),
          coalesce(col("dirty_max"), lit(false)).as("dirty_max")): _*))
    }

  /** Fold a delta with retractions: `opCol` is +1 (insert) or -1
    * (retract). One scan of the delta, one full-outer merge. Groups whose
    * retracted extreme ties-or-passes the merged min (max) candidate are
    * flagged `dirty_min` (`dirty_max`) for [[rebuild]]; emptied groups
    * (count folds to <= 0) are dropped.
    */
  def updateWithRetractions(spark: SparkSession, path: String,
      delta: DataFrame, keys: Seq[String], valueCol: String,
      opCol: String, checkpointDir: Option[String] = None): Unit =
    fold(spark, path)(s => Some(retract(s, delta, keys, valueCol, opCol)))

  private def retract(state: DataFrame, delta: DataFrame, keys: Seq[String],
      valueCol: String, opCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val adds = (c: Column) => when(col(opCol) > 0, c)
    val dels = (c: Column) => when(col(opCol) < 0, c)
    val d = delta.groupBy(keys.map(col): _*)
      .agg(sum(col(opCol).cast("long")).as("d_cnt"),
        sum((col(opCol).cast("decimal(28,2)") *
          col(valueCol).cast("decimal(28,2)")).cast("decimal(28,2)"))
          .as("d_sum_exact"),
        min(adds(v)).as("d_add_min"), max(adds(v)).as("d_add_max"),
        min(dels(v)).as("d_del_min"), max(dels(v)).as("d_del_max"))
    val candMin = least(col("min_v"), col("d_add_min"))
    val candMax = greatest(col("max_v"), col("d_add_max"))
    state.join(d, keys, "full_outer")
      .select(keys.map(col) ++ Seq(
        (coalesce(col("cnt"), lit(0L)) +
          coalesce(col("d_cnt"), lit(0L))).as("cnt"),
        (coalesce(col("sum_exact"), lit(0).cast("decimal(28,2)")) +
          coalesce(col("d_sum_exact"), lit(0).cast("decimal(28,2)")))
          .cast("decimal(28,2)").as("sum_exact"),
        candMin.as("min_v"),
        candMax.as("max_v"),
        (coalesce(col("dirty_min"), lit(false)) ||
          (col("d_del_min").isNotNull && col("d_del_min") <= candMin))
          .as("dirty_min"),
        (coalesce(col("dirty_max"), lit(false)) ||
          (col("d_del_max").isNotNull && col("d_del_max") >= candMax))
          .as("dirty_max")): _*)
      .filter(col("cnt") > 0)
  }

  /** Repair flagged groups' min/max from `net` (the CURRENT raw table —
    * inserts minus retractions). Scans only the flagged groups' rows via
    * a left-semi prune; clean groups are untouched. Clears the flags.
    */
  def rebuild(spark: SparkSession, path: String, net: DataFrame,
      keys: Seq[String], valueCol: String,
      checkpointDir: Option[String] = None): Unit =
    fold(spark, path)(repair(_, net, keys, valueCol))

  /** The repaired state, or None when no group is flagged — then the
    * (possibly enormous) net table is never touched: the check costs one
    * scan of the bounded state parquet, not of raw data.
    */
  private def repair(state: DataFrame, net: DataFrame, keys: Seq[String],
      valueCol: String): Option[DataFrame] = {
    val flagged = state.filter(col("dirty_min") || col("dirty_max"))
      .select(keys.map(col): _*)
    if (flagged.isEmpty) None
    else {
      val fresh = net.join(flagged, keys, "left_semi")
        .groupBy(keys.map(col): _*)
        .agg(min(col(valueCol).cast("double")).as("f_min"),
          max(col(valueCol).cast("double")).as("f_max"))
      Some(state.join(fresh, keys, "left")
        .select(keys.map(col) ++ Seq(
          col("cnt"), col("sum_exact"),
          when(col("dirty_min"), col("f_min")).otherwise(col("min_v"))
            .as("min_v"),
          when(col("dirty_max"), col("f_max")).otherwise(col("max_v"))
            .as("max_v"),
          lit(false).as("dirty_min"), lit(false).as("dirty_max")): _*))
    }
  }

  /** MATERIALIZED-VIEW SYNC over a versioned [[graft.sources.Merge]]
    * table: one call brings the maintained aggregate up to the table's
    * current version and returns it. First call initializes state from
    * the current snapshot; later calls fold ONLY the bucket-pruned
    * change feed between the recorded watermark version and now
    * ([[graft.sources.Merge.changesBetween]] — work ∝ the commits, not
    * the table), repair any delete-dirtied extremes from the current
    * snapshot (dirty groups only), and advance the watermark. The
    * watermark is the state's `_graft_synced` stamp and rides the SAME
    * claim as the folded state, so a crash anywhere leaves state and
    * watermark consistent: before the claim the next sync refolds from
    * the old watermark, after it the fold is never repeated. The caller
    * keeps enough retained versions for the feed (vacuum `keepVersions`
    * > commits between syncs).
    */
  def syncFromTable(spark: SparkSession, statePath: String,
      tablePath: String, keys: Seq[String], valueCol: String,
      checkpointDir: Option[String] = None): Long = {
    val cur = Merge.currentVersion(spark, tablePath)
    require(cur >= 0, s"$tablePath has no version log")
    val parent = TxLog.currentState(spark, statePath)
    def snapshot = Merge.readVersion(spark, tablePath, cur)
    syncedAt(spark, statePath, parent) match {
      case Some(v) if v == cur => () // already current
      case Some(v) =>
        // fold, then repair from the staged fold: both staged, one claim
        val folded = stage(retract(
          withFlags(readState(spark, statePath, parent)),
          Merge.changesBetween(spark, tablePath, v, cur), keys, valueCol,
          "op"), statePath)
        val staged = TxLog.State(-1L, -1L, Map("state" -> folded))
        val repaired = repair(readState(spark, statePath, Some(staged)),
          snapshot, keys, valueCol).map(stage(_, statePath))
        publish(spark, statePath, parent, repaired.getOrElse(folded),
          Some((Synced, cur)))
        if (repaired.isDefined) TxLog.deleteFiles(spark, statePath, folded)
      case None =>
        publish(spark, statePath, parent,
          stage(initial(snapshot, keys, valueCol), statePath),
          Some((Synced, cur)))
    }
    cur
  }

  /** The maintained aggregate, sums emitted as doubles for consumers.
    * FAILS FAST when any group is still flagged dirty — after
    * [[updateWithRetractions]] a flagged group's min/max are stale until
    * [[rebuild]] repairs them, and silently returning wrong extremes is
    * the one failure a maintained aggregate must never have. Pass
    * `allowDirty = true` (or use [[readWithFlags]]) for consumers that
    * only need the always-exact cnt/sum and accept unpaired extremes.
    * The check scans only the bounded state table, never raw data.
    */
  def read(spark: SparkSession, path: String,
      allowDirty: Boolean = false): DataFrame = {
    val state = withFlags(readState(spark, path, TxLog.currentState(spark, path)))
    if (!allowDirty) {
      val dirty = state.filter(col("dirty_min") || col("dirty_max")).count()
      require(dirty == 0L,
        s"$dirty group(s) in $path have unrepaired min/max after a " +
        "retraction — call rebuild(...) first, or read(allowDirty = true) " +
        "/ readWithFlags(...) if stale extremes are acceptable")
    }
    state
      .withColumn("sum_v", col("sum_exact").cast("double"))
      .drop("sum_exact")
      .drop(flagCols: _*)
  }

  /** The maintained aggregate WITH its dirty_min/dirty_max flags — for
    * consumers that want to see (rather than refuse or ignore) which
    * groups' extremes are awaiting [[rebuild]].
    */
  def readWithFlags(spark: SparkSession, path: String): DataFrame =
    withFlags(readState(spark, path, TxLog.currentState(spark, path)))
      .withColumn("sum_v", col("sum_exact").cast("double"))
      .drop("sum_exact")
}
