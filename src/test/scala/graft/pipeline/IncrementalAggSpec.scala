package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_incr_spec_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath + "/state"
  }

  test("incremental folding equals from-scratch aggregation exactly") {
    val data = (0 until 300).map { i =>
      (s"g${i % 7}", (i * 37 % 100) + i * 0.25)
    }.toDF("g", "v")
    val path = fresh("eq")
    // three arbitrary splits folded in order
    IncrementalAgg.init(data.limit(100), path, Seq("g"), "v")
    IncrementalAgg.update(spark, path,
      data.offset(100).limit(120), Seq("g"), "v")
    IncrementalAgg.update(spark, path, data.offset(220), Seq("g"), "v")
    val inc = IncrementalAgg.read(spark, path)
      .orderBy("g").collect()
    val full = data.groupBy("g")
      .agg(count(lit(1)).as("cnt"),
        min($"v".cast("double")).as("min_v"),
        max($"v".cast("double")).as("max_v"),
        sum($"v".cast("decimal(28,2)")).cast("double").as("sum_v"))
      .orderBy("g").collect()
    assert(inc.length == full.length)
    inc.zip(full).foreach { case (a, b) =>
      assert(a.getAs[String]("g") == b.getAs[String]("g"))
      assert(a.getAs[Long]("cnt") == b.getAs[Long]("cnt"))
      assert(a.getAs[Double]("sum_v") == b.getAs[Double]("sum_v"))
      assert(a.getAs[Double]("min_v") == b.getAs[Double]("min_v"))
      assert(a.getAs[Double]("max_v") == b.getAs[Double]("max_v"))
    }
  }

  test("retraction fold + rebuild equals from-scratch over the net data") {
    val base = Seq(("a", 1.0), ("a", 5.0), ("a", 9.0),
      ("b", 2.0), ("b", 4.0), ("c", 3.0)).toDF("g", "v")
    val path = fresh("retr")
    IncrementalAgg.init(base, path, Seq("g"), "v")
    // retract a's min (1.0) and max (9.0), all of c (group empties),
    // insert a new a-row and a new group d
    val delta = Seq(
      ("a", 1.0, -1), ("a", 9.0, -1), ("c", 3.0, -1),
      ("a", 7.0, 1), ("d", 6.0, 1)).toDF("g", "v", "op")
    IncrementalAgg.updateWithRetractions(spark, path, delta,
      Seq("g"), "v", "op")
    val net = Seq(("a", 5.0), ("a", 7.0), ("b", 2.0), ("b", 4.0),
      ("d", 6.0)).toDF("g", "v")
    IncrementalAgg.rebuild(spark, path, net, Seq("g"), "v")
    val out = IncrementalAgg.read(spark, path).orderBy("g").collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("cnt"),
        r.getAs[Double]("min_v"), r.getAs[Double]("max_v"),
        r.getAs[Double]("sum_v"))).toSeq
    assert(out == Seq(
      ("a", 2L, 5.0, 7.0, 12.0),   // extremes retracted -> rebuilt
      ("b", 2L, 2.0, 4.0, 6.0),    // untouched
      ("d", 1L, 6.0, 6.0, 6.0)))   // inserted group; c emptied and gone
  }

  test("retractions not touching the extremes never flag a rebuild") {
    val path = fresh("clean")
    IncrementalAgg.init(Seq(("a", 1.0), ("a", 5.0), ("a", 9.0))
      .toDF("g", "v"), path, Seq("g"), "v")
    IncrementalAgg.updateWithRetractions(spark, path,
      Seq(("a", 5.0, -1)).toDF("g", "v", "op"), Seq("g"), "v", "op")
    // min/max stay exact WITHOUT any rebuild: the interior delete
    // cannot move them
    val r = IncrementalAgg.read(spark, path).collect()(0)
    assert(r.getAs[Long]("cnt") == 2L)
    assert(r.getAs[Double]("min_v") == 1.0 &&
      r.getAs[Double]("max_v") == 9.0)
    // and the state carries no dirty flag (rebuild would be a no-op scan)
    val flags = IncrementalAgg.readWithFlags(spark, path).collect()(0)
    assert(!flags.getAs[Boolean]("dirty_min") &&
      !flags.getAs[Boolean]("dirty_max"))
  }

  test("reading dirty state fails fast; flags visible via readWithFlags") {
    val path = fresh("dirty")
    IncrementalAgg.init(Seq(("a", 1.0), ("a", 5.0)).toDF("g", "v"),
      path, Seq("g"), "v")
    // retract the max -> group flagged dirty_max, NOT yet rebuilt
    IncrementalAgg.updateWithRetractions(spark, path,
      Seq(("a", 5.0, -1)).toDF("g", "v", "op"), Seq("g"), "v", "op")
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.read(spark, path).collect()
    }
    assert(e.getMessage.contains("rebuild"))
    // opt-outs: allowDirty serves the always-exact cnt/sum; readWithFlags
    // shows WHICH extreme is stale
    assert(IncrementalAgg.read(spark, path, allowDirty = true)
      .collect()(0).getAs[Long]("cnt") == 1L)
    val f = IncrementalAgg.readWithFlags(spark, path).collect()(0)
    assert(f.getAs[Boolean]("dirty_max") && !f.getAs[Boolean]("dirty_min"))
    // rebuild repairs and read works again
    IncrementalAgg.rebuild(spark, path, Seq(("a", 1.0)).toDF("g", "v"),
      Seq("g"), "v")
    val r = IncrementalAgg.read(spark, path).collect()(0)
    assert(r.getAs[Double]("max_v") == 1.0)
  }

  test("the state pivot survives executor-block loss (durable tmp swap)") {
    // the read->fold->write cycle's window: after the fold is
    // materialized, before the claim publishes it. The fold stages the
    // new state DURABLY before the claim, so losing every executor
    // block in that window — the failure that killed the old
    // localCheckpoint pivot — must not lose the update.
    def blowAwayBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    val delta = Seq(("a", 2.0), ("b", 3.0)).toDF("g", "v")
    val path = fresh("durable")
    IncrementalAgg.init(Seq(("a", 1.0)).toDF("g", "v"), path, Seq("g"), "v")
    IncrementalAgg.beforeClaimHook = blowAwayBlocks
    try IncrementalAgg.update(spark, path, delta, Seq("g"), "v")
    finally IncrementalAgg.beforeClaimHook = () => ()
    val out = IncrementalAgg.read(spark, path).orderBy("g").collect()
    assert(out.map(r => (r.getAs[String]("g"), r.getAs[Long]("cnt"),
      r.getAs[Double]("sum_v"))).toSeq ==
      Seq(("a", 2L, 3.0), ("b", 1L, 3.0)))
    // the fold leaves no staging directory behind
    val staging = new java.io.File(path, "_idx_staging")
    assert(!staging.exists() || staging.list().isEmpty)
    // and only the new state's files are visible in the state dir
    assert(IncrementalAgg.read(spark, path).count() == 2L)
  }

  test("a delta with only new groups appends them") {
    val path = fresh("newg")
    IncrementalAgg.init(Seq(("a", 1.0)).toDF("g", "v"), path, Seq("g"), "v")
    IncrementalAgg.update(spark, path,
      Seq(("b", 5.0), ("b", 7.0)).toDF("g", "v"), Seq("g"), "v")
    val out = IncrementalAgg.read(spark, path).orderBy("g").collect()
    assert(out.map(_.getAs[String]("g")).toSeq == Seq("a", "b"))
    assert(out(1).getAs[Long]("cnt") == 2L)
    assert(out(1).getAs[Double]("sum_v") == 12.0)
  }

  test("syncFromTable: one call per refresh tracks the versioned table " +
      "through upserts and deletes; no-op when current") {
    import graft.sources.Merge
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mv_sync").toFile
    dir.deleteOnExit()
    val tbl = new java.io.File(dir, "tbl").getAbsolutePath
    val st = new java.io.File(dir, "state").getAbsolutePath
    def truth() = Merge.readKeyed(spark, tbl).groupBy("g")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    def state() = IncrementalAgg.read(spark, st).orderBy("g")
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("cnt"))).toSeq
    val base = (0L until 100L).map(i => (i, s"g${i % 4}", i * 1.0))
      .toDF("id", "g", "v")
    Merge.writeKeyed(base, tbl, "id", nBuckets = 8)
    // sync 1: initializes from the snapshot
    assert(IncrementalAgg.syncFromTable(spark, st, tbl, Seq("g"), "v") == 0L)
    assert(state() == truth())
    // sync 2: upsert (update + insert) folds through the change feed
    Merge.upsert(spark, tbl,
      Seq((3L, "g3", 300.0), (200L, "g0", 1.0)).toDF("id", "g", "v"),
      "id", 8)
    assert(IncrementalAgg.syncFromTable(spark, st, tbl, Seq("g"), "v") == 1L)
    assert(state() == truth())
    // sync 3: deletes retract and dirty extremes repair (read() would
    // fail fast if they didn't)
    Merge.deleteWhere(spark, tbl, $"g" === "g1")
    assert(IncrementalAgg.syncFromTable(spark, st, tbl, Seq("g"), "v") == 2L)
    assert(state() == truth())
    assert(!state().exists(_._1 == "g1"))
    // already current: a sync is a cheap no-op that changes nothing
    val before = state()
    assert(IncrementalAgg.syncFromTable(spark, st, tbl, Seq("g"), "v") == 2L)
    assert(state() == before)
  }

  test("syncFromTable: a crash after the fold's claim is never re-folded " +
      "(the synced version rides the same claim)") {
    import graft.sources.Merge
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mv_crash").toFile
    dir.deleteOnExit()
    val tbl = new java.io.File(dir, "tbl").getAbsolutePath
    val st = new java.io.File(dir, "state").getAbsolutePath
    def truth() = Merge.readKeyed(spark, tbl).groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum($"v").as("sum_v"),
        min($"v").as("min_v"), max($"v").as("max_v"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    def state() = IncrementalAgg.read(spark, st).orderBy("g").collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("cnt"),
        r.getAs[Double]("sum_v"), r.getAs[Double]("min_v"),
        r.getAs[Double]("max_v"))).toSeq
    Merge.writeKeyed((0L until 40L).map(i => (i, s"g${i % 3}", i * 1.0))
      .toDF("id", "g", "v"), tbl, "id", nBuckets = 4)
    assert(IncrementalAgg.syncFromTable(spark, st, tbl, Seq("g"), "v") == 0L)
    // an update, an insert and a delete of a group's max, so the sync
    // both folds retractions and repairs an extreme
    Merge.upsert(spark, tbl,
      Seq((3L, "g0", 300.0), (100L, "g1", 1.0)).toDF("id", "g", "v"),
      "id", 4)
    Merge.deleteWhere(spark, tbl, $"id" === 38L)
    IncrementalAgg.afterClaimHook =
      () => throw new IllegalStateException("crash after the claim")
    try {
      val e = intercept[IllegalStateException] {
        IncrementalAgg.syncFromTable(spark, st, tbl, Seq("g"), "v")
      }
      assert(e.getMessage == "crash after the claim")
    } finally IncrementalAgg.afterClaimHook = () => ()
    // the re-sync finds the fold already published: nothing is counted twice
    assert(IncrementalAgg.syncFromTable(spark, st, tbl, Seq("g"), "v") == 2L)
    assert(state() == truth())
  }

  test("a pre-log state path reads only its own files while its first " +
      "fold is staged, and the migrated fold counts the delta once") {
    // the pre-log layout: the state's parquet at the root (what init
    // wrote before the log; flags absent, as in the oldest states)
    val base = Seq(("a", 1.0), ("b", 2.0)).toDF("g", "v")
    val delta = Seq(("a", 4.0), ("c", 5.0)).toDF("g", "v")
    val path = fresh("prelog")
    base.groupBy("g").agg(count(lit(1)).as("cnt"),
        sum($"v".cast("decimal(28,2)")).as("sum_exact"),
        min($"v".cast("double")).as("min_v"),
        max($"v".cast("double")).as("max_v"))
      .write.parquet(path)
    def state() = IncrementalAgg.read(spark, path).orderBy("g").collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("cnt"),
        r.getAs[Double]("sum_v"))).toSeq
    def rootFiles() = new java.io.File(path).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val old = Seq(("a", 1L, 1.0), ("b", 1L, 2.0))
    assert(state() == old)
    // a crash between staging the fold and its claim: the staged files
    // under state/ must stay invisible to the old layout's read
    IncrementalAgg.beforeClaimHook =
      () => throw new IllegalStateException("crash before the claim")
    try intercept[IllegalStateException] {
      IncrementalAgg.update(spark, path, delta, Seq("g"), "v")
    } finally IncrementalAgg.beforeClaimHook = () => ()
    assert(state() == old)
    // a crash after the migrating claim, before the root files go: the
    // log now decides, and the next fold reclaims the old root files
    IncrementalAgg.afterClaimHook =
      () => throw new IllegalStateException("crash after the claim")
    try intercept[IllegalStateException] {
      IncrementalAgg.update(spark, path, delta, Seq("g"), "v")
    } finally IncrementalAgg.afterClaimHook = () => ()
    val folded = Seq(("a", 2L, 5.0), ("b", 1L, 2.0), ("c", 1L, 5.0))
    assert(state() == folded)
    assert(rootFiles().nonEmpty)
    IncrementalAgg.update(spark, path, Seq(("b", 1.0)).toDF("g", "v"),
      Seq("g"), "v")
    assert(state() == Seq(("a", 2L, 5.0), ("b", 2L, 3.0), ("c", 1L, 5.0)))
    assert(rootFiles().isEmpty)
  }
}
