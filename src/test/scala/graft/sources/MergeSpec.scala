package graft.sources

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Copy-on-write upsert: merge semantics AND the touched-buckets-only
  * write contract (the part a value-level gate can't see).
  */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_merge_spec_$tag").toFile
    d.deleteOnExit()
    new File(d, "tbl").getAbsolutePath
  }

  private def bucketFiles(path: String): Map[String, Map[String, Long]] = {
    val root = new File(path)
    root.listFiles().filter(_.getName.startsWith("__bucket="))
      .map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified()).toMap
      }.toMap
  }

  test("readSmallUtf8 reads metadata files past one buffer to EOF") {
    val d = Files.createTempDirectory("graft_readsmall").toFile
    d.deleteOnExit()
    val f = new File(d, "meta.txt")
    val content = "x" * 10000 + "42"
    Files.write(f.toPath, content.getBytes("UTF-8"))
    val p = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(VersionLog.readSmallUtf8(fs, p) == content)
  }

  test("filesInfo inventories the current version: bucket, rows, bytes") {
    val path = freshDir("finfo")
    val base = (0L until 100L).map(i => (i, i * 1.0)).toDF("id", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 4, statsCols = Seq("id"))
    val info = Merge.filesInfo(spark, path).collect()
    assert(info.length == 4)
    assert(info.map(_.getAs[Long]("bucket")).toSet == Set(0L, 1L, 2L, 3L))
    assert(info.map(_.getAs[Long]("rows")).sum == 100L)
    assert(info.forall(_.getAs[Long]("bytes") > 0L))
    // after an upsert the inventory follows the NEW version: still one
    // live file per bucket, the touched bucket's file REPLACED
    val namesBefore = info.map(r =>
      r.getAs[Long]("bucket") -> r.getAs[String]("file")).toMap
    Merge.upsert(spark, path, Seq((3L, -3.0)).toDF("id", "v"), "id", 4)
    val after = Merge.filesInfo(spark, path).collect()
    assert(after.length == 4)
    assert(after.map(_.getAs[Long]("rows")).sum == 100L)
    val changed = after.count(r =>
      namesBefore(r.getAs[Long]("bucket")) != r.getAs[String]("file"))
    assert(changed == 1, s"exactly the touched bucket's file changes")
  }

  test("upsert replaces updated keys, appends new ones, leaves rest") {
    val path = freshDir("sem")
    val base = (0L until 100L).map(i => (i, s"name_$i", i * 10.0))
      .toDF("id", "name", "score")
    Merge.writeKeyed(base, path, "id", nBuckets = 8)
    val updates = Seq((7L, "name_7_v2", 777.0), (200L, "name_200", 1.0))
      .toDF("id", "name", "score")
    val stats = Merge.upsert(spark, path, updates, "id", nBuckets = 8)
    assert(stats.nBuckets == 8 && stats.bucketsTouched <= 2 &&
      stats.rowsUpserted == 2)
    val out = Merge.readKeyed(spark, path)
    assert(out.count() == 101)
    assert(out.filter($"id" === 7L).select("name").as[String].head() ==
      "name_7_v2")
    assert(out.filter($"id" === 200L).count() == 1)
    assert(out.filter($"id" === 8L).select("score").as[Double].head() == 80.0)
  }

  test("upsert rewrites ONLY the buckets the update keys land in") {
    val path = freshDir("cow")
    val base = (0L until 200L).map(i => (i, i.toString)).toDF("id", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 16)
    val before = bucketFiles(path)
    assert(before.size == 16, "every bucket should materialize")
    val updates = Seq((3L, "three")).toDF("id", "v")
    val stats = Merge.upsert(spark, path, updates, "id", nBuckets = 16)
    assert(stats.bucketsTouched == 1)
    val after = bucketFiles(path)
    val touched = after.keys.filter(k => before(k) != after(k))
    assert(touched.size == 1,
      s"exactly one bucket dir may change, got $touched")
    // untouched buckets: identical file names and mtimes (never rewritten)
    (before.keySet - touched.head).foreach { k =>
      assert(before(k) == after(k), s"bucket $k was rewritten")
    }
  }

  test("version log: readVersion time-travels, diff(v0,v1) is the batch") {
    val path = freshDir("ver")
    val base = (0L until 100L).map(i => (i, i * 10.0)).toDF("id", "score")
    Merge.writeKeyed(base, path, "id", nBuckets = 8)
    assert(Merge.currentVersion(spark, path) == 0L)
    val updates = Seq((7L, 777.0), (200L, 1.0)).toDF("id", "score")
    val stats = Merge.upsert(spark, path, updates, "id", nBuckets = 8)
    assert(stats.version == 1L)
    assert(Merge.currentVersion(spark, path) == 1L)
    // v0 is still exactly the base table — immutable data files
    val v0 = Merge.readVersion(spark, path, 0).orderBy("id").collect()
    assert(v0.length == 100)
    assert(v0.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      (0L until 100L).map(i => (i, i * 10.0)))
    // v1 is the merged view, and the latest read resolves to it
    val v1 = Merge.readVersion(spark, path, 1)
    assert(v1.count() == 101)
    assert(v1.filter($"id" === 7L).select("score").as[Double].head() == 777.0)
    // the change-data view between versions is exactly the upsert batch
    val d = graft.ops.TableDiff.diff(
      Merge.readVersion(spark, path, 0), v1, Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(d.toSeq == Seq((7L, "changed"), (200L, "added")))
  }

  test("upsert never deletes or rewrites ANY existing data file") {
    // the crash-safety core: data files are immutable, only the manifest
    // commit makes new ones visible — even the TOUCHED bucket keeps its
    // old files (old versions still read them)
    val path = freshDir("immut")
    val base = (0L until 100L).map(i => (i, i.toString)).toDF("id", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 8)
    val before = bucketFiles(path)
    Merge.upsert(spark, path, Seq((3L, "x")).toDF("id", "v"), "id", 8)
    val after = bucketFiles(path)
    before.foreach { case (bucket, files) =>
      files.foreach { case (name, mtime) =>
        assert(after(bucket).get(name).contains(mtime),
          s"pre-existing file $bucket/$name was deleted or rewritten")
      }
    }
  }

  test("vacuum drops expired versions and their unreferenced files") {
    val path = freshDir("vac")
    val base = (0L until 50L).map(i => (i, i.toString)).toDF("id", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 4)
    Merge.upsert(spark, path, Seq((3L, "x")).toDF("id", "v"), "id", 4)
    Merge.upsert(spark, path, Seq((3L, "y")).toDF("id", "v"), "id", 4)
    val filesBefore = bucketFiles(path).values.map(_.size).sum
    Merge.vacuum(spark, path, keepVersions = 1)
    val filesAfter = bucketFiles(path).values.map(_.size).sum
    assert(filesAfter < filesBefore, "superseded files must be deleted")
    // latest version unaffected
    val out = Merge.readKeyed(spark, path)
    assert(out.count() == 50)
    assert(out.filter($"id" === 3L).select("v").as[String].head() == "y")
    // expired manifests are gone
    intercept[Exception] { Merge.readVersion(spark, path, 0).collect() }
  }

  test("compactVersion: coarse files, identical rows, old versions intact") {
    val path = freshDir("compact")
    val base = (0L until 200L).map(i => (i, i * 1.0)).toDF("id", "x")
    Merge.writeKeyed(base, path, "id", nBuckets = 4)
    // three scale-style upserts (filesPerBucket = 3: parallel bucket
    // writes): the live version accumulates multiple files per bucket —
    // the state compaction re-coarsens
    (1 to 3).foreach { r =>
      val batch = (0L until 40L).map(i => (i * 5, i * 5 + r * 0.1))
        .toDF("id", "x")
      Merge.upsert(spark, path, batch, "id", nBuckets = 4,
        filesPerBucket = 3)
    }
    val expected = Merge.readKeyed(spark, path).orderBy("id").collect()
    val vBefore = Merge.currentVersion(spark, path)

    val stats = Merge.compactVersion(spark, path)
    assert(stats.version == vBefore + 1)
    // the LIVE version's file list (not disk, which still holds every
    // older version's files) is what compaction shrinks
    assert(stats.filesBefore > 4, "upserts must have accumulated live files")
    // plan: every bucket collapses to exactly one live file
    val live = Merge.currentVersion(spark, path)
    assert(live == stats.version)
    assert(stats.filesAfter == 4, s"want 4 live files, got ${stats.filesAfter}")
    // row-multiset identity
    val after = Merge.readKeyed(spark, path).orderBy("id").collect()
    assert(after.sameElements(expected))
    // older versions still read their own (uncompacted) files
    assert(Merge.readVersion(spark, path, 0).count() == 200)
    assert(Merge.readVersion(spark, path, vBefore).orderBy("id").collect()
      .sameElements(expected))
    // a second compact is a no-op (already at target)
    val again = Merge.compactVersion(spark, path)
    assert(again.version == live && again.bucketsRewritten == 0)
    // vacuum now reclaims the superseded small files
    Merge.vacuum(spark, path, keepVersions = 1)
    assert(bucketFiles(path).values.map(_.size).sum == 4)
    assert(Merge.readKeyed(spark, path).orderBy("id").collect()
      .sameElements(expected))
  }

  test("vacuum racing a staged-but-uncommitted commit cannot delete " +
      "its files, even at graceMs = 0") {
    val path = freshDir("vacrace")
    val base = (0L until 100L).map(i => (i, i * 1.0)).toDF("id", "x")
    Merge.writeKeyed(base, path, "id", nBuckets = 8)
    Merge.upsert(spark, path, Seq((1L, -1.0)).toDF("id", "x"), "id", 8)
    // hold a committer BETWEEN its stage-and-move and its manifest
    // claim — the exact window where its files are on disk but no
    // manifest references them — and vacuum as aggressively as the API
    // allows while it hangs there
    val staged = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    Merge.commitFence = () => {
      if (calls.incrementAndGet() == 1) {
        staged.countDown()
        release.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    }
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val commit = Future(Merge.upsert(spark, path,
        Seq((2L, -2.0), (300L, 300.0)).toDF("id", "x"), "id", 8))
      assert(staged.await(60, java.util.concurrent.TimeUnit.SECONDS))
      // mid-publish: superseded v0 files reclaim as ever, but the
      // hung commit's just-moved files must survive the orphan floor
      Merge.vacuum(spark, path, keepVersions = 1, graceMs = 0L)
      release.countDown()
      val stats = Await.result(commit, 120.seconds)
      assert(stats.rowsUpserted == 2L)
    } finally {
      Merge.commitFence = () => ()
      release.countDown()
    }
    val out = Merge.readKeyed(spark, path)
    assert(out.count() == 101)
    assert(out.filter($"id" === 2L).select("x").as[Double].head() == -2.0)
    assert(out.filter($"id" === 300L).count() == 1)
  }

  test("two interleaved upserts serialize: both land, linear history") {
    val path = freshDir("race")
    val base = (0L until 100L).map(i => (i, i * 1.0)).toDF("id", "x")
    Merge.writeKeyed(base, path, "id", nBuckets = 8)
    // hold BOTH committers at the same parent until each has staged its
    // files, so the manifest claim genuinely races; the loser's RETRY
    // (third fence call) passes straight through
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    Merge.commitFence = () => {
      if (calls.incrementAndGet() <= 2) {
        barrier.await(30, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    }
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val a = Future(Merge.upsert(spark, path,
        Seq((1L, -1.0), (300L, 300.0)).toDF("id", "x"), "id", 8))
      val b = Future(Merge.upsert(spark, path,
        Seq((2L, -2.0), (400L, 400.0)).toDF("id", "x"), "id", 8))
      val (sa, sb) = (Await.result(a, 120.seconds),
        Await.result(b, 120.seconds))
      // exactly one of the two lost the first claim and retried
      assert(Set(sa.version, sb.version) == Set(1L, 2L))
      assert(sa.retries + sb.retries == 1)
    } finally Merge.commitFence = () => ()
    // final state == sequential application of both (disjoint keys)
    val out = Merge.readKeyed(spark, path)
    assert(out.count() == 102)
    assert(out.filter($"id" === 1L).select("x").as[Double].head() == -1.0)
    assert(out.filter($"id" === 2L).select("x").as[Double].head() == -2.0)
    assert(out.filter($"id" === 300L).count() == 1)
    assert(out.filter($"id" === 400L).count() == 1)
    // no duplicate keys anywhere (the absorbed-files failure mode)
    assert(out.groupBy("id").count().filter($"count" > 1).isEmpty)
    // v1 is readable on its own (the loser's retry built on it)
    assert(Merge.readVersion(spark, path, 1).count() == 101)
  }

  test("PROPERTY: random upsert/tombstone/delete/compact/restore/RENAME " +
      "sequences match a reference map model, at every version") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genOp: Gen[(Int, Long, Double)] = for {
      kind <- Gen.choose(0, 5)
      key <- Gen.choose(0L, 60L)
      v <- Gen.choose(-100.0, 100.0)
    } yield (kind, key, v)
    (1 to 6).foreach { seed =>
      val path = freshDir(s"model$seed")
      val model = scala.collection.mutable.Map.empty[Long, Double]
      (0L until 40L).foreach(i => model(i) = i * 1.0)
      // the value column's CURRENT logical name: renames cycle it
      // v <-> w while the physical name stays "v" in every file —
      // every other op must keep working under whichever name is live
      var vCol = "v"
      // statsCols on v: every commit must keep per-file stats consistent
      // with its data, whatever the op interleaving. Even seeds run with
      // SHARDED manifests (2 buckets/shard): the same sequences must
      // behave identically under the split log — resolution, stats
      // placement, shard reuse and all
      Merge.writeKeyed(model.toSeq.toDF("id", "v"), path, "id",
        nBuckets = 4, statsCols = Seq("v"),
        manifestShardSpan = if (seed % 2 == 0) 2 else 0)
      val snapshots = scala.collection.mutable.ArrayBuffer(
        (0L, model.toMap, "v"))
      val ops = Gen.listOfN(8, genOp)
        .apply(Gen.Parameters.default, Seed(seed.toLong)).get
      ops.foreach { case (kind, key, v) =>
        kind match {
          case 0 => // plain upsert (update-or-insert two keys)
            Merge.upsert(spark, path,
              Seq((key, v), (key + 7L, v + 1.0)).toDF("id", vCol), "id", 4)
            model(key) = v; model(key + 7L) = v + 1.0
          case 1 => // tombstone batch: one write, one delete
            Merge.upsert(spark, path,
              Seq((key, v, false), (key + 3L, 0.0, true))
                .toDF("id", vCol, "__del"),
              "id", 4, tombstoneCol = Some("__del"))
            model(key) = v; model.remove(key + 3L)
          case 2 => // predicate delete (under the LIVE column name)
            Merge.deleteWhere(spark, path, col(vCol) > v)
            model.filterInPlace((_, mv) => !(mv > v))
          case 3 => // compaction: never changes rows
            Merge.compactVersion(spark, path, targetFilesPerBucket = 1)
          case 4 => // restore: roll back to a random retained snapshot
            // (incl. ITS column name — restore is full-state)
            val (tv, snap, name) = snapshots(key.toInt % snapshots.length)
            Merge.restore(spark, path, tv)
            model.clear(); snap.foreach { case (k2, v2) => model(k2) = v2 }
            vCol = name
          case 5 => // metadata-only rename; later ops speak the new name
            val to = if (vCol == "v") "w" else "v"
            Merge.renameColumn(spark, path, vCol, to)
            vCol = to
        }
        snapshots += ((Merge.currentVersion(spark, path), model.toMap,
          vCol))
        // stats-pruned read vs model after EVERY op — stale per-file
        // stats (or a mapping that lost them) would silently drop or
        // over-keep rows here
        val b = Seq(Skipping.Bound(vCol, Some(0.0), Some(50.0)))
        val pruned = Merge.readKeyedSkipping(spark, path, b)
          .select("id").collect().map(_.getLong(0)).toSet
        val want = model.filter { case (_, mv) => mv >= 0.0 && mv <= 50.0 }
          .keySet.toSet
        assert(pruned == want,
          s"seed $seed: stats-pruned read diverged after $ops")
      }
      def rows(df: org.apache.spark.sql.DataFrame,
          name: String): Map[Long, Double] =
        df.select("id", name).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows(Merge.readKeyed(spark, path), vCol) == model.toMap,
        s"seed $seed: final state diverged after $ops")
      // every retained version still reads its own historical snapshot
      // UNDER ITS OWN column mapping
      snapshots.toSeq.groupBy(_._1).map(_._2.last).foreach {
        case (ver, snap, name) =>
          assert(rows(Merge.readVersion(spark, path, ver), name) == snap,
            s"seed $seed: v$ver diverged")
      }
    }
  }

  test("restore: rolls back to a historical image as a new zero-copy " +
      "commit; history keeps both; later writes build on the restored state") {
    val path = freshDir("restore")
    val base = (0L until 100L).map(i => (i, i * 1.0)).toDF("id", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 4)
    Merge.upsert(spark, path, Seq((7L, 777.0)).toDF("id", "v"), "id", 4)
    Merge.deleteWhere(spark, path, $"id" >= 90L)
    assert(Merge.readKeyed(spark, path).count() == 90)
    val dataFilesBefore = bucketFiles(path)
    val rv = Merge.restore(spark, path, 1L)
    assert(rv == 3L)
    // zero-copy: no data file created, moved, or deleted by the restore
    assert(bucketFiles(path) == dataFilesBefore)
    val restored = Merge.readKeyed(spark, path)
    assert(restored.count() == 100)
    assert(restored.filter($"id" === 7L).select("v").as[Double].head()
      == 777.0)
    // the mistake (v2) is still readable; history records the restore
    assert(Merge.readVersion(spark, path, 2L).count() == 90)
    val ops = Merge.history(spark, path).orderBy("version")
      .select("op").as[String].collect().toSeq
    assert(ops == Seq("write", "upsert", "delete", "restore"), ops)
    // restoring to the current version is a no-op, not a new commit
    assert(Merge.restore(spark, path, 3L) == 3L)
    assert(Merge.currentVersion(spark, path) == 3L)
    // later writes build on the restored image
    Merge.upsert(spark, path, Seq((200L, 1.0)).toDF("id", "v"), "id", 4)
    assert(Merge.readKeyed(spark, path).count() == 101)
  }

  test("sharded manifests: untouched shards reuse the parent's shard id," +
      " touched ones get a new one, reads resolve identically") {
    val path = freshDir("shard")
    val base = (0L until 400L).map(i => (i, i * 1.0)).toDF("id", "v")
    // 16 buckets, 4 buckets/shard -> 4 shard files
    Merge.writeKeyed(base, path, "id", nBuckets = 16,
      statsCols = Seq("v"), manifestShardSpan = 4)
    val refs0 = Merge.manifestShardRefs(spark, path, 0L).toMap
    assert(refs0.size == 4, s"expected 4 shards, got $refs0")
    // one-key upsert touches ONE bucket -> exactly one shard rewritten
    Merge.upsert(spark, path, Seq((3L, 333.0)).toDF("id", "v"), "id", 16)
    val refs1 = Merge.manifestShardRefs(spark, path, 1L).toMap
    assert(refs1.size == 4)
    val changed = refs1.filter { case (i, id) => refs0(i) != id }
    assert(changed.size == 1,
      s"one-bucket upsert must rewrite exactly one shard: $refs0 -> $refs1")
    // resolution: current read sees the update + everything else; v0
    // still reads its own snapshot through its own shard set
    val cur = Merge.readKeyed(spark, path)
    assert(cur.count() == 400)
    assert(cur.filter($"id" === 3L).select("v").as[Double].head() == 333.0)
    assert(Merge.readVersion(spark, path, 0L)
      .filter($"id" === 3L).select("v").as[Double].head() == 3.0)
    // stats live in the shards: a bounded read still prunes + matches
    val b = Seq(Skipping.Bound("v", Some(0.0), Some(50.0)))
    val ids = Merge.readKeyedSkipping(spark, path, b)
      .select("id").as[Long].collect().toSet
    assert(ids == (0L until 400L).filter(i =>
      (if (i == 3L) 333.0 else i * 1.0) <= 50.0).toSet)
    // vacuum to 1 version: v0's exclusive shard (the superseded one) is
    // reclaimed, the 3 shared ones survive (content addressing: a shard
    // lives while ANY retained root references it)
    val shardDir = new File(path, "_graft_log/shards")
    // drop Hadoop's .crc checksum sidecars from the raw listing
    def shardFiles() = shardDir.listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    val before = shardFiles()
    assert(before == (refs0.values.toSet ++ refs1.values.toSet))
    Merge.vacuum(spark, path, keepVersions = 1)
    val after = shardFiles()
    assert(after == refs1.values.toSet,
      s"vacuum must keep exactly v1's shards: kept $after")
    assert(Merge.readKeyed(spark, path).count() == 400)
  }

  test("upsert racing deleteWhere serializes: the loser re-plans " +
      "against the winner's commit") {
    val path = freshDir("xrace")
    val base = (0L until 100L).map(i => (i, i % 5, i * 1.0))
      .toDF("id", "g", "x")
    Merge.writeKeyed(base, path, "id", nBuckets = 8)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    Merge.commitFence = () => {
      if (calls.incrementAndGet() <= 2) {
        barrier.await(30, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    }
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // upsert updates id 7 (g=2); delete removes group g=3 — keys
      // disjoint, so the serialized outcome is order-independent
      val a = Future(Merge.upsert(spark, path,
        Seq((7L, 2L, 700.0)).toDF("id", "g", "x"), "id", 8))
      val b = Future(Merge.deleteWhere(spark, path, $"g" === 3L))
      val (sa, sb) = (Await.result(a, 120.seconds),
        Await.result(b, 120.seconds))
      assert(Set(sa.version, sb.version) == Set(1L, 2L),
        s"linear history, got $sa / $sb")
      assert(sa.retries + sb.retries == 1, "exactly one loser retried")
      assert(sb.rowsDeleted == 20L)
    } finally Merge.commitFence = () => ()
    val out = Merge.readKeyed(spark, path)
    assert(out.count() == 80, "100 - 20 deleted, update replaces in place")
    assert(out.filter($"g" === 3L).isEmpty)
    assert(out.filter($"id" === 7L).select("x").as[Double].head() == 700.0)
    assert(out.groupBy("id").count().filter($"count" > 1).isEmpty)
    // history records both ops whatever the serialization order
    val ops = Merge.history(spark, path).orderBy("version")
      .select("op").as[String].collect().toSeq
    assert(ops.head == "write" && ops.tail.toSet == Set("upsert", "delete"))
  }

  test("schema evolution: added column, old rows null, per-version schema") {
    val path = freshDir("evolve")
    val base = (0L until 50L).map(i => (i, i.toString)).toDF("id", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 4)
    val updates = Seq((3L, "three", 3.5), (60L, "sixty", 60.5))
      .toDF("id", "v", "score")
    // without opt-in, adding a column is an error
    intercept[IllegalArgumentException] {
      Merge.upsert(spark, path, updates, "id", nBuckets = 4)
    }
    Merge.upsert(spark, path, updates, "id", nBuckets = 4,
      allowEvolution = true)
    val v1 = Merge.readKeyed(spark, path)
    assert(v1.columns.toSeq == Seq("id", "v", "score"))
    assert(v1.count() == 51)
    assert(v1.filter($"id" === 3L).select("score").as[Double].head() == 3.5)
    // pre-evolution rows read back with null in the added column —
    // including rows in buckets the evolving upsert never touched
    assert(v1.filter($"score".isNull).count() == 49)
    // the old version keeps its own two-column schema
    assert(Merge.readVersion(spark, path, 0).columns.toSeq == Seq("id", "v"))
    // a later non-evolving upsert must now carry the widened schema
    intercept[IllegalArgumentException] {
      Merge.upsert(spark, path, Seq((5L, "five")).toDF("id", "v"), "id", 4)
    }
    // retyping a column is never evolution
    intercept[IllegalArgumentException] {
      Merge.upsert(spark, path,
        Seq((5L, "five", 1)).toDF("id", "v", "score"), "id", 4,
        allowEvolution = true)
    }
  }

  test("readVersion of a vacuumed version names the retention boundary") {
    val path = freshDir("expired")
    val base = (0L until 20L).map(i => (i, i.toString)).toDF("id", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 2)
    Merge.upsert(spark, path, Seq((1L, "a")).toDF("id", "v"), "id", 2)
    Merge.upsert(spark, path, Seq((1L, "b")).toDF("id", "v"), "id", 2)
    Merge.vacuum(spark, path, keepVersions = 1)
    val e = intercept[IllegalArgumentException] {
      Merge.readVersion(spark, path, 0)
    }
    assert(e.getMessage.contains("vacuumed") &&
      e.getMessage.contains("earliest retained version: 2"))
  }

  test("readers skip a claimed-but-torn latest manifest") {
    val path = freshDir("torn")
    val base = (0L until 20L).map(i => (i, i.toString)).toDF("id", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 2)
    Merge.upsert(spark, path, Seq((1L, "a")).toDF("id", "v"), "id", 2)
    // simulate a committer that crashed between claim and body write
    val torn = new File(new File(path, "_graft_log"), "v2.json")
    assert(torn.createNewFile())
    assert(Merge.currentVersion(spark, path) == 1L)
    assert(Merge.readKeyed(spark, path)
      .filter($"id" === 1L).select("v").as[String].head() == "a")
  }

  test("upsert of the same batch twice is idempotent") {
    val path = freshDir("idem")
    val base = (0L until 50L).map(i => (i, i * 1.0)).toDF("id", "x")
    Merge.writeKeyed(base, path, "id", nBuckets = 4)
    val updates = Seq((1L, -1.0), (60L, 60.0)).toDF("id", "x")
    Merge.upsert(spark, path, updates, "id", nBuckets = 4)
    val first = Merge.readKeyed(spark, path).orderBy("id").collect()
    Merge.upsert(spark, path, updates, "id", nBuckets = 4)
    val second = Merge.readKeyed(spark, path).orderBy("id").collect()
    assert(first.sameElements(second))
  }

  test("manifest records the layout: mismatched upsert args fail fast," +
      " lookupKey reads only the key's bucket") {
    val path = freshDir("layout")
    val base = (0L until 200L).map(i => (i, s"v$i")).toDF("id", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 16)
    // wrong bucket count or key column would scatter keys: rejected
    val e1 = intercept[IllegalArgumentException] {
      Merge.upsert(spark, path, Seq((1L, "x")).toDF("id", "v"), "id", 8)
    }
    assert(e1.getMessage.contains("bucketed as (id) × (16)") &&
      e1.getMessage.contains("layout is fixed"))
    val e2 = intercept[IllegalArgumentException] {
      Merge.upsert(spark, path, Seq((1L, "x")).toDF("id", "v"), "v", 16)
    }
    assert(e2.getMessage.contains("layout is fixed"))
    // lookup: right row, and ONLY one bucket's files in the scan
    Merge.upsert(spark, path, Seq((7L, "v7b")).toDF("id", "v"), "id", 16)
    val hit = Merge.lookupKey(spark, path, 7L)
    assert(hit.select("v").as[String].collect().toSeq == Seq("v7b"))
    val perBucket = bucketFiles(path).values.map(_.size).sum
    assert(hit.inputFiles.length < perBucket,
      "lookup must scan one bucket, not the table")
    val allBuckets = bucketFiles(path)
    val maxOneBucket = allBuckets.values.map(_.size).max
    assert(hit.inputFiles.length <= maxOneBucket)
    // absent key in an existing bucket -> empty; string key coerces
    assert(Merge.lookupKey(spark, path, 100000L).count() == 0)
    assert(Merge.lookupKey(spark, path, "7")
      .select("v").as[String].collect().toSeq == Seq("v7b"))
  }

  test("txn stamp: a replayed (app, batch) is a no-op, higher batch" +
      " commits, other apps are independent") {
    val path = freshDir("txn")
    val base = (0L until 30L).map(i => (i, i.toString)).toDF("id", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 4)
    val s1 = Merge.upsert(spark, path, Seq((1L, "b0")).toDF("id", "v"),
      "id", 4, txn = Some(("appA", 0L)))
    assert(s1.version == 1L && !s1.skippedDupTxn)
    assert(Merge.latestTxn(spark, path, "appA").contains(0L))
    // replay of batch 0: must not commit, must not change data
    val replay = Merge.upsert(spark, path,
      Seq((1L, "GARBAGE")).toDF("id", "v"), "id", 4,
      txn = Some(("appA", 0L)))
    assert(replay.skippedDupTxn && replay.version == 1L)
    assert(Merge.currentVersion(spark, path) == 1L)
    assert(Merge.readKeyed(spark, path)
      .filter($"id" === 1L).select("v").as[String].head() == "b0")
    // next batch commits; an unrelated app is not blocked by appA's marks
    val s2 = Merge.upsert(spark, path, Seq((2L, "b1")).toDF("id", "v"),
      "id", 4, txn = Some(("appA", 1L)))
    assert(s2.version == 2L && !s2.skippedDupTxn)
    val other = Merge.upsert(spark, path, Seq((3L, "x")).toDF("id", "v"),
      "id", 4, txn = Some(("appB", 0L)))
    assert(other.version == 3L && !other.skippedDupTxn)
    assert(Merge.latestTxn(spark, path, "appA").contains(1L))
    assert(Merge.latestTxn(spark, path, "appB").contains(0L))
  }

  test("streamingUpsert: one version per micro-batch; restarting the" +
      " drained stream from its checkpoint re-applies nothing") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft_merge_stream").toFile
    dir.deleteOnExit()
    val path = new File(dir, "tbl").getAbsolutePath
    val in = new File(dir, "in"); in.mkdirs()
    val ckpt = new File(dir, "ckpt").getAbsolutePath
    val base = (0L until 40L).map(i => (i, "base")).toDF("id", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 4)
    // two authored micro-batch files, mtime-ordered
    Seq((0, Seq((1L, "b0a"), (50L, "b0b"))), (1, Seq((1L, "b1"))))
      .foreach { case (i, rows) =>
        val stage = new File(dir, s"stage_$i")
        rows.toDF("id", "v").coalesce(1)
          .write.mode("overwrite").parquet(stage.getAbsolutePath)
        val part = stage.listFiles().filter(_.getName.endsWith(".parquet"))
          .head
        val dest = new File(in, s"b$i.parquet")
        assert(part.renameTo(dest))
        dest.setLastModified(1700000000000L + i * 60000L)
      }
    def drain(): Unit = {
      val q = Merge.streamingUpsert(
        spark.readStream.schema(base.schema)
          .option("maxFilesPerTrigger", 1).parquet(in.getAbsolutePath),
        path, "id", 4, ckpt, "stream-spec")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(Merge.currentVersion(spark, path) == 2L)
    val after = Merge.readKeyed(spark, path).orderBy("id").collect()
    assert(Merge.readKeyed(spark, path)
      .filter($"id" === 1L).select("v").as[String].head() == "b1")
    assert(Merge.readKeyed(spark, path).count() == 41)
    // fresh query, same checkpoint, no new files: nothing re-applies
    drain()
    assert(Merge.currentVersion(spark, path) == 2L)
    assert(Merge.readKeyed(spark, path).orderBy("id").collect()
      .sameElements(after))
    // a WIPED checkpoint replays both batches — the txn watermark, not
    // the checkpoint, is what blocks double-apply
    def rm(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new File(ckpt))
    drain()
    assert(Merge.currentVersion(spark, path) == 2L,
      "replayed batches must hit the txn watermark and change nothing")
    assert(Merge.readKeyed(spark, path).orderBy("id").collect()
      .sameElements(after))
  }

  test("streamingUpsertDV: merge-on-read micro-batches — one version " +
      "per batch, NO base data file rewritten, txn watermark blocks " +
      "a wiped-checkpoint replay") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft_merge_mor_stream").toFile
    dir.deleteOnExit()
    val path = new File(dir, "tbl").getAbsolutePath
    val in = new File(dir, "in"); in.mkdirs()
    val ckpt = new File(dir, "ckpt").getAbsolutePath
    val base = (0L until 40L).map(i => (i, "base")).toDF("id", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 4,
      statsCols = Seq("id")) // rows recorded: versionRowCount is exact
    def dataFiles(): Map[String, Long] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new File(path)).filter(f => f.getPath.contains("__bucket=") &&
          f.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = dataFiles()
    Seq((0, Seq((1L, "b0a"), (50L, "b0b"))), (1, Seq((1L, "b1"))))
      .foreach { case (i, rows) =>
        val stage = new File(dir, s"stage_$i")
        rows.toDF("id", "v").coalesce(1)
          .write.mode("overwrite").parquet(stage.getAbsolutePath)
        val part = stage.listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new File(in, s"b$i.parquet")
        assert(part.renameTo(dest))
        dest.setLastModified(1700000000000L + i * 60000L)
      }
    def drain(): Unit = {
      val q = Merge.streamingUpsertDV(
        spark.readStream.schema(base.schema)
          .option("maxFilesPerTrigger", 1).parquet(in.getAbsolutePath),
        path, "id", 4, ckpt, "mor-stream-spec")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(Merge.currentVersion(spark, path) == 2L)
    // every base file byte-untouched: both batches landed append-only
    val after = dataFiles()
    assert(before.forall { case (f, m) => after.get(f).contains(m) },
      "merge-on-read micro-batches must not rewrite base data files")
    assert(Merge.readKeyed(spark, path)
      .filter($"id" === 1L).select("v").as[String].collect().toSeq
      == Seq("b1"),
      "the second batch's image must win (the first is vectored)")
    assert(Merge.readKeyed(spark, path).count() == 41)
    assert(Merge.versionRowCount(spark, path, 2L).contains(41L))
    // wiped checkpoint: the txn watermark blocks the double-apply
    def rm(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new File(ckpt))
    drain()
    assert(Merge.currentVersion(spark, path) == 2L,
      "replayed batches must hit the txn watermark and change nothing")
    assert(Merge.readKeyed(spark, path).count() == 41)
  }

  test("tombstone upsert: one commit applies updates, inserts, deletes") {
    val path = freshDir("tomb")
    val base = (0L until 100L).map(i => (i, i * 10.0)).toDF("id", "score")
    Merge.writeKeyed(base, path, "id", nBuckets = 8)
    val batch = Seq(
      (7L, 777.0, false),   // update
      (200L, 1.0, false),   // insert
      (3L, 0.0, true),      // delete (payload ignored)
      (9L, 0.0, true))      // delete
      .toDF("id", "score", "__del")
    val st = Merge.upsert(spark, path, batch, "id", nBuckets = 8,
      tombstoneCol = Some("__del"))
    assert(st.rowsUpserted == 2 && st.rowsDeleted == 2)
    val out = Merge.readKeyed(spark, path)
    assert(out.count() == 99) // 100 - 2 deleted + 1 insert
    assert(out.filter($"id".isin(3L, 9L)).count() == 0)
    assert(out.filter($"id" === 7L).select("score").as[Double].head()
      == 777.0)
    assert(out.columns.toSeq == Seq("id", "score"),
      "the tombstone marker must never enter the table schema")
    // v0 still has the deleted rows — deletes are copy-on-write too
    assert(Merge.readVersion(spark, path, 0).filter($"id" === 3L)
      .count() == 1)
  }

  test("deleteWhere: bucket-granular rewrite, null predicate keeps rows") {
    val path = freshDir("delw")
    // value v is null for id 50 — SQL DELETE keeps null-predicate rows
    val base = (0L until 200L)
      .map(i => (i, if (i == 50) null else s"g${i % 5}"))
      .toDF("id", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 16)
    val before = bucketFiles(path)
    // delete one single key's rows via a data-column predicate
    val st = Merge.deleteWhere(spark, path, $"v" === "g0" && $"id" < 5L)
    assert(st.rowsDeleted == 1 && st.bucketsTouched == 1) // only id 0
    val after = bucketFiles(path)
    val touched = after.keys.filter(k => before(k) != after(k))
    assert(touched.size == 1,
      s"exactly one bucket dir may change, got $touched")
    val out = Merge.readKeyed(spark, path)
    assert(out.count() == 199)
    assert(out.filter($"id" === 50L).count() == 1,
      "null-predicate rows are KEPT (SQL DELETE semantics)")
    // v1 parent intact for time travel
    assert(Merge.readVersion(spark, path, 0).count() == 200)
  }

  test("manifest stats: recorded at writeKeyed, carried over commits, " +
      "pruned reads stay exact") {
    val path = freshDir("stats")
    val base = (0L until 400L).map(i => (i, i % 97, s"r$i"))
      .toDF("id", "ts", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 8,
      statsCols = Seq("ts"))
    // commit 1: an update (stats recomputed for its rewritten bucket)
    Merge.upsert(spark, path, Seq((3L, 3L, "r3b")).toDF("id", "ts", "v"),
      "id", nBuckets = 8)
    // commit 2: inserts with out-of-band ts values 1000..1009
    Merge.upsert(spark, path,
      (1000L until 1010L).map(i => (i, i, s"n$i")).toDF("id", "ts", "v"),
      "id", nBuckets = 8)
    val bounds = Seq(Skipping.Bound("ts", Some(1000L), None))
    val v = Merge.currentVersion(spark, path)
    val (sel, total) = Merge.planVersionFiles(spark, path, v, bounds)
    assert(sel.nonEmpty && sel.size < total,
      s"stats must prune the old-ts files, planned ${sel.size}/$total")
    val out = Merge.readKeyedSkipping(spark, path, bounds)
    assert(out.count() == 10)
    assert(out.columns.toSeq == Seq("id", "ts", "v"))
    // pruned read ≡ full read + filter (the residual guarantee)
    val full = Merge.readKeyed(spark, path).filter($"ts" >= 1000L)
      .orderBy("id").collect()
    assert(out.orderBy("id").collect().sameElements(full))
    // deleteWhere with implied bounds prunes its find scan AND keeps
    // stats consistent afterwards
    val st = Merge.deleteWhere(spark, path, $"ts" >= 1005L,
      bounds = Seq(Skipping.Bound("ts", Some(1005L), None)))
    assert(st.rowsDeleted == 5)
    assert(Merge.readKeyedSkipping(spark, path, bounds).count() == 5)
    // compaction rewrites multi-file buckets and recomputes their stats
    Merge.compactVersion(spark, path)
    val v2 = Merge.currentVersion(spark, path)
    val (sel2, total2) = Merge.planVersionFiles(spark, path, v2, bounds)
    assert(sel2.nonEmpty && sel2.size < total2,
      s"post-compaction stats must still prune, planned ${sel2.size}/$total2")
    assert(Merge.readKeyedSkipping(spark, path, bounds).count() == 5)
  }

  test("stats on a table without statsCols: no pruning, reads still work") {
    val path = freshDir("nostats")
    Merge.writeKeyed((0L until 50L).map(i => (i, i)).toDF("id", "ts"),
      path, "id", nBuckets = 4)
    val bounds = Seq(Skipping.Bound("ts", Some(40L), None))
    val (sel, total) = Merge.planVersionFiles(spark, path, 0L, bounds)
    assert(sel.size == total, "no stats: conservative keep-everything")
    assert(Merge.readKeyedSkipping(spark, path, bounds).count() == 10)
  }

  test("changesBetween: deltas from touched buckets only; compaction " +
      "emits none; evolution aligns with nulls") {
    val path = freshDir("cdf")
    val base = (0L until 200L).map(i => (i, i * 1.0)).toDF("id", "score")
    Merge.writeKeyed(base, path, "id", nBuckets = 16)
    val batch = Seq((7L, 700.0, false), (300L, 3.0, false),
      (9L, 0.0, true)).toDF("id", "score", "__del")
    Merge.upsert(spark, path, batch, "id", nBuckets = 16,
      tombstoneCol = Some("__del"))
    val touched = Merge.changedBuckets(spark, path, 0L, 1L)
    assert(touched.nonEmpty && touched.size <= 3,
      s"3 keys touch <= 3 buckets, got $touched")
    val cdf = Merge.changesBetween(spark, path, 0L, 1L)
      .orderBy("id", "op").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(cdf.toSeq == Seq((7L, 7.0, -1), (7L, 700.0, 1),
      (9L, 9.0, -1), (300L, 3.0, 1)),
      s"update = old@-1 + new@+1, delete = -1, insert = +1; got " +
      cdf.mkString(", "))
    // compaction: rows identical, zero deltas (and only its rewritten
    // buckets scanned). filesPerBucket = 3 fragments the touched bucket
    // so the compaction actually has work
    Merge.upsert(spark, path,
      (0L until 50L).map(i => (i, i + 0.5)).toDF("id", "score"),
      "id", 16, filesPerBucket = 3)
    val cs = Merge.compactVersion(spark, path)
    assert(cs.bucketsRewritten >= 1, "fragmented bucket must compact")
    val v = Merge.currentVersion(spark, path)
    assert(Merge.changesBetween(spark, path, v - 1, v).count() == 0,
      "a compaction-only commit must emit no deltas")
    // evolution: the pre-evolution side aligns its missing column as null
    Merge.upsert(spark, path, Seq((7L, 702.0, "x")).toDF("id", "score",
      "tag"), "id", 16, allowEvolution = true)
    val ev = Merge.changesBetween(spark, path, v, v + 1)
      .orderBy("op").collect()
    assert(ev.length == 2)
    assert(ev(0).getInt(ev(0).fieldIndex("op")) == -1 &&
      ev(0).isNullAt(ev(0).fieldIndex("tag")))
    assert(ev(1).getString(ev(1).fieldIndex("tag")) == "x")
  }

  test("clusterBy compaction: per-bucket files get disjoint cluster " +
      "ranges, manifest skipping prunes within buckets") {
    val path = freshDir("optimize")
    val base = (0L until 2000L).map(i => (i, i % 250, s"r$i"))
      .toDF("id", "ts", "v")
    // salted 4-files-per-bucket write: every file spans the full ts
    // range, so a ts bound can prune nothing
    Merge.writeKeyed(base, path, "id", nBuckets = 4,
      statsCols = Seq("ts"), filesPerBucket = 4)
    val bounds = Seq(Skipping.Bound("ts", Some(200L), None))
    val (sel0, total0) = Merge.planVersionFiles(spark, path, 0L, bounds)
    assert(total0 == 16 && sel0.size == total0,
      s"salted layout must be unprunable, got ${sel0.size}/$total0")
    val cs = Merge.compactVersion(spark, path, targetFilesPerBucket = 4,
      clusterBy = Seq("ts"))
    assert(cs.bucketsRewritten == 4, "clusterBy rewrites every bucket")
    // identical rows, old version intact
    val out = Merge.readKeyed(spark, path)
    assert(out.count() == 2000 &&
      out.exceptAll(base).isEmpty && base.exceptAll(out).isEmpty)
    assert(Merge.readVersion(spark, path, 0).count() == 2000)
    // within-bucket pruning now works: the >=200 range is ~1/5 of each
    // bucket's span, so most files drop
    val v = Merge.currentVersion(spark, path)
    val (sel1, total1) = Merge.planVersionFiles(spark, path, v, bounds)
    assert(sel1.size < total1 / 2,
      s"clustered layout must prune within buckets, got " +
      s"${sel1.size}/$total1")
    assert(Merge.readKeyedSkipping(spark, path, bounds).count() ==
      base.filter($"ts" >= 200L).count())
    // sibling files inside one bucket: disjoint [min, max] ts ranges
    val stats = Merge.versionFileStats(spark, path, v)
      .filter(_.col == "ts")
    assert(stats.nonEmpty)
    stats.groupBy(_.file.takeWhile(_ != '/')).foreach { case (b, fs) =>
      val ranges = fs
        .flatMap(e => for (mn <- e.min; mx <- e.max)
          yield (mn.toLong, mx.toLong))
        .sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo, _)) =>
          assert(hi <= lo, s"bucket $b files overlap: $ranges")
        case _ =>
      }
    }
  }

  test("bucket files are key-sorted; lookupKey prunes within a " +
      "key-clustered bucket via manifest stats") {
    val path = freshDir("keysort")
    val base = (0L until 2000L).map(i => (i, s"r$i")).toDF("id", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 4,
      statsCols = Seq("id"), filesPerBucket = 4)
    // in-file key order: every data file individually sorted by id
    val aFile = new File(path).listFiles()
      .filter(_.getName.startsWith("__bucket=")).head.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val ids = spark.read.parquet(aFile.getAbsolutePath)
      .select("id").as[Long].collect()
    assert(ids.sameElements(ids.sorted), "files must be key-sorted")
    // salted files overlap in key range: lookup reads the whole bucket
    val pre = Merge.lookupKey(spark, path, 777L)
    assert(pre.count() == 1)
    // key-clustered compaction makes sibling ranges disjoint: the SAME
    // lookup now reads exactly one of the bucket's 4 files
    Merge.compactVersion(spark, path, targetFilesPerBucket = 4,
      clusterBy = Seq("id"))
    val post = Merge.lookupKey(spark, path, 777L)
    assert(post.count() == 1)
    assert(post.inputFiles.length == 1,
      s"stats must prune to one file, read ${post.inputFiles.length}")
    // a key provably outside every file's range: empty without a scan
    assert(Merge.lookupKey(spark, path, 999999L).count() == 0)
  }

  test("vacuumRetain keeps the window plus the horizon-edge snapshot") {
    val path = freshDir("retain")
    Merge.writeKeyed((0L until 30L).map(i => (i, "v0")).toDF("id", "v"),
      path, "id", nBuckets = 4)
    Merge.upsert(spark, path, Seq((1L, "v1")).toDF("id", "v"), "id", 4)
    // wide t1→t2 gap so the horizon (computed against a fresh clock
    // inside vacuumRetain) still lands strictly between them
    Thread.sleep(300)
    Merge.upsert(spark, path, Seq((2L, "v2")).toDF("id", "v"), "id", 4)
    val t0 = Merge.commitTime(spark, path, 0)
    val t1 = Merge.commitTime(spark, path, 1)
    // horizon lands strictly between t1 and t2: the window holds v2,
    // and v1 is the snapshot current at the window's start — keep both
    Merge.vacuumRetain(spark, path,
      retainMillis = System.currentTimeMillis() - t1 - 2)
    assert(Merge.versionAsOf(spark, path, t1) == 1L,
      "horizon-edge snapshot must stay readable")
    assert(Merge.readVersion(spark, path, 1).count() == 30)
    val e = intercept[Exception] { Merge.readVersion(spark, path, 0) }
    assert(e.getMessage.toLowerCase.contains("retention") ||
      e.getMessage.contains("vacuum"), s"got: ${e.getMessage}")
    assert(intercept[IllegalArgumentException] {
      Merge.versionAsOf(spark, path, t0)
    }.getMessage.contains("retained"))
  }

  test("zOrderBy compaction: BOTH independent dims prune within " +
      "buckets; linear clusterBy only its leading one") {
    val path = freshDir("zorder")
    // x and y independent: linear order on x scatters y completely
    val base = (0L until 4000L)
      .map(i => (i, i % 64, (i * 31) % 64, s"r$i"))
      .toDF("id", "x", "y", "v")
    Merge.writeKeyed(base, path, "id", nBuckets = 4,
      statsCols = Seq("x", "y"), filesPerBucket = 8)
    Merge.compactVersion(spark, path, targetFilesPerBucket = 8,
      zOrderBy = Seq("x", "y"), zBits = 8)
    val v = Merge.currentVersion(spark, path)
    val bx = Seq(Skipping.Bound("x", Some(0L), Some(7L)))
    val by = Seq(Skipping.Bound("y", Some(0L), Some(7L)))
    val (sx, total) = Merge.planVersionFiles(spark, path, v, bx)
    val (sy, _) = Merge.planVersionFiles(spark, path, v, by)
    assert(sx.size < total / 2 && sy.size < total / 2,
      s"z-order must prune BOTH dims, got x=${sx.size} y=${sy.size} " +
      s"of $total")
    // rows identical; bounded reads exact
    assert(Merge.readKeyed(spark, path).count() == 4000)
    assert(Merge.readKeyedSkipping(spark, path, bx).count() ==
      base.filter($"x" <= 7L).count())
    assert(Merge.readKeyedSkipping(spark, path, by).count() ==
      base.filter($"y" <= 7L).count())
    // contrast: LINEAR clustering on (x, y) leaves y unprunable
    val lin = freshDir("zorder_lin")
    Merge.writeKeyed(base, lin, "id", nBuckets = 4,
      statsCols = Seq("x", "y"), filesPerBucket = 8)
    Merge.compactVersion(spark, lin, targetFilesPerBucket = 8,
      clusterBy = Seq("x", "y"))
    val vl = Merge.currentVersion(spark, lin)
    val (ly, ltot) = Merge.planVersionFiles(spark, lin, vl, by)
    assert(ly.size > ltot / 2,
      s"independent y should NOT prune under linear x-first order, " +
      s"got ${ly.size}/$ltot — if this fails the fixture dims correlate")
  }

  test("time travel: versionAsOf resolves latest-at-or-before; vacuum " +
      "moves the retention horizon") {
    val path = freshDir("asof")
    Merge.writeKeyed((0L until 50L).map(i => (i, "v0")).toDF("id", "v"),
      path, "id", nBuckets = 4)
    Merge.upsert(spark, path, Seq((1L, "v1")).toDF("id", "v"), "id", 4)
    Merge.upsert(spark, path, Seq((2L, "v2")).toDF("id", "v"), "id", 4)
    val (t0, t1, t2) = (Merge.commitTime(spark, path, 0),
      Merge.commitTime(spark, path, 1), Merge.commitTime(spark, path, 2))
    assert(t0 < t1 && t1 < t2, "commit stamps strictly increase")
    assert(Merge.versionAsOf(spark, path, t0) == 0L)
    assert(Merge.versionAsOf(spark, path, t1) == 1L)
    // between two commits: the EARLIER one is current at that instant
    assert(Merge.versionAsOf(spark, path, t2 - 1) == 1L)
    assert(Merge.versionAsOf(spark, path, t2 + 60000L) == 2L)
    val asOf1 = Merge.readAsOf(spark, path, t1)
    assert(asOf1.filter($"id" === 1L).select("v").as[String].head() == "v1")
    assert(asOf1.filter($"id" === 2L).select("v").as[String].head() == "v0")
    // before the first commit: explicit error, never a silent snapshot
    val e1 = intercept[IllegalArgumentException] {
      Merge.versionAsOf(spark, path, t0 - 1)
    }
    assert(e1.getMessage.contains("first commit"))
    // vacuum to the last 2 versions: t0 now predates retained history
    Merge.vacuum(spark, path, keepVersions = 2)
    assert(Merge.versionAsOf(spark, path, t1) == 1L, "retained: still fine")
    val e2 = intercept[IllegalArgumentException] {
      Merge.versionAsOf(spark, path, t0)
    }
    assert(e2.getMessage.contains("retained"))
  }

  test("COPY INTO: exactly-once per source file; new files sweep in; " +
      "misuse refused") {
    val path = freshDir("copyinto")
    val landing = Files.createTempDirectory("graft_landing").toFile
    landing.deleteOnExit()
    def land(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = Files.createTempDirectory("graft_land_tmp").toFile
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new File(landing, name).toPath)
      ()
    }
    Merge.writeKeyed((0L until 10L).map(i => (i, "base")).toDF("id", "v"),
      path, "id", nBuckets = 4)
    land("a.parquet", (100L until 120L).map(i => (i, "a")).toDF("id", "v"))
    land("b.parquet", (200L until 230L).map(i => (i, "b")).toDF("id", "v"))
    // _/.-prefixed entries are ignored like Spark's own listing
    Files.write(new File(landing, "_SUCCESS").toPath, Array.empty[Byte])

    val c1 = Merge.copyInto(spark, path, landing.getAbsolutePath)
    assert(c1.filesCopied == 2 && c1.filesSkipped == 0 &&
      c1.rowsCopied == 50)
    assert(Merge.readKeyed(spark, path).count() == 60)
    // idempotent: the second sweep loads nothing and commits nothing
    val c2 = Merge.copyInto(spark, path, landing.getAbsolutePath)
    assert(c2.filesCopied == 0 && c2.filesSkipped == 2 &&
      c2.version == c1.version)
    // a NEW file sweeps in alone; an updated image of an EXISTING key
    // folds as the keyed upsert it is
    land("c.parquet", Seq((300L, "c"), (5L, "updated")).toDF("id", "v"))
    val c3 = Merge.copyInto(spark, path, landing.getAbsolutePath)
    assert(c3.filesCopied == 1 && c3.filesSkipped == 2)
    val t = Merge.readKeyed(spark, path)
    assert(t.count() == 61)
    assert(t.filter($"id" === 5L).select("v").as[String].head() ==
      "updated")
    // the loaded mark rides the data commit: op records copyInto
    assert(Merge.history(spark, path).select("op").as[String]
      .collect().contains("copyInto"))
    // duplicate keys ACROSS fresh files: refused loudly, nothing lands
    land("d1.parquet", Seq((400L, "d1")).toDF("id", "v"))
    land("d2.parquet", Seq((400L, "d2")).toDF("id", "v"))
    val vBefore = Merge.currentVersion(spark, path)
    val dupErr = intercept[IllegalArgumentException] {
      Merge.copyInto(spark, path, landing.getAbsolutePath)
    }
    assert(dupErr.getMessage.contains("more than once"))
    assert(Merge.currentVersion(spark, path) == vBefore)
    new File(landing, "d1.parquet").delete()
    new File(landing, "d2.parquet").delete()
    // schema mismatch: missing and extra columns both name themselves
    land("e.parquet", Seq((500L, 1.0)).toDF("id", "other"))
    val missErr = intercept[IllegalArgumentException] {
      Merge.copyInto(spark, path, landing.getAbsolutePath)
    }
    assert(missErr.getMessage.contains("v") ||
      missErr.getMessage.contains("other"))
  }
}
