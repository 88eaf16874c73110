package graft.sources

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-on-read DELETE via deletion vectors: no data file rewritten,
  * every read path subtracts the vectors, compaction folds them,
  * vacuum reclaims them.
  */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_dv_spec_$tag").toFile
    d.deleteOnExit()
    new File(d, "tbl").getAbsolutePath
  }

  private def dataFiles(path: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(path)).filter(f => f.getPath.contains("__bucket=") &&
        f.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  private def baseDf =
    (0L until 100L).map(i => (i, s"name_$i", i * 10.0))
      .toDF("id", "name", "score")

  test("DV delete rewrites nothing; reads, time travel, lookup all agree") {
    val path = freshDir("basic")
    Merge.writeKeyed(baseDf, path, "id", nBuckets = 8,
      statsCols = Seq("id"))
    val before = dataFiles(path)
    val stats = Merge.deleteWhereDV(spark, path, $"id" % 10 === 3)
    assert(stats.rowsDeleted == 10 && stats.version == 1L)
    assert(dataFiles(path) == before,
      "a DV delete must not touch any data file")
    val cur = Merge.readKeyed(spark, path)
    assert(cur.count() == 90)
    assert(cur.filter($"id" % 10 === 3).count() == 0)
    // time travel: v0 still has every row
    assert(Merge.readVersion(spark, path, 0L).count() == 100)
    // point lookup resolves through the vectors too
    assert(Merge.lookupKey(spark, path, 13L).isEmpty)
    assert(Merge.lookupKey(spark, path, 14L).count() == 1)
    // skipping read: bounds-pruned scan still subtracts the vectors
    val got = Merge.readKeyedWhere(spark, path, $"id" >= 10 && $"id" <= 19)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (10L to 19L).filterNot(_ == 13L))
  }

  test("DV deletes stack; re-deleting deleted rows commits nothing") {
    val path = freshDir("stack")
    Merge.writeKeyed(baseDf, path, "id", nBuckets = 4)
    Merge.deleteWhereDV(spark, path, $"id" < 10)
    Merge.deleteWhereDV(spark, path, $"id" >= 90)
    assert(Merge.readKeyed(spark, path).count() == 80)
    // the find scan is DV-filtered: nothing matches, no commit
    val v = Merge.currentVersion(spark, path)
    val s2 = Merge.deleteWhereDV(spark, path, $"id" < 5)
    assert(s2.rowsDeleted == 0 && Merge.currentVersion(spark, path) == v)
  }

  test("upsert after DV: rewrite folds its bucket, re-insert revives a key") {
    val path = freshDir("upsert")
    Merge.writeKeyed(baseDf, path, "id", nBuckets = 4)
    Merge.deleteWhereDV(spark, path, $"id" % 10 === 3)
    // updating a DV-deleted key re-inserts it (the base merge reads
    // DV-filtered rows, the update lands as a fresh insert)
    Merge.upsert(spark, path,
      Seq((13L, "revived", 1.0)).toDF("id", "name", "score"),
      "id", nBuckets = 4)
    val cur = Merge.readKeyed(spark, path)
    assert(cur.count() == 91)
    assert(cur.filter($"id" === 13L).head().getAs[String]("name")
      == "revived")
    // keys deleted in other (un-rewritten) buckets stay deleted
    assert(cur.filter($"id" === 23L).isEmpty ||
      cur.filter($"id" === 23L).count() == 0)
  }

  test("the change feed emits DV deletes as -1 rows") {
    val path = freshDir("cdf")
    Merge.writeKeyed(baseDf, path, "id", nBuckets = 4)
    Merge.deleteWhereDV(spark, path, $"id" === 7L || $"id" === 8L)
    val feed = Merge.changesBetween(spark, path, 0L, 1L)
      .select("id", "op").as[(Long, Int)].collect().sorted.toSeq
    assert(feed == Seq((7L, -1), (8L, -1)))
    val dialect = Merge.changesBetweenCdf(spark, path, 0L, 1L)
      .select("id", "_change_type").as[(Long, String)].collect()
      .sorted.toSeq
    assert(dialect == Seq((7L, "delete"), (8L, "delete")))
  }

  test("compact folds the vectors; vacuum reclaims the sidecars") {
    val path = freshDir("fold")
    Merge.writeKeyed(baseDf, path, "id", nBuckets = 4)
    Merge.deleteWhereDV(spark, path, $"id" % 10 === 3)
    val preFold = Merge.readKeyed(spark, path).orderBy("id").collect()
    Merge.compactVersion(spark, path, targetFilesPerBucket = 1)
    assert(Merge.readKeyed(spark, path).orderBy("id").collect()
      .sameElements(preFold))
    Merge.vacuum(spark, path, keepVersions = 1)
    val dvDir = new File(path, "_graft_dv")
    def anyParquet(f: File): Boolean =
      f.exists() && (if (f.isDirectory) f.listFiles().exists(anyParquet)
        else f.getName.endsWith(".parquet"))
    assert(!anyParquet(dvDir),
      "folded vectors must be reclaimed once unreferenced")
    assert(Merge.readKeyed(spark, path).count() == 90)
  }

  test("DvCodec round-trips sorted position sets") {
    val cases = Seq[Array[Long]](
      Array.empty[Long],
      Array(0L),
      Array(7L),
      (0L until 1000L).toArray, // dense run: gap-1 encoding
      Array(0L, 1L, 2L, 1000000L, 1000001L, (1L << 40) + 3L),
      (0L until 500L).map(i => i * i * 31L).toArray)
    for (c <- cases) {
      val blob = DvCodec.encode(c)
      assert(DvCodec.decode(blob).sameElements(c),
        s"roundtrip failed for ${c.take(5).mkString(",")}...")
    }
    // dense deletes encode at ~1 byte per position after the first
    val dense = DvCodec.encode((1000L until 101000L).toArray)
    assert(dense.length < 100000L + 16,
      s"dense run must encode ~1 B/pos, got ${dense.length}")
    intercept[IllegalArgumentException] {
      DvCodec.encode(Array(5L, 5L))
    }
    intercept[IllegalArgumentException] {
      DvCodec.decode(Array[Byte](0x7f, 0))
    }
  }

  private def sidecarRows(path: String) =
    spark.read.schema(DvCodec.SupersetSchema)
      .parquet(new File(path, "_graft_dv").getAbsolutePath + "/*")

  test("bitmap sidecars: one row per touched file; count/limit adjust " +
      "from the n column without materializing a position") {
    val path = freshDir("bitmap")
    Merge.writeKeyed(baseDf, path, "id", nBuckets = 8,
      statsCols = Seq("id"))
    val stats = Merge.deleteWhereDV(spark, path, $"id" % 10 < 3)
    assert(stats.rowsDeleted == 30)
    // ground truth: the data files that actually held deleted rows
    val touched = spark.read.parquet(path)
      .withColumn("f", col("_metadata.file_path"))
      .filter($"id" % 10 < 3).select("f").distinct().count()
    val sc = sidecarRows(path).collect()
    assert(sc.length.toLong == touched,
      s"sidecar must hold ONE row per touched file: ${sc.length} vs " +
      s"$touched touched")
    assert(sc.forall(r => !r.isNullAt(3) && r.isNullAt(1) &&
      r.getLong(2) > 0L), "v2 rows carry (n, dv), never a bare pos")
    assert(sc.map(_.getLong(2)).sum == 30L,
      "the n column must carry the exact per-file deleted counts")
    // count adjustment is exact and never touches a data file
    assert(Merge.versionRowCount(spark, path, 1L).contains(70L))
    // LIMIT prefix still sized by net counts under bitmap sidecars
    Merge.lastLimitPrefix = None
    val lim = Merge.readVersionLimited(spark, path, 1L, 20)
    assert(lim.count() >= 20L)
    val (read, total) = Merge.lastLimitPrefix.get
    assert(read < total, s"expected a strict file prefix: $read/$total")
    assert(Merge.readKeyed(spark, path).count() == 70L)
  }

  /** Parquet files per sidecar dir under `_graft_dv/`, by dir name. */
  private def sidecarFiles(path: String): Map[String, Int] =
    Option(new File(path, "_graft_dv").listFiles()).toSeq.flatten
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap

  test("a few-row DV delete and DV upsert each write exactly one sidecar " +
      "file; the deleted rows stay deleted on re-read") {
    val path = freshDir("one_sidecar")
    Merge.writeKeyed(baseDf, path, "id", nBuckets = 8,
      statsCols = Seq("id"))
    val keys = Seq(1L, 22L, 43L, 64L, 85L) // spread over several buckets
    val del = Merge.deleteWhereDV(spark, path, $"id".isin(keys: _*))
    assert(del.rowsDeleted == 5)
    assert(sidecarFiles(path).values.toSeq == Seq(1), sidecarFiles(path))
    val batch = Seq((7L, "upd_7", 7.5), (38L, "upd_38", 38.5),
      (69L, "upd_69", 69.5)).toDF("id", "name", "score")
    val ups = Merge.upsertDV(spark, path, batch, "id", 8)
    assert(ups.rowsUpserted == 3 && ups.rowsDeleted == 3, s"got $ups")
    assert(sidecarFiles(path).values.toSeq == Seq(1, 1), sidecarFiles(path))
    val cur = Merge.readKeyed(spark, path)
    assert(cur.count() == 95L)
    assert(cur.filter($"id".isin(keys: _*)).count() == 0L)
    assert(cur.filter($"id".isin(7L, 38L, 69L)).select("name").as[String]
      .collect().sorted.toSeq == Seq("upd_38", "upd_69", "upd_7"))
    keys.foreach(k => assert(Merge.lookupKey(spark, path, k).isEmpty))
  }

  test("mixed v1 (row) and v2 (bitmap) sidecar commits subtract " +
      "together through every read path") {
    val path = freshDir("mixed")
    Merge.writeKeyed(baseDf, path, "id", nBuckets = 4,
      statsCols = Seq("id"))
    // legacy commit: per-row sidecars, as pre-r16 tables carry
    Merge.deleteWhereDV(spark, path, $"id" < 10, bitmapFormat = false)
    val v1rows = sidecarRows(path).collect()
    assert(v1rows.length == 10 && v1rows.forall(_.isNullAt(3)),
      "the v1 commit must have written per-row sidecars")
    // new commit on the same table: bitmap sidecars
    Merge.deleteWhereDV(spark, path, $"id" >= 90)
    val cur = Merge.readKeyed(spark, path)
    assert(cur.count() == 80L)
    assert(cur.agg(min($"id"), max($"id")).as[(Long, Long)].head()
      == ((10L, 89L)))
    assert(Merge.versionRowCount(spark, path, 2L).contains(80L))
    assert(Merge.lookupKey(spark, path, 5L).isEmpty)
    assert(Merge.lookupKey(spark, path, 95L).isEmpty)
    assert(Merge.lookupKey(spark, path, 50L).count() == 1)
    // the change feed reads both formats' deltas
    val feed = Merge.changesBetween(spark, path, 0L, 2L)
      .select("id", "op").as[(Long, Int)].collect().sorted.toSeq
    assert(feed == ((0L until 10L) ++ (90L until 100L)).map((_, -1)))
    // compaction folds BOTH formats physically
    Merge.compactVersion(spark, path, targetFilesPerBucket = 1)
    assert(Merge.readKeyed(spark, path).count() == 80L)
  }

  test("merge-on-read upsert: NO data file rewritten — old images " +
      "vectored, batch appended; every read path agrees; CDF emits " +
      "-1/+1; narrower contracts refuse loudly") {
    val path = freshDir("mor")
    Merge.writeKeyed(baseDf, path, "id", nBuckets = 4,
      statsCols = Seq("id"))
    val before = dataFiles(path)
    val batch = Seq((5L, "upd_5", 5.5), (13L, "upd_13", 13.5),
      (1000L, "new_1000", 1.0)).toDF("id", "name", "score")
    val st = Merge.upsertDV(spark, path, batch, "id", 4)
    assert(st.rowsUpserted == 3 && st.rowsDeleted == 2 &&
      st.version == 1L, s"got $st")
    val after = dataFiles(path)
    assert(before.forall { case (f, m) => after.get(f).contains(m) },
      "merge-on-read upsert must not rewrite any existing data file")
    assert(after.size > before.size, "the batch must land as new files")
    val cur = Merge.readKeyed(spark, path)
    assert(cur.count() == 101L)
    assert(cur.filter($"id" === 5L).collect().map(_.getAs[String]("name"))
      .toSeq == Seq("upd_5"))
    assert(cur.filter($"id" === 1000L).count() == 1L)
    // exact manifest count: gross (old files keep entries) minus DV
    assert(Merge.versionRowCount(spark, path, 1L).contains(101L))
    // the change feed reads the update as -1 old image / +1 new image
    val feed = Merge.changesBetween(spark, path, 0L, 1L)
      .select("id", "op").as[(Long, Int)].collect().sorted.toSeq
    assert(feed == Seq((5L, -1), (5L, 1), (13L, -1), (13L, 1),
      (1000L, 1)))
    // re-upserting a key vectors exactly the live image (the find
    // scan is DV-filtered): still one row after
    Merge.upsertDV(spark, path,
      Seq((5L, "upd2_5", 5.9)).toDF("id", "name", "score"), "id", 4)
    assert(Merge.lookupKey(spark, path, 5L).collect()
      .map(_.getAs[String]("name")).toSeq == Seq("upd2_5"))
    assert(Merge.readKeyed(spark, path).count() == 101L)
    // compaction folds it all back to pure data files
    Merge.compactVersion(spark, path)
    assert(Merge.readKeyed(spark, path).count() == 101L)
    assert(Merge.lookupKey(spark, path, 5L).collect()
      .map(_.getAs[String]("name")).toSeq == Seq("upd2_5"))
    // no schema evolution on the merge-on-read path
    intercept[IllegalArgumentException] {
      Merge.upsertDV(spark, path,
        Seq((1L, "x", 1.0, true)).toDF("id", "name", "score", "extra"),
        "id", 4)
    }
  }

  test("merge-on-read upsert with TOMBSTONES: a three-way CDC batch " +
      "(update + insert + delete) lands with zero data files " +
      "rewritten; the delete is pure DV positions") {
    val path = freshDir("mor_del")
    Merge.writeKeyed(baseDf, path, "id", nBuckets = 4,
      statsCols = Seq("id"))
    val before = dataFiles(path)
    val batch = Seq(
      (5L, "upd_5", 5.5, false),   // update
      (1000L, "new_1000", 1.0, false), // insert
      (13L, null.asInstanceOf[String], 0.0, true)) // delete
      .toDF("id", "name", "score", "__del")
    val st = Merge.upsertDV(spark, path, batch, "id", 4,
      tombstoneCol = Some("__del"))
    // 2 surviving images appended; 2 old images vectored (5, 13)
    assert(st.rowsUpserted == 2 && st.rowsDeleted == 2 &&
      st.version == 1L, s"got $st")
    val after = dataFiles(path)
    assert(before.forall { case (f, m) => after.get(f).contains(m) },
      "tombstoned merge-on-read upsert must not rewrite any data file")
    val cur = Merge.readKeyed(spark, path)
    assert(cur.count() == 100L) // 100 - 1 deleted + 1 inserted
    assert(cur.filter($"id" === 13L).isEmpty)
    assert(cur.filter($"id" === 5L).collect()
      .map(_.getAs[String]("name")).toSeq == Seq("upd_5"))
    assert(Merge.lookupKey(spark, path, 13L).isEmpty)
    assert(Merge.versionRowCount(spark, path, 1L).contains(100L))
    // CDF: delete emits only -1; update emits -1/+1; insert +1
    val feed = Merge.changesBetween(spark, path, 0L, 1L)
      .select("id", "op").as[(Long, Int)].collect().sorted.toSeq
    assert(feed == Seq((5L, -1), (5L, 1), (13L, -1), (1000L, 1)))
    // a PURE-delete batch appends nothing: file set identical after
    val delOnly = Seq((7L, "", 0.0, true))
      .toDF("id", "name", "score", "__del")
    val st2 = Merge.upsertDV(spark, path, delOnly, "id", 4,
      tombstoneCol = Some("__del"))
    assert(st2.rowsUpserted == 0 && st2.rowsDeleted == 1)
    assert(dataFiles(path).keySet == after.keySet,
      "a pure-delete merge-on-read batch must append no files")
    assert(Merge.readKeyed(spark, path).count() == 99L)
    // compaction folds it all physically
    Merge.compactVersion(spark, path)
    assert(Merge.readKeyed(spark, path).count() == 99L)
    assert(Merge.lookupKey(spark, path, 7L).isEmpty)
  }

  test("ANALYZE under live DVs records GROSS stats: skipping and " +
      "COUNT(*) stay exact, no compaction needed") {
    val path = freshDir("analyze_dv")
    // born without stats
    Merge.writeKeyed(baseDf, path, "id", nBuckets = 4)
    Merge.deleteWhereDV(spark, path, $"id" < 20L)
    // analyze WITH live DVs: must not decline, must record gross rows
    val (v, nFiles) = Merge.analyzeTable(spark, path,
      Seq("id", "bloom:name"))
    assert(v == 2L && nFiles == 4)
    // count adjustment: gross manifest rows minus DV positions
    assert(Merge.versionRowCount(spark, path, v).contains(80L))
    // the analyze-recorded BLOOM prunes a point probe on a non-key
    // column to the file(s) actually holding it (pre-analyze there
    // were no stats at all, so this read would touch all 4 buckets)
    val planned = Merge.planVersionFiles(spark, path, v,
      Seq(Skipping.Bound("name", Some("name_50"), Some("name_50"))))._1
    assert(planned.nonEmpty && planned.size < 4,
      s"bloom probe must prune below all 4 buckets, got $planned")
    val rows = Merge.readKeyed(spark, path)
    assert(rows.count() == 80L)
    assert(rows.filter($"id" === 5L).isEmpty, "deleted row stays dead")
    // gross stats: the bloom still carries deleted keys (sound — it
    // only over-approximates), and live lookups still answer
    assert(Merge.lookupKey(spark, path, 50L).count() == 1L)
  }

  test("compaction folds DVs TARGETED: only DV-touched buckets " +
      "rewrite; fully-inert sidecars drop with a metadata-only commit") {
    val path = freshDir("purge")
    Merge.writeKeyed(baseDf, path, "id", nBuckets = 8)
    // delete ONE row: exactly one bucket carries a live DV position
    Merge.deleteWhereDV(spark, path, $"id" === 5L)
    val st = Merge.compactVersion(spark, path, targetFilesPerBucket = 1)
    assert(st.bucketsRewritten == 1,
      s"a one-bucket delete must fold ONE bucket, not the table: $st")
    val cur = Merge.readKeyed(spark, path)
    assert(cur.count() == 99L && cur.filter($"id" === 5L).count() == 0L)
    // the sidecar list is cleared even though 7/8 buckets kept their
    // original files byte-identical
    Merge.vacuum(spark, path, keepVersions = 1)
    def anyParquet(f: File): Boolean =
      f.exists() && (if (f.isDirectory) f.listFiles().exists(anyParquet)
        else f.getName.endsWith(".parquet"))
    assert(!anyParquet(new File(path, "_graft_dv")),
      "folded vectors must be reclaimable after the targeted purge")

    // INERT sidecars: delete a key, then upsert its bucket (the
    // rewrite folds the bucket, leaving the sidecar entries pointing
    // at a dead file). Compaction then has nothing to rewrite — it
    // must still unpin the sidecars, via a metadata-only commit.
    Merge.deleteWhereDV(spark, path, $"id" === 7L)
    Merge.upsert(spark, path,
      Seq((7L, "back", 7.0)).toDF("id", "name", "score"), "id", 8)
    val v = Merge.currentVersion(spark, path)
    val st2 = Merge.compactVersion(spark, path, targetFilesPerBucket = 1)
    assert(st2.bucketsRewritten == 0 && st2.version == v + 1,
      s"inert sidecars must drop via a metadata-only commit: $st2")
    Merge.vacuum(spark, path, keepVersions = 1)
    assert(!anyParquet(new File(path, "_graft_dv")),
      "inert sidecars must be reclaimable after the unpin commit")
    // id=5 stays deleted from the first fold; id=7 came back upserted
    assert(Merge.readKeyed(spark, path).count() == 99L)
  }

  test("vacuum keeps referenced sidecars, reclaims crashed orphans") {
    val path = freshDir("vac")
    Merge.writeKeyed(baseDf, path, "id", nBuckets = 4)
    Merge.deleteWhereDV(spark, path, $"id" < 10)
    // a crashed deleteWhereDV attempt: sidecar written, never committed.
    // Never-referenced files wait out the ORPHAN floor (they are
    // indistinguishable from an in-flight commit), so age it past it.
    val orphan = new File(path, "_graft_dv/orphan123")
    orphan.mkdirs()
    val of = new File(orphan, "part-0.parquet")
    Files.write(of.toPath, Array[Byte](1, 2, 3))
    of.setLastModified(
      System.currentTimeMillis() - Merge.DefaultOrphanGraceMs - 60000L)
    Merge.vacuum(spark, path, keepVersions = 2) // retains v0 and v1
    assert(!new File(orphan, "part-0.parquet").exists(),
      "the orphan sidecar must be reclaimed")
    assert(Merge.readKeyed(spark, path).count() == 90,
      "the referenced sidecar must survive")
  }
}
