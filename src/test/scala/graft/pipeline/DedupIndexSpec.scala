package graft.pipeline

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted LSH index: continuous-ingestion dedup must admit the
  * same rows a one-shot dedup over the union would, while only ever
  * scanning (not shuffling) the corpus-sized tables.
  */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_dedup_idx").toString + "/idx"

  // long distinctive texts: J(a,b) far below any 0.7 threshold unless
  // texts are equal
  private def doc(i: Long): (Long, String) =
    (i, (0 until 12).map(j => s"w${i}_$j").mkString(" "))

  private val corpus = (0L until 40L).map(doc).toDF("doc_id", "text")

  test("probe drops copies of indexed docs, keeps fresh docs") {
    val path = freshDir()
    DedupIndex.build(corpus, "doc_id", col("text"), path)
    val batch = Seq(
      (100L, corpus.filter($"doc_id" === 3L).select("text").as[String].head()),
      doc(101L), doc(102L)).toDF("doc_id", "text")
    val out = DedupIndex.dedupAgainst(spark, path, batch, "doc_id",
      col("text")).select("doc_id").as[Long].collect().toSet
    assert(out == Set(101L, 102L), s"copy of doc 3 must drop, got $out")
  }

  test("batch-internal duplicates: smaller id survives") {
    val path = freshDir()
    DedupIndex.build(corpus, "doc_id", col("text"), path)
    val t = "a fresh batch text with enough tokens to shingle properly here"
    val batch = Seq((200L, t), (201L, t), doc(202L)).toDF("doc_id", "text")
    val out = DedupIndex.dedupAgainst(spark, path, batch, "doc_id",
      col("text")).select("doc_id").as[Long].collect().toSet
    assert(out == Set(200L, 202L), s"got $out")
  }

  test("append grows the index: a copy of an appended doc is caught") {
    val path = freshDir()
    DedupIndex.build(corpus, "doc_id", col("text"), path)
    val fresh = Seq(doc(300L)).toDF("doc_id", "text")
    val admitted = DedupIndex.dedupAgainst(spark, path, fresh, "doc_id",
      col("text"))
    assert(admitted.count() == 1)
    DedupIndex.append(spark, path, admitted, "doc_id", col("text"))
    // next batch: a copy of 300 (now indexed) and one genuinely new doc
    val batch2 = Seq((400L, doc(300L)._2), doc(401L)).toDF("doc_id", "text")
    val out = DedupIndex.dedupAgainst(spark, path, batch2, "doc_id",
      col("text")).select("doc_id").as[Long].collect().toSet
    assert(out == Set(401L), s"copy of appended doc must drop, got $out")
  }

  test("probing a non-index path fails fast") {
    val e = intercept[IllegalArgumentException] {
      DedupIndex.dominatedBy(spark, freshDir(), corpus, "doc_id",
        col("text"))
    }
    assert(e.getMessage.contains("_meta.json"))
  }

  test("PROPERTY: incremental admit == one-shot dedup over the union " +
      "(random corpora with planted cross/in-batch duplicates)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // random docs from a small word pool so natural near-dups occur,
    // plus planted exact copies across the corpus/batch boundary
    val word = Gen.oneOf((0 until 30).map(i => s"tok$i"))
    val docGen = Gen.listOfN(10, word).map(_.mkString(" "))
    (1 to 4).foreach { seed =>
      def docs(n: Int, seedOff: Int): Seq[String] =
        (0 until n).map(i => docGen(Gen.Parameters.default,
          Seed((seed * 1000 + seedOff * 100 + i).toLong)).get)
      val corpusDocs = docs(25, 0)
      val batchDocs = docs(15, 1) ++
        Seq(corpusDocs(3), corpusDocs(7)) ++ // cross-boundary copies
        Seq(docs(1, 2).head, docs(1, 2).head) // in-batch copy pair
      val corpus = corpusDocs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val batch = batchDocs.zipWithIndex
        .map { case (t, i) => (1000L + i, t) }.toDF("doc_id", "text")
      val path = freshDir()
      DedupIndex.build(corpus, "doc_id", col("text"), path,
        threshold = 0.8)
      val incremental = DedupIndex.dedupAgainst(spark, path, batch,
        "doc_id", col("text")).select("doc_id").as[Long].collect().toSet
      // one-shot truth: greedy smaller-id dedup over corpus ∪ batch,
      // restricted to batch ids (corpus ids are all smaller, so corpus
      // domination and the in-batch rule collapse to the same predicate)
      val oneShot = Dedup.minhashDedup(corpus.unionByName(batch),
          "doc_id", col("text"), threshold = 0.8)
        .filter($"doc_id" >= 1000L)
        .select("doc_id").as[Long].collect().toSet
      assert(incremental == oneShot,
        s"seed $seed: incremental $incremental != one-shot $oneShot")
    }
  }

  test("streamingAdmit replay: re-processing admitted rows is a no-op " +
      "(the index is the state; no checkpoint needed for idempotence)") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft_sdi_spec")
    val inDir = base.resolve("in"); Files.createDirectories(inDir)
    val idx = base.resolve("idx").toString
    DedupIndex.build(corpus, "doc_id", col("text"), idx)
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    def runAll(): Unit = {
      val q = DedupIndex.streamingAdmit(
        spark.readStream
          .schema(org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id LONG, text STRING"))
          .option("maxFilesPerTrigger", 1).json(inDir.toString),
        idx, "doc_id", "text") { surv =>
          admitted ++= surv.select("doc_id").as[Long].collect()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def write(name: String, rows: Seq[(Long, String)], i: Int): Unit = {
      val f = inDir.resolve(name)
      Files.writeString(f, rows.map { case (id, t) =>
        s"""{"doc_id": $id, "text": "$t"}""" }.mkString("\n"))
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    write("b1.json", Seq(doc(600L)), 0)
    runAll()
    assert(admitted.toSeq == Seq(600L))
    // NO checkpoint: the second run replays b1 (600 is now in the index
    // -> self-duplicate, dropped) plus the new file
    write("b2.json", Seq((601L, doc(600L)._2), doc(602L)), 1)
    admitted.clear()
    runAll()
    assert(admitted.toSeq.sorted == Seq(602L),
      s"replayed 600 must drop as its own duplicate, got $admitted")
  }

  test("remove: a tombstoned doc stops suppressing its copies; " +
      "compact drops it physically and preserves probe results") {
    val path = freshDir()
    DedupIndex.build(corpus, "doc_id", col("text"), path)
    val copyOf5 = Seq((700L, corpus.filter($"doc_id" === 5L)
      .select("text").as[String].head())).toDF("doc_id", "text")
    // suppressed while 5 is in the corpus
    assert(DedupIndex.dedupAgainst(spark, path, copyOf5, "doc_id",
      col("text")).count() == 0)
    DedupIndex.remove(spark, path, Seq(5L).toDF("doc_id"), "doc_id")
    // admissible the moment the tombstone lands
    assert(DedupIndex.dedupAgainst(spark, path, copyOf5, "doc_id",
      col("text")).count() == 1)
    // other docs still suppress
    val copyOf6 = Seq((701L, corpus.filter($"doc_id" === 6L)
      .select("text").as[String].head())).toDF("doc_id", "text")
    assert(DedupIndex.dedupAgainst(spark, path, copyOf6, "doc_id",
      col("text")).count() == 0)
    // compact: identical probe behavior; vacuum then drops the
    // superseded pre-compaction files (and the cleared tombstones)
    // physically — the copy-on-write contract split across the two ops
    DedupIndex.compact(spark, path, targetFiles = 2)
    assert(DedupIndex.dedupAgainst(spark, path, copyOf5, "doc_id",
      col("text")).count() == 1)
    assert(DedupIndex.dedupAgainst(spark, path, copyOf6, "doc_id",
      col("text")).count() == 0)
    // dry run first: the plan is reported, nothing moves
    val planned = DedupIndex.vacuum(spark, path, dryRun = true)
    assert(planned.nonEmpty, "superseded pre-compaction files expected")
    assert(spark.read.parquet(s"$path/sigs").count() > 0)
    val reclaimed = DedupIndex.vacuum(spark, path)
    assert(reclaimed == planned,
      "the real vacuum must reclaim exactly the dry run's plan")
    assert(new java.io.File(path, "deletes").listFiles() == null ||
      !new java.io.File(path, "deletes").listFiles()
        .exists(_.getName.endsWith(".parquet")),
      "vacuum must reclaim the cleared tombstone files")
    assert(spark.read.parquet(s"$path/sigs")
      .filter($"id" === 5L).count() == 0,
      "compact+vacuum must drop the rows physically")
    // probes still work off the vacuumed (single-version) index
    assert(DedupIndex.dedupAgainst(spark, path, copyOf6, "doc_id",
      col("text")).count() == 0)
  }

  test("compact is snapshot-isolated: a probe resolved pre-compact " +
      "reads the pre-compact files and agrees with a fresh probe") {
    val path = freshDir()
    DedupIndex.build(corpus, "doc_id", col("text"), path)
    val batch = Seq(
      (800L, corpus.filter($"doc_id" === 9L).select("text").as[String]
        .head()), doc(801L)).toDF("doc_id", "text")
    // resolve the probe plan (and its file set) BEFORE the compaction
    val preResolved = DedupIndex.dedupAgainst(spark, path, batch,
      "doc_id", col("text"))
    DedupIndex.compact(spark, path, targetFiles = 1)
    // old files are still on disk (no vacuum yet): the pre-resolved
    // plan evaluates against its snapshot — never a torn mix
    assert(preResolved.select("doc_id").as[Long].collect().toSet ==
      Set(801L))
    assert(DedupIndex.dedupAgainst(spark, path, batch, "doc_id",
      col("text")).select("doc_id").as[Long].collect().toSet == Set(801L))
  }

  test("crash mid-compact (after stage, before commit) leaves the " +
      "index fully readable; vacuum reclaims the orphans") {
    val path = freshDir()
    DedupIndex.build(corpus, "doc_id", col("text"), path)
    val batch = Seq(
      (900L, corpus.filter($"doc_id" === 2L).select("text").as[String]
        .head()), doc(901L)).toDF("doc_id", "text")
    val sigFilesBefore = new java.io.File(path, "sigs").listFiles()
      .count(_.getName.endsWith(".parquet"))
    DedupIndex.compactFence = () => throw new RuntimeException("boom")
    try intercept[RuntimeException] {
      DedupIndex.compact(spark, path, targetFiles = 2)
    } finally DedupIndex.compactFence = () => ()
    // the staged-but-uncommitted files are orphans; the committed state
    // is untouched and probes behave exactly as before the crash
    assert(DedupIndex.dedupAgainst(spark, path, batch, "doc_id",
      col("text")).select("doc_id").as[Long].collect().toSet == Set(901L))
    // a later compact succeeds; vacuum sweeps both the orphans and the
    // superseded originals. Never-referenced files normally wait out
    // the orphan floor (they could be a commit mid-publish) —
    // orphanGraceMs = 0 is the operator's "no writer is live" assertion
    DedupIndex.compact(spark, path, targetFiles = 2)
    DedupIndex.vacuum(spark, path, orphanGraceMs = 0L)
    val sigFilesAfter = new java.io.File(path, "sigs").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(sigFilesAfter <= 2,
      s"vacuum must leave only the compacted files " +
        s"($sigFilesBefore before, $sigFilesAfter after)")
    assert(DedupIndex.dedupAgainst(spark, path, batch, "doc_id",
      col("text")).select("doc_id").as[Long].collect().toSet == Set(901L))
  }

  test("compact racing a concurrent append retries and loses nothing") {
    val path = freshDir()
    DedupIndex.build(corpus, "doc_id", col("text"), path)
    // the fence fires between compact's stage and its commit: an append
    // lands first, so compact's first claim loses and it must redo the
    // rewrite INCLUDING the appended rows
    var fired = false
    DedupIndex.compactFence = () => {
      if (!fired) {
        fired = true
        DedupIndex.append(spark, path,
          Seq(doc(950L)).toDF("doc_id", "text"), "doc_id", col("text"))
      }
    }
    try DedupIndex.compact(spark, path, targetFiles = 2)
    finally DedupIndex.compactFence = () => ()
    assert(fired)
    DedupIndex.vacuum(spark, path)
    // the appended doc survived the race: its copy is still suppressed
    val copyOf950 = Seq((951L, doc(950L)._2)).toDF("doc_id", "text")
    assert(DedupIndex.dedupAgainst(spark, path, copyOf950, "doc_id",
      col("text")).count() == 0,
      "append that won the race must not be lost by the compaction")
  }

  test("large-batch fallback: shuffle-join probe admits exactly what " +
      "the broadcast probe admits") {
    val path = freshDir()
    DedupIndex.build(corpus, "doc_id", col("text"), path)
    val batch = Seq(
      (850L, corpus.filter($"doc_id" === 4L).select("text").as[String]
        .head()),
      doc(851L), (852L, doc(851L)._2), doc(853L)).toDF("doc_id", "text")
    val auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bc = DedupIndex.dedupAgainst(spark, path, batch, "doc_id",
        col("text"))
      val sh = DedupIndex.dedupAgainst(spark, path, batch, "doc_id",
        col("text"), maxProbeBroadcastBytes = 0L)
      // the explicit hints keep the normal path broadcast even with the
      // auto threshold off; the gated path must NOT broadcast the batch
      val bcPlan = DedupIndex.dominatedBy(spark, path, batch, "doc_id",
        col("text")).queryExecution.executedPlan.toString
      val shPlan = DedupIndex.dominatedBy(spark, path, batch, "doc_id",
        col("text"), maxProbeBroadcastBytes = 0L)
        .queryExecution.executedPlan.toString
      assert(bcPlan.contains("BroadcastHashJoin"), s"\n$bcPlan")
      assert(!shPlan.contains("BroadcastHashJoin"),
        s"gated path must not broadcast:\n$shPlan")
      assert(bc.select("doc_id").as[Long].collect().toSet ==
        sh.select("doc_id").as[Long].collect().toSet)
      assert(sh.select("doc_id").as[Long].collect().toSet ==
        Set(851L, 853L))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto)
  }

  test("probe plan: corpus tables broadcast-joined, never sort-merged") {
    val path = freshDir()
    DedupIndex.build(corpus, "doc_id", col("text"), path)
    val probe = DedupIndex.dominatedBy(spark, path,
      Seq(doc(500L)).toDF("doc_id", "text"), "doc_id", col("text"))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-sized side must not shuffle:\n$plan")
  }

  test("two REAL-THREAD racing appends both land; probes see the union") {
    val path = freshDir()
    DedupIndex.build(corpus, "doc_id", col("text"), path)
    val survA = Seq(doc(200L), doc(201L)).toDF("doc_id", "text")
    val survB = Seq(doc(300L), doc(301L)).toDF("doc_id", "text")
    // hold BOTH committers at the same parent until each has staged its
    // files, so the manifest claim genuinely races (the MergeSpec
    // commit-fence pattern); the loser's retry passes straight through
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.sources.TxLog.commitFence = () => {
      if (calls.incrementAndGet() <= 2) {
        barrier.await(30, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    }
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val a = Future(DedupIndex.append(spark, path, survA, "doc_id",
        col("text")))
      val b = Future(DedupIndex.append(spark, path, survB, "doc_id",
        col("text")))
      val (va, vb) = (Await.result(a, 120.seconds),
        Await.result(b, 120.seconds))
      // one claimed v1, the loser re-resolved and claimed v2 — a
      // linear history containing BOTH appends
      assert(Set(va, vb) == Set(1L, 2L), s"got versions ($va, $vb)")
    } finally graft.sources.TxLog.commitFence = () => ()
    // a probe against the final state catches copies from BOTH racing
    // batches — neither append clobbered the other's files
    val probe = Seq(
      (1200L, doc(200L)._2), (1301L, doc(301L)._2), doc(999L))
      .toDF("doc_id", "text")
    val admitted = DedupIndex.dedupAgainst(spark, path, probe,
      "doc_id", col("text")).select("doc_id").as[Long].collect().sorted
    assert(admitted.toSeq == Seq(999L),
      s"both appends must be visible, admitted $admitted")
  }

  test("IvfPq: racing appends both land; a persisted probe sees both") {
    import graft.pipeline.Similarity
    val dir = Files.createTempDirectory("graft_ivfpq_race").toString
    val path = s"$dir/idx"
    def vec(seed: Int): Array[Float] =
      Array.tabulate(8)(d => math.sin(seed * 31 + d).toFloat)
    val corpus = (0 until 64).map(i => (i.toLong, vec(i)))
      .toDF("id", "emb")
    Similarity.IvfPq.save(
      Similarity.IvfPq.build(corpus, "id", "emb", dim = 8, cells = 4,
        m = 4, kSub = 16),
      path)
    val addA = Seq((1000L, vec(1000))).toDF("id", "emb")
    val addB = Seq((2000L, vec(2000))).toDF("id", "emb")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.sources.TxLog.commitFence = () => {
      if (calls.incrementAndGet() <= 2) {
        barrier.await(30, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    }
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val a = Future(Similarity.IvfPq.append(addA, "id", "emb", path))
      val b = Future(Similarity.IvfPq.append(addB, "id", "emb", path))
      val (va, vb) = (Await.result(a, 120.seconds),
        Await.result(b, 120.seconds))
      assert(Set(va, vb) == Set(1L, 2L), s"got versions ($va, $vb)")
    } finally graft.sources.TxLog.commitFence = () => ()
    // the race test asserts VISIBILITY (both appends' files are read by
    // a post-race probe), not PQ ranking quality — which its own specs
    // pin — so probe every cell with k covering the whole index
    for (id <- Seq(1000L, 2000L)) {
      val q = Seq((0L, vec(id.toInt))).toDF("qid", "emb")
      val got = Similarity.IvfPq.topKPersisted(spark, path, q, "qid",
        "emb", k = 100, nProbe = 4)
        .select("neighbor_id").as[Long].collect()
      assert(got.contains(id),
        s"append of $id must be probe-visible, got ${got.toSeq}")
    }
  }

  // 40-token texts: one changed word keeps 35 of 38 shingles, an estimate
  // well above the 0.7 default threshold
  private def longDoc(i: Long): String =
    (0 until 40).map(j => s"v${i}_$j").mkString(" ")
  private def nearDup(t: String): String =
    t.split(" ").updated(20, "changed").mkString(" ")

  private def writeBatch(dir: java.nio.file.Path, name: String,
      rows: Seq[(Long, String)], i: Int): Unit = {
    val f = dir.resolve(name)
    Files.writeString(f, rows.map { case (id, t) =>
      s"""{"doc_id": $id, "text": "$t"}""" }.mkString("\n"))
    // file sources order new files by modification time
    f.toFile.setLastModified(1700000000000L + i * 60000L)
  }

  private val docSchema =
    org.apache.spark.sql.types.StructType.fromDDL("doc_id LONG, text STRING")

  /** Drain every new file under `in` through one AvailableNow query. */
  private def drain(in: String, idx: String, checkpoint: String)(
      sink: (org.apache.spark.sql.DataFrame, Long) => Unit): Unit =
    DedupIndex.streamingAdmitBatches(
        spark.readStream.schema(docSchema).option("maxFilesPerTrigger", 1)
          .json(in),
        idx, "doc_id", "text")(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start().awaitTermination()

  test("streaming admission opens each batch file exactly once") {
    val base = Files.createTempDirectory("graft_sdi_scan")
    val in = base.resolve("in"); Files.createDirectories(in)
    val idx = base.resolve("idx").toString
    DedupIndex.build(corpus, "doc_id", col("text"), idx)
    writeBatch(in, "b0.json", Seq((1000L, longDoc(1000L)),
      (1001L, nearDup(longDoc(1000L))), (1002L, corpus
        .filter($"doc_id" === 3L).select("text").as[String].head())), 0)
    writeBatch(in, "b1.json", Seq((1100L, longDoc(1100L)),
      (1101L, nearDup(longDoc(1000L)))), 1)
    writeBatch(in, "b2.json", Seq((1200L, longDoc(1200L))), 2)
    spark.sparkContext.hadoopConfiguration.setClass("fs.countopen.impl",
      classOf[CountingOpenFs], classOf[org.apache.hadoop.fs.FileSystem])
    CountingOpenFs.opens.clear()
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    drain(s"countopen://$in", idx, base.resolve("ckpt").toString) {
      (surv, _) => admitted ++= surv.select("doc_id").as[Long].collect()
    }
    assert(admitted.toSet == Set(1000L, 1100L, 1200L), s"got $admitted")
    val opens = CountingOpenFs.opens.asScala.toMap.map { case (p, n) =>
      new org.apache.hadoop.fs.Path(p).getName -> n.sum }
    assert(opens == Map("b0.json" -> 1L, "b1.json" -> 1L, "b2.json" -> 1L),
      s"each batch file must be read once per admission, got $opens")
  }

  test("streamed admission == dedupAgainst + append, batch by batch: " +
      "same admitted ids, same sigs and bands rows") {
    val base = Files.createTempDirectory("graft_sdi_equiv")
    val in = base.resolve("in"); Files.createDirectories(in)
    val streamed = base.resolve("streamed").toString
    val stepped = base.resolve("stepped").toString
    DedupIndex.build(corpus, "doc_id", col("text"), streamed)
    DedupIndex.build(corpus, "doc_id", col("text"), stepped)
    val copyOf3 = corpus.filter($"doc_id" === 3L).select("text")
      .as[String].head()
    val batches = Seq(
      // in-batch near-dup (1003 of 1001) and a copy of an indexed doc
      Seq((1000L, longDoc(1000L)), (1001L, longDoc(1001L)),
        (1002L, copyOf3), (1003L, nearDup(longDoc(1001L)))),
      // cross-batch near-dup of 1000 (admitted by the batch before),
      // plus an in-batch pair
      Seq((1100L, nearDup(longDoc(1000L))), (1101L, longDoc(1101L)),
        (1102L, longDoc(1101L)), (1103L, longDoc(1103L))),
      // exact copy of an earlier survivor, and a second near-dup of
      // 1001 (whose first near-dup 1003 was dropped in batch 0)
      Seq((1200L, longDoc(1101L)), (1201L, nearDup(longDoc(1001L))),
        (1202L, longDoc(1202L))))
    def indexRows(path: String) = {
      val st = graft.sources.TxLog.currentState(spark, path).get
      def rows(t: String) = graft.sources.TxLog.readTable(spark, path, st, t)
        .get.collect().map(_.toSeq).toSet
      (rows("sigs"), rows("bands"))
    }
    batches.zipWithIndex.foreach { case (rows, i) =>
      writeBatch(in, s"b$i.json", rows, i)
      val viaStream = scala.collection.mutable.ArrayBuffer.empty[Long]
      drain(in.toString, streamed, base.resolve("ckpt").toString) {
        (surv, _) => viaStream ++= surv.select("doc_id").as[Long].collect()
      }
      val batch = spark.read.schema(docSchema)
        .json(in.resolve(s"b$i.json").toString)
      val surv = DedupIndex.dedupAgainst(spark, stepped, batch, "doc_id",
        col("text")).localCheckpoint(true)
      DedupIndex.append(spark, stepped, surv, "doc_id", col("text"))
      val viaSteps = surv.select("doc_id").as[Long].collect().toSet
      assert(viaStream.toSet == viaSteps, s"batch $i")
      assert(indexRows(streamed) == indexRows(stepped), s"batch $i")
    }
    // the planted duplicates really were dropped
    val (sigs, _) = indexRows(streamed)
    val ids = sigs.map(_.head.asInstanceOf[Long])
    assert(ids.filter(_ >= 1000L) ==
      Set(1000L, 1001L, 1101L, 1103L, 1202L), s"got $ids")
  }

  test("admission edge rows: null and short texts reach the sink and " +
      "add no index rows; the sink sees the batch schema; the in-batch " +
      "pass still reports dropped buckets") {
    val path = freshDir()
    DedupIndex.build(corpus, "doc_id", col("text"), path)
    // id not the first column, plus a column the engine never reads
    val crowd = "one text shared by more rows than an lsh bucket holds"
    val batch = (Seq[(String, Long, String)](
        (null, 2000L, "null"), ("two words", 2001L, "short"),
        (longDoc(2002L), 2002L, "doc"),
        (nearDup(longDoc(2002L)), 2003L, "near")) ++
      (0 until 1001).map(i => (crowd, 3000L + i, "crowd")))
      .toDF("text", "doc_id", "src")
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    val sigsBefore = spark.read.parquet(s"$path/sigs").count()
    DedupIndex.admitBatch(batch, path, "doc_id", col("text"), 0L,
      DedupIndex.DefaultProbeBroadcastBytes) { (surv, _) => seen += surv }
    assert(seen.size == 1)
    assert(seen.head.schema == batch.schema,
      s"sink must see exactly the batch columns: ${seen.head.schema}")
    val got = seen.head.select("doc_id").as[Long].collect().toSet
    assert(got.contains(2000L) && got.contains(2001L) &&
      got.contains(2002L) && !got.contains(2003L), s"got $got")
    // the crowd's buckets overflow maxBucket in every band: its pairs are
    // lost (all copies survive) and the drop is reported, not silent
    assert(Dedup.lastDroppedBuckets == 16L)
    assert(got.count(_ >= 3000L) == 1001)
    val st = graft.sources.TxLog.currentState(spark, path).get
    val sigIds = graft.sources.TxLog.readTable(spark, path, st, "sigs").get
      .select("id").as[Long].collect()
    val bandIds = graft.sources.TxLog.readTable(spark, path, st, "bands")
      .get.select("id").as[Long].collect().toSet
    assert(sigIds.length == sigsBefore + 1 + 1001)
    assert(!sigIds.contains(2000L) && !sigIds.contains(2001L))
    assert(!bandIds.contains(2000L) && !bandIds.contains(2001L))
  }

  test("admission plan: one source scan, broadcast probe at the batch's " +
      "own size estimate, shuffle one byte below it") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      SortMergeJoinExec}
    val dir = Files.createTempDirectory("graft_sdi_plan")
    writeBatch(dir, "b.json", Seq((1300L, longDoc(1300L)),
      (1301L, nearDup(longDoc(1300L))), (1302L, corpus
        .filter($"doc_id" === 3L).select("text").as[String].head())), 0)
    val batch = spark.read.schema(docSchema)
      .json(dir.resolve("b.json").toString)
    val est = batch.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val helper = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    // join strategies are the planner's choice: read them off the plan
    // before AQE's runtime rewrites (which may, say, drop a join whose
    // side turned out empty)
    def has(plans: Seq[SparkPlan])(pf: PartialFunction[SparkPlan, _]) =
      plans.exists { p =>
        val planned = p match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => a.inputPlan
          case other => other
        }
        planned.collect(pf).nonEmpty
      }
    // every physical plan one admission (into a fresh index) executes,
    // via a query listener; a marker query flushes the (asynchronous,
    // ordered) listener bus
    def admissionPlans(maxProbe: Long): Seq[SparkPlan] = {
      val path = freshDir()
      DedupIndex.build(corpus, "doc_id", col("text"), path)
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
      val flushed = new java.util.concurrent.CountDownLatch(1)
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit =
          if (qe.analyzed.output.exists(_.name == "graft_flush_marker"))
            flushed.countDown()
          else plans.add(qe.executedPlan)
        def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        DedupIndex.admitBatch(batch, path, "doc_id", col("text"), 0L,
          maxProbe) { (surv, _) => surv.select("doc_id").collect(); () }
        spark.range(1).toDF("graft_flush_marker").collect()
        assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally spark.listenerManager.unregister(listener)
      plans.asScala.toSeq
    }
    val plans = admissionPlans(DedupIndex.DefaultProbeBroadcastBytes)
    val shown = plans.mkString("\n")
    // the scans are read off the executed plans: what actually ran
    val scans = plans.flatMap(p => helper.collectWithSubqueries(p) {
      case s: FileSourceScanExec
          if s.relation.location.inputFiles.exists(_.endsWith("b.json")) => s
    })
    assert(scans.size == 1, s"source scans:\n$shown")
    assert(has(plans) { case j: BroadcastHashJoinExec => j },
      s"no broadcast probe:\n$shown")
    assert(!has(plans) { case j: SortMergeJoinExec => j },
      s"a small batch must not sort-merge:\n$shown")
    // with Spark's own broadcast threshold off, only the probe's hints
    // broadcast: on at exactly the batch's estimate, off one byte below
    val auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val atEst = admissionPlans(est)
      assert(has(atEst) { case j: BroadcastHashJoinExec => j },
        s"no broadcast probe at the estimate:\n${atEst.mkString("\n")}")
      val below = admissionPlans(est - 1)
      assert(!has(below) { case j: BroadcastHashJoinExec => j },
        s"one byte below the batch's estimate must not broadcast:\n" +
          below.mkString("\n"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto)
  }
}

/** Local FS under its own scheme that counts `open` calls per path — the
  * seam the scan-once test above reads. Everything else behaves like
  * the local disk.
  */
class CountingOpenFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countopen:///")
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingOpenFs.opens.computeIfAbsent(f.toUri.getPath,
      _ => new java.util.concurrent.atomic.LongAdder).increment()
    super.open(f, bufferSize)
  }
}

object CountingOpenFs {
  val opens = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.atomic.LongAdder]
}
