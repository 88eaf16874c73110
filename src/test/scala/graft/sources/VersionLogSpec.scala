package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path

class VersionLogSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): java.io.File = {
    val d = Files.createTempDirectory(s"graft_vlog_$tag").toFile
    d.deleteOnExit()
    d
  }

  private def fsOf(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("bounded memo: at its cap the least recently used entry goes, " +
      "never the whole map") {
    val m = new VersionLog.Bounded[Int, String](4)
    (1 to 4).foreach(i => m.put(i, s"v$i"))
    assert(m.get(1).contains("v1")) // touch 1: 2 is now the eldest
    m.put(5, "v5")
    assert(m.size == 4)
    assert(m.get(2).isEmpty)
    assert(Seq(1, 3, 4, 5).forall(k => m.get(k).contains(s"v$k")))
    (6 to 100).foreach(i => m.put(i, s"v$i"))
    assert(m.size == 4)
    assert((97 to 100).forall(k => m.get(k).contains(s"v$k")))
  }

  test("manifest memo purge matches whole path components") {
    val base = tmp("purge")
    val fs = fsOf(new Path(base.getAbsolutePath))
    val roots = Seq("b", "bc").map(n => new Path(base.getAbsolutePath, n))
    roots.foreach(r => VersionLog.claim(fs,
      VersionLog.versionFile(new Path(r, "_log"), 0L),
      "{}".getBytes("UTF-8")))
    val memo = new VersionLog.Memo[String]
    val parses = collection.mutable.ArrayBuffer.empty[Path]
    def read(r: Path) = memo.read(fs, new Path(r, "_log"), 0L) { t =>
      parses += r; Some(t)
    }
    roots.foreach(read)
    roots.foreach(read)
    assert(parses == roots) // second round: all memo hits
    memo.purge(roots.head) // ".../b" must not purge the sibling ".../bc"
    roots.foreach(read)
    assert(parses == roots :+ roots.head)
  }

  test("partitioned schema-memo keys separate the paths they digest") {
    val b = Some("/idx/codes")
    assert(TxLog.schemaKey(Seq("ab", "c"), b) !=
      TxLog.schemaKey(Seq("a", "bc"), b))
    assert(TxLog.schemaKey(Seq("ab", "c"), b) ==
      TxLog.schemaKey(Seq("ab", "c"), b))
  }

  test("the claim: a taken target is a LostRace, its bytes untouched") {
    val dir = new Path(tmp("claim").getAbsolutePath, "_log")
    val fs = fsOf(dir)
    val v0 = VersionLog.versionFile(dir, 0L)
    VersionLog.claim(fs, v0, "first".getBytes("UTF-8"))
    intercept[LostRace] {
      VersionLog.claim(fs, v0, "second".getBytes("UTF-8"))
    }
    assert(VersionLog.readSmallUtf8(fs, v0) == "first")
    // the claim's temp file never shows up as a version
    assert(VersionLog.versions(fs, dir) == Seq(0L))
  }

  test("the retry loop: a typed exhaustion after maxRetries + 1 losses") {
    val lost = new LostRace(new Path("/t/_log/v1.json"))
    var calls = 0
    val e = intercept[RetriesExhausted] {
      VersionLog.retrying(2, n => s"op lost the commit race $n times at /t")
        { _ => calls += 1; throw lost }
    }
    assert(calls == 3)
    assert(e.getMessage == "op lost the commit race 3 times at /t")
    assert(e.isInstanceOf[IllegalStateException])
    assert(VersionLog.retrying(5, _ => "unused") { n =>
      if (n < 2) throw lost else n
    } == 2)
  }

  test("racing taggers: exactly one wins a tag name, and it keeps its " +
      "version") {
    val path = new java.io.File(tmp("tags"), "t").getAbsolutePath
    Merge.writeKeyed(Seq((1L, "a")).toDF("id", "s"), path, "id", 2)
    (1 to 4).foreach(i => Merge.upsert(spark, path,
      Seq((1L, s"a$i")).toDF("id", "s"), "id", 2))
    (1 to 5).foreach { round =>
      val tag = s"rel-$round"
      val start = new java.util.concurrent.CountDownLatch(1)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[
        Either[Throwable, Long]]()
      val threads = (0 until 5).map { v =>
        new Thread(() => {
          start.await()
          results.add(
            try { Merge.tagVersion(spark, path, tag, v.toLong); Right(v) }
            catch { case e: IllegalArgumentException => Left(e) })
          ()
        })
      }
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val winners = results.asScala.collect { case Right(v) => v }.toSeq
      assert(winners.size == 1, s"round $round: winners $winners")
      assert(results.asScala.collect { case Left(e) => e.getMessage }
        .forall(_.contains("already exists")))
      assert(Merge.tagVersionOf(spark, path, tag) == winners.head)
    }
    assert(Merge.tags(spark, path).count() == 5L)
  }
}
