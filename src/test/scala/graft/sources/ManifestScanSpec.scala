package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.hadoop.fs.{FileStatus, Path, PathFilter}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** [[ManifestScan]]: the files a log names are read as named, with no
  * listing and no Spark job while the frame is built, with the same rows
  * and `_metadata.file_path` values as `spark.read.parquet`; a deleted
  * file fails the build.
  */
class ManifestScanSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = java.nio.file.Files
    .createTempDirectory(name).toFile.getAbsolutePath

  /** Spark jobs started while `body` runs. A marker job, described
    * `marker`, flushes the listener bus: events arrive in order, so every
    * job started before it has been seen once it has.
    */
  private def jobsDuring[A](body: => A): (A, Seq[String]) = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val marker = s"manifest-scan-marker-${System.nanoTime}"
    @volatile var seen = false
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        if (desc.contains(marker)) seen = true
        else if (!seen) started.add(js.stageInfos.map(_.name).mkString(";"))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 10000000000L
      while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen, "the marker job never reached the listener")
      (out, started.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(l)
  }

  private def countingFs(): Unit =
    spark.sparkContext.hadoopConfiguration.setClass("fs.countlist.impl",
      classOf[CountingListFs], classOf[org.apache.hadoop.fs.FileSystem])

  /** A 40-bucket table: one version of 40 files, past Spark's 32-path
    * threshold for a listing job.
    */
  private def wideTable(name: String): String = {
    val dir = tmp(name)
    Merge.writeKeyed((0L until 400L).map(i => (i, s"v$i", i * 0.5))
      .toDF("k", "s", "x"), dir, "k", nBuckets = 40)
    dir
  }

  private def versionFiles(dir: String, v: Long): Seq[String] =
    Merge.planVersionFiles(spark, dir, v, Nil)._1
      .map(f => new Path(dir, f).toString)

  test("a version of 40 files builds its frame with no Spark job and no " +
      "listing, and reads the rows spark.read.parquet reads") {
    val dir = wideTable("graft_mscan_wide")
    val files = versionFiles(dir, 0L)
    assert(files.size == 40)
    countingFs()
    val counted = s"countlist://$dir"
    CountingListFs.lists.set(0)
    val (df, jobs) = jobsDuring(Merge.readVersion(spark, counted, 0L))
    assert(jobs.isEmpty, s"jobs ran while the frame was built: $jobs")
    assert(CountingListFs.lists.get == 0,
      s"${CountingListFs.lists.get} listStatus/globStatus calls")
    val old = spark.read.option("basePath", dir).parquet(files: _*)
      .drop("__bucket")
    assert(df.schema == old.schema)
    assert(df.collect().map(_.toString).sorted.toSeq ==
      old.collect().map(_.toString).sorted.toSeq)
    assert(Merge.readVersion(spark, dir, 0L).count() == 400L)
  }

  test("_metadata.file_path values equal spark.read's, so deletion " +
      "vectors keyed by either reader's paths hide the same rows") {
    val dir = wideTable("graft_mscan_meta")
    val files = versionFiles(dir, 0L)
    val schema = Merge.versionSchema(spark, dir, 0L).get.add("__bucket", "long")
    def paths(df: org.apache.spark.sql.DataFrame) =
      df.select(col("_metadata.file_path")).distinct()
        .as[String].collect().sorted.toSeq
    val old = paths(spark.read.option("basePath", dir).schema(schema)
      .parquet(files: _*))
    assert(old.size == 40)
    assert(paths(ManifestScan.read(spark, files, Some(dir), Some(schema))) == old)
    // a DV sidecar records the reader's file_path for each deleted row;
    // the sidecar this engine writes names exactly the old reader's paths
    Merge.deleteWhereDV(spark, dir, col("k") < 40L)
    val sidecars = new java.io.File(dir, "_graft_dv").listFiles()
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).toSeq
    val dvFiles = spark.read.schema(DvCodec.SupersetSchema)
      .parquet(sidecars: _*).select("file").as[String].collect().toSet
    assert(dvFiles.nonEmpty && dvFiles.subsetOf(old.toSet), dvFiles)
    val live = Merge.readKeyed(spark, dir).select("k").as[Long].collect().toSet
    assert(live == (40L until 400L).toSet)
  }

  test("a read of files a vacuum deleted fails when the frame is built") {
    val dir = wideTable("graft_mscan_vacuum")
    val v0 = versionFiles(dir, 0L)
    val schema = Some(Merge.versionSchema(spark, dir, 0L).get
      .add("__bucket", "long"))
    assert(Merge.readVersion(spark, dir, 0L).count() == 400L)
    // a clustering is a layout change: every bucket is rewritten
    Merge.compactVersion(spark, dir, clusterBy = Seq("x"))
    val gone = Merge.vacuum(spark, dir, keepVersions = 1)
    assert(v0.forall(f => gone.exists(g => f.endsWith("/" + g))), gone)
    intercept[java.io.FileNotFoundException](
      ManifestScan.read(spark, v0, Some(dir), schema))
    assert(Merge.readKeyed(spark, dir).count() == 400L)
  }

  test("a TxLog state resolved before a vacuum fails to build, not to run") {
    val root = tmp("graft_mscan_txlog")
    val f0 = TxLog.stageInto(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root, "t")
    val s0 = TxLog.commitRetrying(spark, root)(_ => Map("t" -> f0))
    assert(TxLog.readTable(spark, root, s0, "t").get.count() == 2L)
    val f1 = TxLog.stageInto(Seq((3L, "c")).toDF("id", "s"), root, "t")
    TxLog.commitRetrying(spark, root)(_ => Map("t" -> f1))
    assert(TxLog.vacuum(spark, root, Seq("t")).exists(_.endsWith(f0.head)))
    intercept[java.io.FileNotFoundException](
      TxLog.readTable(spark, root, s0, "t"))
  }
}

/** Local file system counting the calls that list or glob. */
class CountingListFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countlist:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingListFs.lists.incrementAndGet(); super.listStatus(f)
  }
  override def globStatus(p: Path): Array[FileStatus] = {
    CountingListFs.lists.incrementAndGet(); super.globStatus(p)
  }
  override def globStatus(p: Path, filter: PathFilter): Array[FileStatus] = {
    CountingListFs.lists.incrementAndGet(); super.globStatus(p, filter)
  }
}

object CountingListFs {
  val lists = new AtomicInteger(0)
}
