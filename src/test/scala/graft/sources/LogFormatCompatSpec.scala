package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.pipeline.IncrementalAgg
import org.apache.hadoop.fs.Path

/** Manifests written before the shared version-log core still read: each
  * golden literal below is the exact bytes an earlier build of the
  * engine wrote. Each test checks that the bytes parse to the expected
  * state and that today's writer re-emits them byte for byte.
  */
class LogFormatCompatSpec extends SparkSpec {
  import spark.implicits._

  private def put(root: java.io.File, rel: String, bytes: Array[Byte]) = {
    val f = new java.io.File(root, rel)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, bytes)
  }
  private def tmp(tag: String): java.io.File = {
    val d = Files.createTempDirectory(s"graft_compat_$tag").toFile
    d.deleteOnExit()
    d
  }
  private def utf8(s: String) = s.getBytes("UTF-8")
  private def text(b: Array[Byte]) = new String(b, "UTF-8")

  // a keyed 2-bucket table with stats on (id, name) — a tab inside a
  // stats value — then one txn-stamped upsert
  private val inlineV0 =
      """{"version":0,"parent":-1,"files":["__bucket=0/part-00001-12fb3beb-""" +
      """f3de-4d68-bec1-eaf438f5a54d.c000.snappy.parquet","__bucket=1/part-""" +
      """00001-12fb3beb-f3de-4d68-bec1-eaf438f5a54d.c000.snappy.parquet"],"d""" +
      """ataSchema":"id BIGINT NOT NULL,name STRING,v DOUBLE NOT NULL","key""" +
      """Col":"id","nBuckets":2,"statsCols":["id","name"],"stats":[{"f":"__""" +
      """bucket=0/part-00001-12fb3beb-f3de-4d68-bec1-eaf438f5a54d.c000.snap""" +
      """py.parquet","c":"id","mn":"1","mx":"1","r":1,"nu":0,"sm":"1"},{"f":"_""" +
      """_bucket=0/part-00001-12fb3beb-f3de-4d68-bec1-eaf438f5a54d.c000.sna""" +
      """ppy.parquet","c":"name","mn":"a\tb","mx":"a\tb","r":1,"nu":0},{"f":"_""" +
      """_bucket=1/part-00001-12fb3beb-f3de-4d68-bec1-eaf438f5a54d.c000.sna""" +
      """ppy.parquet","c":"id","mn":"2","mx":"3","r":2,"nu":0,"sm":"5"},{"f":"_""" +
      """_bucket=1/part-00001-12fb3beb-f3de-4d68-bec1-eaf438f5a54d.c000.sna""" +
      """ppy.parquet","c":"name","mn":"c","mx":"d","r":2,"nu":0}],"ts":1792""" +
      """253377271,"op":"write","keySorted":true}"""
  private val inlineV1 =
      """{"version":1,"parent":0,"files":["__bucket=0/part-00001-12fb3beb-f""" +
      """3de-4d68-bec1-eaf438f5a54d.c000.snappy.parquet","__bucket=1/part-0""" +
      """0000-a31b8b7d-154d-426d-97dc-8e331c17b7f8.c000.snappy.parquet"],"d""" +
      """ataSchema":"id BIGINT NOT NULL,name STRING,v DOUBLE NOT NULL","txn""" +
      """App":"app","txnBatch":7,"keyCol":"id","nBuckets":2,"statsCols":["i""" +
      """d","name"],"stats":[{"f":"__bucket=0/part-00001-12fb3beb-f3de-4d68""" +
      """-bec1-eaf438f5a54d.c000.snappy.parquet","c":"id","mn":"1","mx":"1","r":""" +
      """1,"nu":0,"sm":"1"},{"f":"__bucket=0/part-00001-12fb3beb-f3de-4d68-""" +
      """bec1-eaf438f5a54d.c000.snappy.parquet","c":"name","mn":"a\tb","mx":"a""" +
      """\tb","r":1,"nu":0},{"f":"__bucket=1/part-00000-a31b8b7d-154d-426d-""" +
      """97dc-8e331c17b7f8.c000.snappy.parquet","c":"id","mn":"2","mx":"4","r":""" +
      """3,"nu":0,"sm":"9"},{"f":"__bucket=1/part-00000-a31b8b7d-154d-426d-""" +
      """97dc-8e331c17b7f8.c000.snappy.parquet","c":"name","mn":"c","mx":"e","r":""" +
      """3,"nu":0}],"ts":1792253379099,"op":"upsert","rowsUp":1,"rowsDel":0""" +
      ""","keySorted":true}"""

  test("golden: a Merge inline manifest reads and re-emits byte for byte") {
    val root = tmp("inline")
    put(root, "_graft_log/v0.json", utf8(inlineV0))
    put(root, "_graft_log/v1.json", utf8(inlineV1))
    val path = root.getAbsolutePath
    assert(Merge.currentVersion(spark, path) == 1L)
    assert(Merge.tableLayout(spark, path).contains(("id", 2)))
    assert(Merge.tableStatsCols(spark, path) == Seq("id", "name"))
    assert(Merge.latestTxn(spark, path, "app").contains(7L))
    assert(Merge.history(spark, path).orderBy("version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getInt(4), r.getLong(5), r.getLong(6))).toSeq == Seq(
      (0L, -1L, "write", 1792253377271L, 2, -1L, -1L),
      (1L, 0L, "upsert", 1792253379099L, 2, 1L, 0L)))
    val names = Merge.versionFileStats(spark, path, 1L)
      .filter(_.col == "name").map(e => (e.min, e.max, e.rows))
    assert(names == Seq((Some("a\tb"), Some("a\tb"), 1L),
      (Some("c"), Some("e"), 3L)))
    val r = new Path(path)
    Seq(0L -> inlineV0, 1L -> inlineV1).foreach { case (v, golden) =>
      assert(text(Merge.manifestBody(Merge.readManifest(spark, r, v))) ==
        golden)
    }
  }

  // the same rows with one-bucket manifest shards
  private val shardedV0 =
      """{"version":0,"parent":-1,"shardSpan":1,"shards":[{"i":0,"id":"s0_1""" +
      """edb0986886fa74c626612e67401f5ba.json"},{"i":1,"id":"s1_7de6ac2de25""" +
      """4a5682e38c309fe3c9f59.json"}],"dataSchema":"id BIGINT NOT NULL,nam""" +
      """e STRING,v DOUBLE NOT NULL","keyCol":"id","nBuckets":2,"statsCols":""" +
      """["id"],"ts":1792253379918,"op":"write","keySorted":true}"""
  private val shard0 = "s0_1edb0986886fa74c626612e67401f5ba.json"
  private val shard0Body =
      """{"files":["__bucket=0/part-00001-a98db86e-c813-40ef-930a-a52d70a43""" +
      """5ed.c000.snappy.parquet"],"stats":[{"f":"__bucket=0/part-00001-a98""" +
      """db86e-c813-40ef-930a-a52d70a435ed.c000.snappy.parquet","c":"id","m""" +
      """n":"1","mx":"1","r":1,"nu":0,"sm":"1"}]}"""
  private val shard1 = "s1_7de6ac2de254a5682e38c309fe3c9f59.json"
  private val shard1Body =
      """{"files":["__bucket=1/part-00001-a98db86e-c813-40ef-930a-a52d70a43""" +
      """5ed.c000.snappy.parquet"],"stats":[{"f":"__bucket=1/part-00001-a98""" +
      """db86e-c813-40ef-930a-a52d70a435ed.c000.snappy.parquet","c":"id","m""" +
      """n":"2","mx":"3","r":2,"nu":0,"sm":"5"}]}"""

  test("golden: a Merge sharded root and its shards read and re-emit " +
      "byte for byte") {
    val root = tmp("sharded")
    put(root, "_graft_log/v0.json", utf8(shardedV0))
    put(root, s"_graft_log/shards/$shard0", utf8(shard0Body))
    put(root, s"_graft_log/shards/$shard1", utf8(shard1Body))
    val path = root.getAbsolutePath
    assert(Merge.currentVersion(spark, path) == 0L)
    assert(Merge.manifestShardRefs(spark, path, 0L) ==
      Seq(0L -> shard0, 1L -> shard1))
    assert(Merge.versionFileStats(spark, path, 0L)
      .map(e => (e.min, e.max, e.rows, e.sum)) == Seq(
      (Some("1"), Some("1"), 1L, Some("1")),
      (Some("2"), Some("3"), 2L, Some("5"))))
    val m = Merge.readManifest(spark, new Path(path), 0L)
    assert(m.files.size == 2)
    assert(text(Merge.manifestBody(m)) == shardedV0)
    Seq(0 -> shard0Body, 1 -> shard1Body).foreach { case (b, golden) =>
      def inShard(f: String) = f.startsWith(s"__bucket=$b/")
      assert(text(Merge.shardBody(m.files.filter(inShard),
        m.stats.filter(e => inShard(e.file)))) == golden)
    }
  }

  private val txLogV0 =
      """{"version":0,"parent":-1,"tables":{"bands":["bands/part-a.parquet","b""" +
      """ands/part-b.parquet"],"sigs":[]}}"""

  test("golden: a TxLog state reads and re-emits byte for byte") {
    val root = tmp("txlog")
    put(root, "_idx_log/v0.json", utf8(txLogV0))
    val st = TxLog.currentState(spark, root.getAbsolutePath)
    assert(st.contains(TxLog.State(0L, -1L, Map(
      "bands" -> Seq("bands/part-a.parquet", "bands/part-b.parquet"),
      "sigs" -> Nil))))
    assert(st.get.txn.isEmpty) // written before the stamp existed
    assert(text(TxLog.body(st.get)) == txLogV0)
  }

  // create (a Merge member and an index member), then one txn-stamped
  // transaction; the members' temp-dir paths are replaced by /data/...
  // (path strings are copied through unescaped, so the bytes are still
  // what that writer emits for such pins)
  private val catalogV0 =
      """{"version":0,"parent":-1,"ts":1792253379988,"op":"create","pins":""" +
      """{"i":{"path":"/data/idx","version":0,"kind":"idx"},"t":{"path":""" +
      """"/data/inline","version":1,"kind":"merge"}}}"""
  private val catalogV1 =
      """{"version":1,"parent":0,"ts":1792253380705,"op":"transact","pins":""" +
      """{"i":{"path":"/data/idx","version":0,"kind":"idx"},"t":{"path":""" +
      """"/data/inline","version":2,"kind":"merge"}},"txnApp":"cat-app",""" +
      """"txnBatch":3}"""

  test("golden: a TableCatalog state reads and re-emits byte for byte") {
    val root = tmp("catalog")
    put(root, "_cat_log/v0.json", utf8(catalogV0))
    put(root, "_cat_log/v1.json", utf8(catalogV1))
    val cat = root.getAbsolutePath
    val st = TableCatalog.state(spark, cat)
    assert(st == TableCatalog.CatState(1L, 0L, 1792253380705L, "transact",
      Map("i" -> TableCatalog.Pin("/data/idx", 0L, "idx"),
        "t" -> TableCatalog.Pin("/data/inline", 2L, "merge")),
      Some(("cat-app", 3L))))
    assert(TableCatalog.latestTxn(spark, cat, "cat-app").contains(3L))
    Seq(0L -> catalogV0, 1L -> catalogV1).foreach { case (v, golden) =>
      assert(text(TableCatalog.body(TableCatalog.stateAt(spark, cat, v))) ==
        golden)
    }
  }

  // an IncrementalAgg state path in the pre-log layout: the state
  // parquet at the root plus the `_graft_synced` mark (table version 2);
  // groups by name over ids 1..5 (names "a\tb", c, d, e, f)
  private val oldStateParquet =
      """UEFSMRUAFUIVQhWvyYGYBhwVChUAFQYVCAAAISgCAAAAAx8BAAAAZgEFAGMBBTBkAQ""" +
      """AAAGUDAAAAYQliFQQVEBUUFfLlnOAOPBUCFQQAAAgcAQAAAAAAAAAVABUEFQgV4rvv""" +
      """1AIcFQoVBBUIFQgAAAIEAAMVABWsARVOFbuL3LgCHBUKFQAVBhUIAABWGAIAAAADHw""" +
      """AyAQAEAiYyDwAIAAD6NhAABAFeOhAAAMI2EAAEAJYVABVcFUgV2fD6qQ4cFQoVABUG""" +
      """FQgAAC4YAgAAAAMfAAUBBBZABQcEAAQNCAAMDQgkEkAAAAAAAAD4PxUAFVwVSBXZ8P""" +
      """qpDhwVChUAFQYVCAAALhgCAAAAAx8ABQEEFkAFBwQABA0IAAwNCCQSQAAAAAAAAPg/""" +
      """FQAVAhUGFbWz4hccFQoVABUIFQgAAAEAABUAFQIVBhW1s+IXHBUKFQAVCBUIAAABAA""" +
      """AZEQIZGANhCWIZGAFmFQIZFgAAGRECGRgIAQAAAAAAAAAZGAgBAAAAAAAAABUCGRYA""" +
      """ABkRAhkYEAAAAAAAAAAAAAAAAAAAAJYZGBAAAAAAAAAAAAAAAAAAAAImFQIZFgAAGR""" +
      """ECGRgIAAAAAAAA+D8ZGAgAAAAAAAAWQBUCGRYAABkRAhkYCAAAAAAAAPg/GRgIAAAA""" +
      """AAAAFkAVAhkWAAAZEQIZGAEAGRgBABUCGRYAABkRAhkYAQAZGAEAFQIZFgAAGRwWCB""" +
      """VwFgAAGRYOABkcFrIBFTYWAAAAGRwW6AEVfhYAAAAZHBbmAhV2FgAAABkcFtwDFXYW""" +
      """AAAAGRwW0gQVMhYAAAAZHBaEBRUyFgAAABUCGYxIDHNwYXJrX3NjaGVtYRUOABUMJQ""" +
      """IYBG5hbWUlAEwcAAAAFQQlABgDY250ABUOFSAVAhgJc3VtX2V4YWN0JQoVBBVMLFwV""" +
      """BBVMAAAAFQolAhgFbWluX3YAFQolAhgFbWF4X3YAFQAlABgJZGlydHlfbWluABUAJQ""" +
      """AYCWRpcnR5X21heAAWChkcGXwmABwVDBk1AAYIGRgEbmFtZRUCFgoWcBZwJgg8NgAo""" +
      """AWYYA2EJYgAZHBUAFQAVAgA8Fg4AABa4CBUaFrYFFSYAJgAcFQQZJQQIGRgDY250FQ""" +
      """IWChZoFnAmsgEmeBwYCAEAAAAAAAAAGAgBAAAAAAAAABYAKAgBAAAAAAAAABgIAQAA""" +
      """AAAAAAAAGSwVBBUEFQIAFQAVBBUCADwAABbSCBUWFtwFFT4AJgAcFQ4ZNQAGCBkYCX""" +
      """N1bV9leGFjdBUCFgoW3AEWfiboATw2ACgQAAAAAAAAAAAAAAAAAAACJhgQAAAAAAAA""" +
      """AAAAAAAAAAAAlgAZHBUAFQAVAgA8AAAW6AgVFhaaBhVeACYAHBUKGTUABggZGAVtaW""" +
      """5fdhUCFgoWigEWdibmAjwYCAAAAAAAABZAGAgAAAAAAAD4PxYAKAgAAAAAAAAWQBgI""" +
      """AAAAAAAA+D8AGRwVABUAFQIAPAAAFv4IFRYW+AYVPgAmABwVChk1AAYIGRgFbWF4X3""" +
      """YVAhYKFooBFnYm3AM8GAgAAAAAAAAWQBgIAAAAAAAA+D8WACgIAAAAAAAAFkAYCAAA""" +
      """AAAAAPg/ABkcFQAVABUCADwAABaUCRUWFrYHFT4AJgAcFQAZJQAIGRgJZGlydHlfbW""" +
      """luFQIWChYuFjIm0gQ8GAEAGAEAFgAoAQAYAQAAGRwVABUAFQIAPAAAFqoJFRYW9AcV""" +
      """IgAmABwVABklAAgZGAlkaXJ0eV9tYXgVAhYKFi4WMiaEBTwYAQAYAQAWACgBABgBAA""" +
      """AZHBUAFQAVAgA8AAAWwAkVFhaWCBUiABakBhYKJggWrgUUAAAZLBgYb3JnLmFwYWNo""" +
      """ZS5zcGFyay52ZXJzaW9uGAU0LjEuMgAYKW9yZy5hcGFjaGUuc3Bhcmsuc3FsLnBhcn""" +
      """F1ZXQucm93Lm1ldGFkYXRhGOgDeyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJu""" +
      """YW1lIjoibmFtZSIsInR5cGUiOiJzdHJpbmciLCJudWxsYWJsZSI6dHJ1ZSwibWV0YW""" +
      """RhdGEiOnt9fSx7Im5hbWUiOiJjbnQiLCJ0eXBlIjoibG9uZyIsIm51bGxhYmxlIjpm""" +
      """YWxzZSwibWV0YWRhdGEiOnt9fSx7Im5hbWUiOiJzdW1fZXhhY3QiLCJ0eXBlIjoiZG""" +
      """VjaW1hbCgzOCwyKSIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFt""" +
      """ZSI6Im1pbl92IiwidHlwZSI6ImRvdWJsZSIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZG""" +
      """F0YSI6e319LHsibmFtZSI6Im1heF92IiwidHlwZSI6ImRvdWJsZSIsIm51bGxhYmxl""" +
      """Ijp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6ImRpcnR5X21pbiIsInR5cGUiOi""" +
      """Jib29sZWFuIiwibnVsbGFibGUiOmZhbHNlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6""" +
      """ImRpcnR5X21heCIsInR5cGUiOiJib29sZWFuIiwibnVsbGFibGUiOmZhbHNlLCJtZX""" +
      """RhZGF0YSI6e319XX0AGEpwYXJxdWV0LW1yIHZlcnNpb24gMS4xNi4wIChidWlsZCA0""" +
      """MDJjMzgxMGMzNzJkMjk2MDNlMTgxNzcxYWNlYmZlY2M3MWJlZjYxKRl8HAAAHAAAHA""" +
      """AAHAAAHAAAHAAAHAAAAJEFAABQQVIx"""

  test("golden: an IncrementalAgg state path in the pre-log layout reads, " +
      "keeps its synced mark, and its first fold migrates it") {
    val dir = tmp("agg")
    val st = new java.io.File(dir, "state")
    put(st, "part-00000-457caa57-4272-493d-b86a-756ca49d67e2-c000" +
      ".snappy.parquet", java.util.Base64.getDecoder.decode(oldStateParquet))
    put(st, "_SUCCESS", Array.emptyByteArray)
    put(st, "_graft_synced", utf8("2"))
    def rows() = IncrementalAgg.readWithFlags(spark, st.getAbsolutePath)
      .orderBy("name").collect().map(r => (r.getAs[String]("name"),
        r.getAs[Long]("cnt"), r.getAs[Double]("sum_v"),
        r.getAs[Boolean]("dirty_max"))).toSeq
    val golden = Seq(("a\tb", 1L, 1.5, false), ("c", 1L, 2.5, false),
      ("d", 1L, 3.5, false), ("e", 1L, 4.5, false), ("f", 1L, 5.5, false))
    assert(rows() == golden)
    // a table at version 2: the mark says the state is current, so the
    // sync does nothing (a re-initialization would count the table's rows)
    val tbl = new java.io.File(dir, "tbl").getAbsolutePath
    Merge.writeKeyed(Seq((1L, "zz", 9.0)).toDF("id", "name", "v"), tbl,
      "id", 2)
    Merge.upsert(spark, tbl, Seq((2L, "zz", 9.0)).toDF("id", "name", "v"),
      "id", 2)
    Merge.upsert(spark, tbl, Seq((3L, "zz", 9.0)).toDF("id", "name", "v"),
      "id", 2)
    assert(IncrementalAgg.syncFromTable(spark, st.getAbsolutePath, tbl,
      Seq("name"), "v") == 2L)
    assert(rows() == golden)
    // the next sync folds only the change since version 2, and migrates
    Merge.upsert(spark, tbl, Seq((4L, "g", 7.0)).toDF("id", "name", "v"),
      "id", 2)
    assert(IncrementalAgg.syncFromTable(spark, st.getAbsolutePath, tbl,
      Seq("name"), "v") == 3L)
    assert(rows() == golden :+ (("g", 1L, 7.0, false)))
    assert(TxLog.currentState(spark, st.getAbsolutePath)
      .flatMap(_.txn).contains(("_graft_synced", 3L)))
    assert(st.listFiles().filter(_.isFile).isEmpty)
  }
}
