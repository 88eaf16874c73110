package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The sub-table read memo must not freeze a growing PARTITIONED
  * sub-table's partition-column typing: two states commonly share the
  * head file while spanning new partition directories, and partition
  * types are inferred from the WHOLE directory set — so partitioned
  * reads key on the full file list, not the head file.
  */
class TxLogMemoSpec extends SparkSpec {
  import spark.implicits._

  test("a new state's partition dirs re-infer partition types") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_txmemo").toFile.getAbsolutePath
    // state 1: one int-valued partition dir — memoizes cell as int
    val f1 = TxLog.stagePartitionedInto(
      Seq((1L, 1)).toDF("id", "cell"), root, "codes", Seq("cell"))
    val s1 = TxLog.commitRetrying(spark, root)(_ =>
      Map("codes" -> f1))
    val r1 = TxLog.readPartitioned(spark, root, s1, "codes").get
    assert(r1.select("cell").as[Long].collect().toSet == Set(1L))
    // state 2: SAME head file, plus a partition value only a LONG can
    // hold — a head-file-keyed memo would read it through the stale
    // int schema; the list-keyed memo re-infers
    val wide = 4294967296L // 2^32
    val f2 = TxLog.stagePartitionedInto(
      Seq((2L, wide)).toDF("id", "cell"), root, "codes", Seq("cell"))
    val s2 = TxLog.commitRetrying(spark, root)(prev =>
      prev.map(_.tables).getOrElse(Map.empty) +
        ("codes" -> (f1 ++ f2)))
    val r2 = TxLog.readPartitioned(spark, root, s2, "codes").get
    assert(r2.schema("cell").dataType ==
      org.apache.spark.sql.types.LongType,
      s"partition typing must widen with the new dir: ${r2.schema}")
    assert(r2.select("cell").as[Long].collect().toSet == Set(1L, wide))
    // and the repeated-resolution case still hits the memo: the same
    // state read twice yields the same schema object semantics
    val r2b = TxLog.readPartitioned(spark, root, s2, "codes").get
    assert(r2b.schema == r2.schema)
  }

  test("a stage seeds the schema memo with the schema a read infers") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_txmemo_seed").toFile.getAbsolutePath
    // non-null columns, nested non-null elements and values, and the
    // types the index and aggregate tables store
    val df = Seq((1L, "a", 2.5)).toDF("id", "s", "v").select(
      $"id", $"s", count(lit(1)).over().as("cnt"),
      $"v".cast("decimal(28,2)").as("dec"), lit(true).as("flag"),
      array(lit(1L), $"id").as("arr"), struct($"id", lit("x")).as("st"),
      map(lit("k"), lit(1.0)).as("m"), lit(Array[Byte](1, 2)).as("bin"),
      current_timestamp().as("ts"), current_date().as("d"))
    val files = TxLog.stageInto(df, root, "t")
    val paths =
      files.map(f => new org.apache.hadoop.fs.Path(root, f).toString)
    assert(TxLog.schemaMemo.get(TxLog.schemaKey(paths, None))
      .contains(df.schema))
    val state = TxLog.commitRetrying(spark, root)(_ => Map("t" -> files))
    val seeded = TxLog.readTable(spark, root, state, "t").get
    val inferred = spark.read.parquet(paths: _*)
    assert(seeded.schema == inferred.schema)
    assert(seeded.collect().toSeq == inferred.collect().toSeq)
  }
}
