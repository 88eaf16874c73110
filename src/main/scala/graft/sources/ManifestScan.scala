package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The one reader of parquet files a log manifest names ([[Merge]]'s data
  * and deletion-vector files, [[TxLog]]'s sub-tables).
  *
  * `spark.read.parquet(files: _*)` treats each named file as a pattern:
  * it globs it, checks that it exists and lists it again, and past 32
  * paths it lists them in a Spark job. A manifest already names exact,
  * immutable files, so none of that is needed. This reader builds the
  * same `HadoopFsRelation` over Spark's `InMemoryFileIndex` for exactly
  * the named files, each stat-ed once on the driver: no glob, no listing
  * and no listing job. A named file that is gone (a vacuum deleted it)
  * fails when the frame is built, never later and never as an empty read.
  *
  * The relation, its `_metadata` columns and its partition discovery
  * (`basePath`) are Spark's own, so plans, `_metadata.file_path` values
  * and answers equal the pattern reader's.
  */
private[sources] object ManifestScan {

  /** The rows of exactly `files` (paths, qualified or not), partition
    * columns discovered below `basePath` as `spark.read` would. With a
    * `schema` the files are read under it; without one the data schema is
    * inferred from the files' footers, as `spark.read` infers it.
    */
  def read(spark: SparkSession, files: Seq[String], basePath: Option[String],
      schema: Option[StructType]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    scan(spark, files.map { f =>
      val p = new Path(f)
      val fs = p.getFileSystem(conf)
      val q = fs.makeQualified(p)
      val st = fs.getFileStatus(q)
      // a plain status under the qualified name: the one `_metadata`
      // reports, and no lazily loaded owner or permission
      new FileStatus(st.getLen, false, 0, st.getBlockSize,
        st.getModificationTime, q)
    }, basePath, schema)
  }

  /** [[read]] over statuses the caller already holds (a writer's just
    * listed files).
    */
  def scan(spark: SparkSession, files: Seq[FileStatus],
      basePath: Option[String], schema: Option[StructType]): DataFrame = {
    val byPath = files.map(st => st.getPath -> st).toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        byPath.get(p).map(Array(_))
      def putLeafFiles(p: Path, leaves: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val options = basePath.map("basePath" -> _).toMap
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), options,
      schema, cache)
    val format = new ParquetFileFormat
    val parts = index.partitionSchema
    val resolver = SQLConf.get.resolver
    val data = schema.map(s => StructType(s.filterNot(f =>
        parts.exists(p => resolver(p.name, f.name)))))
      .orElse(format.inferSchema(spark, options, index.allFiles()))
      .getOrElse(throw new IllegalArgumentException(
        s"cannot infer a parquet schema from ${files.size} file(s)"))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, parts,
      GraftShim.asNullable(data), None, format, options)(spark))
  }
}
