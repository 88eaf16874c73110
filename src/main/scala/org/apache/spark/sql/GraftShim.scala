package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the sql-private Column<->Expression converters (Spark 4 moved
  * Column internals behind ColumnNode; `classic.ExpressionUtils` is
  * `private[sql]`). Lives in the spark.sql package purely to re-export the
  * two conversions the engine's native expressions need.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Spark's native codegen'd Bloom-filter probe
    * (`BloomFilterMightContain` — the expression AQE's runtime row-level
    * filtering injects), over a pre-built serialized filter. `value` must
    * be a LongType column (hash the key with `xxhash64` on both build and
    * probe side). Beats a Scala UDF probe: no serialization boundary in
    * the hot filter, stays inside whole-stage codegen.
    */
  def bloomMightContain(bloomBytes: Array[Byte], value: Column): Column =
    column(catalyst.expressions.BloomFilterMightContain(
      catalyst.expressions.Literal.create(bloomBytes, types.BinaryType),
      expression(value)))

  /** The matching BUILD side — Spark's native `BloomFilterAggregate`
    * (what AQE's runtime row-level filtering builds), as a Column so
    * the manifest-stats pass can fold a per-file Bloom filter in the
    * same aggregate that computes min/max. `value` must be a LongType
    * column (xxhash64 the indexed column); the result is the
    * serialized `org.apache.spark.util.sketch.BloomFilter` bytes.
    */
  def bloomAgg(value: Column, expectedItems: Long, numBits: Long): Column =
    column(new catalyst.expressions.aggregate.BloomFilterAggregate(
      expression(value), catalyst.expressions.Literal(expectedItems),
      catalyst.expressions.Literal(numBits)).toAggregateExpression())

  /** `types.AbstractDataType` is `private[sql]`; expressions outside the
    * sql package need this alias to declare `inputTypes` contracts
    * (ExpectsInputTypes / ImplicitCastInputTypes).
    */
  type AbstractDT = org.apache.spark.sql.types.AbstractDataType

  /** `Dataset.ofRows` is `private[sql]`; graft.oracle.BatchedExec needs it
    * to wrap its own operator, and the SQL DML commands
    * (graft.sources.v2.GraftDml) to re-issue the ALREADY
    * RESOLVED relation/source plans a DML statement carries as
    * DataFrames — keeping the original attribute ids, so the
    * statement's own resolved condition and assignment expressions
    * bind against them without any name-based re-resolution.
    */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `RDD.mapPartitionsInternal` is `private[spark]`: the closure-cleaner-
    * free map the engine's own physical operators (graft.oracle's
    * OracleBatchExec) run over `child.execute()`, as Spark's do.
    */
  def mapPartitionsInternal[T, U: scala.reflect.ClassTag](
      rdd: org.apache.spark.rdd.RDD[T])(
      f: Iterator[T] => Iterator[U]): org.apache.spark.rdd.RDD[U] =
    rdd.mapPartitionsInternal(f)

  /** Drop the storage blocks behind a `localCheckpoint`-ed frame.
    * `Dataset.unpersist` only uncaches `cache()`-ed plans — a local
    * checkpoint's blocks live on the LogicalRDD's underlying RDD and
    * otherwise linger until the ContextCleaner notices the RDD is
    * unreachable, which under low GC pressure lets hundreds of
    * commit-pinned batches accumulate in the block manager over a long
    * session. Callers invoke this once the pinned frame's last
    * consumer has run.
    *
    * LEAF-ONLY by construction: the frame must BE the checkpoint result
    * (analyzed plan = a single LogicalRDD). A derived frame may embed
    * LogicalRDDs of UPSTREAM checkpoints still in use elsewhere —
    * unpersisting those would destroy blocks that are unrecomputable
    * after a local checkpoint, so a non-leaf plan is a no-op here, never
    * a walk.
    *
    * Releases through `SparkContext.unpersistRDD` (`private[spark]`), not
    * `RDD.unpersist`: the latter logs a "locally checkpointed ... cannot be
    * recomputed" warning on every call, and here dropping the blocks is
    * the point.
    */
  def unpinLocalCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD =>
        l.rdd.sparkContext.unpersistRDD(l.rdd.id, blocking = false)
      case _ => ()
    }

  /** `CatalogV2Util.v2ColumnsToStructType` is `private[sql]`; the
    * catalog's Column[] createTable overload needs the one canonical
    * Column→StructField conversion (defaults ride field metadata) so
    * its generated-column handling can't drift from Spark's own.
    */
  def v2ColumnsToStructType(
      columns: Array[connector.catalog.Column]): types.StructType =
    connector.catalog.CatalogV2Util.v2ColumnsToStructType(columns)
}
