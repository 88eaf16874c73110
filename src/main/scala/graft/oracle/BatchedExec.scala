package graft.oracle

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

/** The out-of-band kernels behind every `sem_*` judgment an oracle does
  * not compile.
  *
  * The reference calls its oracle once per row (Operaters.py:76,348) — the
  * dominant cost at any scale. A remote oracle wants batched requests with
  * bounded batch sizes, initialized once per partition (connection/session
  * reuse). [[run]] is that shape as one engine operator, [[OracleBatch]]:
  *
  *   - executors stream each partition's rows, as `InternalRow`s, in
  *     blocks of a bounded size — no row is decoded to a `Row`;
  *   - the kernel reads its input texts by ordinal and makes its `*Batch`
  *     calls per block (the [[SemanticOracle]] defaults loop the scalar
  *     judgment, a real LLM oracle overrides them with one RPC);
  *   - it emits kept rows, or rows with one appended value, in order — no
  *     shuffle, no driver involvement.
  *
  * Compiled judgments never come here; operators call this kernel only
  * when `compile*` returns None. Filters run through [[run]] from the
  * staged form of [[graft.exec.Cascade]]; column-producing operators
  * through [[withBatchedColumn]].
  */
object BatchedExec {

  /** A block kernel: `(at, block)` → the rows to emit, where `at` holds the
    * ordinals of the input columns in `block`'s rows. Without an output
    * column it emits rows of the block; with one, each emitted row is a
    * block row followed by the output's Catalyst value. */
  type Kernel = (Seq[Int], IndexedSeq[InternalRow]) => Iterator[InternalRow]

  /** `df` through one [[OracleBatch]]: the `inputs` are evaluated beside
    * `df`'s columns, `kernel` runs per block of `block` rows, and the
    * result has `df`'s columns plus `out`, if given, which replaces a
    * column of that name in place (like `withColumn`) or is appended.
    * `label` names the kernel in plans. */
  def run(df: DataFrame, inputs: Seq[Column], out: Option[(String, DataType)],
      block: Int, label: String)(kernel: Kernel): DataFrame = {
    val withIn = df.select(col("*") +: inputs.indices.map(i =>
      inputs(i).as(s"__oracle_in_$i")): _*)
    val child = withIn.queryExecution.analyzed
    val (kept, in) = child.output.splitAt(df.columns.length)
    val value = out.map { case (name, t) => name -> AttributeReference("__oracle_out", t)() }
    val projected = value.fold(kept: Seq[NamedExpression]) { case (name, v) =>
      val same = (a: Attribute) => SQLConf.get.resolver(a.name, name)
      if (kept.exists(same)) kept.map(a => if (same(a)) Alias(v, name)() else a)
      else kept :+ Alias(v, name)()
    }
    val spark = df.sparkSession
    OracleBatchStrategy.register(spark)
    GraftShim.ofRows(spark, Project(projected,
      OracleBatch(in, value.map(_._2), block, label, kernel, child)))
  }

  /** Whether `df`'s plan runs an out-of-band kernel ([[OracleBatch]]). */
  def outOfBand(df: DataFrame): Boolean =
    df.queryExecution.logical.exists(_.isInstanceOf[OracleBatch])

  /** Set `outCol` (replacing a column of that name, like `withColumn`) to
    * a value computed by a batched kernel over the `inputs` texts.
    *
    * @param inputs the oracle's input texts (any Column expressions)
    * @param f      batch kernel, called once per `batchSize` rows with one
    *               text sequence per input, in `inputs` order
    */
  def withBatchedColumn(df: DataFrame, outCol: String, outType: DataType,
      inputs: Seq[Column], batchSize: Int = 64)(
      f: Seq[Seq[String]] => Seq[Any]): DataFrame =
    run(df, inputs, Some(outCol -> outType), batchSize,
        s"map->$outCol[$batchSize]") { (at, batch) =>
      val outs = f(at.map(i => batch.map(r =>
        if (r.isNullAt(i)) null else r.getUTF8String(i).toString)))
      require(outs.length == batch.length,
        s"oracle batch returned ${outs.length} results for ${batch.length} inputs")
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(outType)
      batch.iterator.zip(outs).map { case (r, o) =>
        new JoinedRow(r, InternalRow(toCatalyst(o))) }
    }
}

/** Logical form of [[BatchedExec.run]]: `kernel` over the child's rows,
  * reading `inputs`, producing `out` when set. */
private[graft] case class OracleBatch(inputs: Seq[Attribute],
    out: Option[Attribute], block: Int, label: String,
    kernel: BatchedExec.Kernel, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override def simpleString(maxFields: Int): String = s"$nodeName $label"
  override protected def withNewChildInternal(c: LogicalPlan): OracleBatch =
    copy(child = c)
}

/** Physical form of [[OracleBatch]]: one pass over each child partition,
  * which keeps its partitioning and order. Rows are copied only because
  * a block buffers them; an appended column is written by one
  * `UnsafeProjection` per partition. */
private[graft] case class OracleBatchExec(inputs: Seq[Attribute],
    out: Option[Attribute], block: Int, label: String,
    kernel: BatchedExec.Kernel, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output ++ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def simpleString(maxFields: Int): String = s"$nodeName $label"

  override protected def doExecute(): RDD[InternalRow] = {
    val at = inputs.map(a => child.output.indexWhere(_.exprId == a.exprId))
    val (n, f) = (block, kernel)
    val types = out.map(_ => output.map(_.dataType).toArray)
    GraftShim.mapPartitionsInternal(child.execute()) { rows =>
      val emitted = rows.map(_.copy()).grouped(n).flatMap(b => f(at, b.toIndexedSeq))
      types.fold(emitted) { ts =>
        val project = UnsafeProjection.create(ts)
        emitted.map(project)
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): OracleBatchExec =
    copy(child = c)
}

/** Plans [[OracleBatch]]; [[BatchedExec.run]] adds it to each session it
  * builds a frame in. */
private[graft] object OracleBatchStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case o: OracleBatch => OracleBatchExec(o.inputs, o.out, o.block, o.label,
      o.kernel, planLater(o.child)) :: Nil
    case _ => Nil
  }

  /** Add this strategy to `spark` unless it is already there. */
  def register(spark: SparkSession): Unit = {
    val x = spark.experimental
    if (!x.extraStrategies.contains(this)) x.synchronized {
      if (!x.extraStrategies.contains(this)) x.extraStrategies = this +: x.extraStrategies
    }
  }
}
