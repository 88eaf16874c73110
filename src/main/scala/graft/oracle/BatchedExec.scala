package graft.oracle

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The out-of-band column kernel behind every `sem_*` judgment an oracle
  * does not compile.
  *
  * The reference calls its oracle once per row (Operaters.py:76,348) — the
  * dominant cost at any scale. A remote oracle wants batched requests with
  * bounded batch sizes, initialized once per partition (connection/session
  * reuse), which is exactly the `mapPartitions` shape below:
  *
  *   - executors stream rows in groups of `batchSize`;
  *   - one oracle `*Batch` call per batch (the [[SemanticOracle]] defaults
  *     loop the scalar judgment, a real LLM oracle overrides them with one
  *     RPC);
  *   - results rejoin the row in order — no shuffle, no driver involvement.
  *
  * Compiled judgments never come here; operators call this kernel only
  * when `compile*` returns None. Filters run through the staged kernel of
  * [[graft.exec.Cascade]] instead.
  */
object BatchedExec {

  /** Set `outCol` (replacing a column of that name, like `withColumn`) to
    * a value computed by a batched kernel over the `inputs` texts.
    *
    * @param inputs the oracle's input texts (any Column expressions)
    * @param f      batch kernel, called once per `batchSize` rows with one
    *               text sequence per input, in `inputs` order
    */
  def withBatchedColumn(df: DataFrame, outCol: String, outType: DataType,
      inputs: Seq[Column], batchSize: Int = 64)(
      f: Seq[Seq[String]] => Seq[Any]): DataFrame = {
    val names = inputs.indices.map(i => s"__oracle_in_$i")
    val withIn = df.select(col("*") +: inputs.zip(names).map {
      case (c, n) => c.as(n) }: _*)
    val out = if (df.columns.contains(outCol)) "__oracle_out" else outCol
    val enc = RowEncoder.encoderFor(StructType(withIn.schema.fields :+
      StructField(out, outType, nullable = true)))
    val at = names.map(withIn.schema.fieldIndex)
    val kept = withIn.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val outs = f(at.map(i => batch.map(r =>
          if (r.isNullAt(i)) null else r.getString(i))))
        require(outs.length == batch.length,
          s"oracle batch returned ${outs.length} results for ${batch.length} inputs")
        batch.lazyZip(outs).map((r, o) => Row.fromSeq(r.toSeq :+ o))
      }
    }(enc).drop(names: _*)
    if (out == outCol) kept else kept.withColumn(outCol, col(out)).drop(out)
  }
}
