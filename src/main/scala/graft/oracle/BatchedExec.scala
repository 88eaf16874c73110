package graft.oracle

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batched oracle execution for non-compilable (e.g. LLM-backed) oracles.
  *
  * The reference calls its oracle once per row (Operaters.py:76,348) — the
  * dominant cost at any scale. A remote oracle wants batched requests with
  * bounded batch sizes, initialized once per partition (connection/session
  * reuse), which is exactly the `mapPartitions` shape below:
  *
  *   - executors stream rows in groups of `batchSize`;
  *   - one oracle call per batch (the default trait impl loops, a real
  *     LLM oracle overrides `judgeBatch`/`extractBatch` with one RPC);
  *   - results rejoin the row in order — no shuffle, no driver involvement.
  *
  * The compilable path (DeterministicOracle) never comes here; operators
  * route through these helpers only when `compile*` returns None.
  */
trait BatchedOracle extends SemanticOracle {
  def judgeBatch(texts: Seq[String], condition: String): Seq[Boolean] =
    texts.map(t => t != null && judge(t, condition))
  def extractBatch(texts: Seq[String], desc: String): Seq[Option[String]] =
    texts.map(t => if (t == null) None else extract(t, desc))
  def extractAllBatch(texts: Seq[String], desc: String): Seq[Seq[String]] =
    texts.map(t => if (t == null) Seq.empty else extractAll(t, desc))
  def classifyBatch(texts: Seq[String], vocab: Seq[TagRule]): Seq[Option[String]] =
    texts.map(t => if (t == null) None else classify(t, vocab))
  def scoreBatch(texts: Seq[String], query: String): Seq[Double] =
    texts.map(t => if (t == null) 0.0 else score(t, query))
  /** One batched call for a set of pairwise duels (sem_topk duel mode). */
  def duelBatch(pairs: Seq[(String, String)], query: String): Seq[Boolean] =
    pairs.map { case (a, b) =>
      duel(Option(a).getOrElse(""), Option(b).getOrElse(""), query)
    }
}

object BatchedExec {

  /** Append a column computed by a batched text->value kernel.
    *
    * @param textExpr the oracle's input text (any Column expression)
    * @param f        batch kernel, called once per `batchSize` rows
    */
  def withBatchedColumn(df: DataFrame, outCol: String, outType: DataType,
      textExpr: Column, batchSize: Int)(
      f: Seq[String] => Seq[Any]): DataFrame = {
    val withText = df.withColumn("__oracle_text", textExpr)
    val outSchema = StructType(withText.schema.fields :+
      StructField(outCol, outType, nullable = true))
    val enc = RowEncoder.encoderFor(outSchema)
    val textIdx = withText.schema.fieldIndex("__oracle_text")
    withText.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val outs = f(batch.map(r =>
          if (r.isNullAt(textIdx)) null else r.getString(textIdx)))
        require(outs.length == batch.length,
          s"oracle batch returned ${outs.length} results for ${batch.length} inputs")
        batch.lazyZip(outs).map((r, o) => Row.fromSeq(r.toSeq :+ o))
      }
    }(enc).drop("__oracle_text")
  }

  /** sem_map via batched oracle extraction. */
  def semMap(df: DataFrame, outCol: String, text: Column, desc: String,
      oracle: BatchedOracle, batchSize: Int = 64): DataFrame =
    withBatchedColumn(df, outCol, StringType, text, batchSize)(
      ts => oracle.extractBatch(ts, desc).map(_.orNull))

  /** sem_map one-to-many via batched oracle: appends an array<string>
    * column of ALL extracted values (the explode happens in the
    * operator, so the batched call shape stays one-RPC-per-batch).
    */
  def semMapAll(df: DataFrame, outCol: String, text: Column, desc: String,
      oracle: BatchedOracle, batchSize: Int = 64): DataFrame =
    withBatchedColumn(df, outCol, ArrayType(StringType), text, batchSize)(
      ts => oracle.extractAllBatch(ts, desc))

  /** sem_group phase-2 classify via batched oracle. */
  def semClassify(df: DataFrame, outCol: String, text: Column,
      vocab: Seq[TagRule], oracle: BatchedOracle,
      batchSize: Int = 64): DataFrame =
    withBatchedColumn(df, outCol, StringType, text, batchSize)(
      ts => oracle.classifyBatch(ts, vocab).map(_.orNull))

  /** sem_topk scoring via batched oracle. */
  def semScore(df: DataFrame, outCol: String, text: Column, query: String,
      oracle: BatchedOracle, batchSize: Int = 64): DataFrame =
    withBatchedColumn(df, outCol, DoubleType, text, batchSize)(
      ts => oracle.scoreBatch(ts, query))

  /** Pairwise duels via batched oracle: appends a boolean `outCol` (does
    * side a beat side b?) computed one batch of PAIRS per oracle call —
    * the duel-mode analogue of [[semScore]] (a C² duel set would
    * otherwise cost C² single RPCs).
    */
  def semDuel(df: DataFrame, outCol: String, ta: Column, tb: Column,
      query: String, oracle: BatchedOracle, batchSize: Int = 64): DataFrame = {
    val withTexts = df.withColumn("__duel_a", ta).withColumn("__duel_b", tb)
    val outSchema = StructType(withTexts.schema.fields :+
      StructField(outCol, BooleanType, nullable = true))
    val enc = RowEncoder.encoderFor(outSchema)
    val ia = withTexts.schema.fieldIndex("__duel_a")
    val ib = withTexts.schema.fieldIndex("__duel_b")
    withTexts.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val outs = oracle.duelBatch(batch.map(r =>
          (if (r.isNullAt(ia)) null else r.getString(ia),
            if (r.isNullAt(ib)) null else r.getString(ib))), query)
        require(outs.length == batch.length,
          s"oracle duel batch returned ${outs.length} results for ${batch.length} inputs")
        batch.lazyZip(outs).map((r, o) => Row.fromSeq(r.toSeq :+ o))
      }
    }(enc).drop("__duel_a", "__duel_b")
  }
}
