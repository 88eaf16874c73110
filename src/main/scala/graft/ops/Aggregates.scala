package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType}
import graft.oracle.{BatchedExec, SemanticOracle}
import graft.plan.LogicalOp

/** `count` — rows per group, plus per-column distinct counts when `columns`
  * is non-empty (the spec'd-but-unimplemented variant,
  * baseline_LLM_direct.py:90-99). Output naming follows the reference:
  * `count_of_<group_by>` (Roll_Up_Agent.py:59).
  * Plain hash-agg: partial (map-side) + final, no extra shuffle beyond the
  * group-by exchange; `approxDistinct` swaps exact distinct counting for
  * HLL at 100 TB scale.
  */
object CountOp {
  def apply(df: DataFrame, op: LogicalOp.CountOp,
      approxDistinct: Boolean = false): DataFrame = {
    def dcol(c: String): Column =
      (if (approxDistinct) approx_count_distinct(col(c))
       else countDistinct(col(c))).as(s"distinct_$c")
    if (op.groupBy.isEmpty) {
      val aggs = count(lit(1)).as("count") +: op.columns.map(dcol)
      df.agg(aggs.head, aggs.tail: _*)
    } else {
      val aggs = count(lit(1)).as(s"count_of_${op.groupBy}") +:
        op.columns.map(dcol)
      df.groupBy(op.groupBy).agg(aggs.head, aggs.tail: _*)
    }
  }
}

/** `num_reduce` — sum/avg/max/min per group or global (Operaters.py:426-434,
  * Roll_Up_Agent.py:60-62). Output columns named `<agg>_of_<col>`
  * (Roll_Up_Agent.py:62). Built-in partial+final hash aggregation.
  *
  * Exactness note: for oracle-parity the engine aggregates doubles through
  * `decimal(18,2)` on request (`exact = true`) — FP summation order differs
  * across engines/partitionings, decimal does not.
  */
object NumReduce {
  private def aggCol(agg: String, c: String, exact: Boolean): Column = {
    val base = if (exact) col(c).cast("decimal(18,2)") else col(c)
    val a = agg match {
      case "sum" => sum(base)
      // exact avg = exact decimal sum, ONE double division by the non-null
      // count — bit-identical across engines and partitionings
      case "avg" if exact => sum(base).cast("double") / count(col(c))
      case "avg" => avg(base)
      case "max" => max(base)
      case "min" => min(base)
      case other => sys.error(s"unknown agg '$other'")
    }
    (if (exact && agg != "avg") a.cast("double") else a).as(s"${agg}_of_$c")
  }

  /** Public exact-aggregate builder (used by the cube roll-up verb). */
  def exactAgg(agg: String, c: String): Column = aggCol(agg, c, exact = true)

  def apply(df: DataFrame, op: LogicalOp.NumReduce,
      exact: Boolean = false): DataFrame = {
    val aggs = for (c <- op.columns; a <- op.agg) yield aggCol(a, c, exact)
    require(aggs.nonEmpty, "num_reduce needs >=1 column and >=1 agg")
    op.groupBy match {
      case Some(g) => df.groupBy(g).agg(aggs.head, aggs.tail: _*)
      case None    => df.agg(aggs.head, aggs.tail: _*)
    }
  }
}

/** `num_topk` — top/bottom k by a numeric column (Operaters.py:440-450).
  * `orderBy(col).limit(k)` plans as `TakeOrderedAndProject`: per-partition
  * bounded heaps + a k-row driver merge — true top-k, no global sort, no
  * full shuffle; the right plan at any scale.
  * `tiebreak` columns pin a total order so results are deterministic
  * (the reference's pandas sort is arbitrary among ties).
  */
object NumTopK {
  def apply(df: DataFrame, op: LogicalOp.NumTopK,
      tiebreak: Seq[String] = Seq.empty): DataFrame = {
    val key = col(op.column).try_cast("double")
    val main = if (op.order.equalsIgnoreCase("asc")) key.asc_nulls_last
               else key.desc_nulls_last
    df.orderBy(main +: tiebreak.map(col(_).asc): _*).limit(op.k)
  }
}

/** `sem_topk` — semantic relevance top-k (Operaters.py:453-494).
  * The reference runs ~5 unseeded random pairwise LLM duels per row
  * (non-deterministic; SURVEY.md §7 hard-part #3). This engine scores each
  * row once (`oracle.score` in [0,1]) and takes top-k — O(n) oracle work
  * instead of O(5n) duels, deterministic, and plans as
  * `TakeOrderedAndProject`.
  */
object SemTopK {
  def apply(df: DataFrame, op: LogicalOp.SemTopK, oracle: SemanticOracle,
      tiebreak: Seq[String] = Seq.empty,
      scoreCol: String = "sem_score"): DataFrame = {
    val text = Ops.textCol(df, op.columns)
    val scored = oracle.compileScore(op.query) match {
      case Some(f) => df.withColumn(scoreCol, f(text))
      case None =>
        BatchedExec.withBatchedColumn(df, scoreCol, DoubleType, Seq(text))(
          ts => oracle.scoreBatch(ts.head, op.query))
    }
    scored
      .orderBy(col(scoreCol).desc +: tiebreak.map(col(_).asc): _*)
      .limit(op.k)
  }

  /** Opt-in duel mode (SURVEY §7 hard-part #3): the reference's pairwise
    * tournament, made deterministic and scale-bounded. The reference duels
    * each row against ~5 unseeded random opponents because every duel is an
    * LLM call; here a score pass prefilters to a BOUNDED candidate set
    * (`overscan * k`, via `TakeOrderedAndProject` — scales to any input),
    * then the full round-robin runs inside that set: better duel coverage
    * at the same O(C²) bounded oracle cost, zero RNG. With an intransitive
    * LLM oracle the win-count ranking genuinely differs from score order;
    * with the deterministic oracle it coincides (which makes it
    * SQL-checkable).
    *
    * @param idCol unique id column for win grouping and stable tiebreaks
    * @return top-k rows of the candidate set with their `duel_wins`
    */
  def duelTopK(df: DataFrame, op: LogicalOp.SemTopK, oracle: SemanticOracle,
      idCol: String, overscan: Int = 4): DataFrame = {
    val c = math.max(op.k * overscan, 20)
    // persist: the candidate set feeds three plan branches (duel left,
    // duel right, final join); without it the full-table scoring pass —
    // the expensive part with an LLM oracle — would run three times, and
    // a non-deterministic oracle could even select three DIFFERENT
    // candidate sets, misaligning the wins join
    val cands = apply(df, op.copy(k = c), oracle, tiebreak = Seq(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withText = cands.withColumn("__t", Ops.textCol(cands, op.columns))
    val left = withText.select(col(idCol).as("__ida"), col("__t").as("__ta"))
    val right = withText.select(col(idCol).as("__idb"), col("__t").as("__tb"))
    val pairsDf = left.crossJoin(broadcast(right))
      .filter(col("__ida") =!= col("__idb"))
    // one BATCH of pairs per oracle call instead of one RPC per pair (C^2
    // single calls at the default candidate bound)
    val flagged = BatchedExec.withBatchedColumn(pairsDf, "__flag",
      BooleanType, Seq(col("__ta"), col("__tb")))(
      ts => oracle.duelBatch(ts(0).zip(ts(1)), op.query))
    val wins = flagged
      .withColumn("__win", when(col("__flag"), 1).otherwise(0))
      .groupBy(col("__ida").as(idCol))
      .agg(sum("__win").as("duel_wins"))
    cands.join(wins, Seq(idCol), "left")
      .na.fill(0L, Seq("duel_wins"))
      .orderBy(col("duel_wins").desc, col(idCol).asc)
      .limit(op.k)
  }
}

/** `sem_reduce` — summarize a group's distinct texts into one phrase
  * (Operaters.py:404-423; grouped driver Roll_Up_Agent.py:39-75).
  *
  * Two execution paths:
  *   - [[exprSummary]]: the DeterministicOracle's summary (sorted distinct,
  *     first k, ", "-joined) as pure Catalyst expressions — codegen'd,
  *     oracle-SQL-checkable.
  *   - [[summarizeUdaf]]: a custom typed [[Aggregator]] that accumulates a
  *     BOUNDED distinct-sample buffer per group (cap defaults to 1000 —
  *     memory-safe at 100 TB: the buffer, never the group, bounds state)
  *     and hands the sample to an arbitrary oracle's `summarize` at finish.
  */
object SemReduce {
  def exprSummary(c: String, k: Int = 5): Column =
    array_join(slice(array_sort(collect_set(col(c))), 1, k), ", ")
      .as(s"summary_of_$c")

  /** Typed aggregator: bounded distinct-sample -> oracle summary.
    * Keeps the k-smallest distinct values so the bounded buffer is
    * deterministic (independent of row/partition order).
    */
  class SummarizeAgg(desc: String, oracle: SemanticOracle, cap: Int)
      extends Aggregator[String, Seq[String], String] {
    private def trim(s: Seq[String]): Seq[String] =
      if (s.length <= cap) s else s.sorted.take(cap)
    def zero: Seq[String] = Vector.empty
    def reduce(b: Seq[String], v: String): Seq[String] =
      if (v == null || b.contains(v)) b else trim(b :+ v)
    def merge(a: Seq[String], b: Seq[String]): Seq[String] =
      trim((a ++ b).distinct)
    def finish(b: Seq[String]): String = oracle.summarize(b, desc)
    def bufferEncoder: Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  def summarizeUdaf(c: String, desc: String, oracle: SemanticOracle,
      cap: Int = 1000): Column =
    udaf(new SummarizeAgg(desc, oracle, cap)).apply(col(c).cast("string"))
      .as(s"summary_of_$c")

  def apply(df: DataFrame, op: LogicalOp.SemReduce, oracle: SemanticOracle,
      desc: String = "", k: Int = 5): DataFrame = {
    val aggs = op.columns.map(c => summarizeUdaf(c, desc, oracle))
    require(aggs.nonEmpty, "sem_reduce needs >=1 column")
    op.groupBy match {
      case Some(g) => df.groupBy(g).agg(aggs.head, aggs.tail: _*)
      case None    => df.agg(aggs.head, aggs.tail: _*)
    }
  }
}

/** Granularity-view re-attach — the system's only join (equi, keep-all-base,
  * Roll_Up_Agent.py:173,225: `pd.merge(..., on="OLAP_ID", how="right")`).
  * Derived `(id, value)` views are small relative to the base table, so the
  * view side is broadcast: no shuffle of the 100 TB base.
  */
object Reattach {
  def apply(base: DataFrame, view: DataFrame, idCol: String = "OLAP_ID",
      hintBroadcast: Boolean = true): DataFrame =
    base.join(if (hintBroadcast) broadcast(view) else view,
      Seq(idCol), "left")
}
