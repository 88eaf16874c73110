package graft.exec

import org.apache.spark.sql.DataFrame
import org.apache.spark.util.LongAccumulator
import graft.oracle.{SemanticOracle, TagRule}
import graft.ops.{Ops, SemFilter, SemGroup, SemTopK}
import graft.plan.LogicalOp

/** Execution-policy objective for oracle-backed plans — the engine's
  * analogue of the palimpzest baseline's policy knob
  * (Semantic-OLAP/baselines/palimpzest_agent.py:434-451:
  * `pz.Execute(policy = MinCost | MaxQuality, allow_code_synth, ...)`).
  *
  * A semantic condition can lower to several physical strategies whose
  * ORACLE-CALL cost and answer quality differ:
  *   - pattern / direct-compare: zero oracle calls (synthesized code);
  *   - enum pushdown: O(distinct values) calls — only taken when the FULL
  *     distinct set fits the bound (a truncated value set would be a
  *     silent quality loss; see [[Policied.dice]]);
  *   - per-row judgment: one call per row — the reference's plain LLM
  *     filter, maximal fidelity and maximal cost.
  *
  * [[Policy.MinCost]] picks the cheapest lowering that preserves the
  * declared semantics (today's data-shape heuristics, which already
  * minimize calls); [[Policy.MaxQuality]] refuses the code-synthesis and
  * bounded-enum approximations and judges every row — mirroring
  * palimpzest's `allow_code_synth = False` / `MaxQuality` plan.
  */
sealed abstract class Policy(val name: String)
object Policy {
  case object MinCost extends Policy("min_cost")
  case object MaxQuality extends Policy("max_quality")
  def parse(s: String): Policy = s.trim.toLowerCase match {
    case "min_cost" | "mincost" => MinCost
    case "max_quality" | "maxquality" => MaxQuality
    case other => throw new IllegalArgumentException(
      s"unknown policy '$other' (min_cost | max_quality)")
  }
}

/** Oracle-call METER: wraps any [[SemanticOracle]] and counts every
  * out-of-band judgment through a Spark accumulator, so executor-side
  * batched calls and driver-side enum picks land in ONE counter the
  * report can read after the action.
  *
  * `forwardCompile` decides what the meter stands in for:
  *   - false (default): the Catalyst `compile*` hooks are hidden — the
  *     meter emulates a non-compilable LLM transport, so EVERY judgment
  *     is an out-of-band call and gets billed. This is the MaxQuality
  *     execution shape and the cost-estimation instrument (the
  *     reference prices its plans the same way,
  *     baselines/procedures/python3/print_statistics.py:1-11);
  *   - true: compile hooks forward to the inner oracle — compiled
  *     (codegen) paths run at zero oracle calls and the meter counts
  *     only genuinely out-of-band judgments. This is the MinCost
  *     execution shape: the cheapest correct plan, honestly billed.
  *
  * Counting units: one judged TEXT per call (the per-prompt cost a
  * metered transport bills), not one RPC — a batched judge of 64 rows
  * counts 64 — and, when a `chars` accumulator is given, the judged
  * CHARACTERS of every billed text (the prompt-size axis the reference's
  * `allow_token_reduction` flag optimizes,
  * baselines/palimpzest_agent.py:389,406).
  */
final class MeteredOracle(inner: SemanticOracle, val calls: LongAccumulator,
    forwardCompile: Boolean = false, chars: LongAccumulator = null)
    extends SemanticOracle {
  /** Bill `n` calls and the chars of every non-null text in `ts`. */
  private def bill(n: Long, ts: IterableOnce[String]): Unit = {
    calls.add(n)
    if (chars != null) {
      var c = 0L
      ts.iterator.foreach(t => if (t != null) c += t.length)
      chars.add(c)
    }
  }
  override def compileJudge(c: String): Option[org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column] =
    if (forwardCompile) inner.compileJudge(c) else None
  override def compileExtract(d: String): Option[org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column] =
    if (forwardCompile) inner.compileExtract(d) else None
  override def compileExtractAll(d: String): Option[org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column] =
    if (forwardCompile) inner.compileExtractAll(d) else None
  override def compileClassify(v: Seq[TagRule]): Option[org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column] =
    if (forwardCompile) inner.compileClassify(v) else None
  override def compileScore(q: String): Option[org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column] =
    if (forwardCompile) inner.compileScore(q) else None
  // scalar calls are one-element batches, billed by the batch rule
  override def judge(text: String, condition: String): Boolean =
    judgeBatch(Seq(text), condition).head
  override def extract(text: String, desc: String): Option[String] =
    extractBatch(Seq(text), desc).head
  /** Forwards to the inner oracle's own one-to-many extraction (NOT the
    * scalar-default base impl, which would truncate every row to at most
    * one value).
    */
  override def extractAll(text: String, desc: String): Seq[String] =
    extractAllBatch(Seq(text), desc).head
  override def classify(text: String, vocab: Seq[TagRule]): Option[String] =
    classifyBatch(Seq(text), vocab).head
  override def summarize(values: Seq[String], desc: String): String = {
    bill(1L, values)
    inner.summarize(values, desc)
  }
  override def score(text: String, query: String): Double =
    scoreBatch(Seq(text), query).head
  override def duel(a: String, b: String, query: String): Boolean =
    duelBatch(Seq((a, b)), query).head
  // batched variants: forward WHOLE batches to the inner oracle (one RPC
  // for a batched transport), metering per non-null judged text
  override def judgeBatch(texts: Seq[String], condition: String): Seq[Boolean] = {
    bill(texts.count(_ != null), texts); inner.judgeBatch(texts, condition)
  }
  override def extractBatch(texts: Seq[String], desc: String): Seq[Option[String]] = {
    bill(texts.count(_ != null), texts); inner.extractBatch(texts, desc)
  }
  override def extractAllBatch(texts: Seq[String],
      desc: String): Seq[Seq[String]] = {
    bill(texts.count(_ != null), texts); inner.extractAllBatch(texts, desc)
  }
  override def classifyBatch(texts: Seq[String],
      vocab: Seq[TagRule]): Seq[Option[String]] = {
    bill(texts.count(_ != null), texts); inner.classifyBatch(texts, vocab)
  }
  override def scoreBatch(texts: Seq[String], query: String): Seq[Double] = {
    bill(texts.count(_ != null), texts); inner.scoreBatch(texts, query)
  }
  /** One billed call per pair, with the chars of both sides. */
  override def duelBatch(pairs: Seq[(String, String)],
      query: String): Seq[Boolean] = {
    bill(pairs.size.toLong, pairs.iterator.flatMap { case (a, b) => Iterator(a, b) })
    inner.duelBatch(pairs, query)
  }
}

/** Policy-directed lowering with per-operator oracle-cost accounting —
  * the engine's `print_statistics` (plan wall time, oracle calls,
  * estimated $) plus the plan-choice knob the reference's palimpzest
  * baseline exposes. DataFrames stay lazy; `report()` reads the meters
  * AFTER the caller's action so `oracleCalls`/`judgedChars` are the
  * counts the executed plan actually made.
  */
object Policied {

  /** One operator's cost line. `estOracleCalls` is the plan-time
    * estimate (what the optimizer decided on; -1 = unknown at plan
    * time); `oracleCalls` / `judgedChars` are the meter's post-execution
    * truth; `estUsd` prices the actual calls on both axes (per call and
    * per judged megacharacter — the token-cost analogue).
    */
  final case class OpCost(operator: String, column: String,
      strategy: String, estOracleCalls: Long, oracleCalls: Long,
      judgedChars: Long, estUsd: Double) {
    def explain: String =
      f"$operator($column) strategy=$strategy " +
        f"est_oracle_calls=$estOracleCalls oracle_calls=$oracleCalls " +
        f"judged_chars=$judgedChars est_usd=$$$estUsd%.4f"
  }

  /** A lowered policied operator: the (lazy) result plus its meters.
    * Run an action on `df`, then read [[report]].
    */
  class PoliciedOp(val df: DataFrame, val operator: String,
      val column: String, val strategyName: String, val estCalls: Long,
      meter: LongAccumulator, charsMeter: LongAccumulator,
      usdPerCall: Double, usdPerMChars: Double = 0.0) {
    def report(): OpCost = OpCost(operator, column, strategyName,
      estCalls, meter.value, charsMeter.value,
      meter.value * usdPerCall + charsMeter.value * usdPerMChars / 1e6)
    def explain: String = report().explain
  }

  /** [[PoliciedOp]] for dice, keeping the typed strategy choice. */
  final class PoliciedFilter(df: DataFrame, operator: String,
      column: String, val strategy: Dice.Choice, estCalls: Long,
      meter: LongAccumulator, charsMeter: LongAccumulator,
      usdPerCall: Double, usdPerMChars: Double = 0.0)
      extends PoliciedOp(df, operator, column, strategy.name, estCalls,
        meter, charsMeter, usdPerCall, usdPerMChars)

  /** Fresh call and judged-character meters, and `oracle` wrapped to
    * bill them. MinCost runs the cheapest correct plan (compiled paths
    * stay codegen, zero calls); MaxQuality forces every judgment
    * out-of-band and bills it.
    */
  private def metering(df: DataFrame, oracle: SemanticOracle, policy: Policy)
      : (LongAccumulator, LongAccumulator, MeteredOracle) = {
    val sc = df.sparkSession.sparkContext
    val meter = sc.longAccumulator("graft.oracle.calls")
    val charsM = sc.longAccumulator("graft.oracle.chars")
    (meter, charsM, new MeteredOracle(oracle, meter,
      forwardCompile = policy == Policy.MinCost, chars = charsM))
  }

  /** Token reduction's parity probe: `reduceTo` is tried only when it
    * names a strict subset of the judged columns (all of `df`'s when
    * `columns` is empty), and kept only if `same` holds for the full and
    * the reduced text of every one of `paritySample` sampled rows.
    * Returns whether the reduction is kept, and the per-row strategy
    * label.
    */
  private def parityProbe(df: DataFrame, columns: Seq[String],
      reduceTo: Seq[String], paritySample: Int,
      same: (String, String) => Boolean): (Boolean, String) = {
    val fullCols = if (columns.nonEmpty) columns else df.columns.toSeq
    val wantReduce = reduceTo.nonEmpty &&
      reduceTo.toSet.subsetOf(fullCols.toSet) &&
      reduceTo.toSet != fullCols.toSet
    val reduceOk = wantReduce && {
      val sample = df.select(Ops.textCol(df, columns).as("f"),
        Ops.textCol(df, reduceTo).as("r")).limit(paritySample).collect()
      sample.forall { r =>
        same(Option(r.getString(0)).getOrElse(""),
          Option(r.getString(1)).getOrElse(""))
      }
    }
    val strategy =
      if (reduceOk) "per_row_reduced"
      else if (wantReduce) "per_row_reduction_rejected"
      else "per_row"
    (reduceOk, strategy)
  }

  /** Catalyst's plan-time row-count statistic, -1 when unknown (the
    * meter supplies the truth post-run).
    */
  private def rowEst(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.stats.rowCount
      .map(_.toLong).getOrElse(-1L)

  /** Dice (single-field semantic filter) under a policy.
    *
    *   - MinCost: the existing data-shape lowering ([[Dice.choose]] —
    *     pattern > enum > compare > per-row), which is already
    *     call-minimal per strategy class. When the column's distinct
    *     cardinality exceeds `maxDistinct`, the enum pushdown would
    *     judge a TRUNCATED value set — a silent quality loss — so
    *     MinCost ESCALATES to the per-row path instead: quality loss is
    *     only ever a MaxQuality-vs-MinCost delta the report shows,
    *     never a silent subset. The bound is verified EXACTLY
    *     ([[FilterEnum.distinctWithin]] collects `maxDistinct + 1`;
    *     overflow escalates) — the sampled [[ColumnStats]] gate alone
    *     can undercount a column whose rare values cluster past the
    *     sample prefix, and the enum filter would then drop their rows.
    *   - MaxQuality: per-row judgment always (no synthesized pattern
    *     code, no enum pushdown) — the reference's plain LLM-filter plan.
    *
    * Estimates: pattern/compare 0; enum = the exact distinct-set size
    * (collected, within [[maxDistinct]] by construction); per-row =
    * Catalyst's row-count statistic when the plan carries one, else -1.
    */
  def dice(df: DataFrame, column: String, condition: String,
      oracle: SemanticOracle, policy: Policy, usdPerCall: Double = 0.0,
      maxDistinct: Int = 100, usdPerMChars: Double = 0.0): PoliciedFilter = {
    val (meter, charsM, metered) = metering(df, oracle, policy)
    val (choice, enumVals): (Dice.Choice, Option[Seq[String]]) =
      policy match {
        case Policy.MaxQuality => (Dice.SemFallback, None)
        case Policy.MinCost => Dice.choose(df, column, condition) match {
          case Dice.EnumStrategy =>
            // exact guard, not the sampled stat: collect maxDistinct+1
            // distincts once (the same job the enum filter needs anyway);
            // overflow ⇒ never judge a truncated value set
            FilterEnum.distinctWithin(df, column, maxDistinct) match {
              case some @ Some(_) => (Dice.EnumStrategy, some)
              case None => (Dice.SemFallback, None)
            }
          case c => (c, None)
        }
      }
    val est: Long = choice match {
      case Dice.PatternStrategy | Dice.CompareStrategy => 0L
      case Dice.EnumStrategy => enumVals.get.size.toLong
      case Dice.SemFallback =>
        // a MinCost escalation with a compilable judge stays codegen: the
        // per-row path costs zero out-of-band calls
        if (policy == Policy.MinCost && oracle.compileJudge(condition).isDefined)
          0L
        else rowEst(df)
    }
    val out = choice match {
      case Dice.SemFallback =>
        // judged through the filter executor: batched out of band (one
        // oracle call per batch, every row judged) unless the meter
        // forwards a compiled judge
        SemFilter(df, LogicalOp.SemFilter(Seq(column), condition), metered)
      case Dice.EnumStrategy =>
        FilterEnum.fromValues(df, column, condition, metered, enumVals.get)
      case _ =>
        Dice(df, column, condition, metered)
    }
    new PoliciedFilter(out, "dice", column, choice, est, meter, charsM,
      usdPerCall, usdPerMChars)
  }

  /** sem_filter under a policy, with the `allow_token_reduction` axis
    * (palimpzest_agent.py:389,406,416-426): when `reduceTo` names a
    * strict subset of the judged columns, the per-row path MAY judge the
    * reduced text instead of the full row text — after a bounded PARITY
    * PROBE (judge both texts for `paritySample` rows; any disagreement
    * rejects the reduction and the full text is judged). The probe is
    * itself metered — the reduction pays for its own validation — and
    * the character meter shows the cut. Compiled (MinCost) plans ignore
    * the reduction: codegen judges cost zero calls regardless of prompt
    * size, so there is nothing to reduce.
    */
  def semFilter(df: DataFrame, columns: Seq[String], condition: String,
      oracle: SemanticOracle, policy: Policy, usdPerCall: Double = 0.0,
      usdPerMChars: Double = 0.0, reduceTo: Seq[String] = Seq.empty,
      paritySample: Int = 64): PoliciedOp = {
    val (meter, charsM, metered) = metering(df, oracle, policy)
    val compiled =
      policy == Policy.MinCost && oracle.compileJudge(condition).isDefined
    if (compiled) {
      val out = SemFilter(df, LogicalOp.SemFilter(columns, condition), metered)
      new PoliciedOp(out, "sem_filter", columns.mkString(","), "compiled",
        0L, meter, charsM, usdPerCall, usdPerMChars)
    } else {
      val (reduceOk, strategy) = parityProbe(df, columns, reduceTo,
        paritySample, (f, r) =>
          metered.judge(f, condition) == metered.judge(r, condition))
      val judged = if (reduceOk) reduceTo else columns
      val out = SemFilter(df, LogicalOp.SemFilter(judged, condition), metered)
      new PoliciedOp(out, "sem_filter", columns.mkString(","), strategy,
        rowEst(df), meter, charsM, usdPerCall, usdPerMChars)
    }
  }

  /** sem_map under a policy: MinCost keeps the compiled extraction
    * (codegen, zero calls); MaxQuality extracts from every row
    * out-of-band. `reduceTo` applies token reduction to the extraction
    * INPUT, parity-probed on the EXTRACTED VALUES — any sampled row
    * whose reduced-text extraction differs from the full-text one
    * rejects the reduction (a stricter check than the filter's boolean
    * parity: derivations must match, not just keep/drop).
    */
  def semMap(df: DataFrame, op: LogicalOp.SemMap, oracle: SemanticOracle,
      policy: Policy, usdPerCall: Double = 0.0, usdPerMChars: Double = 0.0,
      reduceTo: Seq[String] = Seq.empty,
      paritySample: Int = 64): PoliciedOp = {
    val (meter, charsM, metered) = metering(df, oracle, policy)
    val compiled = policy == Policy.MinCost &&
      oracle.compileExtract(op.mapDescription).isDefined
    if (compiled) {
      new PoliciedOp(graft.ops.SemMap(df, op, metered), "sem_map",
        op.keyword, "compiled", 0L, meter, charsM, usdPerCall,
        usdPerMChars)
    } else {
      val (reduceOk, strategy) = parityProbe(df, op.columns, reduceTo,
        paritySample, (f, r) =>
          metered.extract(f, op.mapDescription) ==
            metered.extract(r, op.mapDescription))
      val judged = if (reduceOk) op.copy(columns = reduceTo) else op
      new PoliciedOp(graft.ops.SemMap(df, judged, metered), "sem_map",
        op.keyword, strategy, rowEst(df), meter, charsM, usdPerCall,
        usdPerMChars)
    }
  }

  /** sem_topk under a policy — the score/duel trade the reference's
    * tournament embodies (Operaters.py:453-494):
    *
    *   - MinCost: score-then-sort ([[SemTopK.apply]]) — one scoring pass
    *     (zero calls when the oracle compiles to codegen), then
    *     `TakeOrderedAndProject`;
    *   - MaxQuality: the duel tournament ([[SemTopK.duelTopK]]) — the
    *     scoring prefilter to a bounded candidate set plus the full
    *     round-robin of pairwise duels inside it, every judgment billed
    *     out-of-band.
    */
  def semTopK(df: DataFrame, op: LogicalOp.SemTopK, oracle: SemanticOracle,
      policy: Policy, idCol: String, usdPerCall: Double = 0.0,
      usdPerMChars: Double = 0.0, overscan: Int = 4): PoliciedOp = {
    val (meter, charsM, metered) = metering(df, oracle, policy)
    policy match {
      case Policy.MinCost =>
        val out = SemTopK(df, op, metered, tiebreak = Seq(idCol))
        val est =
          if (oracle.compileScore(op.query).isDefined) 0L else rowEst(df)
        new PoliciedOp(out, "sem_topk", op.columns.mkString(","),
          "score_sort", est, meter, charsM, usdPerCall, usdPerMChars)
      case Policy.MaxQuality =>
        val out = SemTopK.duelTopK(df, op, metered, idCol, overscan)
        val c = math.max(op.k * overscan, 20).toLong
        val n = rowEst(df)
        val est = if (n < 0) -1L else n + c * (c - 1) // score pass + duels
        new PoliciedOp(out, "sem_topk", op.columns.mkString(","), "duel",
          est, meter, charsM, usdPerCall, usdPerMChars)
    }
  }

  /** sem_group under a policy — the closed-vs-mined vocabulary and
    * compiled-vs-per-row classification trades:
    *
    *   - a non-empty `vocab` is the CLOSED set (caller-declared tags);
    *     empty mines a deterministic vocabulary of `maxTags` from the
    *     data ([[SemGroup.mineVocabulary]] — a distributed agg, no
    *     oracle calls);
    *   - MinCost classifies through the oracle's compiled CASE cascade
    *     (zero calls when compilable); MaxQuality refuses the
    *     synthesized code and bills one out-of-band classification per
    *     row. Both assign the SAME labels for the same vocabulary.
    */
  def semGroup(df: DataFrame, op: LogicalOp.SemGroup, vocab: Seq[TagRule],
      oracle: SemanticOracle, policy: Policy, usdPerCall: Double = 0.0,
      usdPerMChars: Double = 0.0, maxTags: Int = 20,
      reduceTo: Seq[String] = Seq.empty,
      paritySample: Int = 64): PoliciedOp = {
    val (meter, charsM, metered) = metering(df, oracle, policy)
    val v =
      if (vocab.nonEmpty) vocab
      else SemGroup.mineVocabulary(df, op.columns, maxTags)
    val kind = if (vocab.nonEmpty) "closed_vocab" else "mined_vocab"
    val compiled =
      policy == Policy.MinCost && oracle.compileClassify(v).isDefined
    // token reduction on the per-row path only (compiled CASE cascades
    // cost zero calls at any prompt size), parity-probed on the
    // ASSIGNED LABELS: any sampled row whose reduced-text label differs
    // rejects the reduction
    val (reduceOk, mode) =
      if (compiled) (false, "compiled")
      else parityProbe(df, op.columns, reduceTo, paritySample, (f, r) =>
        metered.classify(f, v) == metered.classify(r, v))
    val judged = if (reduceOk) op.copy(columns = reduceTo) else op
    val out = SemGroup(df, judged, v, metered)
    val est = if (compiled) 0L else rowEst(df)
    new PoliciedOp(out, "sem_group", op.keyword, s"${kind}_$mode", est,
      meter, charsM, usdPerCall, usdPerMChars)
  }

  /** The slice verb under a policy: the keyword prefilter is slice
    * SEMANTICS (`AND(keyword_filter, sem_filter)`,
    * Exection_Agent.py:246-257), not an approximation, so both policies
    * keep it; the trade is the semantic conjunct — compiled (MinCost,
    * zero calls) vs per-row out-of-band (MaxQuality, one call per
    * keyword-surviving row).
    */
  def slice(df: DataFrame, columns: Seq[String], condition: String,
      oracle: SemanticOracle, policy: Policy, usdPerCall: Double = 0.0,
      usdPerMChars: Double = 0.0): PoliciedOp = {
    val (meter, charsM, metered) = metering(df, oracle, policy)
    val compiled =
      policy == Policy.MinCost && oracle.compileJudge(condition).isDefined
    val out = Slice(df, columns, condition, metered)
    // per-row cost = keyword-survivor count: unknown at plan time (the
    // prefilter has not run); the meter supplies the truth
    val est = if (compiled) 0L else -1L
    new PoliciedOp(out, "slice", columns.mkString(","),
      if (compiled) "kw_prefilter_compiled" else "kw_prefilter_per_row",
      est, meter, charsM, usdPerCall, usdPerMChars)
  }

  /** Whole-plan execution under a policy with a plan-level cost report
    * (wall seconds + oracle calls + judged characters + estimated $) —
    * the `print_statistics` surface. The plan executes EAGERLY (the
    * report needs the action); `resultRows` is the executed count.
    * `ops` carries one cost line per oracle-consulting plan step
    * (consecutive filters fuse into ONE cost-ordered cascade and report
    * as one line, labeled by the first filter — that cascade IS one
    * physical operator in this engine).
    */
  final case class PlanReport(policy: String, seconds: Double,
      oracleCalls: Long, estUsd: Double, resultRows: Long,
      judgedChars: Long = 0L, ops: Seq[OpCost] = Seq.empty) {
    def explain: String =
      (f"policy=$policy plan_sec=$seconds%.3f oracle_calls=$oracleCalls " +
        f"judged_chars=$judgedChars est_usd=$$$estUsd%.4f rows=$resultRows") +
        ops.map(o => "\n  " + o.explain).mkString
  }

  def run(df: DataFrame, plan: Seq[LogicalOp], oracle: SemanticOracle,
      policy: Policy, usdPerCall: Double = 0.0,
      tiebreak: Seq[String] = Seq.empty,
      usdPerMChars: Double = 0.0): (DataFrame, PlanReport) = {
    val sc = df.sparkSession.sparkContext
    val forward = policy == Policy.MinCost

    def columnLabel(op: LogicalOp): String = op match {
      case f: LogicalOp.SemFilter => f.columns.mkString(",")
      case f: LogicalOp.KeywordFilter => f.columns.mkString(",")
      case f: LogicalOp.NumFilter =>
        f.conditions.map(_.column).distinct.mkString(",")
      case m: LogicalOp.SemMap => m.keyword
      case g: LogicalOp.SemGroup => g.keyword
      case r: LogicalOp.SemReduce => r.columns.mkString(",")
      case t: LogicalOp.SemTopK => t.columns.mkString(",")
      case other => other.name
    }
    def strategyLabel(op: LogicalOp): String = op match {
      case f: LogicalOp.SemFilter =>
        if (forward && oracle.compileJudge(f.condition).isDefined) "compiled"
        else "per_row"
      case m: LogicalOp.SemMap =>
        if (forward && oracle.compileExtract(m.mapDescription).isDefined)
          "compiled"
        else "per_row"
      case t: LogicalOp.SemTopK =>
        if (forward && oracle.compileScore(t.query).isDefined)
          "score_sort_compiled"
        else "score_sort_per_row"
      case _: LogicalOp.KeywordFilter | _: LogicalOp.NumFilter => "cascade"
      case _ => "auto" // sem_group/sem_reduce: vocabulary decided at run time
    }

    // one (meter, chars) pair per consulted plan step: each step's
    // MeteredOracle is referenced only by that step's expressions, so a
    // single final action still attributes calls to the right line
    val lines = scala.collection.mutable.ArrayBuffer
      .empty[(Int, LogicalOp, LongAccumulator, LongAccumulator)]
    val memo = scala.collection.mutable.Map.empty[Int, SemanticOracle]
    def oracleFor(i: Int, op: LogicalOp): SemanticOracle =
      memo.getOrElseUpdate(i, {
        val m = sc.longAccumulator(s"graft.oracle.calls.$i")
        val c = sc.longAccumulator(s"graft.oracle.chars.$i")
        lines += ((i, op, m, c))
        new MeteredOracle(oracle, m, forwardCompile = forward, chars = c)
      })

    // provably zero out-of-band calls at plan time?
    def zeroCall(op: LogicalOp): Boolean = op match {
      case _: LogicalOp.KeywordFilter | _: LogicalOp.NumFilter => true
      case f: LogicalOp.SemFilter =>
        forward && oracle.compileJudge(f.condition).isDefined
      case m: LogicalOp.SemMap =>
        forward && oracle.compileExtract(m.mapDescription).isDefined
      case t: LogicalOp.SemTopK =>
        forward && oracle.compileScore(t.query).isDefined
      case _ => false
    }

    val t0 = System.nanoTime()
    val out = PlanRunner.runSeamed(df, plan, oracleFor, tiebreak)._1
    val rows = out.count()
    val sec = (System.nanoTime() - t0) / 1e9
    val opCosts = lines.toSeq.map { case (i, op, m, c) =>
      // a fused filter run reports as ONE line keyed by its FIRST op —
      // it is provably zero-call only when EVERY filter in the run
      // compiles (the first being compiled says nothing about a later
      // non-compilable judge in the same cascade); everything else is
      // unknown until the meter reports (-1)
      val fusedRun =
        if (PlanRunner.isFilter(op))
          plan.drop(i).takeWhile(PlanRunner.isFilter)
        else Seq(op)
      val est = if (fusedRun.forall(zeroCall)) 0L else -1L
      OpCost(op.name, columnLabel(op), strategyLabel(op), est, m.value,
        c.value, m.value * usdPerCall + c.value * usdPerMChars / 1e6)
    }
    val calls = opCosts.map(_.oracleCalls).sum
    val chars = opCosts.map(_.judgedChars).sum
    (out, PlanReport(policy.name, sec, calls,
      calls * usdPerCall + chars * usdPerMChars / 1e6, rows, chars, opCosts))
  }
}
