package graft.exec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.oracle.SemanticOracle
import graft.plan.{LogicalOp, LogicTree, NumCondition}
import graft.ops.Ops

/** Column statistics gates for physical-strategy selection — the
  * data-driven validators of the reference's dice agent
  * (Semantic-OLAP/Agents/Dice_Agent.py:68-105), recast as distributed
  * aggregations (never a driver-side scan of raw rows).
  *
  * Scale posture: a strategy decision is a statistic, not an answer — it is
  * computed on a BOUNDED prefix of the column (`sampleCap` rows), so gating
  * cost is flat no matter the table size. The prefix is stable for a given
  * file layout (local scans return it in file order) but `limit` makes no
  * cross-cluster determinism promise — callers needing a pinned strategy
  * across layouts should decide once and record the choice in the plan
  * (the catalog keeps lineage for exactly this). The cardinality table
  * that backs each gate is computed once and briefly persisted; its size
  * is bounded by the sample.
  */
object ColumnStats {

  /** Upper bound on rows consulted for any strategy decision. */
  val sampleCap = 100000

  // ---- memoization: a strategy decision is per (input plan, data,
  // column), not per invocation. Keyed on the canonicalized logical plan's
  // semantic hash PLUS a content stamp of the backing files, so the same
  // table expression never pays the stat jobs twice while an overwrite at
  // the same path invalidates naturally (SURVEY §4 scale note; the
  // reference amortizes per template, Operaters.py:216-224).

  /** Content stamp of the frame's backing files (sorted paths + length +
    * mtime of a bounded prefix): data overwritten at the same path changes
    * the stamp, so the memo cannot serve stale statistics — which would be
    * semantics-affecting, since [[Dice.choose]]'s strategy selection
    * changes filter results. Status comes from the Hadoop FileSystem for
    * the file's own scheme, so the stamp holds for object-store/HDFS URIs
    * as well as file: paths. In-memory frames (no input files) stamp 0 and
    * key on the plan alone.
    */
  private def dataFingerprint(df: DataFrame): Long = {
    val hconf = df.sparkSession.sessionState.newHadoopConf()
    val files = df.inputFiles
    var h = 1125899906842597L
    files.sorted.take(100).foreach { f =>
      h = h * 31 + f.hashCode
      scala.util.Try {
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(hconf).getFileStatus(p)
        h = h * 31 + st.getModificationTime
        h = h * 31 + st.getLen
      }
    }
    h * 31 + files.length
  }

  private def cacheKey(df: DataFrame, column: String): (Int, Long, String) =
    (df.queryExecution.analyzed.semanticHash(), dataFingerprint(df), column)

  private val patternCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long, String), PatternStats]
  private val enumCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long, String), EnumStats]

  /** Entry bound per memo map: a long-lived session diceing thousands of
    * distinct frames must not leak; eviction is whole-map (stats are cheap
    * to recompute relative to unbounded growth).
    */
  private val maxCacheEntries = 4096

  /** Memoized [[patternStats]]: zero Spark jobs on a repeat call for the
    * same (plan, column).
    */
  def patternStatsCached(df: DataFrame, column: String): PatternStats = {
    if (patternCache.size > maxCacheEntries) patternCache.clear()
    patternCache.computeIfAbsent(cacheKey(df, column),
      _ => patternStats(df, column))
  }

  /** Memoized [[enumStats]]. */
  def enumStatsCached(df: DataFrame, column: String): EnumStats = {
    if (enumCache.size > maxCacheEntries) enumCache.clear()
    enumCache.computeIfAbsent(cacheKey(df, column),
      _ => enumStats(df, column))
  }

  /** Drop all memoized statistics (tests; or after a table's data moved
    * under the same logical plan, e.g. an overwritten path).
    */
  def clearCaches(): Unit = { patternCache.clear(); enumCache.clear() }

  private def sample(df: DataFrame, column: String): DataFrame =
    df.select(col(column).cast("string").as("v")).limit(sampleCap)

  /** Digit-mask template view of a column: `\d+` -> `<*>`
    * (Operaters.py:216-219).
    */
  def templateCol(c: Column): Column =
    regexp_replace(c.cast("string"), "\\d+", "<*>")

  final case class PatternStats(nRows: Long, nTemplates: Long,
      top3Coverage: Double, comparableGroup: Int = 1) {
    /** Gate per Dice_Agent.py:68-77: top-3 templates cover >80% of rows and
      * unique-template ratio <1%, or fewer than 5 templates overall.
      */
    def isHighlyPatternized: Boolean =
      nRows > 0 && (nTemplates < 5 ||
        (top3Coverage > 0.8 && nTemplates.toDouble / nRows < 0.01))
  }

  def patternStats(df: DataFrame, column: String): PatternStats = {
    val t = sample(df, column)
      .select(templateCol(col("v")).as("tpl"))
      .groupBy("tpl").count()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val agg = t.agg(
        sum("count").as("rows"),
        count(lit(1)).as("tpls")).collect()(0)
      val nRows = if (agg.isNullAt(0)) 0L else agg.getLong(0)
      val nTpl = agg.getLong(1)
      val top3 = t.orderBy(col("count").desc, col("tpl").asc).limit(3).collect()
      val cover = top3.map(_.getLong(1)).sum
      val topTpl = top3.headOption.map(_.getString(0)).getOrElse("")
      PatternStats(nRows, nTpl,
        if (nRows == 0) 0 else cover.toDouble / nRows,
        comparableGroup(df, column, topTpl))
    } finally t.unpersist(false)
  }

  /** Which digit run of the DOMINANT template carries the comparable
    * number: the run whose values VARY most across the sample. Literal
    * runs (version prefixes like `v2_`, port numbers in a fixed URL) are
    * near-constant, so the measure run wins on distinct cardinality — the
    * mechanical analogue of the reference's per-template LLM regex choice
    * (Operaters.py:216-224). Single-run (or template-free) columns answer
    * 1 without a job; multi-run templates pay one bounded-sample pass.
    */
  private def comparableGroup(df: DataFrame, column: String,
      topTemplate: String): Int = {
    val k = "<\\*>".r.findAllMatchIn(topTemplate).length
    if (k <= 1) 1
    else {
      val exs = (1 to k).map { g =>
        val rx = s"^(?:[^0-9]*[0-9]+){${g - 1}}[^0-9]*([0-9]+)"
        countDistinct(regexp_extract(col("v"), rx, 1)).as(s"g$g")
      }
      // only rows OF the dominant template vote: a minority template whose
      // g-th digit run varies widely must not steer the measure-run choice
      // away from the dominant shape's own measure run
      val row = sample(df, column)
        .filter(templateCol(col("v")) === topTemplate)
        .agg(exs.head, exs.tail: _*).collect()(0)
      val ds = (0 until k).map(i => row.getLong(i))
      ds.indexOf(ds.max) + 1
    }
  }

  final case class EnumStats(nRows: Long, nDistinct: Long, avgLen: Double,
      top5Coverage: Double) {
    /** Gate per Dice_Agent.py:79-105: (<=20 distinct or <=5% distinct ratio)
      * and avg length <=30 and top-5 values cover >=90%.
      */
    def isEnumerable: Boolean =
      nRows > 0 &&
        (nDistinct <= 20 || nDistinct.toDouble / nRows <= 0.05) &&
        avgLen <= 30 && top5Coverage >= 0.9
  }

  /** All four enum statistics derive from ONE value-cardinality pass:
    * totals and weighted average length re-aggregate the (value, count)
    * table rather than rescanning the input.
    */
  def enumStats(df: DataFrame, column: String): EnumStats = {
    val byVal = sample(df, column).groupBy("v").count()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val agg = byVal.agg(
        sum("count").as("rows"),
        count(col("v")).as("nd"), // non-null distincts, like the reference
        (sum(when(col("v").isNotNull, length(col("v")) * col("count"))) /
          sum(when(col("v").isNotNull, col("count")))).as("alen"))
        .collect()(0)
      val nRows = if (agg.isNullAt(0)) 0L else agg.getLong(0)
      val top5 = byVal.orderBy(col("count").desc).limit(5)
        .agg(sum("count")).collect()(0)
      val cover = if (top5.isNullAt(0)) 0L else top5.getLong(0)
      EnumStats(nRows, agg.getLong(1),
        if (agg.isNullAt(2)) 0.0 else agg.getDouble(2),
        if (nRows == 0) 0 else cover.toDouble / nRows)
    } finally byVal.unpersist(false)
  }
}

/** `filter_pattern` physical strategy (Operaters.py:207-258): for
  * template-shaped columns, lower a semantic numeric condition to
  * `regexp_extract` + typed comparisons. The reference asks the LLM for one
  * regex per digit-masked template (amortizing oracle calls per template,
  * not per row); here the regex is derived mechanically from the template
  * (`<*>` -> capture group), so zero oracle calls and pure codegen.
  */
object FilterPattern {
  /** Regex for a template: literal text with each `<*>` as `(\d+)`. */
  def templateRegex(template: String): String =
    template.split("<\\*>", -1).map(java.util.regex.Pattern.quote)
      .mkString("(\\d+)")

  /** Predicate: extract capture group `group` of the column's dominant
    * template shape, compare numerically. Rows not matching -> null -> out.
    */
  def predicate(column: String, template: String, group: Int,
      conditions: Seq[NumCondition], logic: String): Column =
    compare(column, templateRegex(template), group, conditions, logic)

  private def compare(column: String, rx: String, group: Int,
      conditions: Seq[NumCondition], logic: String): Column = {
    val extracted = regexp_extract(col(column).cast("string"), rx, group)
    val v = when(extracted === "", lit(null)).otherwise(extracted)
      .try_cast("double")
    val preds = conditions.map(c => Ops.cmp(v, c.op, c.threshold))
    coalesce(Ops.foldLogic(preds, logic), lit(false))
  }

  def apply(df: DataFrame, column: String, template: String, group: Int,
      conditions: Seq[NumCondition], logic: String = "and"): DataFrame =
    df.filter(predicate(column, template, group, conditions, logic))

  /** Template-free equivalent covering EVERY template at once: each
    * template's mechanical regex captures that template's `group`-th digit
    * run, so applying per-template regexes to their own row groups equals
    * extracting the `group`-th digit run of every row directly. This is the
    * form the dice verb lowers to — rows of minority templates (outside the
    * top-3 the coverage gate looked at) are still evaluated, matching the
    * reference's all-templates processing (Operaters.py:216-224), with one
    * codegen'd regex and no per-template enumeration.
    */
  def digitRunPredicate(column: String, group: Int,
      conditions: Seq[NumCondition], logic: String = "and"): Column =
    compare(column, s"^(?:[^0-9]*[0-9]+){${group - 1}}[^0-9]*([0-9]+)", 1,
      conditions, logic)
}

/** `filter_enum_llm` physical strategy (Operaters.py:281-313): for
  * low-cardinality columns, collect a bounded distinct set (first 100),
  * let the oracle pick values to keep ONCE, then broadcast-`isin` — oracle
  * work O(distinct), row work pure codegen. The deterministic pick keeps a
  * distinct value when it appears among the condition's tokens.
  */
object FilterEnum {
  /** The column's EXACT distinct set iff it is within `maxDistinct`:
    * collects `maxDistinct + 1` and returns None on overflow. This is
    * the contract [[graft.exec.Policied]]'s MinCost escalation needs —
    * the sampled [[ColumnStats]] gate can undercount a column whose
    * rare values cluster past the sample prefix, and acting on a
    * truncated set silently drops rows.
    */
  def distinctWithin(df: DataFrame, column: String,
      maxDistinct: Int): Option[Seq[String]] = {
    val d = df.select(col(column).cast("string")).na.drop()
      .distinct().limit(maxDistinct + 1)
      .collect().map(_.getString(0)).toSeq
    if (d.length > maxDistinct) None else Some(d.sorted)
  }

  /** Oracle pick over an already-collected distinct set: values among
    * the condition's tokens are kept, the others judged in one batch —
    * one judged value per distinct, never per row.
    */
  def keepFrom(distinct: Seq[String], condition: String,
      oracle: SemanticOracle): Seq[String] = {
    val toks = graft.oracle.DeterministicOracle.tokens(condition).toSet
    val asked = distinct.filterNot(v => toks.contains(v.toLowerCase))
    val said = if (asked.isEmpty) Nil else oracle.judgeBatch(asked, condition)
    require(said.length == asked.length,
      s"oracle batch returned ${said.length} results for ${asked.length} inputs")
    distinct.filterNot(asked.zip(said).collect { case (v, false) => v }.toSet)
  }

  /** The keep-set filter over a pre-collected EXACT distinct set (from
    * [[distinctWithin]]) — no second distinct job, no truncation.
    */
  def fromValues(df: DataFrame, column: String, condition: String,
      oracle: SemanticOracle, values: Seq[String]): DataFrame = {
    val keep = keepFrom(values, condition, oracle)
    df.filter(col(column).cast("string").isin(keep: _*))
  }
}

/** The dice verb (Agents/Dice_Agent.py:140-222): single-field filter with
  * physical strategy selection, priority pattern > enum > direct compare >
  * sem_filter fallback (Dice_Agent.py:175-196).
  */
object Dice {
  sealed trait Choice { def name: String }
  case object PatternStrategy extends Choice { val name = "pattern_based" }
  case object EnumStrategy extends Choice { val name = "enumerable" }
  case object CompareStrategy extends Choice { val name = "direct_compare" }
  case object SemFallback extends Choice { val name = "sem_filter" }

  /** `llm_has_simple_filter` analogue (Dice_Agent.py:107-135): parse the
    * condition as `<op> <number>` / `<number>` comparisons without an LLM.
    */
  private val cmpRe =
    """^\s*(>=|<=|!=|==|=|>|<)\s*(-?\d+(?:\.\d+)?)\s*$""".r

  def parseCompare(condition: String): Option[NumCondition] =
    condition match {
      case cmpRe(op, num) =>
        Some(NumCondition("", num.toDouble, if (op == "=") "==" else op))
      case _ => None
    }

  def choose(df: DataFrame, column: String, condition: String): Choice = {
    if (parseCompare(condition).isDefined) {
      if (ColumnStats.patternStatsCached(df, column).isHighlyPatternized)
        PatternStrategy
      else CompareStrategy
    } else if (ColumnStats.enumStatsCached(df, column).isEnumerable) EnumStrategy
    else SemFallback
  }

  /** The chosen strategy's filter leaf — the form the agent layer needs
    * to compose several dice/slice steps under one logic tree (the
    * reference combines per-op masks, Exection_Agent.py:181-210).
    */
  def leaf(df: DataFrame, column: String, condition: String,
      oracle: SemanticOracle): Cascade.Leaf = {
    lazy val sem = Cascade.Judge(LogicalOp.SemFilter(Seq(column), condition))
    choose(df, column, condition) match {
      case PatternStrategy =>
        // the comparable digit run is derived from the dominant template's
        // per-run cardinality (memoized with the stats), not hardcoded
        Cascade.Pred(FilterPattern.digitRunPredicate(column,
          ColumnStats.patternStatsCached(df, column).comparableGroup,
          Seq(parseCompare(condition).get)), 1)
      case CompareStrategy => Cascade.lower(df, LogicalOp.NumFilter(
        Seq(parseCompare(condition).get.copy(column = column)), "and"))
      case EnumStrategy =>
        // exact bound, never a truncated keep-set: the sampled gate can
        // undercount a column whose rare values sit past the sample
        // prefix — overflow escalates to the per-row judgment
        FilterEnum.distinctWithin(df, column, 100).fold[Cascade.Leaf](sem)(
          vals => Cascade.Pred(col(column).cast("string")
            .isin(FilterEnum.keepFrom(vals, condition, oracle): _*), 1))
      case SemFallback => sem
    }
  }

  /** Run the dice verb: pick a strategy from the data (via [[choose]], the
    * single decision path) and lower to the cheapest physical filter that
    * preserves the semantics.
    */
  def apply(df: DataFrame, column: String, condition: String,
      oracle: SemanticOracle): DataFrame =
    Cascade.run(df, Seq(0 -> leaf(df, column, condition, oracle)),
      LogicTree.Leaf(0), oracle)
}

/** The slice verb (Agents/Slice_Agent.py:38-108): cross-field filter lowered
  * to `AND(keyword_filter(or), sem_filter)` (Exection_Agent.py:246-257) —
  * the cheap keyword prefilter shrinks the semantic filter's input. Keyword
  * variants come from the condition tokens with super-string dedup
  * (Slice_Agent.py:30-36: drop any keyword containing another keyword).
  */
object Slice {
  def keywords(condition: String): Seq[String] = {
    val toks = graft.oracle.DeterministicOracle.tokens(condition)
    toks.filterNot(t => toks.exists(o => o != t && t.contains(o)))
  }

  /** The slice step as filter ops composed by AND: the keyword-OR
    * prefilter (absent when the condition yields no keywords), then the
    * semantic judgment.
    */
  def ops(columns: Seq[String], condition: String): Seq[LogicalOp] =
    Some(keywords(condition)).filter(_.nonEmpty).toSeq
      .map(LogicalOp.KeywordFilter(columns, _, "or", "contains")) :+
      LogicalOp.SemFilter(columns, condition)

  def apply(df: DataFrame, columns: Seq[String], condition: String,
      oracle: SemanticOracle): DataFrame =
    Cascade.filter(df, ops(columns, condition).zipWithIndex.map(_.swap),
      None, oracle)
}
