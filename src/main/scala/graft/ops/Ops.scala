package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import graft.oracle.{BatchedExec, SemanticOracle, TagRule}
import graft.plan.{LogicalOp, NumCondition}

/** Shared helpers for the operator kernels. */
object Ops {
  /** The reference's row-text view: space-joined selected columns
    * (Operaters.py:15,49,461 — `df[cols].astype(str).agg(" ".join, axis=1)`).
    * Empty `cols` = all columns of `df`.
    */
  def textCol(df: DataFrame, cols: Seq[String]): Column = {
    val cs = if (cols.nonEmpty) cols else df.columns.toSeq
    concat_ws(" ", cs.map(c => col(c).cast("string")): _*)
  }

  /** Numeric comparison operator token -> Column predicate. */
  def cmp(c: Column, op: String, threshold: Double): Column = op match {
    case "==" | "=" => c === threshold
    case "!=" | "<>" => c =!= threshold
    case ">"  => c > threshold
    case "<"  => c < threshold
    case ">=" => c >= threshold
    case "<=" => c <= threshold
    case other => sys.error(s"unknown numeric operator '$other'")
  }

  def foldLogic(preds: Seq[Column], logic: String): Column =
    if (preds.isEmpty) lit(true)
    else if (logic.equalsIgnoreCase("or")) preds.reduce(_ || _)
    else preds.reduce(_ && _)
}

/** `keyword_filter` — literal substring matching over the lowercased
  * space-joined row text (Operaters.py:10-42).
  *
  * relation semantics (documented, not the reference's `contained_in` bug at
  * Operaters.py:21):
  *   - contains:     keyword is a substring of the row text
  *   - contained_in: the row text is a substring of the keyword
  *   - equal:        row text == keyword
  *   - irrelevant:   fold positive contains by `logic`, then negate the
  *                   whole mask (and -> NOT all present; or -> none present)
  * `logic` (and|or) folds across keywords. Pure Catalyst: whole-stage
  * codegen, and for single-column cases the `contains` pushes to the scan.
  */
object KeywordFilter {
  def predicate(df: DataFrame, columns: Seq[String], keywords: Seq[String],
      logic: String, relation: String): Column = {
    val raw = Ops.textCol(df, columns)
    val or = logic.equalsIgnoreCase("or")
    relation match {
      // contains/irrelevant go through the native MultiContains expression:
      // one lower() per row instead of one per keyword (FilterExec has no
      // subexpression elimination)
      case "contains" =>
        graft.functions.TextPredicates.multi(raw, keywords, matchAny = or,
          negate = false)
      case "irrelevant" =>
        // reference semantics (Operaters.py:17-40): fold the POSITIVE
        // contains-masks by `logic`, then negate the folded mask —
        //   and -> NOT(all present); or -> NOT(any present) = none present
        if (or) graft.functions.TextPredicates.containsNone(raw, keywords)
        else graft.functions.TextPredicates.multi(raw, keywords,
          matchAny = false, negate = true)
      case _ =>
        val text = lower(raw)
        val preds = keywords.map(_.toLowerCase).map { kw =>
          relation match {
            case "contained_in" => lit(kw).contains(text)
            case "equal"        => text === kw
            case other          => sys.error(s"unknown relation '$other'")
          }
        }
        Ops.foldLogic(preds, logic)
    }
  }

  def apply(df: DataFrame, op: LogicalOp.KeywordFilter): DataFrame =
    df.filter(predicate(df, op.columns, op.keywords, op.logic, op.relation))
}

/** `num_filter` — numeric comparisons with coerce-to-null semantics
  * (Operaters.py:83-103: `pd.to_numeric(errors="coerce")` + `fillna(False)`).
  * `try_cast(col as double)` nulls out non-numerics; null comparisons are
  * 3-valued-null and the final `filter` drops them — exactly the reference's
  * "non-numeric rows are excluded".
  */
object NumFilter {
  def predicate(conditions: Seq[NumCondition], logic: String): Column = {
    val preds = conditions.map { c =>
      Ops.cmp(col(c.column).try_cast("double"), c.op, c.threshold)
    }
    // NO coalesce(pred, false) wrapper: under Filter semantics null rows
    // drop exactly like false ones (also inside AND/OR trees, since the
    // other leaf kinds never yield null), and the wrapper would block
    // parquet predicate pushdown of the comparisons (verified with
    // explain("formatted"): PushedFilters stays empty with it).
    Ops.foldLogic(preds, logic)
  }

  def apply(df: DataFrame, op: LogicalOp.NumFilter): DataFrame =
    df.filter(predicate(op.conditions, op.logic))
}

/** `sem_filter` — semantic row predicate over the row text
  * (Operaters.py:45-78), run through the filter executor
  * ([[graft.exec.Cascade]]). Compiles to native expressions when the
  * oracle allows (DeterministicOracle: AND-entailment of condition tokens —
  * codegen + scan pushdown); otherwise judged in batches out of band.
  */
object SemFilter {
  def apply(df: DataFrame, op: LogicalOp.SemFilter,
      oracle: SemanticOracle): DataFrame =
    graft.exec.Cascade.filter(df, Seq(0 -> op), None, oracle)
}

/** `sem_map` — derive a new named dimension from row text
  * (Operaters.py:318-350); unmappable rows get null (reference "NA").
  * Implements the documented semantics (uses the given `columns`), not the
  * reference bug of always using all columns (Operaters.py:347).
  */
object SemMap {
  /** Compiled extraction in codegen, otherwise batched out of band. */
  def apply(df: DataFrame, op: LogicalOp.SemMap,
      oracle: SemanticOracle): DataFrame = {
    val text = Ops.textCol(df, op.columns)
    oracle.compileExtract(op.mapDescription) match {
      case Some(f) => df.withColumn(op.keyword, f(text))
      case None =>
        BatchedExec.withBatchedColumn(df, op.keyword, StringType, Seq(text))(
          ts => oracle.extractBatch(ts.head, op.mapDescription).map(_.orNull))
    }
  }
}

/** `sem_map` one-to-many — the palimpzest `convert` fan-out cardinality
  * (Semantic-OLAP/baselines/procedures/python3/convert_dataset.py:
  * `pz.Cardinality.ONE_TO_MANY`): a row derives ALL values of the
  * dimension and fans out to one row per value, zero values dropping
  * the row. Lineage rides free — every source column is retained on
  * every derived row, and `<keyword>_idx` carries the value's ordinal
  * within its source row (0-based, text order).
  *
  * Physical shape: one scan, the extraction column (codegen'd
  * `regexp_extract_all` for compilable oracles, a batched `OracleBatch`
  * for LLM transports), then `posexplode` — a Generate node, NO shuffle
  * added at any scale (fan-out is partition-local).
  */
object SemMapMulti {
  def apply(df: DataFrame, op: LogicalOp.SemMap,
      oracle: SemanticOracle): DataFrame = {
    val text = Ops.textCol(df, op.columns)
    val withVals = oracle.compileExtractAll(op.mapDescription) match {
      case Some(f) => df.withColumn("__vals", f(text))
      case None =>
        BatchedExec.withBatchedColumn(df, "__vals", ArrayType(StringType),
          Seq(text))(ts => oracle.extractAllBatch(ts.head, op.mapDescription))
    }
    // a re-derived dimension REPLACES its old column (withColumn
    // semantics, like scalar SemMap) instead of minting a duplicate name
    val keep = df.columns
      .filterNot(c => c == op.keyword || c == s"${op.keyword}_idx")
    withVals.select(
      (keep.map(col) :+
        posexplode(col("__vals")).as(Seq(s"${op.keyword}_idx", op.keyword)))
        .toSeq: _*)
  }
}

/** `sem_group` — semantic GROUP-BY label assignment
  * (Operaters.py:376-397). The reference mints tags sequentially per row
  * (order-dependent, unparallelizable); this engine is two-phase and
  * order-free (SURVEY.md §7 "hard parts" #1):
  *   phase 1: build a bounded tag vocabulary (either caller-provided for
  *            closed-set grouping, or mined from the data: top-N frequent
  *            non-stopword tokens — a distributed agg, no driver collect of
  *            raw rows);
  *   phase 2: broadcast the vocabulary and classify each row (codegen'd
  *            CASE cascade for compilable oracles, batched out of band
  *            otherwise).
  */
object SemGroup {
  import graft.oracle.DeterministicOracle.stopwords

  /** Phase 1 (open-set): mine a deterministic vocabulary — top `maxTags`
    * tokens by (count desc, token asc). Bounded result; scales as one
    * hash-agg + a tiny driver collect of `maxTags` rows.
    */
  def mineVocabulary(df: DataFrame, columns: Seq[String],
      maxTags: Int = 20): Seq[TagRule] = {
    val text = lower(Ops.textCol(df, columns))
    df.select(explode(split(text, "[^a-z0-9]+")).as("tok"))
      .filter(col("tok") =!= "" && !col("tok").isin(stopwords.toSeq: _*))
      .groupBy("tok").count()
      .orderBy(col("count").desc, col("tok").asc)
      .limit(maxTags)
      .collect().map(r => TagRule(r.getString(0), r.getString(0))).toSeq
  }

  /** Closed-set grouping with a caller-provided vocabulary. */
  def apply(df: DataFrame, op: LogicalOp.SemGroup, vocab: Seq[TagRule],
      oracle: SemanticOracle): DataFrame = {
    val text = Ops.textCol(df, op.columns)
    oracle.compileClassify(vocab) match {
      case Some(f) => df.withColumn(op.keyword, f(text))
      case None =>
        BatchedExec.withBatchedColumn(df, op.keyword, StringType, Seq(text))(
          ts => oracle.classifyBatch(ts.head, vocab).map(_.orNull))
    }
  }

  /** Open-set grouping: mine the vocabulary, then classify. */
  def apply(df: DataFrame, op: LogicalOp.SemGroup, oracle: SemanticOracle,
      maxTags: Int): DataFrame =
    apply(df, op, mineVocabulary(df, op.columns, maxTags), oracle)
}
