package graft.oracle

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A rule mapping a keyword to a semantic tag — the vocabulary unit for
  * `sem_group`-style open/closed-set classification.
  * (Reference: tag vocabulary minted online in
  * Semantic-OLAP/Agents/Components/Operaters.py:376-397.)
  */
final case class TagRule(keyword: String, tag: String)

/** The pluggable semantic-judgment boundary behind every `sem_*` operator.
  *
  * The reference implements these five judgments as per-row LLM calls
  * (Semantic-OLAP/Agents/Components/Operaters.py:45-78, 318-350, 376-397,
  * 404-423, 453-494). In this engine they are a trait so that:
  *
  *   - correctness/benchmarking runs on [[DeterministicOracle]] (zero-egress
  *     environment, reproducible results);
  *   - a real LLM-backed oracle can be plugged in without touching any
  *     operator;
  *   - an oracle that CAN be expressed as native Catalyst expressions
  *     advertises that via the `compile*` hooks, keeping the hot path inside
  *     whole-stage codegen with predicate pushdown. Every judgment a hook
  *     does not compile runs out of band through the `*Batch` methods, in
  *     the batched `OracleBatch` operator of [[BatchedExec]], which
  *     [[graft.exec.Cascade]] runs through too; a remote oracle overrides
  *     them with one RPC per batch.
  *
  * Scale posture: `judge`/`extract`/`score`/`classify` are row-local and
  * embarrassingly parallel; `summarize` only ever sees a bounded distinct
  * sample per group (collected by an Aggregator, never the raw rows).
  */
trait SemanticOracle extends Serializable {

  /** sem_filter: does `text` satisfy the natural-language `condition`? */
  def judge(text: String, condition: String): Boolean

  /** sem_map: derive a value for a named dimension from row text; None = "NA". */
  def extract(text: String, desc: String): Option[String]

  /** sem_map one-to-many (the palimpzest `convert` cardinality,
    * Semantic-OLAP/baselines/procedures/python3/convert_dataset.py:
    * `pz.Cardinality.ONE_TO_MANY`): ALL values for the dimension, in
    * text order. Empty = the row derives nothing (and fans out to zero
    * rows). Default: the scalar extraction as a 0/1-element list.
    */
  def extractAll(text: String, desc: String): Seq[String] =
    extract(text, desc).toSeq

  /** sem_group: assign a tag from `vocab` (first matching rule), None = "NA". */
  def classify(text: String, vocab: Seq[TagRule]): Option[String]

  /** sem_reduce: summarize a bounded set of distinct values into one phrase. */
  def summarize(values: Seq[String], desc: String): String

  /** sem_topk: relevance of `text` to `query` in [0, 1]. */
  def score(text: String, query: String): Double

  /** sem_topk duel mode: does `a` beat `b` for `query`? Default: strictly
    * higher score wins (ties: neither side wins — antisymmetric and
    * deterministic). An LLM oracle overrides this with the reference's
    * pairwise "which is better" judgment (Operaters.py:453-494).
    */
  def duel(a: String, b: String, query: String): Boolean =
    score(a, query) > score(b, query)

  /** Catalyst compilation hooks: Some(textCol => predicate/value column) when
    * this oracle's semantics are expressible as native Spark expressions
    * (keeps codegen + pushdown). None => operators use the batch methods.
    */
  def compileJudge(condition: String): Option[Column => Column] = None
  def compileExtract(desc: String): Option[Column => Column] = None
  /** Compiled [[extractAll]]: a Column producing array<string>. */
  def compileExtractAll(desc: String): Option[Column => Column] = None
  def compileClassify(vocab: Seq[TagRule]): Option[Column => Column] = None
  def compileScore(query: String): Option[Column => Column] = None

  /** Batched judgments, one call per batch of row texts (a null text has
    * no row text and never reaches the scalar call). Defaults loop the
    * scalar judgment; a remote oracle overrides them with one RPC.
    */
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

/** Deterministic, fully Catalyst-compilable oracle (the engine default).
  *
  * Semantics (documented so the DuckDB oracle SQL can mirror them exactly):
  *   - judge(text, cond): every non-stopword token of `cond` appears as a
  *     substring of lowercase(text)  (AND-entailment).
  *   - extract(text, desc): `desc` is treated as a regex; first capture
  *     group (or whole match) of its first occurrence; no match => None.
  *   - classify(text, vocab): first rule whose keyword is contained in
  *     lowercase(text); None if no rule matches.
  *   - summarize(values, _): distinct values, sorted, first `summaryK`,
  *     joined with ", ".
  *   - score(text, query): fraction of query tokens contained in
  *     lowercase(text) (0 when query has no tokens).
  */
class DeterministicOracle(val summaryK: Int = 5) extends SemanticOracle {
  import DeterministicOracle._

  override def judge(text: String, condition: String): Boolean = {
    val t = text.toLowerCase
    val toks = tokens(condition)
    toks.nonEmpty && toks.forall(t.contains)
  }

  override def extract(text: String, desc: String): Option[String] = {
    val m = DeterministicOracle.safePattern(desc).matcher(text)
    if (!m.find()) None
    else Option(if (m.groupCount() >= 1) m.group(1) else m.group(0))
  }

  /** Every occurrence, in text order; empty captures are unmappable
    * (the scalar path's `"" -> NA` normalization, element-wise).
    */
  override def extractAll(text: String, desc: String): Seq[String] = {
    val m = DeterministicOracle.safePattern(desc).matcher(text)
    val grp = if (m.groupCount() >= 1) 1 else 0
    val out = Seq.newBuilder[String]
    while (m.find()) {
      val v = m.group(grp)
      if (v != null && v.nonEmpty) out += v
    }
    out.result()
  }

  override def classify(text: String, vocab: Seq[TagRule]): Option[String] = {
    val t = text.toLowerCase
    vocab.find(r => t.contains(r.keyword.toLowerCase)).map(_.tag)
  }

  override def summarize(values: Seq[String], desc: String): String =
    values.distinct.sorted.take(summaryK).mkString(", ")

  override def score(text: String, query: String): Double = {
    val toks = tokens(query)
    if (toks.isEmpty) 0.0
    else {
      val t = text.toLowerCase
      toks.count(t.contains).toDouble / toks.length
    }
  }

  // --- Catalyst compilation: everything stays in whole-stage codegen ---

  override def compileJudge(condition: String): Option[Column => Column] = {
    val toks = tokens(condition)
    if (toks.isEmpty) Some(_ => lit(false))
    // native codegen kernel: lowers the row text once, loops the tokens
    else Some(text => graft.functions.TextPredicates.containsAll(text, toks))
  }

  override def compileExtract(desc: String): Option[Column => Column] = {
    val p = DeterministicOracle.safePattern(desc)
    val grp = if (p.matcher("").groupCount() >= 1) 1 else 0
    // regexp_extract returns "" on no match; normalize to null (= "NA")
    Some(text => {
      val v = regexp_extract(text, p.pattern(), grp)
      when(v === "", lit(null).cast("string")).otherwise(v)
    })
  }

  override def compileExtractAll(desc: String): Option[Column => Column] = {
    val p = DeterministicOracle.safePattern(desc)
    val grp = if (p.matcher("").groupCount() >= 1) 1 else 0
    // codegen'd: every match's capture, empty captures dropped (the
    // element-wise analogue of the scalar "" -> NA)
    Some(text => filter(
      regexp_extract_all(text, lit(p.pattern()), lit(grp)),
      v => v =!= ""))
  }

  override def compileClassify(vocab: Seq[TagRule]): Option[Column => Column] =
    Some { text =>
      val lt = lower(text)
      vocab.foldRight(lit(null).cast("string"): Column) { (r, els) =>
        when(lt.contains(r.keyword.toLowerCase), lit(r.tag)).otherwise(els)
      }
    }

  override def compileScore(query: String): Option[Column => Column] = {
    val toks = tokens(query)
    if (toks.isEmpty) Some(_ => lit(0.0))
    else Some { text =>
      val lt = lower(text)
      val matched = toks.map(k => when(lt.contains(k), 1).otherwise(0))
        .reduce(_ + _)
      matched.cast("double") / lit(toks.length.toDouble)
    }
  }
}

object DeterministicOracle {
  val default = new DeterministicOracle()

  /** Stopwords dropped from conditions/queries before entailment matching. */
  val stopwords: Set[String] = Set(
    "a", "an", "the", "of", "in", "on", "at", "to", "for", "with", "by",
    "and", "or", "is", "are", "was", "were", "be", "been", "that", "this",
    "it", "its", "about", "mentions", "mention", "contains", "contain",
    "related", "regarding", "concerning")

  /** Compile `desc` as a regex; natural-language descriptions that are not
    * valid regexes (golden plans carry NL like "the errors of data") fall
    * back to a literal (quoted) pattern.
    */
  def safePattern(desc: String): java.util.regex.Pattern =
    try java.util.regex.Pattern.compile(desc)
    catch {
      case _: java.util.regex.PatternSyntaxException =>
        java.util.regex.Pattern.compile(java.util.regex.Pattern.quote(desc))
    }

  /** Lowercase word tokens minus stopwords; the condition vocabulary. */
  def tokens(s: String): Seq[String] =
    s.toLowerCase.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty)
      .filterNot(stopwords.contains).distinct
}
