package graft.exec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.oracle.{BatchedExec, SemanticOracle}
import graft.plan.{LogicalOp, LogicTree}
import graft.ops._

/** Cost-ordered filter cascade: the engine's one filter executor.
  *
  * The reference's execution agent flattens the filter plan, sorts it by a
  * cost class (numeric/keyword=0 < pattern/enum=1 < LLM=2,
  * Exection_Agent.py:54-60,105-113) and evaluates ops cheapest-first with
  * three-valued short-circuiting so expensive ops only ever see undecided
  * rows (Exection_Agent.py:380-394, 181-210). In band (cheap leaves and
  * compiled judgments) the tree is one `Column`, children of every AND/OR
  * node ordered cheap-first: Spark's `And`/`Or` codegen short-circuits per
  * row, and Catalyst pushes the cheap conjuncts into the scan. Every sem
  * leaf the oracle does not compile is judged out of band, in batches, by
  * the staged form of [[run]], for any AND/OR tree.
  */
object Cascade {

  /** A filter leaf lowered for execution, with its cost class. */
  sealed trait Leaf { def cost: Int }
  /** A predicate already in Column form. */
  final case class Pred(pred: Column, cost: Int) extends Leaf
  /** A sem_filter judgment: in band when the oracle compiles it, out of
    * band otherwise. */
  final case class Judge(op: LogicalOp.SemFilter) extends Leaf { val cost = 2 }

  /** Reference PRIORITY_MAP semantics (Exection_Agent.py:54-60). */
  def cost(op: LogicalOp): Int = op match {
    case _: LogicalOp.NumFilter | _: LogicalOp.KeywordFilter => 0
    case _: LogicalOp.SemFilter => 2
    case _ => 1
  }

  def lower(df: DataFrame, op: LogicalOp): Leaf = op match {
    case f: LogicalOp.KeywordFilter => Pred(
      KeywordFilter.predicate(df, f.columns, f.keywords, f.logic, f.relation),
      cost(f))
    case f: LogicalOp.NumFilter =>
      Pred(NumFilter.predicate(f.conditions, f.logic), cost(f))
    case f: LogicalOp.SemFilter => Judge(f)
    case other => sys.error(s"not a filter operator: ${other.name}")
  }

  private def inBand(df: DataFrame, leaf: Leaf,
      oracle: SemanticOracle): Column = leaf match {
    case Pred(p, _) => p
    case Judge(f) =>
      oracle.compileJudge(f.condition).get(Ops.textCol(df, f.columns))
  }

  /** Fold a logic tree into one Column over `value` per leaf, children of
    * each node ordered by cost class (stable within a class, preserving
    * plan order — matching `reorder_by_priority`'s stable sort). */
  private def fold(t: LogicTree, leaves: Map[Int, Leaf],
      value: Int => Column): Column = {
    def leafCost(t: LogicTree): Int = t match {
      case LogicTree.Leaf(id) => leaves(id).cost
      case LogicTree.Node(_, cs) => if (cs.isEmpty) 0 else cs.map(leafCost).max
    }
    def build(t: LogicTree): Column = t match {
      case LogicTree.Leaf(id) => value(id)
      case LogicTree.Node(op, cs) =>
        Ops.foldLogic(cs.sortBy(leafCost).map(build), op.toLowerCase)
    }
    build(t)
  }

  /** Filter `df` by a plan of filter ops composed under `tree`; a missing
    * tree means AND of all (the reference's default when no logic is given).
    */
  def filter(df: DataFrame, ops: Seq[(Int, LogicalOp)],
      tree: Option[LogicTree], oracle: SemanticOracle): DataFrame =
    run(df, ops.map { case (id, op) => id -> lower(df, op) },
      tree.getOrElse(LogicTree.Node("AND", ops.map(o => LogicTree.Leaf(o._1)))),
      oracle)

  /** Filter `df` by `tree` over lowered `leaves` (in plan order). The output
    * has `df`'s schema, and its logical plan adds exactly one `Filter`.
    *
    * Staged form: that Filter drops the rows the cheap leaves already fail
    * (out-of-band leaves read TRUE). One [[BatchedExec.run]] operator then
    * walks each partition in order, in blocks of [[MaxBlockRows]] rows, the
    * other leaves as helper columns coalesced to false (sound: the tree has
    * no NOT). Per out-of-band leaf, in plan order, it judges in batches of
    * [[JudgeBatch]] the rows whose tree is still undecided (unjudged leaves
    * unknown) and that the leaf can still change; a row without text is
    * false with no call. It emits the rows whose tree came out true, as
    * they are. */
  def run(df: DataFrame, leaves: Seq[(Int, Leaf)], tree: LogicTree,
      oracle: SemanticOracle): DataFrame = {
    val t = LogicTree.normalize(tree)
    val byId = leaves.toMap
    val staged = leaves.collect {
      case (id, Judge(f)) if oracle.compileJudge(f.condition).isEmpty =>
        (id, f.condition)
    }
    val semIds = staged.map(_._1).toSet
    val mayPass = df.filter(fold(t, byId, id =>
      if (semIds(id)) lit(true) else inBand(df, byId(id), oracle)))
    if (staged.isEmpty) return mayPass
    val helpers = leaves.map { case (id, leaf) => leaf match {
      case Judge(f) if semIds(id) => nullif(Ops.textCol(df, f.columns), lit(""))
      case _ => coalesce(inBand(df, leaf, oracle), lit(false))
    }}
    val ids = leaves.map(_._1)
    BatchedExec.run(mayPass, helpers, None, MaxBlockRows, s"judge[$JudgeBatch]") {
        (at, block) =>
      val ord = ids.zip(at).toMap
      val judged = block.map(_ => scala.collection.mutable.Map.empty[Int, Boolean])
      def value(r: Int)(id: Int): Option[Boolean] =
        if (!semIds(id)) Some(block(r).getBoolean(ord(id)))
        else if (block(r).isNullAt(ord(id))) Some(false)
        else judged(r).get(id)
      staged.foreach { case (id, condition) =>
        block.indices.filter(r => value(r)(id).isEmpty &&
            eval(t, value(r)).isEmpty && reaches(t, id, value(r)))
          .grouped(JudgeBatch).foreach { rs =>
            val outs = oracle.judgeBatch(
              rs.map(block(_).getUTF8String(ord(id)).toString), condition)
            require(outs.length == rs.length,
              s"oracle batch returned ${outs.length} results for ${rs.length} inputs")
            rs.lazyZip(outs).foreach((r, o) => judged(r)(id) = o)
          }
      }
      block.iterator.zipWithIndex
        .collect { case (row, r) if eval(t, value(r)).contains(true) => row }
    }
  }

  /** Rows the staged kernel holds at once, and texts per judge call. */
  private val MaxBlockRows = 4096
  private val JudgeBatch = 64

  /** Kleene (three-valued) value of `t`; None = undecided. */
  private def eval(t: LogicTree, v: Int => Option[Boolean]): Option[Boolean] =
    t match {
      case LogicTree.Leaf(id) => v(id)
      case LogicTree.Node(_, Seq()) => Some(true)
      case LogicTree.Node(op, cs) =>
        val or = op.equalsIgnoreCase("or")
        val vs = cs.map(eval(_, v))
        if (vs.contains(Some(or))) Some(or)
        else if (vs.forall(_.isDefined)) Some(!or)
        else None
    }

  /** Whether leaf `id` can still change the value of `t`: on its path every
    * AND sibling may be true and every OR sibling may be false.
    */
  private def reaches(t: LogicTree, id: Int,
      v: Int => Option[Boolean]): Boolean = t match {
    case LogicTree.Leaf(i) => i == id
    case LogicTree.Node(op, cs) =>
      val or = op.equalsIgnoreCase("or")
      cs.indices.exists(i => reaches(cs(i), id, v) &&
        cs.indices.forall(j => j == i || !eval(cs(j), v).contains(or)))
  }
}

/** Whole-plan executor: runs a reference-format plan (filters + derivations
  * + aggregations + top-k) left to right, the way golden plans in
  * Semantic-OLAP/datas/evaluate_datas.json are ordered. Consecutive filter
  * ops are fused into one cost-ordered cascade before execution.
  *
  * Reference cube semantics (Roll_Up_Agent.py, OLAP_Memory.py): the row
  * frame with its derived columns lives on, aggregations are GROUP
  * SUMMARIES beside it. The runner therefore carries both a `base` (rows +
  * derived dims) and the current `out` (possibly a summary); an op whose
  * input columns only exist on the base (e.g. `sem_topk(title)` after a
  * `count`) runs against the base, matching the reference's behavior of
  * analyzing the node's rows, not the summary.
  */
object PlanRunner {
  def isFilter(op: LogicalOp): Boolean = op match {
    case _: LogicalOp.KeywordFilter | _: LogicalOp.NumFilter |
         _: LogicalOp.SemFilter => true
    case _ => false
  }

  /** Frames pinned for open-set double-billing protection (see the
    * SemGroup case below). The cap bounds the CacheManager growth a
    * long-lived service would otherwise accumulate (one pinned cascade
    * per open-set plan, forever): past it, the oldest frame is evicted,
    * and a later re-read of that old plan's result returns to the
    * engine's default lazy semantics (recompute, re-bill), while the plan
    * currently executing always holds its pin.
    */
  private val MaxPinned = 4
  private val pins = new PinSet(MaxPinned)

  /** Resolve corpus count-column naming variants against available columns:
    * "count" / "<dim>_count" both mean the engine's "count_of_<dim>".
    */
  private def resolveColumn(name: String, cols: Seq[String]): Option[String] =
    if (cols.contains(name)) Some(name)
    else cols.filter(_.startsWith(s"${name}_of_")) match {
      case Seq(one) => Some(one)
      case _ =>
        val m = "(.*)_count$".r.findFirstMatchIn(name)
          .map(g => s"count_of_${g.group(1)}").filter(cols.contains)
        m.orElse(cols.filter(_.startsWith("count_of_")) match {
          case Seq(one) if name == "count" => Some(one)
          case _ => None
        })
    }

  /** Run a plan; returns (result, base) — base is the final row-level frame
    * with all derived columns (session state for progressive queries).
    */
  def runWithState(df0: DataFrame, plan: Seq[LogicalOp],
      oracle: SemanticOracle,
      tiebreak: Seq[String] = Seq.empty): (DataFrame, DataFrame) =
    runSeamed(df0, plan, (_, _) => oracle, tiebreak)

  /** [[runWithState]] with a per-step oracle seam: `oracleFor(i, op)` is
    * consulted once per oracle-using plan step (memoize in the caller if
    * identity matters), which is how [[Policied.run]] attributes oracle
    * calls to per-operator cost lines. A run of consecutive filters fuses
    * into one cascade and draws ONE oracle, keyed by the run's first op.
    */
  def runSeamed(df0: DataFrame, plan: Seq[LogicalOp],
      oracleFor: (Int, LogicalOp) => SemanticOracle,
      tiebreak: Seq[String] = Seq.empty): (DataFrame, DataFrame) = {
    var base = df0 // row frame: filters + derived dims accumulate here
    var out = df0  // current result: may be a group summary
    var i = 0

    // pick the frame that can satisfy the op's column needs (out wins ties)
    def frameFor(needed: Seq[String]): DataFrame = {
      val have = needed.filter(_.nonEmpty)
      if (have.forall(out.columns.contains)) out
      else if (have.forall(base.columns.contains)) base
      else out
    }

    while (i < plan.length) {
      if (isFilter(plan(i))) {
        val run = plan.drop(i).takeWhile(isFilter)
        val oracle = oracleFor(i, plan(i))
        base = Cascade.filter(base, run.zipWithIndex.map(_.swap), None, oracle)
        out = base
        i += run.length
      } else {
        lazy val oracle = oracleFor(i, plan(i))
        plan(i) match {
          case op: LogicalOp.SemMap =>
            base = SemMap(base, op, oracle); out = base
          case op: LogicalOp.SemGroup =>
            if (!base.columns.contains(op.keyword)) { // granularity reuse
              // open-set grouping scans twice (vocabulary mining is a
              // separate action before classification); when an earlier
              // plan step pays an OUT-OF-BAND oracle per row, pin the
              // frame (persist under a bounded [[PinSet]]) so the
              // mining pass does not re-judge (and re-bill) the whole
              // upstream cascade. Compiled upstreams recompute for free
              // and skip the cache.
              val oraclePaysUpstream = plan.take(i).exists {
                case f: LogicalOp.SemFilter =>
                  oracle.compileJudge(f.condition).isEmpty
                case m: LogicalOp.SemMap =>
                  oracle.compileExtract(m.mapDescription).isEmpty
                case _ => false
              }
              val src = if (oraclePaysUpstream) pins.pin(base) else base
              base = SemGroup(src, op, oracle, maxTags = 20)
            }
            out = base
          case op: LogicalOp.SemReduce =>
            // plan legalization: golden plans sometimes group by a column
            // minted LATER in the plan (or never — the corpus was never
            // executed, 4.Q4/12.Q4). Hoist the minting op if one exists,
            // else derive the group column by open-set sem_group.
            op.groupBy.filterNot(g =>
              base.columns.contains(g) || out.columns.contains(g))
              .foreach { g =>
                plan.drop(i + 1).collectFirst {
                  case d: LogicalOp.SemGroup if d.keyword == g => d
                  case d: LogicalOp.SemMap if d.keyword == g => d
                } match {
                  case Some(d: LogicalOp.SemGroup) =>
                    base = SemGroup(base, d, oracle, maxTags = 20)
                  case Some(d: LogicalOp.SemMap) =>
                    base = SemMap(base, d, oracle)
                  case _ =>
                    base = SemGroup(base,
                      LogicalOp.SemGroup(op.columns, s"group by $g", g),
                      oracle, maxTags = 20)
                }
                out = base
              }
            val f = frameFor(op.columns ++ op.groupBy.toSeq)
            out = SemReduce(f, op, oracle)
          case op: LogicalOp.NumReduce =>
            val f = frameFor(op.columns ++ op.groupBy.toSeq)
            out = NumReduce(f, op)
          case op: LogicalOp.CountOp =>
            out = CountOp(frameFor(Seq(op.groupBy) ++ op.columns), op)
          case op: LogicalOp.NumTopK =>
            val f =
              if (resolveColumn(op.column, out.columns).isDefined) out
              else if (resolveColumn(op.column, base.columns).isDefined) base
              else out
            val resolved = resolveColumn(op.column, f.columns)
              .map(c => op.copy(column = c)).getOrElse(op)
            out = NumTopK(f, resolved, tiebreak.filter(f.columns.contains))
          case op: LogicalOp.SemTopK =>
            val f = frameFor(op.columns)
            out = SemTopK(f, op, oracle, tiebreak.filter(f.columns.contains))
          case op: LogicalOp.Opaque =>
            sys.error(s"cannot execute opaque operator '${op.name}'")
        }
        i += 1
      }
    }
    (out, base)
  }

  def run(df0: DataFrame, plan: Seq[LogicalOp], oracle: SemanticOracle,
      tiebreak: Seq[String] = Seq.empty): DataFrame =
    runWithState(df0, plan, oracle, tiebreak)._1
}
