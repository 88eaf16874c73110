package graft.exec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.oracle.SemanticOracle
import graft.plan.{LogicalOp, LogicTree}
import graft.ops._

/** Cost-ordered filter-cascade construction.
  *
  * The reference's execution agent flattens the filter plan, sorts it by a
  * cost class (numeric/keyword=0 < pattern/enum=1 < LLM=2,
  * Exection_Agent.py:54-60,105-113) and evaluates ops cheapest-first with
  * three-valued short-circuiting so expensive ops only ever see undecided
  * rows (Exection_Agent.py:380-394, 181-210).
  *
  * The Spark-native equivalent needs no multi-pass row routing:
  *   - every leaf becomes a `Column` predicate;
  *   - within every AND/OR node, children are ordered cheap-first;
  *   - Spark's `And`/`Or` codegen short-circuits per row, so an expensive
  *     oracle UDF on the right of a cheap keyword predicate is only
  *     evaluated for rows the cheap one left undecided — the reference's
  *     cascade, fused into one whole-stage-codegen pass;
  *   - Catalyst additionally splits the cheap conjuncts out and pushes them
  *     into the parquet scan (`PushedFilters`), which the reference cannot do.
  */
object Cascade {

  /** Reference PRIORITY_MAP semantics (Exection_Agent.py:54-60). */
  def cost(op: LogicalOp): Int = op match {
    case _: LogicalOp.NumFilter | _: LogicalOp.KeywordFilter => 0
    case _: LogicalOp.SemFilter => 2
    case _ => 1
  }

  def leafPredicate(df: DataFrame, op: LogicalOp,
      oracle: SemanticOracle): Column = op match {
    case f: LogicalOp.KeywordFilter =>
      KeywordFilter.predicate(df, f.columns, f.keywords, f.logic, f.relation)
    case f: LogicalOp.NumFilter =>
      NumFilter.predicate(f.conditions, f.logic)
    case f: LogicalOp.SemFilter =>
      SemFilter.predicate(df, f.columns, f.condition, oracle)
    case other =>
      sys.error(s"not a filter operator: ${other.name}")
  }

  /** Fold a logic tree over filter leaves into one Column, children of each
    * node ordered by cost class (stable within a class, preserving plan
    * order — matching `reorder_by_priority`'s stable sort).
    */
  def predicate(df: DataFrame, leaves: Map[Int, LogicalOp], tree: LogicTree,
      oracle: SemanticOracle): Column = {

    def leafCost(t: LogicTree): Int = t match {
      case LogicTree.Leaf(id) => cost(leaves(id))
      case LogicTree.Node(_, cs) => if (cs.isEmpty) 0 else cs.map(leafCost).max
    }

    def build(t: LogicTree): Column = t match {
      case LogicTree.Leaf(id) => leafPredicate(df, leaves(id), oracle)
      case LogicTree.Node(op, cs) =>
        val ordered = cs.sortBy(leafCost).map(build)
        Ops.foldLogic(ordered, op.toLowerCase)
    }
    build(LogicTree.normalize(tree))
  }

  /** Some(leaf ids) when the normalized tree is an AND over plain leaves
    * (or a single leaf) — the shape eligible for staged batched execution.
    */
  private def andLeafIds(t: LogicTree): Option[Seq[Int]] = t match {
    case LogicTree.Leaf(id) => Some(Seq(id))
    case LogicTree.Node(op, cs) if op.equalsIgnoreCase("and") &&
        cs.forall(_.isInstanceOf[LogicTree.Leaf]) =>
      Some(cs.collect { case LogicTree.Leaf(id) => id })
    case _ => None
  }

  /** Filter `df` by a plan of filter ops composed under `tree`; a missing
    * tree means AND of all (the reference's default when no logic is given).
    *
    * Staged batched cascade (Exection_Agent.py:380-394): under a pure AND
    * of leaves with a non-compilable [[graft.oracle.BatchedOracle]], the
    * cheap Column leaves run first as one codegen'd filter and ONLY the
    * survivors stream through the batched sem_filter stages — the
    * reference's undecided-row staging, instead of a per-row UDF leaf
    * inside the single-pass predicate. Mixed OR trees keep the one-pass
    * Column form (short-circuit still minimizes oracle evaluations there).
    */
  def filter(df: DataFrame, ops: Seq[(Int, LogicalOp)],
      tree: Option[LogicTree], oracle: SemanticOracle): DataFrame = {
    val t = tree.getOrElse(LogicTree.Node("AND", ops.map(o => LogicTree.Leaf(o._1))))
    val leaves = ops.toMap
    val norm = LogicTree.normalize(t)
    (oracle, andLeafIds(norm)) match {
      case (b: graft.oracle.BatchedOracle, Some(ids)) =>
        val (semIds, cheapIds) = ids.partition { id =>
          leaves(id) match {
            case f: LogicalOp.SemFilter =>
              oracle.compileJudge(f.condition).isEmpty
            case _ => false
          }
        }
        if (semIds.isEmpty) df.filter(predicate(df, leaves, norm, oracle))
        else {
          val pre =
            if (cheapIds.isEmpty) df
            else df.filter(predicate(df, leaves,
              LogicTree.Node("AND", cheapIds.map(LogicTree.Leaf(_))), oracle))
          semIds.map(leaves).collect { case f: LogicalOp.SemFilter => f }
            .foldLeft(pre) { (d, f) =>
              graft.oracle.BatchedExec.semFilter(d,
                Ops.textCol(d, f.columns), f.condition, b)
            }
        }
      case _ => df.filter(predicate(df, leaves, norm, oracle))
    }
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
