package graft.cube

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.oracle.{SemanticOracle, TagRule}
import graft.plan.{LogicTree, LogicalOp}
import graft.exec.{Cascade, PinSet}
import graft.ops.{CountOp, NumReduce, Reattach, SemGroup, SemMap, SemReduce}

/** The OLAP cube / memory layer (SURVEY.md §1, §4):
  *
  *   - [[CubeNode]] mirrors the reference Cube_node (OLAP_Memory.py:106-134):
  *     a query's filtered frame + its dimension views + the plan lineage.
  *   - [[Granularity]] mirrors Granularity_View (OLAP_Memory.py:69-103): a
  *     derived `(id, value)` projection at one abstraction level, carrying
  *     the plan that built it (lineage) and an optional group summary.
  *   - [[CubeCatalog]] replaces the LLM-judged memory DAG
  *     (OLAP_Memory.py:137-187): subsumption between cached results is
  *     decided STRUCTURALLY on canonical predicate sets — `Equal` when the
  *     sets match, `Subset` when one strictly contains the other — so reuse
  *     is deterministic. A new query starts from the smallest cached
  *     superset and applies only its delta predicates (the reference's
  *     incremental-filter path, OLAP_Agent.py:397-418).
  *     [[CubeCatalog.filterQuery]] is the one lookup and the one place
  *     that admits a node, for direct queries and agent sessions alike.
  *
  * Scale posture: nothing here collects rows. Every node the catalog
  * computes is persisted (MEMORY_AND_DISK) and held in one process-wide,
  * least-recently-used pin set of [[CubeCatalog.MaxPinned]] frames; an
  * Equal or delta hit re-pins its node. So while a node stays pinned, a
  * repeat or a refinement reads its cached rows instead of rescanning the
  * base table and re-paying its semantic judgments. A node evicted from
  * the pin set keeps its lazy lineage and recomputes the same answer from
  * it. The root, and nodes registered from outside (a
  * [[CatalogStore]] reload reads materialized parquet), are never pinned.
  * A node computed from the root is sized to its data before it is
  * pinned ([[graft.exec.PinSet.sized]]): brought to the partition count
  * Spark's file-split rule gives the root's estimated bytes
  * ([[graft.exec.PinSet.partitionsFor]], from plan statistics, once per
  * catalog). A node over a table of a few MB is then one partition, so
  * every later query over it runs one task per stage and its group-by
  * needs no shuffle. A node whose filters judge out of band is shuffled
  * into that count after its judgments, which keep the root scan's
  * partitions; any other node is coalesced. Delta nodes and the verbs'
  * frames are narrow over their base and inherit its partitioning, so a
  * delta's out-of-band judgments run in its base's partitions. A large
  * root keeps Spark's split, and a root with no size statistics keeps its
  * partitions.
  */
final case class Granularity(name: String, view: DataFrame,
    plan: Seq[LogicalOp], summary: Option[DataFrame] = None)

final case class DimensionViews(column: String,
    granularities: Map[String, Granularity] = Map.empty)

final case class CubeNode(id: Int, query: String,
    predicates: Set[String], df: DataFrame,
    dims: Map[String, DimensionViews], plan: Seq[LogicalOp],
    filterOps: Seq[LogicalOp] = Seq.empty)

/** Canonicalization of filter predicates for subsumption keys: each filter
  * op encodes to a normalized string atom; a conjunctive query's key is
  * the SET of its atoms. Any other logic tree is keyed by the single
  * [[treeAtom]] of the whole tree, so it is reused only by the same tree
  * and never as a delta base (SURVEY.md §7 hard-part #4).
  */
object PredicateAtoms {
  def atom(op: LogicalOp): String = op match {
    case f: LogicalOp.KeywordFilter =>
      s"kw:${f.columns.sorted.mkString(",")}:${f.keywords.map(_.toLowerCase).sorted.mkString("|")}:${f.logic}:${f.relation}"
    case f: LogicalOp.NumFilter =>
      val cs = f.conditions.map(c => s"${c.column}${c.op}${c.threshold}")
        .sorted.mkString("|")
      s"num:$cs:${f.logic}"
    case f: LogicalOp.SemFilter =>
      s"sem:${f.columns.sorted.mkString(",")}:${f.condition.toLowerCase.trim}"
    case other => s"op:${other.name}:${other.hashCode}"
  }

  def atoms(filters: Seq[LogicalOp]): Set[String] = filters.map(atom).toSet

  /** One atom for a logic tree over `filters` (leaf ids index into it):
    * the normalized tree, children sorted so `OR(A,B)` and `OR(B,A)`
    * match, leaf atoms length-prefixed so no atom text is ambiguous.
    */
  def treeAtom(tree: LogicTree, filters: Seq[LogicalOp]): String = {
    def enc(t: LogicTree): String = t match {
      case LogicTree.Leaf(id) => val a = atom(filters(id)); s"${a.length}:$a"
      case LogicTree.Node(op, cs) =>
        cs.map(enc).sorted.mkString(s"${op.toLowerCase}(", ",", ")")
    }
    "tree:" + enc(LogicTree.normalize(tree))
  }

  /** Does `tree` normalize to a flat AND of all `n` filters? */
  def flatAnd(tree: LogicTree, n: Int): Boolean =
    (LogicTree.normalize(tree) match {
      case LogicTree.Node(op, cs) if op.equalsIgnoreCase("and") => cs
      case t => Seq(t)
    }).map { case LogicTree.Leaf(id) => id; case _ => -1 }.toSet ==
      (0 until n).toSet

  /** Conservative single-atom implication: do `q`'s rows form a subset of
    * `c`'s rows? The structural analogue of the reference's LLM `Subset`
    * judgment (OLAP_Memory.py:5-44) for the decidable cases:
    *
    *   - identical atoms;
    *   - AND-of-numeric-conditions where every cached condition is entailed
    *     by a query condition on the same column (`x >= 300` implies
    *     `x >= 200`);
    *   - AND-contains keyword filters over the same columns where the query
    *     keywords are a superset of the cached ones.
    *
    * Anything else -> false (no reuse), never a wrong reuse.
    */
  def implies(q: LogicalOp, c: LogicalOp): Boolean =
    atom(q) == atom(c) || ((q, c) match {
      case (a: LogicalOp.NumFilter, b: LogicalOp.NumFilter)
          if a.logic.equalsIgnoreCase("and") && b.logic.equalsIgnoreCase("and") =>
        b.conditions.forall(bc => a.conditions.exists(ac => condImplies(ac, bc)))
      case (a: LogicalOp.KeywordFilter, b: LogicalOp.KeywordFilter)
          if a.relation == "contains" && b.relation == "contains" &&
            a.logic.equalsIgnoreCase("and") && b.logic.equalsIgnoreCase("and") &&
            a.columns.sorted == b.columns.sorted =>
        b.keywords.map(_.toLowerCase).toSet
          .subsetOf(a.keywords.map(_.toLowerCase).toSet)
      case _ => false
    })

  /** Does satisfying numeric condition `a` entail satisfying `b`? */
  private def condImplies(a: graft.plan.NumCondition,
      b: graft.plan.NumCondition): Boolean =
    a.column == b.column && ((a.op, b.op) match {
      case ("==", _) => b.op match {
        case "==" => a.threshold == b.threshold
        case ">"  => a.threshold > b.threshold
        case ">=" => a.threshold >= b.threshold
        case "<"  => a.threshold < b.threshold
        case "<=" => a.threshold <= b.threshold
        case "!=" => a.threshold != b.threshold
        case _ => false
      }
      case (">", ">")   => a.threshold >= b.threshold
      case (">", ">=")  => a.threshold >= b.threshold
      case (">=", ">=") => a.threshold >= b.threshold
      case (">=", ">")  => a.threshold > b.threshold
      case ("<", "<")   => a.threshold <= b.threshold
      case ("<", "<=")  => a.threshold <= b.threshold
      case ("<=", "<=") => a.threshold <= b.threshold
      case ("<=", "<")  => a.threshold < b.threshold
      case _ => a.op == b.op && a.threshold == b.threshold
    })
}

/** @param relationJudge OPTIONAL natural-language relation oracle — the
  *   reference's LLM memory-DAG judgment (OLAP_Memory.py:5-44) as the
  *   fallback seam SURVEY §7 hard-part 4 promised. `(currentQueryText,
  *   historicalQueryText) => relation keyword` (contain | subset | equal
  *   | intersect | no_relation, parsed by containment exactly like the
  *   reference's parse_relation, OLAP_Memory.py:48-64). The STRUCTURAL
  *   path stays authoritative: the judge is consulted only when
  *   structure classifies NoRelation, and only to ADD reuse — a judge
  *   that always refuses (answers no_relation) reproduces today's
  *   behavior bit for bit. Default None: zero behavior change.
  */
class CubeCatalog(root: DataFrame, oracle: SemanticOracle,
    relationJudge: Option[(String, String) => String] = None) {
  import CubeCatalog.{Reuse, pins}
  private var nextId = 1
  private var nodes: Vector[CubeNode] =
    Vector(CubeNode(0, "All Data", Set.empty, root, Map.empty, Seq.empty))
  /** Ids of the nodes this catalog computed: the only ones it pins. */
  private val computed = scala.collection.mutable.Set.empty[Int]

  private var equalHits = 0L
  private var deltaHits = 0L
  private var misses = 0L
  private val evictions = new java.util.concurrent.atomic.AtomicLong

  /** Lookup outcomes so far, and how many of this catalog's pins the
    * shared pin set has evicted.
    */
  def reuse: Reuse = Reuse(equalHits, deltaHits, misses, evictions.get)

  /** The partition count of a node computed from the root, by Spark's
    * split rule over the root's estimated size ([[PinSet.partitionsFor]]).
    */
  private lazy val rootPartitions = PinSet.partitionsFor(root)

  /** Pin a node this catalog computed (a no-op for any other node). */
  private def repin(n: CubeNode): CubeNode = {
    if (computed(n.id)) pins.pin(n.df, () => evictions.incrementAndGet())
    n
  }

  def all: Seq[CubeNode] = nodes
  /** Lookup by node ID (not vector position): externally registered
    * catalogs (a CatalogStore reload, say) may carry gapped id sequences.
    */
  def node(id: Int): CubeNode = nodes.find(_.id == id)
    .getOrElse(throw new NoSuchElementException(s"no cube node with id $id"))

  /** Attach dimension views to the root node (id 0) — the reload path for
    * catalogs whose root had dims when saved; the root frame itself is
    * never copied.
    */
  def attachRootDims(dims: Map[String, DimensionViews]): Unit =
    nodes = nodes.updated(0, nodes(0).copy(dims = nodes(0).dims ++ dims))

  /** The reference's full five-way relation (OLAP_Memory.py:5-64), decided
    * STRUCTURALLY instead of by LLM judgment. Conjunctive semantics: more
    * atoms = fewer rows.
    *
    *   - Equal:     same atom set;
    *   - Subset:    query adds atoms — query rows ⊆ cached rows (the only
    *                relation execution reuses: start from cached, apply the
    *                delta);
    *   - Contain:   query drops atoms — query rows ⊇ cached rows (DAG
    *                lineage: the new node is an ancestor of the cached one);
    *   - Disjoint:  provably empty overlap — contradictory numeric ranges
    *                on the same column (the reference's no_relation
    *                "mutually exclusive conditions" case);
    *   - Intersect: atom sets overlap but neither contains the other and
    *                no contradiction is provable. NOTE: the reference
    *                reserves intersect for *known* overlap; structural
    *                analysis cannot prove row overlap, so this value means
    *                "possibly overlapping" and execution treats it exactly
    *                like NoRelation (never a wrong reuse);
    *   - NoRelation: no shared atoms.
    */
  sealed trait Relation5
  case object Equal5 extends Relation5
  case object Subset5 extends Relation5
  case object Contain5 extends Relation5
  case object Intersect5 extends Relation5
  case object Disjoint5 extends Relation5
  case object NoRelation5 extends Relation5

  def relation5(cached: Seq[LogicalOp], query: Seq[LogicalOp]): Relation5 = {
    val ca = PredicateAtoms.atoms(cached)
    val qa = PredicateAtoms.atoms(query)
    if (ca == qa) Equal5
    else if (provablyDisjoint(cached, query)) Disjoint5
    else if (ca.subsetOf(qa)) Subset5
    else if (qa.subsetOf(ca)) Contain5
    else if ((ca & qa).nonEmpty) Intersect5
    else NoRelation5
  }

  /** The reference's keyword parse (OLAP_Memory.py:48-64): containment
    * checks in the same order; anything unrecognized is NoRelation.
    */
  private def parseRelation5(s: String): Relation5 = {
    val t = String.valueOf(s).toLowerCase
    if (t.contains("contain")) Contain5
    else if (t.contains("subset")) Subset5
    else if (t.contains("equal")) Equal5
    else if (t.contains("intersect")) Intersect5
    else NoRelation5
  }

  /** [[relation5]] with the optional NL judge as fallback (r18):
    * structure decides whenever it can (any verdict but NoRelation5 is
    * final — the judge can never override it); only a structural
    * NoRelation5 consults the judge, one bounded call per pair, so an
    * NL-equivalent-but-structurally-distinct query pair (`sem_filter
    * "spark"` vs `keyword_filter ["spark"]`, say) can still reuse.
    * Without a judge this IS [[relation5]].
    *
    * Verdicts are MEMOIZED per (queryText, cachedText) pair (r19):
    * a long session re-running the same structurally-alien query pays
    * the judge once per pair ever, not once per descent — cached query
    * texts are immutable, so a verdict can never go stale. Bounded;
    * evicted wholesale (verdicts are cheap to re-ask relative to
    * unbounded growth).
    */
  private val judgeMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Relation5]

  def relation5Judged(cached: Seq[LogicalOp], query: Seq[LogicalOp],
      cachedText: String, queryText: String): Relation5 = {
    val structural = relation5(cached, query)
    if (structural != NoRelation5) structural
    else relationJudge match {
      case Some(j) =>
        if (judgeMemo.size > 4096) judgeMemo.clear()
        judgeMemo.computeIfAbsent((queryText, cachedText),
          _ => parseRelation5(j(queryText, cachedText)))
      case None => structural
    }
  }

  /** Contradictory AND-numeric ranges on a shared column, e.g. cached
    * `x < 3` vs query `x > 5`: no row satisfies both, so the result sets
    * are provably disjoint (both non-empty overlap cases are excluded).
    */
  private def provablyDisjoint(a: Seq[LogicalOp], b: Seq[LogicalOp]): Boolean = {
    def andConds(ops: Seq[LogicalOp]): Seq[graft.plan.NumCondition] =
      ops.collect {
        case f: LogicalOp.NumFilter if f.logic.equalsIgnoreCase("and") =>
          f.conditions
      }.flatten
    val bByCol = andConds(b).groupBy(_.column)
    andConds(a).exists { ac =>
      bByCol.getOrElse(ac.column, Seq.empty).exists { bc =>
        def lo(c: graft.plan.NumCondition): Option[(Double, Boolean)] = c.op match {
          case ">"  => Some((c.threshold, false))
          case ">=" => Some((c.threshold, true))
          case "==" => Some((c.threshold, true))
          case _    => None
        }
        def hi(c: graft.plan.NumCondition): Option[(Double, Boolean)] = c.op match {
          case "<"  => Some((c.threshold, false))
          case "<=" => Some((c.threshold, true))
          case "==" => Some((c.threshold, true))
          case _    => None
        }
        def conflict(l: Option[(Double, Boolean)],
            h: Option[(Double, Boolean)]): Boolean = (l, h) match {
          case (Some((lv, li)), Some((hv, hiInc))) =>
            lv > hv || (lv == hv && !(li && hiInc))
          case _ => false
        }
        conflict(lo(ac), hi(bc)) || conflict(lo(bc), hi(ac))
      }
    }
  }

  /** Implication-aware base: a cached node is usable when EVERY one of its
    * filters is implied by some query filter (so cached rows ⊇ query rows)
    * — catching range refinements (`x >= 300` over a cached `x >= 200`) and
    * keyword-superset refinements, not just syntactic atom containment.
    */
  private def bestBaseImplied(filters: Seq[LogicalOp]): CubeNode = {
    // exact atom-set match wins outright — without this, a looser
    // implication-eligible node could shadow the cached answer and the
    // Equal fast-path would never fire for refinement chains
    val key = PredicateAtoms.atoms(filters)
    nodes.find(_.predicates == key).getOrElse {
      nodes.filter(n =>
          // only nodes whose filterOps fully describe their predicates are
          // implication-eligible (externally registered nodes may not carry
          // their ops; an empty filterOps there would look unconstrained)
          PredicateAtoms.atoms(n.filterOps) == n.predicates &&
          n.filterOps.forall(c =>
            filters.exists(q => PredicateAtoms.implies(q, c))))
        // most predicates, then NEWEST: in a refinement chain the newer
        // eligible node is the tighter (smaller) superset
        .maxBy(n => (n.predicates.size, n.id))
    }
  }

  /** Judged descent of the subsumption DAG — the reference's
    * get_current_node BFS (OLAP_Memory.py:166-187), consulted only when
    * the structural path found no reuse at all. Edges are structural:
    * parent's atom set ⊂ child's (child adds predicates, so child rows ⊆
    * parent rows), with intermediate nodes elided (minimal edges). The
    * walk judges the DAG's ROOTS first, returns immediately on Equal,
    * descends ONLY into judged-Subset nodes (the query's rows sit inside
    * that node, so a descendant may be a smaller superset), and never
    * judges the descendants of a NoRelation/Contain/Intersect verdict —
    * oracle calls are proportional to the DESCENT PATH, not the catalog
    * size (r19; the r18 fallback judged every eligible node).
    */
  private def judgedDescent(filters: Seq[LogicalOp],
      queryText: String): Option[(CubeNode, Relation5)] = {
    val eligible = nodes.filter(n => n.id != 0 && n.filterOps.nonEmpty &&
      PredicateAtoms.atoms(n.filterOps) == n.predicates)
    def isAncestor(a: CubeNode, b: CubeNode): Boolean =
      a.predicates.size < b.predicates.size &&
        a.predicates.subsetOf(b.predicates)
    def childrenOf(p: CubeNode): Seq[CubeNode] =
      eligible.filter(c => isAncestor(p, c) &&
        !eligible.exists(m => isAncestor(p, m) && isAncestor(m, c)))
    val roots = eligible.filter(c => !eligible.exists(a => isAncestor(a, c)))
    var best: Option[(CubeNode, Relation5)] = None
    val queue = scala.collection.mutable.Queue(roots: _*)
    val seen = scala.collection.mutable.Set.empty[Int]
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      if (seen.add(n.id)) {
        relation5Judged(n.filterOps, filters, n.query, queryText) match {
          case Equal5 => return Some((n, Equal5))
          case Subset5 =>
            // prefer the SMALLEST judged superset (most predicates, then
            // newest — bestBaseImplied's order). BFS depth alone is not a
            // proxy across branches: a 1-predicate sibling dequeued after
            // a 4-predicate find must not overwrite it. A child always
            // outranks its own ancestor (strictly more predicates).
            if (best.forall { case (b, _) =>
                n.predicates.size > b.predicates.size ||
                  (n.predicates.size == b.predicates.size && n.id > b.id) })
              best = Some((n, Subset5))
            childrenOf(n).foreach(queue.enqueue(_))
          case _ => () // prune: the subtree is never judged
        }
      }
    }
    best
  }

  /** The one cube lookup: `filters` composed under `tree` (leaf ids
    * index `filters`; None is AND of all). A flat AND returns its Equal
    * node, or starts from the smallest cached superset and has `exec`
    * run only the DELTA (every filter whose atom the base lacks) on it.
    * Any other tree is keyed by its [[PredicateAtoms.treeAtom]]: an Equal
    * hit on the same tree, else a full run from the root, admitted with
    * no `filterOps` so it is never a base. `exec` takes the frame, the
    * ops with their `filters` index, and the tree.
    */
  def filterQuery(queryText: String, filters: Seq[LogicalOp],
      tree: Option[LogicTree] = None,
      exec: (DataFrame, Seq[(Int, LogicalOp)], Option[LogicTree]) => DataFrame =
        Cascade.filter(_, _, _, oracle)): CubeNode = {
    val ops = filters.zipWithIndex.map(_.swap)
    if (!tree.forall(PredicateAtoms.flatAnd(_, filters.size))) {
      val key = Set(PredicateAtoms.treeAtom(tree.get, filters))
      val root = nodes(0)
      return nodes.find(_.predicates == key).map(equalHit).getOrElse(
        admit(root, queryText, key, exec(root.df, ops, tree), filters,
          Seq.empty, root.dims))
    }
    val key = PredicateAtoms.atoms(filters)
    val base0 = bestBaseImplied(filters)
    if (base0.predicates == key) return equalHit(base0)

    // Oracle fallback (r18, BFS-bounded r19): only when the structural
    // path found no reuse at all (base = root) and a judge is wired. An
    // Equal verdict returns the cached node outright; a Subset verdict
    // (query rows ⊆ cached rows) makes that node the base — ALL query
    // filters then re-apply as the delta, so a judge that wrongly says
    // Subset of a too-small node is the reference's own exposure, and a
    // judge that refuses costs nothing.
    val base =
      if (base0.id != 0 || relationJudge.isEmpty) base0
      else judgedDescent(filters, queryText) match {
        case Some((n, Equal5)) => return equalHit(n)
        case Some((n, _)) => n
        case None => base0
      }

    val delta = ops.filterNot(o =>
      base.predicates.contains(PredicateAtoms.atom(o._2)))
    val df = if (delta.isEmpty) base.df else exec(base.df, delta, None)
    admit(base, queryText, key, df, base.plan ++ delta.map(_._2), filters,
      base.dims)
  }

  private def equalHit(n: CubeNode): CubeNode = {
    equalHits += 1
    repin(n)
  }

  /** Register a node this catalog computed from `base`: a delta hit when
    * `base` is a cached node (re-pinned), a miss when it is the root. The
    * new node gets the next id and is pinned. A node computed from the
    * root is sized to [[rootPartitions]]; one computed from a cached node
    * is narrow over it and keeps its partitioning.
    */
  private def admit(base: CubeNode, query: String, predicates: Set[String],
      df: DataFrame, plan: Seq[LogicalOp], filterOps: Seq[LogicalOp],
      dims: Map[String, DimensionViews]): CubeNode = {
    if (base.id == 0) misses += 1
    else { deltaHits += 1; repin(base) }
    val sized = if (base.id == 0) PinSet.sized(df, rootPartitions) else df
    val n = CubeNode(nextId, query, predicates, sized, dims, plan, filterOps)
    nextId += 1
    nodes = nodes :+ n
    computed += n.id
    repin(n)
  }

  /** Register a node built outside the catalog (never pinned). */
  def register(n: CubeNode): Unit = {
    nodes = nodes :+ n
    // externally minted ids (e.g. a CatalogStore reload) must not collide
    // with ids this catalog hands out next
    nextId = math.max(nextId, n.id + 1)
  }
}

object CubeCatalog {
  /** Lookup outcomes of one catalog: Equal hits, delta hits (a cached
    * node was the base), misses (the root was), and evictions of its
    * nodes from the shared pin set.
    */
  final case class Reuse(equal: Long, delta: Long, miss: Long,
      evicted: Long)

  /** Cap of the process-wide pin set that holds computed nodes. */
  private[cube] val MaxPinned = 8
  private val pins = new PinSet(MaxPinned)
}

/** The composite OLAP verbs over a cube node (SURVEY.md §2d). */
object Verbs {

  /** drill_down (Drill_Down_Agent.py:49-76): mint a finer/orthogonal
    * dimension via sem_map; the derived column becomes a new dimension view
    * with its lineage plan. When `demote` names an existing coarser
    * dimension, it is re-parented as a granularity of the new one (the
    * reference's Drill_Down_Agent.py:68-76 restructuring): its own values
    * and all its granularities move under the finer dimension's view.
    */
  def drillDown(node: CubeNode, op: LogicalOp.SemMap,
      oracle: SemanticOracle, demote: Option[String] = None): CubeNode = {
    val df = SemMap(node.df, op, oracle)
    val inherited: Map[String, Granularity] =
      demote.flatMap(node.dims.get) match {
        case Some(coarser) =>
          // the coarser column itself becomes one granularity level...
          val self = Granularity(coarser.column,
            node.df.select(col(coarser.column)), node.plan)
          // ...and keeps the levels that already hung off it
          coarser.granularities + (coarser.column -> self)
        case None => Map.empty
      }
    val dim = DimensionViews(op.keyword, inherited + (op.keyword ->
      Granularity(op.keyword, df.select(col(op.keyword)), Seq(op))))
    node.copy(df = df,
      dims = (node.dims -- demote.toSeq) + (op.keyword -> dim),
      plan = node.plan :+ op)
  }

  /** roll_up (Roll_Up_Agent.py:129-250): group a dimension to a coarser
    * granularity via sem_group (reusing an existing granularity when the
    * name matches — Roll_Up_Agent.py:142-147), then per-group analyses:
    * count + num_reduce on numeric columns + sem_reduce on other dims.
    */
  def rollUp(node: CubeNode, op: LogicalOp.SemGroup, vocab: Seq[TagRule],
      oracle: SemanticOracle,
      numReduceCols: Seq[(String, String)] = Seq.empty,
      semReduceCols: Seq[String] = Seq.empty): (CubeNode, DataFrame) = {
    // granularity reuse: an existing view with this name short-circuits
    val reused = node.dims.values.flatMap(_.granularities.get(op.keyword))
      .headOption
    val grouped = reused match {
      case Some(_) => node.df // column already attached by a prior roll-up
      case None =>
        if (vocab.nonEmpty) SemGroup(node.df, op, vocab, oracle)
        else SemGroup(node.df, op, oracle, maxTags = 20)
    }
    val aggs =
      count(lit(1)).as(s"count_of_${op.keyword}") +:
      (numReduceCols.map { case (agg, c) =>
        NumReduce.exactAgg(agg, c)
      } ++ semReduceCols.map(c => SemReduce.exprSummary(c)))
    val summary = grouped.groupBy(op.keyword).agg(aggs.head, aggs.tail: _*)
    val gran = Granularity(op.keyword,
      grouped.select(col(op.keyword)), node.plan :+ op, Some(summary))
    val srcDim = op.columns.headOption.getOrElse(op.keyword)
    val dim = node.dims.getOrElse(srcDim, DimensionViews(srcDim))
    val updated = dim.copy(granularities =
      dim.granularities + (op.keyword -> gran))
    (node.copy(df = grouped, dims = node.dims + (srcDim -> updated),
      plan = node.plan :+ op), summary)
  }
}
