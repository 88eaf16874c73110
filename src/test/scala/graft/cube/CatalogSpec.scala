package graft.cube

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec
import graft.oracle.{DeterministicOracle, TagRule}
import graft.plan.{LogicalOp, NumCondition}

/** Deterministic judgments that are never compiled, so every one runs out
  * of band through the default batch loop: one scalar call per judged
  * text, counted per condition. Top-level so executor closures
  * serialize it cleanly; the counts live in the companion (one JVM).
  */
class JudgeCountingOracle extends DeterministicOracle {
  override def compileJudge(condition: String) = None
  override def judge(text: String, condition: String): Boolean = {
    JudgeCountingOracle.counts
      .computeIfAbsent(condition, _ => new AtomicLong).incrementAndGet()
    super.judge(text, condition)
  }
}
object JudgeCountingOracle {
  val counts = new ConcurrentHashMap[String, AtomicLong]
  def judged(condition: String): Long =
    Option(counts.get(condition)).map(_.get).getOrElse(0L)
}

class CatalogSpec extends SparkSpec {
  import spark.implicits._
  private val oracle = DeterministicOracle.default

  private def fixture = Seq(
    (1L, "spark join basics", 10.0, "2020"),
    (2L, "flink window agg", 40.0, "2021"),
    (3L, "spark window functions", 50.0, "2021"),
    (4L, "spark streaming joins", 60.0, "2022"),
    (5L, "duck db internals", 5.0, "2022")
  ).toDF("id", "title", "score", "year")

  private val fSpark = LogicalOp.KeywordFilter(Seq("title"), Seq("spark"), "and", "contains")
  private val fScore = LogicalOp.NumFilter(Seq(NumCondition("score", 20, ">")), "and")
  private val fSem = LogicalOp.SemFilter(Seq("title"), "window")

  test("equal predicate sets reuse the cached node outright") {
    val cat = new CubeCatalog(fixture, oracle)
    val n1 = cat.filterQuery("spark docs", Seq(fSpark))
    val n2 = cat.filterQuery("docs about spark", Seq(fSpark))
    assert(n1.id == n2.id)
    assert(cat.all.size == 2) // root + one
  }

  test("subset reuse: refined query starts from cached superset, applies delta") {
    val cat = new CubeCatalog(fixture, oracle)
    val n1 = cat.filterQuery("spark docs", Seq(fSpark))
    val n2 = cat.filterQuery("high-score spark docs", Seq(fSpark, fScore))
    assert(n2.plan.size == 2)
    // delta applied on top of n1's frame, not the root
    assert(n2.predicates == Set(PredicateAtoms.atom(fSpark), PredicateAtoms.atom(fScore)))
    assert(cat.filterQuery("spark docs, high score", Seq(fScore, fSpark)).id ==
      n2.id)
    val ids = n2.df.select("id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(3L, 4L))
  }

  test("reuse equals from-scratch execution (subsumption soundness)") {
    val cat = new CubeCatalog(fixture, oracle)
    cat.filterQuery("q1", Seq(fSpark))
    cat.filterQuery("q2", Seq(fSpark, fScore))
    val reused = cat.filterQuery("q3", Seq(fSpark, fScore, fSem))
      .df.select("id").as[Long].collect().sorted.toSeq
    val scratch = new CubeCatalog(fixture, oracle)
      .filterQuery("q3", Seq(fSem, fScore, fSpark)) // different order, same set
      .df.select("id").as[Long].collect().sorted.toSeq
    assert(reused == scratch)
    assert(reused == Seq(3L))
  }

  test("implication reuse: numeric range refinement starts from the looser cached node") {
    val cat = new CubeCatalog(fixture, oracle)
    val loose = cat.filterQuery("score > 20",
      Seq(LogicalOp.NumFilter(Seq(NumCondition("score", 20, ">")), "and")))
    val strict = LogicalOp.NumFilter(Seq(NumCondition("score", 45, ">")), "and")
    val n2 = cat.filterQuery("score > 45", Seq(strict))
    // plan = loose node's plan ++ [strict] proves the base was the cached
    // node, not the root
    assert(n2.plan == loose.plan :+ strict)
    assert(n2.df.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("implication reuse: keyword superset refines the cached keyword node") {
    val cat = new CubeCatalog(fixture, oracle)
    val base = cat.filterQuery("spark docs", Seq(fSpark))
    val wider = LogicalOp.KeywordFilter(Seq("title"), Seq("spark", "join"),
      "and", "contains")
    val n2 = cat.filterQuery("spark join docs", Seq(wider))
    assert(n2.plan == base.plan :+ wider)
    assert(n2.df.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 4L))
  }

  test("repeating a refined query hits its exact node, never a looser base") {
    val cat = new CubeCatalog(fixture, oracle)
    cat.filterQuery("score > 20",
      Seq(LogicalOp.NumFilter(Seq(NumCondition("score", 20, ">")), "and")))
    val strict = Seq(LogicalOp.NumFilter(Seq(NumCondition("score", 45, ">")), "and"))
    val first = cat.filterQuery("score > 45", strict)
    val sizeAfter = cat.all.size
    // a repeat must return the SAME node (Equal fast-path), not re-filter
    // from the looser base and append a duplicate
    (1 to 3).foreach { _ =>
      assert(cat.filterQuery("score > 45 again", strict).id == first.id)
    }
    assert(cat.all.size == sizeAfter)
  }

  test("implication never reuses a node the query does not entail") {
    val cat = new CubeCatalog(fixture, oracle)
    // cached: score in (20, 45]; query: score > 45 does NOT imply score <= 45
    cat.filterQuery("mid score", Seq(LogicalOp.NumFilter(
      Seq(NumCondition("score", 20, ">"), NumCondition("score", 45, "<=")), "and")))
    val n2 = cat.filterQuery("high score", Seq(LogicalOp.NumFilter(
      Seq(NumCondition("score", 45, ">")), "and")))
    assert(n2.plan.size == 1) // built from the root, not the cached node
    assert(n2.df.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("condition implication is direction- and strictness-correct") {
    import PredicateAtoms.implies
    def nf(op: String, th: Double) =
      LogicalOp.NumFilter(Seq(NumCondition("x", th, op)), "and")
    assert(implies(nf(">=", 300), nf(">=", 200)))
    assert(!implies(nf(">=", 200), nf(">=", 300)))
    assert(implies(nf(">", 200), nf(">=", 200)))
    assert(!implies(nf(">=", 200), nf(">", 200)))
    assert(implies(nf("<=", 100), nf("<", 200)))
    assert(!implies(nf("<=", 200), nf("<", 200)))
    assert(implies(nf("==", 250), nf(">", 200)))
    assert(!implies(nf("==", 150), nf(">", 200)))
  }

  test("atom canonicalization is order/case insensitive") {
    val a = PredicateAtoms.atom(LogicalOp.KeywordFilter(
      Seq("b", "a"), Seq("X", "y"), "and", "contains"))
    val b = PredicateAtoms.atom(LogicalOp.KeywordFilter(
      Seq("a", "b"), Seq("y", "x"), "and", "contains"))
    assert(a == b)
  }

  test("drill_down mints a new dimension with lineage") {
    val cat = new CubeCatalog(fixture, oracle)
    val base = cat.filterQuery("spark docs", Seq(fSpark))
    val op = LogicalOp.SemMap(Seq("title"), "(join|window|streaming)", "topic")
    val n = Verbs.drillDown(base, op, oracle)
    assert(n.dims.contains("topic"))
    assert(n.dims("topic").granularities("topic").plan == Seq(op))
    val topics = n.df.select("topic").as[String].collect().sorted
    assert(topics.toSeq == Seq("join", "streaming", "window"))
  }

  test("drill_down demotes a coarser dimension to a granularity of the finer one") {
    val cat = new CubeCatalog(fixture, oracle)
    val coarse = Verbs.drillDown(cat.node(0),
      LogicalOp.SemMap(Seq("title"), "(spark|flink|duck)", "engine"), oracle)
    val fine = Verbs.drillDown(coarse,
      LogicalOp.SemMap(Seq("title"), "(join|window|streaming|internals|agg|functions|basics|db)", "topic"),
      oracle, demote = Some("engine"))
    // the coarser dimension moved under the finer one
    assert(!fine.dims.contains("engine"))
    assert(fine.dims("topic").granularities.keySet == Set("engine", "topic"))
    // its values remain addressable as a granularity view
    val engines = fine.dims("topic").granularities("engine")
      .view.as[String].collect().toSet
    assert(engines == Set("spark", "flink", "duck"))
  }

  test("roll_up groups, summarizes, and records the granularity") {
    val cat = new CubeCatalog(fixture, oracle)
    val op = LogicalOp.SemGroup(Seq("title"), "engine kind", "engine")
    val vocab = Seq(TagRule("spark", "spark"), TagRule("flink", "flink"),
      TagRule("duck", "duckdb"))
    val (n, summary) = Verbs.rollUp(cat.node(0), op, vocab, oracle,
      numReduceCols = Seq(("sum", "score")))
    val rows = summary.orderBy("engine").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("duckdb", "flink", "spark"))
    val spark_ = rows.find(_.getString(0) == "spark").get
    assert(spark_.getAs[Long]("count_of_engine") == 3L)
    assert(spark_.getAs[Double]("sum_of_score") == 120.0)
    assert(n.dims("title").granularities.contains("engine"))
    // second roll-up to the same granularity reuses it (no re-grouping)
    val (n2, _) = Verbs.rollUp(n, op, vocab, oracle)
    assert(n2.dims("title").granularities.contains("engine"))
  }

  test("CatalogStore round-trips nodes, and refinement scans the persisted parquet") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_cat_store").toString
    val cat = new CubeCatalog(fixture, oracle)
    val n1 = cat.filterQuery("spark docs", Seq(fSpark))
    val op = LogicalOp.SemGroup(Seq("title"), "engine kind", "engine")
    val vocab = Seq(TagRule("spark", "spark"), TagRule("flink", "flink"))
    val (withDim, _) = Verbs.rollUp(n1, op, vocab, oracle)
    cat.register(withDim.copy(id = 2))
    CatalogStore.save(cat, path)

    val fresh = CatalogStore.load(spark, fixture, path, oracle)
    assert(fresh.all.map(_.id) == Seq(0, 1, 2))
    val loaded = fresh.node(1)
    assert(loaded.query == "spark docs")
    assert(loaded.predicates == Set(PredicateAtoms.atom(fSpark)))
    // the reloaded frame reads the MATERIALIZED parquet, not the root
    assert(loaded.df.inputFiles.exists(_.contains("node_1")))
    assert(loaded.df.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L))
    // granularity views and their summaries reload
    val g = fresh.node(2).dims("title").granularities("engine")
    assert(g.plan.nonEmpty && g.summary.isDefined)
    // refinement on the fresh catalog starts from the persisted node:
    // the executed plan scans node_1, and the answer matches recompute
    val refined = fresh.filterQuery("high-score spark docs", Seq(fSpark, fScore))
    // starts from a MATERIALIZED node (the newest eligible base), not
    // root. refined is pinned, so its optimized plan reads the cache:
    // check the lineage, the analyzed plan's leaves, instead
    val leafFiles = refined.df.queryExecution.analyzed.collectLeaves()
      .flatMap {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.inputFiles.toSeq
            case _ => Seq("not a file relation")
          }
        case other => Seq(other.nodeName)
      }
    assert(leafFiles.nonEmpty && leafFiles.forall(_.contains("node_")),
      leafFiles)
    assert(refined.df.select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L))
    // and the fresh catalog mints non-colliding ids for new nodes
    assert(refined.id == 3)
  }

  test("CatalogStore keeps root dims and gapped ids across a round-trip") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_cat_store_root").toString
    val cat = new CubeCatalog(fixture, oracle)
    // dims attached to the ROOT node (id 0) must survive save/load
    val op = LogicalOp.SemGroup(Seq("title"), "engine kind", "engine")
    val vocab = Seq(TagRule("spark", "spark"), TagRule("flink", "flink"))
    val (rootWithDim, _) = Verbs.rollUp(cat.node(0), op, vocab, oracle)
    cat.attachRootDims(rootWithDim.dims)
    // a GAPPED externally registered id must not shift node() lookups
    val n1 = cat.filterQuery("spark docs", Seq(fSpark))
    cat.register(n1.copy(id = 7, query = "gapped clone"))
    CatalogStore.save(cat, path)

    val fresh = CatalogStore.load(spark, fixture, path, oracle)
    assert(fresh.all.map(_.id).sorted == Seq(0, 1, 7))
    assert(fresh.node(0).dims("title").granularities.contains("engine"))
    assert(fresh.node(7).query == "gapped clone")
    assert(fresh.node(1).query == "spark docs")
    // new ids mint past the gap
    val next = fresh.filterQuery("hs", Seq(fSpark, fScore))
    assert(next.id == 8)
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().sorted.toSeq

  test("a non-conjunctive tree is keyed by the whole tree: reused only by " +
      "the same tree, never a base, also after a CatalogStore round-trip") {
    import graft.plan.LogicTree.{Leaf, Node}
    val or = Some(Node("OR", Seq(Leaf(0), Leaf(1))))
    val cat = new CubeCatalog(fixture, oracle)
    val n1 = cat.filterQuery("spark or high score", Seq(fSpark, fScore), or)
    assert(ids(n1.df) == Seq(1L, 2L, 3L, 4L) && n1.filterOps.isEmpty)
    // the same tree, children swapped: an Equal hit
    assert(cat.filterQuery("high score or spark", Seq(fScore, fSpark), or).id ==
      n1.id)
    // a flat AND of the same atoms is no Equal hit and runs from the root
    assert(ids(cat.filterQuery("spark and high score", Seq(fSpark, fScore),
      Some(Node("AND", Seq(Leaf(1), Leaf(0))))).df) == Seq(3L, 4L))
    assert(ids(cat.filterQuery("spark, high score, window",
      Seq(fSpark, fScore, fSem)).df) == Seq(3L))
    assert(cat.reuse == CubeCatalog.Reuse(equal = 1, delta = 1, miss = 2,
      evicted = 0))

    val path = java.nio.file.Files
      .createTempDirectory("graft_cat_store_tree").toString
    val one = new CubeCatalog(fixture, oracle)
    one.filterQuery("spark or high score", Seq(fSpark, fScore), or)
    CatalogStore.save(one, path)
    val fresh = CatalogStore.load(spark, fixture, path, oracle)
    assert(fresh.node(1).predicates == n1.predicates)
    // with an empty key the loaded node would be this query's base
    assert(ids(fresh.filterQuery("low score", Seq(LogicalOp.NumFilter(
      Seq(NumCondition("score", 20, "<")), "and"))).df) == Seq(1L, 5L))
    assert(fresh.filterQuery("spark or high score again", Seq(fSpark, fScore),
      or).id == 1)
    assert(fresh.reuse == CubeCatalog.Reuse(equal = 1, delta = 0, miss = 1,
      evicted = 0))
  }

  test("a repeated filterQuery reads the pinned node: zero judgments, " +
      "same rows") {
    val counting = new JudgeCountingOracle
    val fJudged = LogicalOp.SemFilter(Seq("title"), "about window")
    val cat = new CubeCatalog(fixture, counting)
    val j0 = JudgeCountingOracle.judged(fJudged.condition)
    val first = ids(cat.filterQuery("window docs", Seq(fJudged)).df)
    val j1 = JudgeCountingOracle.judged(fJudged.condition)
    assert(j1 > j0)
    val again = cat.filterQuery("docs on windows", Seq(fJudged))
    assert(ids(again.df) == first && first == Seq(2L, 3L))
    assert(JudgeCountingOracle.judged(fJudged.condition) == j1)
    assert(cat.reuse == CubeCatalog.Reuse(equal = 1, delta = 0, miss = 1,
      evicted = 0))
  }

  test("computed nodes sit in a bounded LRU pin set: the least recent is " +
      "evicted, answers from its lineage, and a hit re-pins it") {
    val cat = new CubeCatalog(fixture, oracle)
    val first = cat.filterQuery("spark docs", Seq(fSpark))
    assert(first.df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    val rows = ids(first.df)
    val words = Seq("flink", "duck", "window", "join", "streaming",
      "basics", "functions", "internals")
    assert(words.size == CubeCatalog.MaxPinned)
    val others = words.map(w => cat.filterQuery(w,
      Seq(LogicalOp.KeywordFilter(Seq("title"), Seq(w), "and", "contains"))))
    assert(first.df.storageLevel == StorageLevel.NONE)
    assert(others.forall(_.df.storageLevel == StorageLevel.MEMORY_AND_DISK))
    assert(ids(first.df) == rows && rows == Seq(1L, 3L, 4L))
    // an Equal hit re-pins it as the most recent pin, which evicts the
    // least recent word node instead
    assert(cat.filterQuery("spark docs again", Seq(fSpark)).id == first.id)
    assert(first.df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(others.head.df.storageLevel == StorageLevel.NONE)
    assert(cat.reuse == CubeCatalog.Reuse(equal = 1, delta = 0, miss = 9,
      evicted = 2))
  }

  test("the root and CatalogStore-loaded nodes are never pinned") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_cat_store_pins").toString
    val cat = new CubeCatalog(fixture, oracle)
    cat.filterQuery("spark docs", Seq(fSpark))
    CatalogStore.save(cat, path)
    val fresh = CatalogStore.load(spark, fixture, path, oracle)
    // an Equal hit on the root and on a loaded node, then a delta from it
    assert(fresh.filterQuery("everything", Seq.empty).id == 0)
    assert(fresh.filterQuery("spark docs", Seq(fSpark)).id == 1)
    val refined = fresh.filterQuery("high-score spark docs",
      Seq(fSpark, fScore))
    assert(ids(refined.df) == Seq(3L, 4L))
    assert(refined.df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(fresh.node(0).df.storageLevel == StorageLevel.NONE)
    assert(fresh.node(1).df.storageLevel == StorageLevel.NONE)
    assert(cat.node(0).df.storageLevel == StorageLevel.NONE)
    assert(fresh.reuse == CubeCatalog.Reuse(equal = 2, delta = 1, miss = 0,
      evicted = 0))
  }

  test("relation5 classifies all five reference relations structurally") {
    val cat = new CubeCatalog(fixture, oracle)
    val q1 = Seq(fSpark)
    val q2 = Seq(fSpark, fScore)
    val q3 = Seq(fScore)
    val lowScore = LogicalOp.NumFilter(Seq(NumCondition("score", 10, "<")), "and")
    assert(cat.relation5(q1, Seq(fSpark)) == cat.Equal5)
    // query adds atoms -> its rows are a subset of the cached node's
    assert(cat.relation5(q1, q2) == cat.Subset5)
    // query drops atoms -> it contains the cached node
    assert(cat.relation5(q2, q1) == cat.Contain5)
    // shared atom, neither contains the other, no provable contradiction
    val fJoin = LogicalOp.KeywordFilter(Seq("title"), Seq("join"), "and", "contains")
    assert(cat.relation5(q2, Seq(fSpark, fJoin)) == cat.Intersect5)
    // a contradictory numeric pair wins over the shared atom: disjoint
    assert(cat.relation5(q2, Seq(fSpark, lowScore)) == cat.Disjoint5)
    // contradictory numeric ranges on the same column -> provably disjoint
    assert(cat.relation5(Seq(fScore), Seq(lowScore)) == cat.Disjoint5)
    assert(cat.relation5(Seq(lowScore), Seq(fScore)) == cat.Disjoint5)
    // boundary: x >= 20 vs x < 20 is disjoint, x >= 20 vs x <= 20 is not
    val ge20 = LogicalOp.NumFilter(Seq(NumCondition("score", 20, ">=")), "and")
    val lt20 = LogicalOp.NumFilter(Seq(NumCondition("score", 20, "<")), "and")
    val le20 = LogicalOp.NumFilter(Seq(NumCondition("score", 20, "<=")), "and")
    assert(cat.relation5(Seq(ge20), Seq(lt20)) == cat.Disjoint5)
    assert(cat.relation5(Seq(ge20), Seq(le20)) != cat.Disjoint5)
    // unrelated predicates
    val fTitle = LogicalOp.KeywordFilter(Seq("title"), Seq("duck"), "and", "contains")
    assert(cat.relation5(Seq(fSpark), Seq(fTitle)) == cat.NoRelation5)
  }

  test("optional relation judge (r18): an NL-equivalent but structurally " +
      "distinct pair reuses under a scripted oracle; the refusing oracle " +
      "never mis-reuses; structure stays authoritative") {
    // sem_filter "spark" and keyword_filter ["spark"] keep the same rows
    // under the deterministic oracle but canonicalize to different atoms
    val fSemSpark = LogicalOp.SemFilter(Seq("title"), "spark")
    var asked = 0
    val scripted: (String, String) => String = (cur, hist) => {
      asked += 1
      if (cur.contains("spark") && hist.contains("spark")) "equal"
      else "no_relation"
    }
    val cat = new CubeCatalog(fixture, oracle, Some(scripted))
    val n1 = cat.filterQuery("spark docs", Seq(fSpark))
    val n2 = cat.filterQuery("docs about spark", Seq(fSemSpark))
    assert(n2.id == n1.id, "the judge's Equal verdict must reuse the node")
    assert(asked == 1 && cat.all.size == 2)
    // a subset verdict: the cached node becomes the base, all query
    // filters re-apply — result identical to from-scratch
    val scripted2: (String, String) => String =
      (cur, hist) => if (cur.contains("high-score")) "subset" else "no_relation"
    val cat2 = new CubeCatalog(fixture, oracle, Some(scripted2))
    val base = cat2.filterQuery("spark docs", Seq(fSpark))
    val refined = cat2.filterQuery("high-score docs",
      Seq(fSemSpark, fScore))
    assert(refined.df.select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 4L))
    assert(refined.plan.startsWith(base.plan),
      "subset verdict must build on the cached node's lineage")
    // the refusing judge reproduces today's behavior bit for bit
    val refusing: (String, String) => String = (_, _) => "no_relation"
    val cat3 = new CubeCatalog(fixture, oracle, Some(refusing))
    val m1 = cat3.filterQuery("spark docs", Seq(fSpark))
    val m2 = cat3.filterQuery("docs about spark", Seq(fSemSpark))
    assert(m1.id != m2.id && cat3.all.size == 3)
    // structure overrides the judge whenever it decides: an equal atom
    // set never consults the oracle at all
    var asked3 = 0
    val loud: (String, String) => String = (_, _) => { asked3 += 1; "equal" }
    val cat4 = new CubeCatalog(fixture, oracle, Some(loud))
    cat4.filterQuery("q", Seq(fSpark))
    cat4.filterQuery("q again", Seq(fSpark))
    assert(asked3 == 0, "structural Equal must short-circuit the judge")
    // relation5Judged: structural verdicts are final even when the judge
    // disagrees loudly
    assert(cat4.relation5Judged(Seq(fSpark), Seq(fSpark, fScore),
      "a", "b") == cat4.Subset5)
    assert(asked3 == 0)
  }

  test("judge fallback BFS-descends the subsumption DAG (r19): roots " +
      "first, Equal short-circuits, only Subset children are judged, " +
      "pruned subtrees never pay a call — O(path), not O(catalog)") {
    val fYear = LogicalOp.KeywordFilter(Seq("year"), Seq("2022"), "and", "contains")
    val fDuck = LogicalOp.KeywordFilter(Seq("title"), Seq("duck"), "and", "contains")
    val asked = scala.collection.mutable.ArrayBuffer.empty[String]
    // the judge answers ONLY the probe query (catalog construction stays
    // purely structural); verdicts are scripted per cached-query text
    val judge: (String, String) => String = (cur, hist) => {
      if (cur != "probe") "no_relation"
      else {
        asked += hist
        if (hist.contains("level a")) "subset"
        else if (hist.contains("level b")) "equal"
        else "no_relation"
      }
    }
    val cat = new CubeCatalog(fixture, oracle, Some(judge))
    cat.filterQuery("level a spark", Seq(fSpark))
    val b = cat.filterQuery("level b spark high", Seq(fSpark, fScore))
    cat.filterQuery("level c spark high window", Seq(fSpark, fScore, fSem))
    cat.filterQuery("year docs", Seq(fYear))
    cat.filterQuery("year high docs", Seq(fYear, fScore))
    cat.filterQuery("duck docs", Seq(fDuck))
    assert(asked.isEmpty, "construction must never consult the judge")
    // a structurally alien query: structure finds nothing, the descent
    // judges the three roots, follows A's Subset edge to B, stops at
    // B's Equal — C (below B) and the year child (below a NoRelation
    // root) are never judged: 4 calls against 6 eligible nodes
    val got = cat.filterQuery("probe",
      Seq(LogicalOp.SemFilter(Seq("title"), "windowed analytics")))
    assert(got.id == b.id, "the Equal verdict must reuse node B outright")
    assert(asked.toSeq == Seq("level a spark", "year docs", "duck docs",
      "level b spark high"),
      s"descent must be roots + Subset path only, got: $asked")
  }

  test("cross-branch descent picks the SMALLEST judged superset (r19 " +
      "review): a shallow sibling root dequeued later must not " +
      "overwrite a deeper Subset find") {
    val fYear = LogicalOp.KeywordFilter(Seq("year"), Seq("2021"), "and",
      "contains")
    val asked = scala.collection.mutable.ArrayBuffer.empty[String]
    val judge: (String, String) => String = (cur, hist) => {
      if (cur != "probe") "no_relation"
      else { asked += hist; "subset" } // BOTH roots judged Subset
    }
    val cat = new CubeCatalog(fixture, oracle, Some(judge))
    cat.filterQuery("deep spark high window", Seq(fSpark, fScore, fSem))
    cat.filterQuery("wide year docs", Seq(fYear))
    val got = cat.filterQuery("probe",
      Seq(LogicalOp.SemFilter(Seq("title"), "windowed analytics")))
    assert(asked.size == 2, s"both roots judged once, got: $asked")
    // the base must be the 3-predicate node (the smaller row set), so
    // the new node's plan = base.plan (3) ++ delta (1); the 1-predicate
    // sibling as base would leave a 2-op plan re-filtering a much
    // larger frame
    assert(got.plan.size == 4,
      s"the 3-predicate Subset must win over the 1-predicate sibling: " +
        s"${got.plan.map(_.name)}")
  }

  test("judge verdicts memoize per (query, cached) pair (r19): a repeat " +
      "consultation costs zero oracle calls — query texts are immutable " +
      "so a verdict can never go stale") {
    var asked = 0
    val cat = new CubeCatalog(fixture, oracle,
      Some((_, _) => { asked += 1; "no_relation" }))
    val q = Seq(LogicalOp.SemFilter(Seq("title"), "windowed analytics"))
    cat.relation5Judged(Seq(fSpark), q, "spark docs", "alien query")
    cat.relation5Judged(Seq(fSpark), q, "spark docs", "alien query")
    assert(asked == 1, "the second identical pair must hit the memo")
    // a DIFFERENT pair still pays its own call
    cat.relation5Judged(Seq(fScore), q, "high score docs", "alien query")
    assert(asked == 2)
  }
}
