package graft.agent

import graft.SparkSpec
import graft.cube.{CubeCatalog, JudgeCountingOracle}
import graft.oracle.DeterministicOracle
import graft.plan.LogicalOp

/** One scripted LLM transport serving BOTH roles: planning completions for
  * the agent layer and row-level judgments through the batched oracle
  * path. Top-level so executor closures serialize it cleanly.
  */
class ScriptedPrompter extends graft.oracle.PromptingOracle {
  private val textRe = "(?s).*Text: (.*)\\nAnswer strictly Yes or No.*".r
  def complete(prompt: String): String =
    if (prompt.contains("10-operator algebra"))
      """[{"operator_name": "sem_filter",
        |  "parameters": {"columns": ["title"], "condition": "spark"}},
        | {"operator_name": "num_topk",
        |  "parameters": {"column": "score", "k": 3, "order": "desc"}}]""".stripMargin
    else prompt match {
      case textRe(t) => if (t.toLowerCase.contains("spark")) "Yes" else "No"
      case _ => "No"
    }
}

/** The agent layer with SCRIPTED completions (zero-egress build): each test
  * enqueues the exact JSON an LLM would return and asserts the engine-side
  * execution — prompt shapes, fence-tolerant parsing, plan decoding, the
  * dice/slice logic fold, the ReAct loop dispatch, and the session driver.
  */
class AgentSpec extends SparkSpec {
  import spark.implicits._
  private val oracle = DeterministicOracle.default

  /** Completion transport that replays a queue of canned responses. */
  private class Scripted(responses: String*) extends (String => String) {
    private val q = scala.collection.mutable.Queue(responses: _*)
    val prompts = scala.collection.mutable.ArrayBuffer.empty[String]
    def apply(p: String): String = { prompts += p; q.dequeue() }
  }

  private lazy val docs = Seq(
    (1L, "spark join tuning guide", "db", 90.0),
    (2L, "spark window functions", "db", 70.0),
    (3L, "spark join deep dive", "web", 85.0),
    (4L, "flink streaming joins", "web", 40.0),
    (5L, "spark streaming basics", "wiki", 30.0),
    (6L, "pandas merge tricks", "wiki", 10.0)
  ).toDF("id", "title", "source", "score")

  test("intent decomposition parses fenced completions") {
    val s = new Scripted(
      """```json
        |{"filter_query": "posts about spark", "analysis_query": "group by topic"}
        |```""".stripMargin)
    val agent = new OlapAgent(s, oracle)
    assert(agent.decomposeIntent("spark posts grouped by topic") ==
      ("posts about spark", "group by topic"))
    assert(s.prompts.head.contains("filter_query"))
  }

  test("NL -> plan IR -> PlanRunner end-to-end") {
    val s = new Scripted(
      """[{"operator_name": "keyword_filter",
        |  "parameters": {"columns": ["title"], "keywords": ["spark"],
        |                 "logic": "and", "relation": "contains"}},
        | {"operator_name": "num_topk",
        |  "parameters": {"column": "score", "k": 2, "order": "desc"}}]""".stripMargin)
    val agent = new OlapAgent(s, oracle)
    val got = agent.runQuery(docs, "top 2 spark posts by score")
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(1L, 3L))
  }

  test("runQueryPolicied: the same NL query under MinCost keeps the " +
      "compiled zero-call plan, under MaxQuality bills every row — " +
      "identical answers, priced report (palimpzest Execute parity)") {
    def plan = // sem_filter + top-k, planned identically both times
      """[{"operator_name": "sem_filter",
        |  "parameters": {"columns": ["title"], "condition": "spark"}},
        | {"operator_name": "num_topk",
        |  "parameters": {"column": "score", "k": 2, "order": "desc"}}]""".stripMargin
    val agent = new OlapAgent(new Scripted(plan, plan), oracle)
    val (outMin, repMin) = agent.runQueryPolicied(docs,
      "top 2 spark posts", graft.exec.Policy.MinCost, usdPerCall = 0.01)
    val (outMax, repMax) = agent.runQueryPolicied(docs,
      "top 2 spark posts", graft.exec.Policy.MaxQuality, usdPerCall = 0.01)
    assert(outMin.select("id").as[Long].collect().toSeq ==
      outMax.select("id").as[Long].collect().toSeq)
    assert(repMin.oracleCalls == 0L,
      s"MinCost must keep the codegen judge: ${repMin.explain}")
    assert(repMax.oracleCalls == 6L, // every row judged out-of-band
      s"MaxQuality must bill per row: ${repMax.explain}")
    assert(repMax.estUsd > repMin.estUsd && repMax.resultRows == 2L)
    assert(repMax.explain.contains("policy=max_quality"))
  }

  test("delta filter plan folds dice and slice steps under the logic tree") {
    val s = new Scripted(
      """{"operations": [
        |  {"id": 1, "agent": "dice", "field": "score", "action": "> 50"},
        |  {"id": 2, "agent": "slice", "field": null, "action": "streaming"}],
        | "logic": ["OR", 1, 2]}""".stripMargin)
    val agent = new OlapAgent(s, oracle)
    val plan = agent.planFilter(docs.columns.toSeq, "", "score>50 or streaming")
    assert(plan.steps.map(_.agent) == Seq("dice", "slice"))
    val got = agent.executeFilter(docs, plan)
      .select("id").as[Long].collect().sorted.toSeq
    // score>50: 1,2,3; streaming anywhere: 4,5
    assert(got == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("ReAct loop: lookups, drill_down with demotion, roll_up, then stop") {
    val s = new Scripted(
      // round 1: inspect structure
      """{"thought": "inspect", "action": {"type": "get_dimension", "params": {}}}""",
      // round 2: mint a coarse dimension from the title
      """{"thought": "mint topic", "action": {"type": "drill_down",
        |  "params": {"desc": "(join|window|streaming|merge)",
        |             "dimension_name": "topic", "columns": ["title"]}}}""".stripMargin,
      // round 3: refine it and demote the coarse one
      """{"thought": "finer", "action": {"type": "drill_down",
        |  "params": {"desc": "(spark|flink|pandas)", "dimension_name": "engine",
        |             "columns": ["title"],
        |             "related_coarser_dimension": "topic"}}}""".stripMargin,
      // round 4: roll up by engine with an average score analysis
      """{"thought": "aggregate", "action": {"type": "roll_up",
        |  "params": {"dimension": "engine", "target_granularity": "engine",
        |             "analyze_dimension": [
        |               {"dimension": "self", "reduce_target": "count"},
        |               {"dimension": "score", "reduce_target": "average score"}]}}}""".stripMargin,
      // round 5: done
      """{"thought": "sufficient", "action": null}""")
    val agent = new OlapAgent(s, oracle)
    val cat = new CubeCatalog(docs, oracle)
    val (node, summary, trace) = agent.runAnalysis("by engine", cat.node(0))
    assert(trace.map(_.actionType) ==
      Seq("get_dimension", "drill_down", "drill_down", "roll_up"))
    // demotion: topic now lives under the engine dimension
    assert(node.dims.contains("engine") && !node.dims.contains("topic"))
    assert(node.dims("engine").granularities.keySet.contains("topic"))
    val rows = summary.get.orderBy("engine").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("flink", "pandas", "spark"))
    assert(rows.map(_.getAs[Long]("count_of_engine")).toSeq == Seq(1L, 1L, 4L))
    val sparkAvg = rows(2).getAs[Double]("avg_of_score")
    assert(math.abs(sparkAvg - 68.75) < 1e-9)
    // history accumulated into later prompts
    assert(s.prompts.last.contains("observation"))
  }

  test("one PromptingOracle transport drives planning AND batched judgments") {
    // OlapAgent(po): the same complete() answers the planning prompt and,
    // through the BatchedOracle routing, every row-level sem_filter batch
    val agent = OlapAgent(new ScriptedPrompter)
    val got = agent.runQuery(docs, "top spark posts by score",
      tiebreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(1L, 3L, 2L)) // spark rows by score desc, top 3
  }

  test("repeat session filters reuse the registered node (Equal)") {
    def planAnd(n: Int) = Seq.fill(n)(Seq(
      """{"filter_query": "spark posts", "analysis_query": ""}""",
      """{"operations": [{"id": 1, "agent": "dice", "field": "title",
        |                 "action": "about spark"}], "logic": ["AND", 1]}""".stripMargin,
      """{"has_topk": false}""")).flatten
    val s = new Scripted(planAnd(2): _*)
    val agent = new OlapAgent(s, oracle)
    val cat = new CubeCatalog(docs, oracle)
    agent.runSession(cat, "spark posts")
    val n1 = cat.all.length
    agent.runSession(cat, "spark posts")
    assert(cat.all.length == n1) // no duplicate node registered
  }

  test("progressive session reuses the cached node and executes only the delta") {
    val s = new Scripted(
      """{"filter_query": "spark posts", "analysis_query": ""}""",
      """{"operations": [{"id": 1, "agent": "dice", "field": "title",
        |                 "action": "about spark"}], "logic": ["AND", 1]}""".stripMargin,
      """{"has_topk": false}""",
      """{"filter_query": "spark join posts", "analysis_query": ""}""",
      """{"operations": [{"id": 1, "agent": "dice", "field": "title",
        |                 "action": "about spark"},
        |                {"id": 2, "agent": "dice", "field": "title",
        |                 "action": "about join"}],
        | "logic": ["AND", 1, 2]}""".stripMargin,
      """{"has_topk": false}""")
    val agent = new OlapAgent(s, oracle)
    val cat = new CubeCatalog(docs, oracle)
    agent.runSession(cat, "spark posts")
    val n1 = cat.all.last
    val out = agent.runSession(cat, "spark join posts",
      historyQuery = "spark posts")
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    val n2 = cat.all.last
    // the second node's lineage EXTENDS the first's: delta execution, not
    // a root rescan — its plan is n1's plan plus exactly the new step
    assert(n2.plan.take(n1.plan.length) == n1.plan)
    assert(n2.plan.length == n1.plan.length + 1)
    // and its logical lineage stacks a delta Filter on n1's filtered
    // frame (a root rescan would fold everything into ONE Filter; the
    // analyzed plan keeps the stacking visible before CombineFilters)
    val filters = "Filter ".r
      .findAllIn(n2.df.queryExecution.analyzed.toString).length
    assert(filters >= 2,
      s"expected delta Filter over the cached node:\n${n2.df.queryExecution.analyzed}")
  }

  test("pinned session nodes: a repeat bills no judgments, a delta bills " +
      "only its own step over the cached rows, and the catalog counts both") {
    // one turn: slice steps (keyword prefilter AND a per-row judgment)
    def turn(logic: String, actions: String*) = Seq(
      """{"filter_query": "posts", "analysis_query": ""}""",
      actions.zipWithIndex.map { case (a, i) =>
        s"""{"id": ${i + 1}, "agent": "slice", "field": null, "action": "$a"}"""
      }.mkString("""{"operations": [""", ", ",
        s"""], "logic": ["$logic", ${actions.indices.map(_ + 1).mkString(", ")}]}"""),
      """{"has_topk": false}""")
    val sparkStep = "mentions spark"
    val joinStep = "mentions join"
    val s = new Scripted(turn("AND", sparkStep) ++ turn("AND", sparkStep) ++
      turn("AND", sparkStep, joinStep) ++ turn("OR", sparkStep, "mentions flink"): _*)
    val agent = new OlapAgent(s, new JudgeCountingOracle)
    val cat = new CubeCatalog(docs, oracle)
    def run(q: String): (Seq[Long], Long, Long) = {
      val (s0, j0) = (JudgeCountingOracle.judged(sparkStep),
        JudgeCountingOracle.judged(joinStep))
      val ids = agent.runSession(cat, q).select("id").as[Long].collect()
        .sorted.toSeq
      (ids, JudgeCountingOracle.judged(sparkStep) - s0,
        JudgeCountingOracle.judged(joinStep) - j0)
    }
    val (first, firstJudged, _) = run("spark posts")
    assert(first == Seq(1L, 2L, 3L, 5L) && firstJudged > 0)
    // Equal: the pinned node's rows, not one judgment re-billed
    assert(run("spark posts again") == ((first, 0L, 0L)))
    // delta: only the new step, judged over the 2 cached rows that pass
    // its keyword prefilter; the cached step is not judged again
    assert(run("spark join posts") == ((Seq(1L, 3L), 0L, 2L)))
    // OR: no delta execution, a full run from the root
    assert(run("spark or flink posts")._1 == Seq(1L, 2L, 3L, 4L, 5L))
    assert(cat.reuse == CubeCatalog.Reuse(equal = 1, delta = 1, miss = 2,
      evicted = 0))
  }

  test("ReAct loop ends gracefully on a malformed completion") {
    val s = new Scripted(
      """{"thought": "inspect", "action": {"type": "get_dimension", "params": {}}}""",
      "sorry, I cannot help with that") // no JSON at all
    val agent = new OlapAgent(s, oracle)
    val cat = new CubeCatalog(docs, oracle)
    val (_, summary, trace) = agent.runAnalysis("anything", cat.node(0))
    assert(trace.map(_.actionType) == Seq("get_dimension"))
    assert(summary.isEmpty)
  }

  test("full session: filter -> analysis loop -> top-k epilogue") {
    val s = new Scripted(
      // decompose
      """{"filter_query": "spark posts", "analysis_query": "group by topic"}""",
      // delta filter plan (history empty)
      """{"operations": [{"id": 1, "agent": "dice", "field": "title",
        |                 "action": "about spark"}],
        | "logic": ["AND", 1]}""".stripMargin,
      // ReAct: one roll-up directly on a minted dimension, then stop
      """{"thought": "mint topic", "action": {"type": "drill_down",
        |  "params": {"desc": "(join|window|streaming)",
        |             "dimension_name": "topic", "columns": ["title"]}}}""".stripMargin,
      """{"thought": "aggregate", "action": {"type": "roll_up",
        |  "params": {"dimension": "topic", "target_granularity": "topic",
        |             "analyze_dimension": [
        |               {"dimension": "self", "reduce_target": "count"}]}}}""".stripMargin,
      """{"thought": "done", "action": null}""",
      // top-k epilogue: most common topic
      """{"has_topk": true, "k": 1, "kind": "num",
        | "column": "count_of_topic", "order": "desc"}""".stripMargin)
    val agent = new OlapAgent(s, oracle)
    val cat = new CubeCatalog(docs, oracle)
    val out = agent.runSession(cat, "most common topic of spark posts")
    val rows = out.collect()
    assert(rows.length == 1)
    // spark posts: 1,2,3,5 -> topics join(2), window(1), streaming(1)
    assert(rows.head.getAs[String]("topic") == "join")
    assert(rows.head.getAs[Long]("count_of_topic") == 2L)
    // the filter result was registered in the catalog for future reuse
    assert(cat.all.exists(_.query == "most common topic of spark posts"))
  }
}
