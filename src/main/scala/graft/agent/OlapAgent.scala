package graft.agent

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.lit
import scala.jdk.CollectionConverters._

import graft.cube.{CubeCatalog, CubeNode, Verbs}
import graft.exec.{Dice, PlanRunner, Slice}
import graft.oracle.SemanticOracle
import graft.plan.{LogicTree, LogicalOp, PlanJson}

/** The NL -> plan agent layer: the reference's primary entry point
  * (Agents/OLAP_Agent.py), recast over one abstract completion function.
  *
  *   - intent decomposition (OLAP_Agent.py:261-287): one completion splits
  *     a query into filter intent vs analysis intent;
  *   - delta filter planning (OLAP_Agent.py:289-294, prompt
  *     OLAP_Agent.py:22-82): the filter intent becomes atomic dice/slice
  *     steps + a logic tree, planned as the DELTA over the session's
  *     previous query;
  *   - direct plan generation: NL -> the engine's plan-IR JSON
  *     (the wire format of PlanJson), executed by [[PlanRunner]];
  *   - the ReAct analysis loop (OLAP_Agent.py:322-368): <=10
  *     Thought -> Action -> Observation rounds over the catalog verbs
  *     (get_dimension / get_granularity / drill_down / roll_up);
  *   - top-k epilogue detection (UNDERSTAND_TOPK_PROMPT,
  *     OLAP_Agent.py:200-233).
  *
  * Transport-agnostic and zero-egress by construction: `complete` is any
  * String => String — an LLM client in deployment, scripted completions in
  * tests. All JSON parsing tolerates markdown code fences around the
  * payload (the reference's jsonfy_llm_response).
  */
object OlapAgent {
  /** Plug-and-run wiring for an LLM-backed deployment: the transport's
    * `complete` drives planning AND the same oracle answers row-level
    * judgments (batched through the operators' BatchedOracle routing).
    */
  def apply(oracle: graft.oracle.PromptingOracle): OlapAgent =
    new OlapAgent(oracle.complete _, oracle)

  final case class FilterStep(id: Int, agent: String, field: Option[String],
      action: String)
  final case class FilterPlan(steps: Seq[FilterStep], logic: LogicTree)
}

class OlapAgent(complete: String => String, oracle: SemanticOracle) {
  import OlapAgent.{FilterStep, FilterPlan}

  // ----------------------------------------------------------- prompts

  /** Intent decomposition prompt (OLAP_Agent.py:261-287). */
  def decomposePrompt(query: String): String =
    s"""You are a query decomposition assistant. Split the user's query into:
       |1. filter_query: which data points are of interest (row selection).
       |2. analysis_query: how to organize, aggregate or transform them.
       |Return "" for a missing part. Output ONLY JSON:
       |{"filter_query": "...", "analysis_query": "..."}
       |Query: $query""".stripMargin

  /** Delta filter planning prompt (OLAP_Agent.py:22-82): atomic dice/slice
    * steps over the NEW conditions vs the historical query, plus a nested
    * AND/OR logic array over step ids.
    */
  def filterPlanPrompt(columns: Seq[String], historyQuery: String,
      nowQuery: String): String =
    s"""You are a query planner. Break the NEW filtering conditions of the
       |current query (relative to the historical query) into atomic steps:
       |- "dice" filters one known field; "slice" searches across fields.
       |Structured fields: ${columns.mkString(", ")}
       |Historical query: $historyQuery
       |Current query: $nowQuery
       |Output ONLY JSON:
       |{"operations": [{"id": 1, "agent": "dice"|"slice",
       |  "field": "<field or null>", "action": "<one condition>"}, ...],
       | "logic": ["AND"|"OR", <id or nested array>, ...]}""".stripMargin

  /** Direct plan generation: NL -> the engine's plan-IR JSON (the format
    * of [[graft.plan.PlanJson]], i.e. the reference's normalized plan
    * exchange format, Exection_Agent.py:312-370).
    */
  def planPrompt(columns: Seq[String], query: String): String =
    s"""You are a query planner for a 10-operator algebra. Compile the query
       |into a JSON array of operations executed left to right. Operators:
       |keyword_filter{columns,keywords,logic,relation}, num_filter{conditions:[{column,threshold,operator}],logic},
       |sem_filter{columns,condition}, sem_map{columns,map_description,keyword},
       |sem_group{columns,group_description,keyword}, sem_reduce{columns,group_by},
       |num_reduce{columns,agg,group_by}, count{group_by,columns},
       |num_topk{column,k,order}, sem_topk{columns,query,k}.
       |Table columns: ${columns.mkString(", ")}
       |Query: $query
       |Output ONLY the JSON array:
       |[{"operator_name": "...", "parameters": {...}}, ...]""".stripMargin

  /** ReAct analysis-loop prompt (make_stepwise_ReAct_prompt,
    * OLAP_Agent.py:104-252): one Thought -> Action step per completion,
    * `"action": null` ends the loop.
    */
  def reactPrompt(query: String, history: String): String =
    s"""You refine a dimensional structure to support a query, one step per
       |round (Thought -> Action -> Observation). Available actions:
       |get_dimension{}, get_granularity{dimension},
       |drill_down{desc, dimension_name, related_coarser_dimension},
       |roll_up{dimension, target_granularity,
       |        analyze_dimension: [{dimension|"self", reduce_target}]}.
       |Make the minimal change; if the structure is sufficient output
       |{"thought": "...", "action": null}.
       |Otherwise output ONLY JSON:
       |{"thought": "...", "action": {"type": "...", "params": {...}}}
       |User query: $query
       |History:
       |$history""".stripMargin

  /** Top-k epilogue detection (UNDERSTAND_TOPK_PROMPT, OLAP_Agent.py:200+). */
  def topkPrompt(columns: Seq[String], query: String): String =
    s"""Does the query contain a top-k intent (top 5, most, highest...)?
       |Columns: ${columns.mkString(", ")}
       |Query: $query
       |Output ONLY JSON:
       |{"has_topk": true|false, "k": <int>, "kind": "num"|"sem",
       | "column": "<numeric column for num>", "order": "desc"|"asc",
       | "query": "<relevance query for sem>"}""".stripMargin

  // ------------------------------------------------------ JSON plumbing

  private val mapper = new ObjectMapper()

  /** The reference's jsonfy_llm_response: tolerate ```json fences and
    * leading/trailing prose around the first JSON object/array.
    */
  private[agent] def parseJson(raw: String): JsonNode = {
    val cleaned = raw.replaceAll("(?s)```(?:json)?", "").trim
    val starts = Seq(cleaned.indexOf('{'), cleaned.indexOf('['))
      .filter(_ >= 0)
    require(starts.nonEmpty, s"no JSON payload in completion: $raw")
    val from = starts.min
    val until = math.max(cleaned.lastIndexOf('}'), cleaned.lastIndexOf(']'))
    mapper.readTree(cleaned.substring(from, until + 1))
  }

  private def optText(n: JsonNode, k: String): Option[String] =
    Option(n.get(k)).filterNot(_.isNull).map(_.asText)
      .filter(s => s.nonEmpty && s != "null" && s != "None")

  // ------------------------------------------------- intent decomposition

  /** Split a query into (filter intent, analysis intent). */
  def decomposeIntent(query: String): (String, String) = {
    val n = parseJson(complete(decomposePrompt(query)))
    (optText(n, "filter_query").getOrElse(""),
      optText(n, "analysis_query").getOrElse(""))
  }

  // ----------------------------------------------------- filter planning

  /** Plan the delta filters for `nowQuery` over `historyQuery`. */
  def planFilter(columns: Seq[String], historyQuery: String,
      nowQuery: String): FilterPlan = {
    val n = parseJson(complete(filterPlanPrompt(columns, historyQuery, nowQuery)))
    val steps = Option(n.get("operations")).toSeq
      .flatMap(_.asScala)
      .map(o => FilterStep(o.get("id").asInt(), o.get("agent").asText(),
        optText(o, "field"), o.get("action").asText()))
    require(steps.nonEmpty, s"filter plan has no operations: $n")
    val logic = Option(n.get("logic")).filterNot(_.isNull)
      .map(PlanJson.decodeLogic)
      .getOrElse(LogicTree.Node("AND", steps.map(s => LogicTree.Leaf(s.id))))
    FilterPlan(steps, logic)
  }

  /** Execute a filter plan: each step lowers to its verb's predicate
    * (dice strategy selection / slice keyword+sem), folded under the
    * plan's logic tree — the mask combination of Exection_Agent.py:181-210
    * as one codegen'd Column.
    *
    * `statsDf` (default: `df` itself) is the frame the dice/slice
    * STRATEGY CHOICE profiles. Predicates are name-resolved Columns, so
    * a session's delta execution passes the session BASE table here
    * while filtering the cached node's frame: the column profile is the
    * table's (the reference's Dice agent profiles table columns, not
    * intermediate results), and the profile memo hits across every
    * query of every session instead of re-profiling each distinct
    * filtered frame — 1 stats job per (table, column), not per step.
    */
  def executeFilter(df: DataFrame, plan: FilterPlan,
      statsDf: DataFrame = null): DataFrame = {
    val sdf = Option(statsDf).getOrElse(df)
    val preds: Map[Int, Column] = plan.steps.map { s =>
      val p = s.agent match {
        case "dice" =>
          val field = s.field.getOrElse(
            sys.error(s"dice step ${s.id} without field"))
          Dice.predicate(sdf, field, s.action, oracle)
        case "slice" => Slice.predicate(sdf, sdf.columns.toSeq, s.action, oracle)
        case other   => sys.error(s"unknown agent '$other'")
      }
      s.id -> p
    }.toMap
    def fold(t: LogicTree): Column = t match {
      case LogicTree.Leaf(id) => preds(id)
      case LogicTree.Node(op, cs) =>
        val built = cs.map(fold)
        if (built.isEmpty) lit(true)
        else if (op.equalsIgnoreCase("or")) built.reduce(_ || _)
        else built.reduce(_ && _)
    }
    df.filter(fold(LogicTree.normalize(plan.logic)))
  }

  // ----------------------------------------------- direct plan generation

  /** NL -> plan IR via one completion; decoded by the golden-plan codec. */
  def planQuery(columns: Seq[String], query: String): Seq[LogicalOp] =
    PlanJson.decodePlan(
      mapper.writeValueAsString(parseJson(complete(planPrompt(columns, query)))))

  /** NL -> plan -> execution through [[PlanRunner]]. */
  def runQuery(df: DataFrame, query: String,
      tiebreak: Seq[String] = Seq.empty): DataFrame =
    PlanRunner.run(df, planQuery(df.columns.toSeq, query), oracle, tiebreak)

  /** [[runQuery]] under an execution POLICY with the plan-level cost
    * report — the agent-surface analogue of the palimpzest baseline's
    * `pz.Execute(policy = MinCost | MaxQuality)`
    * (Semantic-OLAP/baselines/palimpzest_agent.py:434-451): MinCost
    * keeps compiled lowerings (zero-call codegen where the oracle
    * allows), MaxQuality forces every semantic judgment out-of-band;
    * either way the report carries wall seconds, metered oracle calls,
    * and estimated $ (`print_statistics.py` parity).
    */
  def runQueryPolicied(df: DataFrame, query: String,
      policy: graft.exec.Policy, usdPerCall: Double = 0.0,
      tiebreak: Seq[String] = Seq.empty)
      : (DataFrame, graft.exec.Policied.PlanReport) =
    graft.exec.Policied.run(df, planQuery(df.columns.toSeq, query),
      oracle, policy, usdPerCall, tiebreak)

  // ----------------------------------------------------- the ReAct loop

  /** One session-visible record of a loop round. */
  final case class ReactStep(thought: String, actionType: String,
      observation: String)

  /** The analysis loop (run_roll_up_and_drill_down, OLAP_Agent.py:322-368):
    * at most `maxSteps` Thought -> Action -> Observation rounds driving the
    * catalog verbs; `"action": null` (or an unknown action) ends the loop.
    *
    * @return (final node, last roll-up summary if any, the trace)
    */
  def runAnalysis(query: String, node0: CubeNode, maxSteps: Int = 10):
      (CubeNode, Option[DataFrame], Seq[ReactStep]) = {
    var node = node0
    var lastSummary: Option[DataFrame] = None
    val trace = scala.collection.mutable.ArrayBuffer.empty[ReactStep]
    var step = 0
    var done = false
    while (step < maxSteps && !done) {
      step += 1
      val history = trace.map(s =>
        s"thought: ${s.thought}\naction: ${s.actionType}\nobservation: ${s.observation}")
        .mkString("\n")
      // a malformed completion ends the loop (the reference's tolerant
      // jsonfy + break, OLAP_Agent.py:334-336) — never throws mid-session
      val parsed = scala.util.Try(parseJson(complete(reactPrompt(query, history))))
      if (parsed.isFailure) done = true
      else {
      val n = parsed.get
      val action = Option(n.get("action")).filterNot(_.isNull)
      if (action.isEmpty) done = true
      else {
        val a = action.get
        val thought = optText(n, "thought").getOrElse("")
        val params = Option(a.get("params")).getOrElse(mapper.createObjectNode())
        val tpe = a.get("type").asText()
        val observation = tpe match {
          case "get_dimension" =>
            s"dimensions: ${node.dims.keys.toSeq.sorted.mkString(", ")}"
          case "get_granularity" =>
            val d = optText(params, "dimension").getOrElse("")
            node.dims.get(d) match {
              case Some(dim) =>
                s"granularities of $d: ${dim.granularities.keys.toSeq.sorted.mkString(", ")}"
              case None => s"no such dimension: $d"
            }
          case "drill_down" =>
            val name = optText(params, "dimension_name").getOrElse("dim")
            val desc = optText(params, "desc").getOrElse("")
            val cols = Option(params.get("columns")).toSeq
              .flatMap(_.asScala).map(_.asText())
            val demote = optText(params, "related_coarser_dimension")
            node = Verbs.drillDown(node,
              LogicalOp.SemMap(cols, desc, name), oracle, demote)
            s"created dimension $name" +
              demote.map(d => s" (demoted $d to a granularity)").getOrElse("")
          case "roll_up" =>
            val dim = optText(params, "dimension").getOrElse("")
            val target = optText(params, "target_granularity").getOrElse(dim)
            val analyses = Option(params.get("analyze_dimension")).toSeq
              .flatMap(_.asScala).map { an =>
                (optText(an, "dimension").getOrElse("self"),
                  optText(an, "reduce_target").getOrElse(""))
              }
            def aggOf(t: String): Option[String] = {
              val lt = t.toLowerCase
              if (lt.contains("sum") || lt.contains("total")) Some("sum")
              else if (lt.contains("avg") || lt.contains("average") ||
                lt.contains("mean")) Some("avg")
              else if (lt.contains("min")) Some("min")
              else if (lt.contains("max") || lt.contains("highest")) Some("max")
              else None
            }
            val numReduce = analyses.collect {
              case (d, t) if d != "self" && aggOf(t).isDefined =>
                (aggOf(t).get, d)
            }
            val semReduce = analyses.collect {
              case (d, t) if d != "self" && aggOf(t).isEmpty => d
            }
            val (n2, summary) = Verbs.rollUp(node,
              LogicalOp.SemGroup(Seq(dim), s"group $dim", target),
              Seq.empty, oracle, numReduce, semReduce)
            node = n2
            lastSummary = Some(summary)
            s"rolled $dim up to $target" +
              (if (analyses.nonEmpty) s" with ${analyses.length} analyses" else "")
          case other => done = true; s"unknown action: $other"
        }
        trace += ReactStep(thought, tpe, observation)
      }
      }
    }
    (node, lastSummary, trace.toSeq)
  }

  // -------------------------------------------------------- the session

  final case class TopkIntent(kind: String, k: Int, column: String,
      order: String, query: String)

  /** Detect a top-k epilogue in the query (None = no top-k intent). */
  def understandTopk(columns: Seq[String], query: String): Option[TopkIntent] = {
    val n = parseJson(complete(topkPrompt(columns, query)))
    if (!Option(n.get("has_topk")).exists(_.asBoolean(false))) None
    else Some(TopkIntent(
      optText(n, "kind").getOrElse("num"),
      Option(n.get("k")).map(_.asInt(1)).getOrElse(1),
      optText(n, "column").getOrElse(""),
      optText(n, "order").getOrElse("desc"),
      optText(n, "query").getOrElse("")))
  }

  /** Full progressive-session step, the reference's per-query pipeline:
    * decompose -> delta filter plan -> catalog-registered filter result ->
    * ReAct analysis -> top-k epilogue. `historyQuery` is the previous
    * session query ("" for the first).
    */
  def runSession(catalog: CubeCatalog, query: String,
      historyQuery: String = "", maxSteps: Int = 10): DataFrame = {
    val (filterQ, analysisQ) = decomposeIntent(query)
    val base = catalog.node(0).df
    val node =
      if (filterQ.isEmpty) catalog.node(0)
      else {
        val plan = planFilter(base.columns.toSeq, historyQuery, filterQ)
        // the catalog keys on LogicalOp atoms; verb-level steps carry their
        // NL action, so they canonicalize as a sem_filter atom per step
        // (same subsumption behavior as the reference's judged memory)
        val asOps: Seq[LogicalOp] = plan.steps.map(s =>
          LogicalOp.SemFilter(s.field.toSeq, s.action))
        val key = graft.cube.PredicateAtoms.atoms(asOps)
        // Equal reuse: a session re-asking the same conditions gets the
        // cached node back, never a second execution
        catalog.equalNode(key)
          .getOrElse {
            // implication-aware base (the same bestBaseImplied descent
            // filterQuery uses): a progressive NL session whose new step
            // set extends a cached node's executes ONLY the delta steps on
            // that node's (already filtered, pinned) frame.
            // Delta execution is sound only under a conjunctive logic
            // tree — dropping a satisfied leaf from an OR would change
            // semantics — so any other shape falls back to full execution.
            val cached = catalog.bestBaseImplied(asOps)
            val conjunctive = LogicTree.normalize(plan.logic) match {
              case LogicTree.Leaf(_) => true
              case LogicTree.Node(op, cs) => op.equalsIgnoreCase("and") &&
                cs.forall(_.isInstanceOf[LogicTree.Leaf])
            }
            val deltaSteps = plan.steps.filterNot(s =>
              cached.predicates.contains(graft.cube.PredicateAtoms.atom(
                LogicalOp.SemFilter(s.field.toSeq, s.action))))
            val (from, df, planOps) =
              if (cached.id != 0 && conjunctive) {
                val d =
                  if (deltaSteps.isEmpty) cached.df
                  else executeFilter(cached.df, FilterPlan(deltaSteps,
                    LogicTree.Node("AND", deltaSteps.map(s => LogicTree.Leaf(s.id)))),
                    statsDf = base)
                (cached, d, cached.plan ++ deltaSteps.map(s =>
                  LogicalOp.SemFilter(s.field.toSeq, s.action): LogicalOp))
              } else (catalog.node(0), executeFilter(base, plan), asOps)
            catalog.admit(from, query, key, df, planOps, asOps)
          }
      }
    val (finalNode, summary, _) =
      if (analysisQ.isEmpty) (node, None, Seq.empty)
      else runAnalysis(analysisQ, node, maxSteps)
    val result = summary.getOrElse(finalNode.df)
    understandTopk(result.columns.toSeq, query) match {
      case Some(t) if t.kind == "sem" =>
        graft.ops.SemTopK(result,
          LogicalOp.SemTopK(Seq.empty, t.query, t.k), oracle)
      case Some(t) =>
        graft.ops.NumTopK(result, LogicalOp.NumTopK(t.column, t.k, t.order))
      case None => result
    }
  }
}
