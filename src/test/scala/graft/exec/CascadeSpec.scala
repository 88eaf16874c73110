package graft.exec

import graft.SparkSpec
import graft.oracle.DeterministicOracle
import graft.plan.{LogicalOp, LogicTree, NumCondition, PlanJson}

class CascadeSpec extends SparkSpec {
  import spark.implicits._
  private val oracle = DeterministicOracle.default

  private lazy val df = Seq(
    (1L, "spark join", 10.0), (2L, "flink window", 20.0),
    (3L, "spark window", 30.0), (4L, "duck join", 40.0),
    (5L, "spark agg", 50.0)
  ).toDF("id", "txt", "v")

  private val leaves: Map[Int, LogicalOp] = Map(
    0 -> LogicalOp.KeywordFilter(Seq("txt"), Seq("spark"), "and", "contains"),
    1 -> LogicalOp.NumFilter(Seq(NumCondition("v", 25, ">")), "and"),
    2 -> LogicalOp.SemFilter(Seq("txt"), "window"))

  test("cascade result is invariant under leaf ordering in the tree") {
    val t1 = PlanJson.decodeLogic("""["AND", 0, 1, 2]""")
    val t2 = PlanJson.decodeLogic("""["AND", 2, 1, 0]""")
    def run(t: LogicTree) =
      Cascade.filter(df, leaves.toSeq, Some(t), oracle)
        .select("id").as[Long].collect().sorted.toSeq
    assert(run(t1) == run(t2))
    assert(run(t1) == Seq(3L))
  }

  test("nested OR/AND tree evaluates correctly") {
    val t = PlanJson.decodeLogic("""["OR", ["AND", 0, 1], 2]""")
    val got = Cascade.filter(df, leaves.toSeq, Some(t), oracle)
      .select("id").as[Long].collect().sorted.toSeq
    // (spark && v>25): 3,5 ; window: 2,3  => union 2,3,5
    assert(got == Seq(2L, 3L, 5L))
  }

  test("PlanRunner executes a full golden-plan-shaped chain") {
    val plan = PlanJson.decodePlan(
      """[
        {"operator":"keyword_filter","params":{"columns":["txt"],"keywords":["spark"],"logic":"or","relation":"contain"}},
        {"operator":"sem_group","params":{"columns":["txt"],"map_description":"group by op","keyword":"op_kind"}},
        {"operator":"count","params":{"columns":[],"group_by":"op_kind"}},
        {"operator":"num_topk","params":{"column":"count","k":1,"order":"desc"}}
      ]""")
    val out = PlanRunner.run(df, plan, oracle, tiebreak = Seq("op_kind"))
    val rows = out.collect()
    assert(rows.length == 1)
    // open-set vocabulary mined from filtered rows: "spark" is the top token
    assert(rows(0).getLong(rows(0).fieldIndex("count_of_op_kind")) == 3L)
  }

  test("cost ordering puts sem leaves last within a node") {
    assert(Cascade.cost(leaves(0)) == 0)
    assert(Cascade.cost(leaves(1)) == 0)
    assert(Cascade.cost(leaves(2)) == 2)
  }
}
