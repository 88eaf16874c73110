package graft.ops

import graft.SparkSpec
import graft.oracle.{DeterministicOracle, TagRule}
import graft.plan.{LogicalOp, NumCondition}
import org.apache.spark.sql.functions._

class OperatorSpec extends SparkSpec {
  import spark.implicits._
  private val oracle = DeterministicOracle.default

  private lazy val docs = Seq(
    (1L, "spark join basics", "10"),
    (2L, "window functions deep dive", "notanumber"),
    (3L, "JOIN and spark streaming", "-5"),
    (4L, "", "3.5"),
    (5L, "pandas merge", null.asInstanceOf[String])
  ).toDF("id", "title", "score")

  // ---------------------------------------------------------- keyword_filter

  test("keyword_filter contains/and") {
    val got = KeywordFilter(docs, LogicalOp.KeywordFilter(
      Seq("title"), Seq("spark", "join"), "and", "contains"))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L)) // case-insensitive: JOIN matches
  }

  test("keyword_filter contains/or") {
    val got = KeywordFilter(docs, LogicalOp.KeywordFilter(
      Seq("title"), Seq("window", "merge"), "or", "contains"))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 5L))
  }

  test("keyword_filter irrelevant = negated contains") {
    val got = KeywordFilter(docs, LogicalOp.KeywordFilter(
      Seq("title"), Seq("spark"), "and", "irrelevant"))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 4L, 5L))
  }

  test("keyword_filter equal matches whole lowered text") {
    val got = KeywordFilter(docs, LogicalOp.KeywordFilter(
      Seq("title"), Seq("Pandas Merge"), "and", "equal"))
      .select("id").as[Long].collect()
    assert(got.toSeq == Seq(5L))
  }

  test("keyword_filter contained_in: row text is substring of keyword") {
    val got = KeywordFilter(docs, LogicalOp.KeywordFilter(
      Seq("title"), Seq("advanced pandas merge techniques"), "and", "contained_in"))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(4L, 5L)) // empty string is substring of anything
  }

  // -------------------------------------------------------------- num_filter

  test("num_filter coerces non-numerics to excluded") {
    val got = NumFilter(docs, LogicalOp.NumFilter(
      Seq(NumCondition("score", 0, ">=")), "and"))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 4L)) // "notanumber", null, -5 all out
  }

  test("num_filter OR does not resurrect coerced nulls") {
    val got = NumFilter(docs, LogicalOp.NumFilter(Seq(
      NumCondition("score", 100, "<"), NumCondition("score", 0, ">")), "or"))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L, 4L))
  }

  test("num_filter operators == and !=") {
    val eq = NumFilter(docs, LogicalOp.NumFilter(
      Seq(NumCondition("score", 10, "==")), "and")).select("id").as[Long].collect()
    assert(eq.toSeq == Seq(1L))
    val ne = NumFilter(docs, LogicalOp.NumFilter(
      Seq(NumCondition("score", 10, "!=")), "and")).select("id").as[Long].collect().sorted
    assert(ne.toSeq == Seq(3L, 4L)) // nulls excluded, 10 excluded
  }

  // -------------------------------------------------------------- sem_* ops

  test("sem_filter: AND-entailment of condition tokens, stopwords dropped") {
    val got = SemFilter(docs, LogicalOp.SemFilter(
      Seq("title"), "mentions spark and join"), oracle)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L))
  }

  test("sem_filter compiled and batched paths agree") {
    val noCompile = new DeterministicOracle() {
      override def compileJudge(c: String) = None
    }
    val compiled = SemFilter(docs, LogicalOp.SemFilter(Seq("title"), "spark join"), oracle)
      .select("id").as[Long].collect().sorted.toSeq
    val batched = SemFilter(docs, LogicalOp.SemFilter(Seq("title"), "spark join"), noCompile)
      .select("id").as[Long].collect().sorted.toSeq
    assert(compiled == batched)
  }

  test("sem_map extracts via regex, no-match becomes null (NA)") {
    val got = SemMap(docs, LogicalOp.SemMap(
      Seq("title"), "(spark|pandas)", "engine"), oracle)
      .select("id", "engine").as[(Long, Option[String])].collect().toMap
    assert(got(1L).contains("spark"))
    assert(got(5L).contains("pandas"))
    assert(got(2L).isEmpty)
  }

  test("sem_map one-to-many: fan-out per extracted value with ordinal " +
      "lineage; zero-match rows drop; compiled and batched paths " +
      "agree; the plan is Generate with NO added shuffle") {
    val op = LogicalOp.SemMap(Seq("title"), "([a-z]+a[a-z]+)", "word")
    val got = SemMapMulti(docs, op, oracle)
      .select("id", "word_idx", "word")
      .as[(Long, Int, String)].collect().sorted.toSeq
    // 'a'-centered words, in text order, per row; rows 2 and 4 derive none
    assert(got == Seq((1L, 0, "spark"), (1L, 1, "basics"),
      (3L, 0, "spark"), (3L, 1, "streaming"), (5L, 0, "pandas")))
    // lineage: every source column survives on every derived row
    assert(SemMapMulti(docs, op, oracle).columns.toSeq ==
      Seq("id", "title", "score", "word_idx", "word"))
    // non-compiled oracles (the scalar default loop / a transport's own
    // extractAll) agree, both batched out of band
    val noCompile = new DeterministicOracle() {
      override def compileExtractAll(d: String) = None
    }
    val det = DeterministicOracle.default // local: the anon class must
      // not capture the (non-serializable) spec instance via the field
    val batched = new graft.oracle.BatchedOracle {
      def judge(t: String, c: String) = false
      def extract(t: String, d: String) = det.extract(t, d)
      override def extractAll(t: String, d: String) = det.extractAll(t, d)
      def classify(t: String, v: Seq[TagRule]) = None
      def summarize(vs: Seq[String], d: String) = ""
      def score(t: String, q: String) = 0.0
    }
    assert(SemMapMulti(docs, op, noCompile).select("id", "word_idx", "word")
      .as[(Long, Int, String)].collect().sorted.toSeq == got)
    assert(SemMapMulti(docs, op, batched).select("id", "word_idx", "word")
      .as[(Long, Int, String)].collect().sorted.toSeq == got)
    // physical shape: a Generate, zero Exchange — fan-out is
    // partition-local at any scale
    val plan = SemMapMulti(docs, op, oracle)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), plan)
    assert(!plan.contains("Exchange"), plan)
    // re-deriving an existing dimension REPLACES the columns (withColumn
    // semantics) — never duplicate names; the fan-out itself multiplies
    // per input ROW (one-to-many is not idempotent, by definition)
    val again = SemMapMulti(SemMapMulti(docs, op, oracle), op, oracle)
    assert(again.columns.toSeq ==
      Seq("id", "title", "score", "word_idx", "word"))
    assert(again.filter($"id" === 5L).count() == 1L) // 1 word -> 1x1
    assert(again.filter($"id" === 1L).count() == 4L) // 2 words -> 2x2
  }

  test("sem_group closed-set: first matching rule wins, else null") {
    val vocab = Seq(TagRule("join", "joins"), TagRule("spark", "sparky"),
      TagRule("window", "windowing"))
    val got = SemGroup(docs, LogicalOp.SemGroup(Seq("title"), "", "topic"),
      vocab, oracle)
      .select("id", "topic").as[(Long, Option[String])].collect().toMap
    assert(got(1L).contains("joins"))   // join rule fires before spark rule
    assert(got(2L).contains("windowing"))
    assert(got(5L).isEmpty)
  }

  test("sem_group open-set mines a deterministic vocabulary") {
    val vocab = SemGroup.mineVocabulary(docs, Seq("title"), maxTags = 3)
    // "spark" and "join" appear twice; third slot alphabetical among singles
    assert(vocab.map(_.keyword).take(2).toSet == Set("spark", "join"))
    assert(vocab.size == 3)
  }

  test("sem_reduce UDAF (bounded buffer) equals expression summary") {
    val df = Seq(("a", "x"), ("a", "z"), ("a", "y"), ("a", "x"), ("b", "q"))
      .toDF("g", "v")
    val viaExpr = df.groupBy("g").agg(SemReduce.exprSummary("v", 5))
      .as[(String, String)].collect().toMap
    val viaUdaf = df.groupBy("g")
      .agg(SemReduce.summarizeUdaf("v", "", oracle))
      .as[(String, String)].collect().toMap
    assert(viaExpr == viaUdaf)
    assert(viaExpr("a") == "x, y, z")
  }

  test("sem_topk scores fraction of query tokens and orders deterministically") {
    val got = SemTopK(docs, LogicalOp.SemTopK(Seq("title"), "spark join window", 3),
      oracle, tiebreak = Seq("id"))
      .select("id", "sem_score").as[(Long, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 3L, 2L))
    assert(got(0)._2 === 2.0 / 3.0)
    assert(got(2)._2 === 1.0 / 3.0)
  }

  test("sem_topk duel mode: round-robin wins reproduce score order on a transitive oracle") {
    val got = SemTopK.duelTopK(docs,
      LogicalOp.SemTopK(Seq("title"), "spark join window", 3), oracle,
      idCol = "id", overscan = 4)
      .select("id", "duel_wins").as[(Long, Long)].collect()
    // scores: id1=id3=2/3 (spark+join), id2=1/3, id4=id5=0. Strict wins:
    // 1 and 3 each beat {2,4,5} (3 wins, tied -> id asc), 2 beats {4,5}
    assert(got.map(_._1).toSeq == Seq(1L, 3L, 2L))
    assert(got.head._2 == got.map(_._2).max)
    // every win count is within [0, candidates-1]
    assert(got.forall { case (_, w) => w >= 0 && w < 5 })
  }

  // ------------------------------------------------- aggregation + topk ops

  test("count with group_by and distinct columns") {
    val df = Seq(("a", 1), ("a", 1), ("a", 2), ("b", 3)).toDF("g", "v")
    val got = CountOp(df, LogicalOp.CountOp("g", Seq("v")))
      .orderBy("g").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 3L, 2L), ("b", 1L, 1L)))
  }

  test("num_reduce exact avg/sum over decimal") {
    val df = Seq(("a", 0.1), ("a", 0.2), ("b", 5.0)).toDF("g", "v")
    val got = NumReduce(df, LogicalOp.NumReduce(Seq("v"), Seq("sum", "avg"),
      Some("g")), exact = true).orderBy("g").collect()
    assert(got(0).getDouble(1) == 0.3) // decimal-exact, not 0.30000000000000004
    assert(got(0).getDouble(2) == 0.15)
  }

  test("num_topk handles asc/desc with nulls last and tiebreak") {
    val got = NumTopK(docs, LogicalOp.NumTopK("score", 2, "asc"),
      tiebreak = Seq("id")).select("id").as[Long].collect()
    assert(got.toSeq == Seq(3L, 4L)) // -5, 3.5; non-numeric nulls last
  }

  test("approx_percentile error contract: within rank eps of exact quantile") {
    // the q_approx_quantiles gate relies on this: accuracy a bounds rank
    // error by n/a, so on integer-valued data with flat runs >> n/a the
    // sketch returns exactly the discrete quantile
    val n = 50000
    val df = spark.range(n).selectExpr("(id % 50) + 1.0 AS v")
    val Array(approx, exact) = df
      .selectExpr("approx_percentile(v, 0.95, 10000) AS a",
        "percentile(v, 0.95) AS e")
      .collect()(0).toSeq.map(_.toString.toDouble).toArray
    // uniform 1..50: each value's run is n/50 = 1000 rows >> n/10000 = 5
    assert(math.abs(approx - exact) <= 1.0,
      s"approx=$approx exact=$exact drifted past one flat run")
  }

  test("approx_count_distinct error contract: rsd 0.005 stays within 2%") {
    val df = spark.range(100000).selectExpr("id % 9173 AS k")
    val got = df.selectExpr("approx_count_distinct(k, 0.005) AS a")
      .collect()(0).getLong(0)
    assert(math.abs(got - 9173L) <= 9173L * 0.02,
      s"HLL++ estimate $got outside 2% of 9173")
  }

  test("asOf attaches the latest right row at-or-before each left time") {
    val trades = Seq((1L, 0L, "t0"), (1L, 10L, "t10"), (1L, 30L, "t30"),
      (2L, 10L, "u10")).toDF("k", "t", "tag")
    val quotes = Seq((1L, 5L, 1.0), (1L, 10L, 2.0), (1L, 20L, 3.0),
      (2L, 99L, 9.0)).toDF("k", "qt", "px")
    val got = graft.ops.AsOfJoin.asOf(trades, quotes, "k", "t", "qt",
      Seq("px"))
      .select("k", "t", "asof_px").orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(got.toSeq == Seq(
      (1L, 0L, null),   // before any quote
      (1L, 10L, 2.0),   // ties are inclusive: the 10-quote, not the 5-quote
      (1L, 30L, 3.0),   // carries past the last quote
      (2L, 10L, null))) // other key's quotes never leak
    // one shuffle shape: a single window Exchange, no inequality join
    val plan = graft.ops.AsOfJoin.asOf(trades, quotes, "k", "t", "qt",
      Seq("px")).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"range-join shape leaked:\n$plan")
  }

  test("asOf picks the greatest payload deterministically at duplicate (key, time)") {
    val left = Seq((1L, 10L, "L")).toDF("k", "t", "tag")
    // three right rows at the SAME (key, time): the carried value must be
    // the payload-struct maximum, independent of shuffle arrival order
    val right = spark.sparkContext
      .parallelize(Seq((1L, 10L, 3.0), (1L, 10L, 9.0), (1L, 10L, 1.0)), 3)
      .toDF("k", "rt", "v")
    (1 to 3).foreach { _ =>
      val got = graft.ops.AsOfJoin.asOf(left, right, "k", "t", "rt", Seq("v"))
        .select("asof_v").collect()(0).getDouble(0)
      assert(got == 9.0, s"nondeterministic duplicate pick: $got")
    }
  }

  test("asOf equals the brute-force latest-at-or-before on random data") {
    val rnd = new scala.util.Random(42)
    val lrows = Seq.tabulate(120)(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(50).toLong, i.toLong))
    // distinct (key, time) on the right so the pick at ties is unique
    val rrows = rnd.shuffle(
      (for (k <- 0 until 5; t <- 0 until 50 if rnd.nextBoolean()) yield
        (k.toLong, t.toLong * 2, k * 1000.0 + t)).toSeq)
    val left = lrows.toDF("k", "t", "lid")
    val right = rrows.toDF("k", "rt", "v")
    val got = graft.ops.AsOfJoin.asOf(left, right, "k", "t", "rt", Seq("v"))
      .select("lid", "asof_v").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val byKey = rrows.groupBy(_._1)
    lrows.foreach { case (k, t, lid) =>
      val expect = byKey.getOrElse(k, Seq.empty)
        .filter(_._2 <= t).sortBy(_._2).lastOption.map(_._3)
      assert(got(lid) == expect, s"lid=$lid k=$k t=$t")
    }
  }

  test("pointInInterval matches containing intervals only, via equi-join buckets") {
    val points = Seq((1L, 5L), (2L, 10L), (3L, 25L), (4L, 100L))
      .toDF("pid", "t")
    val ivs = Seq((10L, "a", 0L, 10L), (11L, "b", 8L, 30L))
      .toDF("iid", "tag", "s", "e")
    val got = graft.ops.RangeJoin.pointInInterval(points, "t", ivs,
      "s", "e", bucketWidth = 7L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    // 5 in [0,10]; 10 in BOTH [0,10] and [8,30] (overlap -> two matches,
    // each exactly once despite the interval spanning several buckets);
    // 25 only in [8,30]; 100 in none
    assert(got == Set((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L)))
    // bucketized shape: an equi-join (hash/sort-merge), never a
    // nested-loop range join
    val plan = graft.ops.RangeJoin.pointInInterval(points, "t", ivs,
      "s", "e", 7L).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"range shape leaked:\n$plan")
  }

  test("pointInInterval equals the brute-force containment join on random data") {
    val rnd = new scala.util.Random(7)
    val pts = Seq.tabulate(150)(i => (i.toLong, rnd.nextInt(1000).toLong))
    val ivs = Seq.tabulate(40) { i =>
      val s = rnd.nextInt(950).toLong
      (100L + i, s, s + rnd.nextInt(120).toLong)
    }
    val got = graft.ops.RangeJoin.pointInInterval(
      pts.toDF("pid", "t"), "t", ivs.toDF("iid", "s", "e"), "s", "e",
      bucketWidth = 64L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val expect = (for ((pid, t) <- pts; (iid, s, e) <- ivs
                       if t >= s && t <= e) yield (pid, iid)).toSet
    assert(got == expect)
  }

  test("reattach keeps all base rows (left join semantics)") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("OLAP_ID", "x")
    val view = Seq((1L, "g1"), (3L, "g2")).toDF("OLAP_ID", "grp")
    val got = Reattach(base, view).orderBy("OLAP_ID")
      .select("OLAP_ID", "grp").as[(Long, Option[String])].collect()
    assert(got.toSeq == Seq((1L, Some("g1")), (2L, None), (3L, Some("g2"))))
  }
}
