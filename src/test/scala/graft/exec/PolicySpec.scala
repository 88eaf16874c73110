package graft.exec

import graft.SparkSpec
import graft.oracle.{BatchedOracle, DeterministicOracle}
import graft.plan.LogicalOp

/** The cost/quality policy layer (palimpzest parity, r18): the same NL
  * condition lowers to different physical strategies by objective, the
  * oracle meter counts every out-of-band judgment (driver-side enum
  * picks AND executor-side batched rows through one accumulator), and
  * the per-operator explain surfaces strategy + calls + estimated $.
  */
class PolicySpec extends SparkSpec {
  import spark.implicits._
  private val oracle = DeterministicOracle.default

  private def events = (1 to 400).map { i =>
    val k = i % 4 match {
      case 0 => "error"; case 1 => "click"; case 2 => "view"
      case _ => "signup"
    }
    (i.toLong, k)
  }.toDF("id", "kind")

  test("MinCost lowers to enum pushdown, MaxQuality to per-row judge; " +
      "same rows, strictly fewer calls under MinCost; explain carries " +
      "strategy, calls, and $") {
    val minC = Policied.dice(events, "kind", "error", oracle,
      Policy.MinCost, usdPerCall = 0.01)
    val maxQ = Policied.dice(events, "kind", "error", oracle,
      Policy.MaxQuality, usdPerCall = 0.01)
    assert(minC.strategy == Dice.EnumStrategy)
    assert(maxQ.strategy == Dice.SemFallback)
    val gotMin = minC.df.select("id").as[Long].collect().sorted.toSeq
    val gotMax = maxQ.df.select("id").as[Long].collect().sorted.toSeq
    assert(gotMin == gotMax && gotMin.nonEmpty, "value-identical results")
    val (rMin, rMax) = (minC.report(), maxQ.report())
    // enum: 3 distinct values are not the condition token -> 3 judgments;
    // per-row: every non-null row -> 400
    assert(rMin.oracleCalls == 3L, rMin.explain)
    assert(rMax.oracleCalls == 400L, rMax.explain)
    assert(rMin.estUsd < rMax.estUsd)
    assert(rMin.explain.contains("strategy=enumerable") &&
      rMin.explain.contains("oracle_calls=3") &&
      rMin.explain.contains("est_usd=$0.03"))
    assert(rMax.explain.contains("strategy=sem_filter") &&
      rMax.explain.contains("oracle_calls=400"))
    // plan-time estimates: enum bounded by the distinct count
    assert(rMin.estOracleCalls == 4L) // 4 distinct values in the column
  }

  test("numeric conditions stay zero-call under MinCost (synthesized " +
      "compare), and the meter reports 0") {
    val df = (1 to 100).map(i => (i.toLong, s"v $i")).toDF("id", "c")
      .withColumn("n", org.apache.spark.sql.functions.col("id") * 2)
    val p = Policied.dice(df, "n", "> 100", oracle, Policy.MinCost,
      usdPerCall = 1.0)
    assert(p.df.count() == 50L)
    val r = p.report()
    assert(r.oracleCalls == 0L && r.estUsd == 0.0, r.explain)
    assert(r.estOracleCalls == 0L)
  }

  test("MeteredOracle forwards whole batches to a batched inner " +
      "transport and still counts per judged text") {
    @volatile var batchRpcs = 0
    val inner = new BatchedOracle {
      def judge(t: String, c: String) = t != null && t.contains(c)
      def extract(t: String, d: String) = None
      def classify(t: String, v: Seq[graft.oracle.TagRule]) = None
      def summarize(vs: Seq[String], d: String) = ""
      def score(t: String, q: String) = 0.0
      override def judgeBatch(ts: Seq[String], c: String) = {
        batchRpcs += 1; ts.map(t => t != null && t.contains(c))
      }
    }
    val acc = spark.sparkContext.longAccumulator("test.calls")
    val m = new MeteredOracle(inner, acc)
    assert(m.judgeBatch(Seq("a err", null, "b"), "err")
      == Seq(true, false, false))
    assert(batchRpcs == 1, "one RPC per batch, not per row")
    assert(acc.value == 2L, "nulls never reach (or bill) the transport")
    // a scalar inner (no batch override): every batch call bills the same
    // texts and chars as the meter's own scalar overrides looped over the
    // non-null texts, and answers the same
    val scalar = new DeterministicOracle()
    def meter() = {
      val calls = spark.sparkContext.longAccumulator("test.calls")
      val chars = spark.sparkContext.longAccumulator("test.chars")
      (calls, chars, new MeteredOracle(scalar, calls, chars = chars))
    }
    val texts = Seq("spark err", null, "b", "")
    val pairs = Seq(("spark a", "b"), (null, "spark"), ("x", null))
    val vocab = Seq(graft.oracle.TagRule("spark", "s"))
    val (bCalls, bChars, b) = meter()
    val (lCalls, lChars, l) = meter()
    val batched = Seq(b.judgeBatch(texts, "spark"),
      b.extractBatch(texts, "(\\w+)"), b.extractAllBatch(texts, "(\\w+)"),
      b.classifyBatch(texts, vocab), b.scoreBatch(texts, "spark"),
      b.duelBatch(pairs, "spark"))
    val looped = Seq(texts.map(t => t != null && l.judge(t, "spark")),
      texts.map(t => if (t == null) None else l.extract(t, "(\\w+)")),
      texts.map(t => if (t == null) Seq.empty else l.extractAll(t, "(\\w+)")),
      texts.map(t => if (t == null) None else l.classify(t, vocab)),
      texts.map(t => if (t == null) 0.0 else l.score(t, "spark")),
      pairs.map { case (x, y) =>
        l.duel(Option(x).getOrElse(""), Option(y).getOrElse(""), "spark") })
    assert(batched == looped)
    assert((bCalls.value, bChars.value) == ((lCalls.value, lChars.value)))
    // five text batches of 3 non-null texts (10 chars), 3 pairs (14 chars)
    assert((bCalls.value, bChars.value) == ((5L * 3 + 3, 5L * 10 + 14)))
  }

  test("Policied.run reports plan wall time, total calls, and $ for a " +
      "whole plan (print_statistics parity)") {
    val docs = (1 to 50).map(i =>
      (i.toLong, if (i % 5 == 0) s"spark stream doc $i" else s"plain $i"))
      .toDF("doc_id", "text")
    // a non-compiling metered plan: calls counted across the cascade
    val (out, rep) = Policied.run(docs,
      Seq(LogicalOp.SemFilter(Seq("text"), "spark stream")),
      oracle, Policy.MaxQuality, usdPerCall = 0.001)
    assert(rep.resultRows == 10L && out.count() == 10L)
    assert(rep.oracleCalls == 50L, rep.explain)
    assert(rep.seconds > 0.0)
    assert(rep.explain.contains("policy=max_quality") &&
      rep.explain.contains("oracle_calls=50") &&
      rep.explain.contains("rows=10"))
    // MinCost forwards compile hooks: the deterministic oracle's
    // codegen judge runs at ZERO out-of-band calls, same answer
    val (out2, rep2) = Policied.run(docs,
      Seq(LogicalOp.SemFilter(Seq("text"), "spark stream")),
      oracle, Policy.MinCost, usdPerCall = 0.001)
    assert(rep2.resultRows == 10L && rep2.oracleCalls == 0L, rep2.explain)
    assert(out2.select("doc_id").as[Long].collect().sorted.toSeq ==
      out.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("Policy.parse round-trips and refuses junk") {
    assert(Policy.parse("min_cost") == Policy.MinCost)
    assert(Policy.parse("MaxQuality") == Policy.MaxQuality)
    intercept[IllegalArgumentException](Policy.parse("fastest"))
  }

  test("MeteredOracle forwards extractAll to the inner oracle's own " +
      "one-to-many extraction (not the scalar default), scalar and batch") {
    @volatile var batchRpcs = 0
    val inner = new BatchedOracle {
      def judge(t: String, c: String) = false
      def extract(t: String, d: String) = Some("first-only")
      override def extractAll(t: String, d: String) =
        t.split(" ").toSeq.filter(_.nonEmpty)
      override def extractAllBatch(ts: Seq[String], d: String) = {
        batchRpcs += 1
        ts.map(t => if (t == null) Seq.empty else extractAll(t, d))
      }
      def classify(t: String, v: Seq[graft.oracle.TagRule]) = None
      def summarize(vs: Seq[String], d: String) = ""
      def score(t: String, q: String) = 0.0
    }
    val acc = spark.sparkContext.longAccumulator("test.calls")
    val m = new MeteredOracle(inner, acc)
    assert(m.extractAll("a b c", "words") == Seq("a", "b", "c"),
      "must forward to the inner extractAll, not truncate via extract()")
    assert(acc.value == 1L)
    assert(batchRpcs == 1, "a scalar call is a one-element batch")
    assert(m.extractAllBatch(Seq("a b", null, "c"), "words")
      == Seq(Seq("a", "b"), Seq.empty, Seq("c")))
    assert(batchRpcs == 2, "whole batch forwarded in one RPC")
    assert(acc.value == 3L, "nulls never bill")
    // the end-to-end failure mode this guards: SemMapMulti over a
    // MeteredOracle must fan out to ALL values per row
    val df = Seq((1L, "x y"), (2L, "z")).toDF("id", "text")
    val out = graft.ops.SemMapMulti(df,
      graft.plan.LogicalOp.SemMap(Seq("text"), "words", "w"), m)
    assert(out.count() == 3L, "2 + 1 extracted values, not one per row")
  }

  test("MinCost escalates past maxDistinct: a column whose distinct set " +
      "exceeds the enum bound is judged per row, never as a truncated " +
      "value set") {
    val common = Seq("click", "view", "scroll", "hover", "load")
    val rows = (1 to 400).map(i => (i.toLong, common(i % 5))) ++
      Seq((401L, "error a"), (402L, "error a"), (403L, "error b"),
        (404L, "fatal error"))
    val df = rows.toDF("id", "kind")
    // sanity: the enum gate would fire (7 distinct, top-5 cover >= 90%)
    assert(ColumnStats.enumStats(df, "kind").isEnumerable)
    val p = Policied.dice(df, "kind", "error", oracle, Policy.MinCost,
      usdPerCall = 0.01, maxDistinct = 5)
    assert(p.strategy == Dice.SemFallback,
      "7 distinct > maxDistinct=5 must escalate to per-row judgment")
    assert(p.df.count() == 4L, "every error row kept, none silently pruned")
    // MinCost + a compilable judge: the escalated per-row path stays
    // codegen — full fidelity at zero out-of-band calls
    assert(p.report().oracleCalls == 0L &&
      p.report().estOracleCalls == 0L, p.explain)
    // within the bound the enum pushdown still wins
    val q = Policied.dice(df, "kind", "error", oracle, Policy.MinCost,
      usdPerCall = 0.01, maxDistinct = 100)
    assert(q.strategy == Dice.EnumStrategy)
    assert(q.df.count() == 4L)
  }

  test("the enum escalation guard is EXACT, not sampled (r19 review): " +
      "rare distinct values clustered past the stats sample prefix " +
      "still escalate — a keep-set can never be silently truncated") {
    // first 100_010 rows: 3 common values fill the whole ColumnStats
    // sample prefix (sampleCap = 100k), 10 rare matching values sit at
    // the very end. The sampled gate sees nDistinct=3 <= maxDistinct=5
    // and would keep the enum pushdown, whose limit(5) keep-set may
    // drop the rare values' rows; the exact guard collects
    // maxDistinct+1 distincts, overflows (13 > 5) and escalates.
    val common = Seq("click", "view", "scroll")
    val rows = (1 to 100000).map(i => (i.toLong, common(i % 3))) ++
      (1 to 10).map(i => (100000L + i, s"error $i"))
    val df = rows.toDF("id", "kind")
    val sampled = ColumnStats.enumStats(df, "kind")
    assert(sampled.isEnumerable && sampled.nDistinct <= 5L,
      s"precondition: the sampled stat must undercount, got $sampled")
    val p = Policied.dice(df, "kind", "error", oracle, Policy.MinCost,
      usdPerCall = 0.01, maxDistinct = 5)
    assert(p.strategy == Dice.SemFallback,
      "13 true distincts > maxDistinct=5 must escalate even though the " +
        "sampled stat says 3")
    assert(p.df.count() == 10L, "every rare matching row kept")
  }

  test("token reduction (allow_token_reduction analogue): parity-validated " +
      "column pruning cuts judged characters, identical answer") {
    val pad = "x".repeat(300)
    val df = (1 to 100).map(i =>
      (i.toLong, s"$pad doc $i", if (i % 4 == 0) "keep" else "drop"))
      .toDF("id", "body", "tag")
    val full = Policied.semFilter(df, Seq.empty, "keep", oracle,
      Policy.MaxQuality, usdPerCall = 0.001, usdPerMChars = 1.0)
    val red = Policied.semFilter(df, Seq.empty, "keep", oracle,
      Policy.MaxQuality, usdPerCall = 0.001, usdPerMChars = 1.0,
      reduceTo = Seq("tag"), paritySample = 8)
    val a = full.df.select("id").as[Long].collect().sorted.toSeq
    val b = red.df.select("id").as[Long].collect().sorted.toSeq
    assert(a == b && a.size == 25)
    val (rF, rR) = (full.report(), red.report())
    assert(rR.judgedChars * 5 <= rF.judgedChars,
      s"expected >=5x char cut: ${rR.judgedChars} vs ${rF.judgedChars}")
    assert(red.explain.contains("strategy=per_row_reduced"), red.explain)
    assert(rR.estUsd < rF.estUsd)
  }

  test("token reduction REJECTED by the parity probe falls back to the " +
      "full text (quality parity check)") {
    // evidence lives in `body`, so pruning to `tag` flips judgments and
    // the probe must catch it on the sample
    val df = (1 to 50).map(i =>
      (i.toLong, if (i % 2 == 0) s"keep doc $i" else s"plain doc $i", "na"))
      .toDF("id", "body", "tag")
    val red = Policied.semFilter(df, Seq.empty, "keep", oracle,
      Policy.MaxQuality, usdPerCall = 0.001, reduceTo = Seq("tag"),
      paritySample = 16)
    assert(red.df.count() == 25L, "answer must come from the FULL text")
    assert(red.explain.contains("strategy=per_row_reduction_rejected"),
      red.explain)
  }

  test("Policied.semTopK: MinCost = compiled score-then-sort (0 calls), " +
      "MaxQuality = duel tournament, same k with the deterministic oracle") {
    val docs = (1 to 40).map { i =>
      val hits = Seq("alpha", "beta", "gamma").take(i % 4)
      (i.toLong, (hits :+ s"doc $i").mkString(" "))
    }.toDF("doc_id", "text")
    val op = LogicalOp.SemTopK(Seq("text"), "alpha beta gamma", 3)
    val minC = Policied.semTopK(docs, op, oracle, Policy.MinCost, "doc_id",
      usdPerCall = 0.01)
    val maxQ = Policied.semTopK(docs, op, oracle, Policy.MaxQuality, "doc_id",
      usdPerCall = 0.01)
    val a = minC.df.select("doc_id").as[Long].collect().toSeq
    val b = maxQ.df.select("doc_id").as[Long].collect().toSeq
    assert(a == b && a.size == 3)
    assert(minC.report().oracleCalls == 0L, minC.explain)
    // scoring pass (40) + full round-robin among max(4k,20)=20 candidates
    assert(maxQ.report().oracleCalls == 40L + 20L * 19L, maxQ.explain)
    assert(minC.explain.contains("strategy=score_sort"))
    assert(maxQ.explain.contains("strategy=duel"))
  }

  test("Policied.semGroup: identical labels; MinCost compiles the CASE " +
      "cascade (0 calls), MaxQuality bills one classification per row") {
    val docs = (1 to 60).map(i => (i.toLong,
      if (i % 3 == 0) s"alpha doc $i" else s"beta doc $i")).toDF("id", "text")
    val vocab = Seq(graft.oracle.TagRule("alpha", "a"),
      graft.oracle.TagRule("beta", "b"))
    val op = LogicalOp.SemGroup(Seq("text"), "letter", "grp")
    val minC = Policied.semGroup(docs, op, vocab, oracle, Policy.MinCost,
      usdPerCall = 0.01)
    val maxQ = Policied.semGroup(docs, op, vocab, oracle, Policy.MaxQuality,
      usdPerCall = 0.01)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "grp").as[(Long, String)].collect().sorted.toSeq
    assert(labels(minC.df) == labels(maxQ.df))
    assert(minC.report().oracleCalls == 0L, minC.explain)
    assert(maxQ.report().oracleCalls == 60L, maxQ.explain)
    assert(minC.explain.contains("strategy=closed_vocab_compiled"))
    assert(maxQ.explain.contains("strategy=closed_vocab_per_row"))
    // open-set: the mined vocabulary is deterministic, so labels agree
    // across policies there too and the line says mined_vocab
    val mined = Policied.semGroup(docs, LogicalOp.SemGroup(Seq("text"),
      "letter", "grp"), Seq.empty, oracle, Policy.MaxQuality, maxTags = 5)
    assert(mined.explain.contains("strategy=mined_vocab_per_row"),
      mined.explain)
    assert(mined.df.where($"grp".isNotNull).count() == 60L)
  }

  test("Policied.semMap: MinCost compiles the extraction (0 calls), " +
      "MaxQuality bills per row; token reduction parity-probes the " +
      "EXTRACTED VALUES and accepts only when derivations match") {
    val pad = "x".repeat(300)
    val df = (1 to 80).map(i =>
      (i.toLong, s"$pad filler $i", s"code-${i % 7}")).toDF("id", "body", "tag")
    val op = LogicalOp.SemMap(Seq.empty, "code-(\\d+)", "grp_code")
    val minC = Policied.semMap(df, op, oracle, Policy.MinCost,
      usdPerCall = 0.01)
    val maxQ = Policied.semMap(df, op, oracle, Policy.MaxQuality,
      usdPerCall = 0.01)
    def vals(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "grp_code").as[(Long, String)].collect().sorted.toSeq
    val maxVals = vals(maxQ.df)
    val maxChars = maxQ.report().judgedChars // one full per-row pass
    assert(vals(minC.df) == maxVals)
    assert(minC.report().oracleCalls == 0L, minC.explain)
    assert(maxQ.report().oracleCalls == 80L, maxQ.explain)
    assert(minC.explain.contains("strategy=compiled"))
    // the evidence (code-N) lives wholly in `tag`: reduction accepted,
    // characters cut, values identical
    val red = Policied.semMap(df, op, oracle, Policy.MaxQuality,
      usdPerCall = 0.01, usdPerMChars = 1.0, reduceTo = Seq("tag"),
      paritySample = 8)
    assert(vals(red.df) == maxVals)
    assert(red.explain.contains("strategy=per_row_reduced"), red.explain)
    assert(red.report().judgedChars * 5 <= maxChars,
      s"${red.report().judgedChars} vs $maxChars")
    // evidence in `body` instead: the value-parity probe rejects
    val df2 = (1 to 40).map(i =>
      (i.toLong, s"code-${i % 7} $pad", "na")).toDF("id", "body", "tag")
    val rej = Policied.semMap(df2, op, oracle, Policy.MaxQuality,
      reduceTo = Seq("tag"), paritySample = 8)
    assert(rej.explain.contains("strategy=per_row_reduction_rejected"),
      rej.explain)
    assert(rej.df.where($"grp_code".isNotNull).count() == 40L)
  }

  test("Policied.semGroup token reduction: label-parity accepts a " +
      "column prune and cuts judged characters; a label flip on the " +
      "sample rejects it") {
    val pad = "y".repeat(300)
    val df = (1 to 60).map(i => (i.toLong, s"$pad doc $i",
      if (i % 2 == 0) "alpha kind" else "beta kind")).toDF("id", "body", "tag")
    val vocab = Seq(graft.oracle.TagRule("alpha", "a"),
      graft.oracle.TagRule("beta", "b"))
    val op = LogicalOp.SemGroup(Seq.empty, "letter", "grp")
    val full = Policied.semGroup(df, op, vocab, oracle, Policy.MaxQuality,
      usdPerCall = 0.01, usdPerMChars = 1.0)
    val red = Policied.semGroup(df, op, vocab, oracle, Policy.MaxQuality,
      usdPerCall = 0.01, usdPerMChars = 1.0, reduceTo = Seq("tag"),
      paritySample = 8)
    def labels(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "grp").as[(Long, String)].collect().sorted.toSeq
    assert(labels(full.df) == labels(red.df))
    assert(red.explain.contains("strategy=closed_vocab_per_row_reduced"),
      red.explain)
    assert(red.report().judgedChars * 5 <= full.report().judgedChars,
      s"${red.report().judgedChars} vs ${full.report().judgedChars}")
    // evidence in `body`: pruning to `tag` flips labels -> rejected
    val df2 = (1 to 40).map(i => (i.toLong,
      (if (i % 2 == 0) "alpha" else "beta") + s" $pad", "na"))
      .toDF("id", "body", "tag")
    val rej = Policied.semGroup(df2, op, vocab, oracle, Policy.MaxQuality,
      reduceTo = Seq("tag"), paritySample = 8)
    assert(rej.explain.contains(
      "strategy=closed_vocab_per_row_reduction_rejected"), rej.explain)
    assert(rej.df.where($"grp".isNotNull).count() == 40L)
  }

  test("Policied.run carries per-operator cost lines: consecutive filters " +
      "fuse to one cascade line; sem_group and sem_topk get their own") {
    val docs = (1 to 50).map(i => (i.toLong,
      (if (i % 5 == 0) "spark " else "") +
        (if (i % 2 == 0) s"alpha doc $i" else s"beta doc $i")))
      .toDF("doc_id", "text")
    val plan = Seq(
      LogicalOp.KeywordFilter(Seq("text"), Seq("doc"), "and", "contains"),
      LogicalOp.SemFilter(Seq("text"), "alpha"),
      LogicalOp.SemGroup(Seq("text"), "letter", "grp"),
      LogicalOp.SemTopK(Seq("text"), "spark", 4))
    val (out, rep) = Policied.run(docs, plan, oracle, Policy.MaxQuality,
      usdPerCall = 0.001, tiebreak = Seq("doc_id"), usdPerMChars = 1.0)
    assert(out.count() == 4L && rep.resultRows == 4L)
    // 3 lines: the fused filter cascade (labeled by its first op), the
    // sem_group, the sem_topk
    assert(rep.ops.map(_.operator) ==
      Seq("keyword_filter", "sem_group", "sem_topk"), rep.explain)
    val byOp = rep.ops.map(o => o.operator -> o).toMap
    assert(byOp("keyword_filter").strategy == "cascade")
    // exactly ONE judging pass per row: the open-set group's mining
    // action reads the persisted filter output instead of re-billing it
    assert(byOp("keyword_filter").oracleCalls == 50L,
      "every row reaches the cascade's sem judge once: " + rep.explain)
    assert(byOp("sem_group").oracleCalls == 25L,
      "only alpha survivors are classified: " + rep.explain)
    assert(byOp("sem_topk").oracleCalls == 25L,
      "only alpha survivors are scored: " + rep.explain)
    assert(rep.oracleCalls == 100L && rep.judgedChars > 0L, rep.explain)
    assert(rep.ops.forall(_.judgedChars > 0L), rep.explain)
    assert(rep.explain.contains("sem_group(grp)") &&
      rep.explain.contains("sem_topk(text)"), rep.explain)
  }
}
