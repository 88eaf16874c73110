package graft.exec

import graft.SparkSpec
import graft.oracle.DeterministicOracle
import graft.plan.NumCondition
import org.apache.spark.sql.functions._

class StrategySpec extends SparkSpec {
  import spark.implicits._
  private val oracle = DeterministicOracle.default

  test("pattern gate: templated column passes, free text fails") {
    val templated = (1 to 200).map(i => s"error code $i at line ${i * 7}").toDF("c")
    assert(ColumnStats.patternStats(templated, "c").isHighlyPatternized)
    val free = (1 to 200).map(i =>
      s"${('a' + i % 26).toChar.toString * (i % 9 + 1)} text $i ${"x" * (i % 13)}").toDF("c")
    val freeStats = ColumnStats.patternStats(
      free.withColumn("c", concat(col("c"), lit(" "),
        md5(col("c")))), "c")
    assert(!freeStats.isHighlyPatternized)
  }

  test("enum gate: low-cardinality short values pass, long/unique fail") {
    val enumCol = (1 to 500).map(i => s"cat${i % 4}").toDF("c")
    assert(ColumnStats.enumStats(enumCol, "c").isEnumerable)
    val uniques = (1 to 500).map(i => s"value-$i-unique").toDF("c")
    assert(!ColumnStats.enumStats(uniques, "c").isEnumerable)
  }

  test("templateRegex quotes literals and captures digit runs") {
    val rx = FilterPattern.templateRegex("""{"k": <*>}""")
    val m = java.util.regex.Pattern.compile(rx).matcher("""{"k": 42}""")
    assert(m.find() && m.group(1) == "42")
  }

  test("filter_pattern extracts and compares numerically") {
    val df = Seq((1L, "score: 10"), (2L, "score: 99"), (3L, "malformed")).toDF("id", "c")
    val got = FilterPattern(df, "c", "score: <*>", 1,
      Seq(NumCondition("", 50, ">"))).select("id").as[Long].collect()
    assert(got.toSeq == Seq(2L)) // non-matching row excluded, not erroring
  }

  test("digit-run predicate evaluates rows of every template, not just the dominant one") {
    val df = Seq(
      (1L, "score: 120"),      // template A, passes > 100
      (2L, "score: 80"),       // template A, fails
      (3L, "lvl=200 (hot)"),   // template B, passes
      (4L, "no digits here")   // no digit run -> excluded
    ).toDF("id", "c")
    val got = df.filter(FilterPattern.digitRunPredicate("c", 1,
      Seq(NumCondition("", 100, ">")))).select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L))
    // group 2 selects the second digit run
    val df2 = Seq((1L, "a 5 b 300"), (2L, "a 500 b 3")).toDF("id", "c")
    val got2 = df2.filter(FilterPattern.digitRunPredicate("c", 2,
      Seq(NumCondition("", 100, ">")))).select("id").as[Long].collect()
    assert(got2.toSeq == Seq(1L))
  }

  test("filter_enum keeps distinct values named in the condition") {
    // the others are judged, in one batch
    val df = (1 to 60).map(i => (i.toLong, Seq("en", "fr", "it")(i % 3)))
      .toDF("id", "lang")
    val vals = FilterEnum.distinctWithin(df, "lang", 100)
    assert(vals.contains(Seq("en", "fr", "it")))
    assert(FilterEnum.distinctWithin(df, "lang", 2).isEmpty) // overflow
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val recording = new DeterministicOracle {
      override def judgeBatch(texts: Seq[String], c: String): Seq[Boolean] = {
        batches += texts; super.judgeBatch(texts, c)
      }
    }
    assert(FilterEnum.keepFrom(vals.get, "language is en or de", recording) ==
      Seq("en"))
    assert(batches == Seq(Seq("fr", "it")))
  }

  test("dice chooses pattern > compare > enum > sem in priority order") {
    val templated = (1 to 300).map(i => (i.toLong, s"v=$i")).toDF("id", "c")
    assert(Dice.choose(templated, "c", "> 100") == Dice.PatternStrategy)
    val plain = (1 to 300).map(i => (i.toLong, s"${i}")).toDF("id", "c")
    // numeric condition on an (enumerable-looking) plain number column:
    // still patternized (single template "<*>")
    assert(Dice.choose(plain, "c", "> 100") == Dice.PatternStrategy)
    val enumCol = (1 to 300).map(i => (i.toLong, s"cat${i % 3}")).toDF("id", "c")
    assert(Dice.choose(enumCol, "c", "category cat1") == Dice.EnumStrategy)
    // free-text + non-numeric condition -> sem fallback (high cardinality)
    val freeTexts = (1 to 300).map(i =>
      (i.toLong, s"unique sentence number $i about topic ${i % 97} blah blah"))
      .toDF("id", "c")
    assert(Dice.choose(freeTexts, "c", "mentions topic") == Dice.SemFallback)
  }

  test("dice pattern path filters end-to-end") {
    val df = (1 to 100).map(i => (i.toLong, s"latency ${i}ms")).toDF("id", "c")
    val got = Dice(df, "c", "> 95", oracle).select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(96L, 97L, 98L, 99L, 100L))
  }

  test("dice pattern path compares the VARYING digit run, not run 1") {
    // template "v<*>_build<*>": run 1 is the constant version prefix, run
    // 2 is the measure — the derived comparableGroup must pick run 2
    val df = (1 to 300).map(i => (i.toLong, s"v2_build$i")).toDF("id", "c")
    val stats = ColumnStats.patternStats(df, "c")
    assert(stats.isHighlyPatternized && stats.comparableGroup == 2)
    val got = Dice(df, "c", "> 298", oracle).select("id").as[Long]
      .collect().sorted
    assert(got.toSeq == Seq(299L, 300L))
    // single-run templates keep group 1 without extra work
    assert(ColumnStats.patternStats(
      (1 to 100).map(i => s"score: $i").toDF("c"), "c").comparableGroup == 1)
  }

  test("minority templates do not steer the dominant template's measure run") {
    // dominant template "v<*>_build<*>" (290 rows): run 1 constant, run 2
    // varies -> measure is run 2. The 10 minority rows' run 1 varies over
    // 10 values while their run 2 is constant; sampled together they once
    // could tip the vote toward run 1
    val rows = (1 to 290).map(i => s"v2_build$i") ++
      (1 to 10).map(i => s"node$i of 7")
    val stats = ColumnStats.patternStats(rows.toDF("c"), "c")
    assert(stats.comparableGroup == 2,
      s"minority template steered the measure run: $stats")
  }

  test("column stats are memoized per (plan, column): repeat calls run no jobs") {
    ColumnStats.clearCaches()
    val df = (1 to 500).map(i => (i.toLong, s"v ${i}ms")).toDF("id", "c")
    val s1 = ColumnStats.patternStatsCached(df, "c")
    // identity (not just equality) proves the cached instance came back —
    // i.e. the stat jobs did not rerun
    assert(ColumnStats.patternStatsCached(df, "c") eq s1)
    val e1 = ColumnStats.enumStatsCached(df, "c")
    assert(ColumnStats.enumStatsCached(df, "c") eq e1)
    // a different column is a different key
    assert(!(ColumnStats.patternStatsCached(df, "id") eq s1))
    ColumnStats.clearCaches()
  }

  test("slice keywords: super-string dedup drops containing keywords") {
    assert(Slice.keywords("spark sparksql stream") == Seq("spark", "stream"))
  }

  test("slice = keyword prefilter AND sem filter") {
    val df = Seq((1L, "spark streaming guide"), (2L, "spark basics"),
      (3L, "streaming in flink")).toDF("id", "t")
    val got = Slice(df, Seq("t"), "spark streaming", oracle)
      .select("id").as[Long].collect()
    assert(got.toSeq == Seq(1L))
  }

  test("FilterEnum.distinctWithin: exact set at the bound, None one " +
      "past it (the truncation-free contract); fromValues filters off " +
      "the collected set without a second distinct job") {
    val df = Seq("berry", "apple", "cherry", "apple", "berry", null)
      .toDF("v")
    assert(FilterEnum.distinctWithin(df, "v", 3) ==
      Some(Seq("apple", "berry", "cherry")))
    assert(FilterEnum.distinctWithin(df, "v", 4) ==
      Some(Seq("apple", "berry", "cherry")))
    assert(FilterEnum.distinctWithin(df, "v", 2).isEmpty)
    val kept = FilterEnum.fromValues(df, "v", "apple", oracle,
      Seq("apple", "berry", "cherry")).select("v").as[String].collect()
    assert(kept.toSeq == Seq("apple", "apple"))
  }
}
