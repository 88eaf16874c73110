package graft.oracle

import graft.SparkSpec
import graft.plan.LogicalOp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, SerializeFromObject}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Deterministic oracle forced onto the batched path, counting batch
  * calls to prove batching actually happens. Top-level so the closure
  * serializes without capturing the test suite.
  */
class CountingOracle extends DeterministicOracle with BatchedOracle {
  override def compileJudge(c: String) = None
  override def compileExtract(d: String) = None
  override def judgeBatch(texts: Seq[String], condition: String) = {
    CountingOracle.batches.incrementAndGet()
    CountingOracle.maxBatch.updateAndGet(m => math.max(m, texts.length))
    CountingOracle.texts.addAndGet(texts.length)
    texts.foreach(t => CountingOracle.pairs
      .computeIfAbsent((condition, t), _ => new AtomicInteger).incrementAndGet())
    super.judgeBatch(texts, condition)
  }
  override def duelBatch(pairs: Seq[(String, String)], query: String) = {
    CountingOracle.duelBatches.incrementAndGet()
    CountingOracle.duels.addAndGet(pairs.length)
    super.duelBatch(pairs, query)
  }
}
/** A scalar oracle: every `compile*` hook hidden and no batch override,
  * so each judgment runs through the default per-text batch loop. */
class ScalarOracle extends DeterministicOracle {
  override def compileJudge(c: String) = None
  override def compileExtract(d: String) = None
  override def compileExtractAll(d: String) = None
  override def compileClassify(v: Seq[TagRule]) = None
  override def compileScore(q: String) = None
}

object CountingOracle {
  val batches = new AtomicInteger(0)
  val maxBatch = new AtomicInteger(0)
  val texts = new AtomicInteger(0)
  val duelBatches = new AtomicInteger(0)
  val duels = new AtomicInteger(0)
  /** Judgments per (condition, text). */
  val pairs = new java.util.concurrent.ConcurrentHashMap[(String, String), AtomicInteger]
  def judged(condition: String): Long = {
    var n = 0L
    pairs.forEach((k, v) => if (k._1 == condition) n += v.get)
    n
  }
}

class BatchedExecSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = (1 to 200).map(i =>
    (i.toLong, if (i % 3 == 0) s"spark doc $i" else s"other doc $i"))
    .toDF("id", "txt").repartition(2)

  test("batched sem_filter matches compiled path and batches requests") {
    CountingOracle.batches.set(0); CountingOracle.maxBatch.set(0)
    val oracle = new CountingOracle
    val batched = BatchedExec.withBatchedColumn(docs, "j",
      org.apache.spark.sql.types.BooleanType, Seq(col("txt")), 32)(
      ts => oracle.judgeBatch(ts.head, "spark"))
      .filter(col("j")).select("id").as[Long].collect().sorted.toSeq
    val compiled = graft.ops.SemFilter(docs,
      graft.plan.LogicalOp.SemFilter(Seq("txt"), "spark"),
      DeterministicOracle.default).select("id").as[Long].collect().sorted.toSeq
    assert(batched == compiled)
    assert(batched.size == 66)
    // 200 rows / batch 32 across 2 partitions: 7-8 calls, never 200
    assert(CountingOracle.batches.get() <= 8)
    assert(CountingOracle.maxBatch.get() == 32)
  }

  test("batched sem_map appends nullable extraction column") {
    val oracle = new CountingOracle
    val got = graft.ops.SemMap(docs,
      LogicalOp.SemMap(Seq("txt"), "(\\d+)", "num"), oracle)
      .select("id", "num").as[(Long, Option[String])].collect().toMap
    assert(got(7L).contains("7"))
    assert(got.size == 200)
  }

  test("SemFilter routes a non-compilable BatchedOracle through batches") {
    CountingOracle.batches.set(0); CountingOracle.maxBatch.set(0)
    val oracle = new CountingOracle
    val got = graft.ops.SemFilter(docs,
      graft.plan.LogicalOp.SemFilter(Seq("txt"), "spark"), oracle)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got.size == 66)
    // operator-level routing: the 200 judgments arrived in <= 8 batches
    assert(CountingOracle.batches.get() > 0 &&
      CountingOracle.batches.get() <= 8)
  }

  test("staged cascade feeds only cheap-filter survivors to the oracle") {
    CountingOracle.batches.set(0); CountingOracle.texts.set(0)
    val oracle = new CountingOracle
    val plan: Seq[graft.plan.LogicalOp] = Seq(
      graft.plan.LogicalOp.KeywordFilter(Seq("txt"), Seq("spark"), "and", "contains"),
      graft.plan.LogicalOp.SemFilter(Seq("txt"), "doc"))
    val got = graft.exec.Cascade.filter(docs,
      plan.zipWithIndex.map(_.swap), None, oracle)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got.size == 66) // every "spark doc N" row also contains "doc"
    // the reference's undecided-row staging (Exection_Agent.py:380-394):
    // only the 66 keyword-filter survivors reach the oracle, not all 200
    assert(CountingOracle.texts.get() == 66)
  }

  test("duel mode batches pairs for a batched oracle, same ranking") {
    CountingOracle.duelBatches.set(0); CountingOracle.duels.set(0)
    val oracle = new CountingOracle
    val op = graft.plan.LogicalOp.SemTopK(Seq("txt"), "spark", 3)
    val batched = graft.ops.SemTopK.duelTopK(docs, op, oracle, "id")
      .select("id").as[Long].collect().toSeq
    val direct = graft.ops.SemTopK.duelTopK(docs, op,
      DeterministicOracle.default, "id")
      .select("id").as[Long].collect().toSeq
    assert(batched == direct)
    val pairs = CountingOracle.duels.get()
    assert(pairs > 0 && CountingOracle.duelBatches.get() <= pairs / 32 + 8)
  }

  test("staged edge rows: a keyword-less slice, a dice sem fallback and a " +
      "null text; the output keeps the input schema") {
    val oracle = new CountingOracle
    val compiled = DeterministicOracle.default
    // eight distinct values: too spread out for the enum strategy
    val texts = Seq("spark doc one", "flink doc two", "spark doc three", null,
      "duck doc five", "spark doc six", "pandas doc seven", "flink doc eight")
    val rows = texts.zipWithIndex.map { case (t, i) => (i + 1L, t) }
      .toDF("id", "txt")
    val everyText = texts.filter(_ != null).map(_ -> 1).toMap
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().sorted.toSeq
    def judgedTexts(cond: String) = {
      val ts = scala.collection.mutable.Map.empty[String, Int]
      CountingOracle.pairs.forEach((k, v) => if (k._1 == cond) ts(k._2) = v.get)
      ts.toMap
    }
    // a slice whose condition yields no keywords is its sem leaf alone:
    // every row with text is judged once, none is prefiltered
    assert(graft.exec.Slice.keywords("about it").isEmpty)
    CountingOracle.pairs.clear()
    val noKw = graft.exec.Slice(rows, Seq("txt"), "about it", oracle)
    assert(ids(noKw) == ids(graft.exec.Slice(rows, Seq("txt"), "about it", compiled)))
    assert(noKw.schema == rows.schema)
    assert(judgedTexts("about it") == everyText)
    // a dice step on free text falls back to the sem leaf, judged in batches
    assert(graft.exec.Dice.choose(rows, "txt", "spark") == graft.exec.Dice.SemFallback)
    CountingOracle.pairs.clear()
    val dice = graft.exec.Dice(rows, "txt", "spark", oracle)
    assert(ids(dice) == Seq(1L, 3L, 6L))
    assert(dice.schema == rows.schema)
    // the null text (row 4) is judged false without an oracle call
    assert(judgedTexts("spark") == everyText)
    assert(!CountingOracle.pairs.keySet.asScala.exists(k => k._2 == null || k._2.isEmpty))
  }

  test("a scalar oracle runs every sem_* judgment batched: the plan holds " +
      "an OracleBatch, no ScalaUDF and no object (de)serialization, and the " +
      "rows equal the compiled oracle's") {
    val vocab = Seq(TagRule("spark", "s"), TagRule("other", "o"))
    val ops: Seq[(String, SemanticOracle => DataFrame)] = Seq(
      "sem_filter" -> (o => graft.ops.SemFilter(docs,
        LogicalOp.SemFilter(Seq("txt"), "spark"), o)),
      "sem_map, derived twice" -> { o =>
        // re-deriving a dimension replaces its column, as `withColumn` does
        val op = LogicalOp.SemMap(Seq("txt"), "(\\d+)", "num")
        graft.ops.SemMap(graft.ops.SemMap(docs, op, o), op, o)
      },
      "sem_map_multi" -> (o => graft.ops.SemMapMulti(docs,
        LogicalOp.SemMap(Seq("txt"), "([a-z]+)", "word"), o)),
      "sem_group" -> (o => graft.ops.SemGroup(docs,
        LogicalOp.SemGroup(Seq("txt"), "by engine", "engine"), vocab, o)),
      "sem_topk" -> (o => graft.ops.SemTopK(docs,
        LogicalOp.SemTopK(Seq("txt"), "spark doc", 5), o, tiebreak = Seq("id"))),
      "duelTopK" -> (o => graft.ops.SemTopK.duelTopK(docs,
        LogicalOp.SemTopK(Seq("txt"), "spark", 3), o, "id")))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    ops.foreach { case (name, run) =>
      val got = run(new ScalarOracle)
      val plan = got.queryExecution.analyzed
      assert(plan.find(_.isInstanceOf[OracleBatch]).isDefined, s"$name:\n$plan")
      assert(plan.find(p => p.isInstanceOf[DeserializeToObject] ||
        p.isInstanceOf[SerializeFromObject]).isEmpty, s"$name:\n$plan")
      assert(plan.find(_.expressions.exists(
        _.find(_.isInstanceOf[ScalaUDF]).isDefined)).isEmpty, s"$name:\n$plan")
      assert(rows(got) == rows(run(DeterministicOracle.default)), name)
    }
  }

  test("staged sem leaves over the same columns share one text input") {
    val two = docs.withColumn("tag", lit("x"))
    val leaves = Seq(
      0 -> LogicalOp.SemFilter(Seq("txt"), "spark"),
      1 -> LogicalOp.SemFilter(Seq("txt"), "other"),
      2 -> LogicalOp.SemFilter(Seq("txt", "tag"), "spark"))
    val or = graft.plan.LogicTree.Node("OR", leaves.map(l =>
      graft.plan.LogicTree.Leaf(l._1)))
    def run(o: SemanticOracle) = graft.exec.Cascade.filter(two, leaves, Some(or), o)
    val got = run(new CountingOracle)
    val batch = got.queryExecution.analyzed.collectFirst {
      case b: OracleBatch => b
    }.getOrElse(fail(got.queryExecution.analyzed.toString))
    // one text per distinct `columns` list: (txt) and (txt, tag)
    assert(batch.inputs.size == 2, batch)
    assert(sortedRows(got) == sortedRows(run(DeterministicOracle.default)))
  }

  /** Rows with a null text, an empty text and an existing `tag` column. */
  private lazy val edge = Seq[(Long, String, String)](
    (1L, "spark doc 1", "a"), (2L, null, "b"), (3L, "", "c"),
    (4L, "flink doc 4", null), (5L, "spark and flink doc 5", "e"))
    .toDF("id", "txt", "tag").repartition(2)

  private def sortedRows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  test("OracleBatch yields the compiled oracle's rows for every output type, " +
      "null and empty texts and a column replaced in place") {
    val vocab = Seq(TagRule("spark", "s"), TagRule("flink", "f"))
    val ops: Seq[(String, SemanticOracle => DataFrame)] = Seq(
      "StringType: sem_map over tag" -> (o => graft.ops.SemMap(edge,
        LogicalOp.SemMap(Seq("txt"), "(\\d+)", "tag"), o)),
      "StringType: sem_group" -> (o => graft.ops.SemGroup(edge,
        LogicalOp.SemGroup(Seq("txt"), "by engine", "engine"), vocab, o)),
      "ArrayType(StringType): sem_map_multi" -> (o => graft.ops.SemMapMulti(edge,
        LogicalOp.SemMap(Seq("txt"), "([a-z]+)", "word"), o)),
      "DoubleType: sem_topk" -> (o => graft.ops.SemTopK(edge,
        LogicalOp.SemTopK(Seq("txt"), "spark doc", 4), o, tiebreak = Seq("id"))),
      "BooleanType over two inputs: the duel" -> (o => graft.ops.SemTopK.duelTopK(
        edge, LogicalOp.SemTopK(Seq("txt"), "spark", 2), o, "id")))
    ops.foreach { case (name, run) =>
      val got = run(new ScalarOracle)
      assert(got.queryExecution.analyzed.find(_.isInstanceOf[OracleBatch])
        .isDefined, name)
      assert(got.schema == run(DeterministicOracle.default).schema, name)
      assert(sortedRows(got) == sortedRows(run(DeterministicOracle.default)), name)
    }
    // replaced in place: same column position, no helper column left
    val mapped = graft.ops.SemMap(edge,
      LogicalOp.SemMap(Seq("txt"), "(\\d+)", "tag"), new ScalarOracle)
    assert(mapped.columns.toSeq == Seq("id", "txt", "tag"))
    // a null input text reaches the kernel as null, an empty one as ""
    val seen = BatchedExec.withBatchedColumn(edge, "seen",
      org.apache.spark.sql.types.StringType, Seq(col("txt")), 2)(
      ts => ts.head.map(t => if (t == null) "<null>" else s"[$t]"))
      .select("id", "seen").as[(Long, String)].collect().toMap
    assert(seen == Map(1L -> "[spark doc 1]", 2L -> "<null>", 3L -> "[]",
      4L -> "[flink doc 4]", 5L -> "[spark and flink doc 5]"))
  }

  test("OracleBatch output feeds a shuffle and a persisted frame read twice") {
    val op = LogicalOp.SemGroup(Seq("txt"), "by engine", "engine")
    val vocab = Seq(TagRule("spark", "s"), TagRule("other", "o"))
    def grouped(o: SemanticOracle) = graft.ops.SemGroup(docs, op, vocab, o)
    // roll_up-style count: the exchange reads the operator's UnsafeRows
    def rollUp(o: SemanticOracle) = sortedRows(grouped(o).groupBy("engine").count())
    assert(rollUp(new ScalarOracle) == rollUp(DeterministicOracle.default))
    val want = sortedRows(grouped(DeterministicOracle.default))
    CountingOracle.batches.set(0)
    val oracle = new CountingOracle
    val pinned = graft.exec.Cascade.filter(docs,
      Seq(0 -> LogicalOp.SemFilter(Seq("txt"), "spark")), None, oracle)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val first = sortedRows(pinned)
      val calls = CountingOracle.batches.get()
      assert(sortedRows(pinned) == first && first.length == 66)
      assert(CountingOracle.batches.get() == calls, "the second read re-judged")
      val p2 = grouped(new ScalarOracle).persist()
      try {
        assert(sortedRows(p2) == want && p2.count() == want.length)
      } finally p2.unpersist()
    } finally pinned.unpersist()
  }

  test("OracleBatch plans in a new session, registers its strategy once per " +
      "session and names its kernel in plans") {
    val other = spark.newSession()
    val local = other.createDataFrame(docs.collect().toSeq.asJava, docs.schema)
    val op = LogicalOp.SemMap(Seq("txt"), "(\\d+)", "num")
    val got = graft.ops.SemMap(graft.ops.SemMap(local, op, new ScalarOracle),
      op, new ScalarOracle)
    assert(other.experimental.extraStrategies.count(_ == OracleBatchStrategy) == 1)
    assert(sortedRows(got) == sortedRows(graft.ops.SemMap(local, op,
      DeterministicOracle.default)))
    val executed = got.queryExecution.executedPlan
    assert(executed.find(_.isInstanceOf[OracleBatchExec]).isDefined, executed)
    assert(executed.toString.contains("OracleBatch map->num[64]"), executed)
    val judged = graft.ops.SemFilter(local,
      LogicalOp.SemFilter(Seq("txt"), "spark"), new ScalarOracle)
    assert(judged.queryExecution.analyzed.toString.contains("OracleBatch judge[64]"))
    assert(judged.count() == 66)
  }

  test("batch kernel arity mismatch fails loudly") {
    val bad = intercept[org.apache.spark.SparkException] {
      BatchedExec.withBatchedColumn(docs, "x",
        org.apache.spark.sql.types.StringType, Seq(col("txt")), 16)(
        ts => ts.head.take(1).map(identity)).count()
    }
    assert(bad.getMessage.contains("oracle batch") ||
      bad.getCause != null)
  }
}
