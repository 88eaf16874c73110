package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.agent.OlapAgent
import graft.cube.CubeCatalog
import graft.oracle.DeterministicOracle

/** Progressive conversational OLAP sessions: the paper's own workload.
  *
  * A StackOverflow-schema table of 2 000 rows (the size of the paper's
  * reference dataset, FIXTURES.md section 1) is generated from the seed,
  * with topic words and planted error names in the question bodies.
  * Sessions of four turns run through `OlapAgent.runSession` against ONE
  * shared `CubeCatalog`; topics recur across sessions in a fixed pattern
  * ([[TopicOrder]]), so later sessions can reuse earlier nodes. Each turn is a filter plan (slice and dice
  * steps under an AND or OR), optionally followed by an analysis
  * (drill_down: sem_map of the error named in the body; roll_up: then
  * sem_group and count by that error) or a top-k epilogue:
  *
  *   Q1  slice(topic), drill_down
  *   Q2  the same filter (Equal reuse), drill_down then roll_up
  *   Q3  Q1's filter AND dice(score >= t) or AND slice(extra word) (delta
  *       reuse), drill_down in six sessions of ten
  *   Q4  Q3's filter with num_topk (3 of 10) or sem_topk (1 of 10), Q3's
  *       filter again (4 of 10), or slice(topic) OR slice(topic2) (2 of
  *       10, no reuse)
  *
  * The loop runs whole blocks of the ten session shapes ([[Shapes]]), one
  * per 10 s of `--seconds`, so every run has the same mix; the seed picks topics, thresholds and the
  * table's contents. Per 40 turns that is 26 sem_map, 10 sem_group with
  * count, 3 num_topk and 1 sem_topk, half the counts of the paper's 80
  * golden plans (FIXTURES.md section 2). The agent's completions are
  * scripted; row-level judgments go to the benchmark's [[CountingOracle]].
  */
final class OlapSessions(ctx: Ctx) extends Workload(ctx) {
  import OlapSessions._
  private val spark = ctx.spark
  private val rows = if (ctx.tiny) 500 else 2000
  private val rnd = new Random(ctx.seed)
  private val topics = rnd.shuffle(Topics).take(8)
  private val extra = rnd.shuffle(Extra).take(4)
  private val oracle = new CountingOracle(ctx.traced)

  private var path: String = _
  private var root: DataFrame = _
  private var catalog: CubeCatalog = _
  private var agent: OlapAgent = _
  private var current: Turn = _
  private var session = 0
  private var completions = 0L

  /** Each timed turn's outcome, kept for the post-run checks: per group
    * (an error, or [[All]]) its row count and id hash, or a top-k's ids.
    */
  private val done = mutable.ArrayBuffer.empty[Done]
  private final case class Done(turn: Turn, groups: Map[String, (Long, Long)],
      ids: Seq[Long], reuse: String, deltaOps: Int, completions: Long,
      oracle: CountingOracle.Snap, timed: Boolean)

  def prepare(dir: String): Unit = {
    val g = new Random(ctx.seed * 31 + 7)
    val scores = g.shuffle((0 until rows).toVector)
    val data = (0 until rows).map { i =>
      val t1 = topics(g.nextInt(topics.size))
      val t2 = if (g.nextDouble() < 0.3) Some(topics(g.nextInt(topics.size))) else None
      val ex = if (g.nextDouble() < 0.4) Some(extra(g.nextInt(extra.size))) else None
      val err = if (g.nextDouble() < 0.5) Some(Errors(g.nextInt(Errors.size))) else None
      def words(n: Int) = Seq.fill(n)(Filler(g.nextInt(Filler.size)))
      val title = (words(3) ++ Seq(t1) ++ words(3)).mkString(" ")
      val body = g.shuffle(words(28) ++ t2.toSeq ++ ex.toSeq ++ err.toSeq).mkString(" ")
      val tags = (Seq(t1) ++ t2).distinct.map(t => "\"" + t + "\"").mkString("[", ",", "]")
      val day = g.nextInt(15 * 365)
      val date = java.time.LocalDate.of(2009, 1, 1).plusDays(day.toLong)
      Row(i.toLong + 1, title, body, tags, scores(i).toLong, s"$date 12:00:00")
    }
    path = s"$dir/questions"
    spark.createDataFrame(spark.sparkContext.parallelize(data, 4), Schema)
      .write.mode("overwrite").parquet(path)
  }

  /** Set-up here is short (about 0.5 s), so a run takes more of them. */
  override def setups: Int = 7

  /** Opens the table as the catalog's root and profiles its `score`
    * column for the dice strategy, as the first numeric dice would.
    */
  def setup(): Unit = {
    root = spark.read.parquet(path)
    catalog = new CubeCatalog(root, oracle)
    agent = new OlapAgent(complete _, oracle)
    graft.exec.ColumnStats.patternStatsCached(root, "score")
  }

  // ------------------------------------------------------------ script

  /** The scripted completion function: answers each agent prompt for the
    * turn currently being asked.
    */
  private def complete(prompt: String): String =
    ctx.tracer.span("completion", parent = ctxSpan) { _ =>
      completions += 1
      val t = current
      if (prompt.startsWith("You are a query decomposition"))
        s"""{"filter_query": "${t.filter}", "analysis_query": "${t.analysisText}"}"""
      else if (prompt.startsWith("You are a query planner. Break")) {
        val ops = t.steps.zipWithIndex.map { case (s, i) =>
          val field = s.field.map(f => "\"" + f + "\"").getOrElse("null")
          s"""{"id": ${i + 1}, "agent": "${s.agent}", "field": $field, "action": "${s.action}"}"""
        }
        val logic = (if (t.or) "\"OR\"" else "\"AND\"") +:
          t.steps.indices.map(i => (i + 1).toString)
        s"""{"operations": [${ops.mkString(", ")}], "logic": [${logic.mkString(", ")}]}"""
      } else if (prompt.startsWith("You refine a dimensional structure")) {
        // one action per round: drill_down, then roll_up for Roll turns
        val round = "(?m)^thought: ".r.findAllIn(prompt).size
        if (round == 0 && t.analysis.nonEmpty)
          s"""{"thought": "derive the error", "action": {"type": "drill_down", "params": """ +
            s"""{"desc": "$ErrorPattern", "dimension_name": "errors", "columns": ["body"]}}}"""
        else if (round == 1 && t.analysis == Roll)
          """{"thought": "count by error", "action": {"type": "roll_up", "params": """ +
            """{"dimension": "errors", "target_granularity": "error_kind", "analyze_dimension": []}}}"""
        else """{"thought": "the structure suffices", "action": null}"""
      } else if (prompt.startsWith("Does the query contain a top-k")) t.topk match {
        case Some(k) =>
          s"""{"has_topk": true, "k": ${k.k}, "kind": "${k.kind}", "column": "score", "order": "desc", "query": "${k.query}"}"""
        case None => """{"has_topk": false}"""
      } else sys.error(s"unscripted prompt: ${prompt.take(40)}")
    }
  @volatile private var ctxSpan = 0L

  private def sessionTurns(s: Int): Seq[Turn] = {
    val g = new Random(ctx.seed * 1000003L + s)
    val shape = Shapes(s % Shapes.size)
    // topics recur in a fixed pattern, so sessions overlap alike on
    // every seed; the seed decides which topic is which
    val topic = topics(TopicOrder(s % TopicOrder.size))
    val thr = Seq(rows / 2, rows * 3 / 4, rows * 9 / 10)(s % 3)
    val base = s"questions about $topic"
    val slice = Step("slice", None, s"mentions $topic")
    val q1 = Turn(base, Drill, Seq(slice), or = false, None)
    val q2 = q1.copy(analysis = Roll)
    val q3 =
      if (shape.dice) Turn(s"$base with score at least $thr", "",
        Seq(slice, Step("dice", Some("score"), s">= $thr")), or = false, None)
      else {
        val e = extra(g.nextInt(extra.size))
        Turn(s"$base mentioning $e", "", Seq(slice, Step("slice", None, s"mentions $e")),
          or = false, None)
      }
    val q3a = if (shape.drill) q3.copy(analysis = Drill) else q3
    val q4 = shape.last match {
      case "num_topk" =>
        q3.copy(filter = q3.filter + ", top 10 by score", topk = Some(Topk("num", 10, "")))
      case "sem_topk" =>
        val q = s"$topic ${extra(g.nextInt(extra.size))}"
        q3.copy(filter = q3.filter + s", 10 most relevant to $q", topk = Some(Topk("sem", 10, q)))
      case "or" =>
        val other = topics.filterNot(_ == topic)(g.nextInt(topics.size - 1))
        Turn(s"$base or $other", "",
          Seq(slice, Step("slice", None, s"mentions $other")), or = true, None)
      case "repeat" => q3
    }
    Seq(q1, q2, q3a, q4)
  }

  // -------------------------------------------------------------- loop

  private val idHash = coalesce(bit_xor(xxhash64(col("question_id"))), lit(0L))

  private def turn(t: Turn, timed: Boolean): Unit = {
    val before = catalog.all.size
    val c0 = completions
    val o0 = CountingOracle.snap()
    current = t
    val out = unit("turn", timed) { sid =>
      ctxSpan = sid
      val res = agent.runSession(catalog, t.query)
      def key(v: String) = Option(v).getOrElse(NoError)
      if (t.topk.nonEmpty)
        (Map.empty[String, (Long, Long)],
          res.select("question_id").collect().map(_.getLong(0)).toSeq)
      else {
        val groups = t.analysis match {
          case "" =>
            val r = res.agg(count(lit(1)), idHash).collect()(0)
            Map(All -> ((r.getLong(0), r.getLong(1))))
          case Drill =>
            res.groupBy("errors").agg(count(lit(1)), idHash).collect()
              .map(r => key(r.getString(0)) -> ((r.getLong(1), r.getLong(2)))).toMap
          case Roll =>
            res.select("error_kind", "count_of_error_kind").collect()
              .map(r => key(r.getString(0)) -> ((r.getLong(1), 0L))).toMap
        }
        (groups, Seq.empty[Long])
      }
    }
    out.foreach { case (groups, ids) =>
      val nodes = catalog.all
      val (reuse, delta) =
        if (nodes.size == before) ("equal", 0)
        else {
          val node = nodes.last
          val filters = node.df.queryExecution.logical.collect {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }.size
          if (filters <= 1) ("root", node.predicates.size)
          else {
            val parent = nodes.filter(p => p.id != 0 && p.id != node.id &&
              p.predicates.subsetOf(node.predicates)).maxBy(_.predicates.size)
            ("delta", node.predicates.size - parent.predicates.size)
          }
        }
      val o1 = CountingOracle.snap()
      done += Done(t, groups, ids, reuse, delta, completions - c0,
        CountingOracle.Snap(o1.requests - o0.requests, o1.texts - o0.texts,
          o1.chars - o0.chars, o1.busyNs - o0.busyNs), timed)
    }
  }

  private def runSessions(n: Int, timed: Boolean): Unit = (0 until n).foreach { _ =>
    sessionTurns(session).foreach(turn(_, timed))
    session += 1
  }

  def warmup(): Unit = runSessions(2, timed = false)

  /** Whole blocks of the ten session shapes (about 10 s each), so every
    * run has the same turn mix.
    */
  def run(): Unit = repeatFixed(perMix = 10)(runSessions(Shapes.size, timed = true))

  // ------------------------------------------------------------ checks

  /** One root row as the checks see it: id, its hash, score, which topic
    * and extra words its text contains (bit i = word i), and the error
    * its body names.
    */
  private final case class Fact(id: Long, hash: Long, score: Long, has: Long,
      err: Option[String])

  private lazy val words = (topics ++ extra).distinct
  private def mask(ws: Seq[String]): Long = ws.map(w => 1L << words.indexOf(w)).sum

  /** A turn's filter as a test on [[Fact]]s. */
  private def matcher(t: Turn): Fact => Boolean = {
    val preds: Seq[Fact => Boolean] = t.steps.map {
      case Step("slice", _, action) =>
        val m = mask(tokens(action)); (f: Fact) => (f.has & m) == m
      case Step(_, _, action) =>
        val thr = action.stripPrefix(">=").trim.toLong; (f: Fact) => f.score >= thr
    }
    if (t.or) f => preds.exists(_(f)) else f => preds.forall(_(f))
  }

  /** A non-top-k turn's answer over its matching rows: the whole set
    * ([[All]]), rows by extracted error (drill_down), or row counts by
    * mined error group (roll_up: the 20 most frequent tokens of the
    * error values, each row in the first group its error contains).
    */
  private def groupsOf(t: Turn, m: Seq[Fact]): Map[String, (Long, Long)] = {
    def hashes(fs: Seq[Fact]) = (fs.size.toLong, fs.foldLeft(0L)(_ ^ _.hash))
    t.analysis match {
      case "" => Map(All -> hashes(m))
      case Drill => m.groupBy(_.err.getOrElse(NoError)).map { case (k, fs) => k -> hashes(fs) }
      case Roll =>
        val vocab = m.flatMap(_.err).flatMap(_.toLowerCase.split("[^a-z0-9]+"))
          .filter(w => w.nonEmpty && !DeterministicOracle.stopwords(w))
          .groupBy(identity).toSeq.sortBy { case (w, ws) => (-ws.size, w) }
          .take(20).map(_._1)
        m.groupBy(f => f.err.flatMap(e => vocab.find(e.toLowerCase.contains)).getOrElse(NoError))
          .map { case (k, fs) => k -> ((fs.size.toLong, 0L)) }
    }
  }

  def verify(): Unit = {
    // a from-root recomputation: the root's rows read back by plain
    // Spark, each turn's filter and analysis re-applied on the driver
    // (no catalog, no cascade, no oracle). Topic words are letters only,
    // so the numeric and date columns cannot hold them.
    val facts = root.select("question_id", "score", "title", "body", "tags").collect().map { r =>
      val t = Seq(r.getString(2), r.getString(3), r.getString(4)).mkString(" ").toLowerCase
      val e = ErrorRe.findFirstMatchIn(r.getString(3)).map(_.group(1))
      Fact(r.getLong(0), TableChurn.xxh(r.getLong(0)), r.getLong(1),
        words.indices.filter(i => t.contains(words(i))).map(1L << _).sum, e)
    }.toSeq
    val expected = done.map(_.turn).distinct.map(t => t -> facts.filter(matcher(t))).toMap
    done.foreach { d =>
      val m = expected(d.turn)
      d.turn.topk match {
        case None =>
          val want = groupsOf(d.turn, m)
          check(d.groups == want, s"${d.turn.query}: got ${d.groups}, expected $want")
        case Some(k) =>
          // tie-aware: exactly min(k, n) ids, all at or above the k-th
          // best key, and every id strictly above it present; the sem
          // key is the share of the query's words the row contains
          def key(f: Fact): Double =
            if (k.kind == "num") f.score.toDouble
            else tokens(k.query).count(w => (f.has & mask(Seq(w))) != 0).toDouble /
              tokens(k.query).size
          val byId = m.map(f => f.id -> key(f)).toMap
          val sorted = m.map(key).sorted(Ordering[Double].reverse)
          val want = math.min(k.k, m.size)
          val kth = if (want == 0) Double.MaxValue else sorted(want - 1)
          val above = m.filter(key(_) > kth).map(_.id).toSet
          check(d.ids.size == want && d.ids.distinct.size == want &&
            d.ids.forall(i => byId.get(i).exists(_ >= kth)) && above.subsetOf(d.ids.toSet),
            s"${d.turn.query}: top-k ids ${d.ids.take(5)} do not match")
      }
    }
  }

  // ------------------------------------------------------------ report

  private def timedDone = done.filter(_.timed).toSeq

  def report(): Seq[Metric] = {
    val lat = latencies()
    val n = lat.size.toDouble
    val t = timedDone
    Seq(
      Metric("turn_p50_ms", Stats.median(lat), "ms", lat.size),
      Metric("turn_p95_ms", Stats.pct(lat, 0.95), "ms", lat.size),
      Metric("oracle_calls_per_turn", Stats.ratio(t.map(_.oracle.texts).sum, n), "texts/turn", lat.size),
      Metric("oracle_chars_per_turn", Stats.ratio(t.map(_.oracle.chars).sum, n), "chars/turn", lat.size))
  }

  def layers(): Seq[Metric] = {
    val t = timedDone
    val n = t.size.toDouble
    val reuse = t.groupBy(_.reuse).view.mapValues(_.size.toDouble).toMap
    def r(k: String) = reuse.getOrElse(k, 0.0)
    def per(x: Double) = Stats.ratio(x, n)
    val busy = units.map(u => Option(CountingOracle.busyBySpan.get(u.span))
      .map(_.sum).getOrElse(0L)).sum / 1e6
    Layers.common(this) ++ Seq(
      Metric("agent.completions_per_turn", per(t.map(_.completions).sum), "count/turn", t.size),
      Metric("cube.reuse_equal", r("equal"), "count", t.size),
      Metric("cube.reuse_delta", r("delta"), "count", t.size),
      Metric("cube.reuse_root", r("root"), "count", t.size),
      Metric("cube.reuse_hit_ratio", per(r("equal") + r("delta")), "ratio", t.size),
      Metric("cube.delta_ops_per_turn", per(t.map(_.deltaOps).sum), "count/turn", t.size),
      Metric("cube.nodes", catalog.all.size.toDouble, "count", 1),
      Metric("oracle.requests_per_turn", per(t.map(_.oracle.requests).sum), "count/turn", t.size),
      Metric("oracle.texts_per_turn", per(t.map(_.oracle.texts).sum), "count/turn", t.size),
      Metric("oracle.chars_per_turn", per(t.map(_.oracle.chars).sum), "count/turn", t.size),
      Metric("oracle.busy_ms_per_turn", per(busy), "ms/turn", t.size))
  }
}

object OlapSessions {
  final case class Step(agent: String, field: Option[String], action: String)
  final case class Topk(kind: String, k: Int, query: String)
  /** One turn: its filter (steps under AND, or OR), then at most one of
    * an analysis ([[Drill]] or [[Roll]]) and a top-k epilogue.
    */
  final case class Turn(filter: String, analysis: String, steps: Seq[Step],
      or: Boolean, topk: Option[Topk]) {
    def analysisText: String = analysis match {
      case Drill => "which error does each report"
      case Roll => "how many report each kind of error"
      case _ => ""
    }
    def query: String = if (analysis.isEmpty) filter else s"$filter; $analysisText"
  }
  val Drill = "drill_down"
  val Roll = "roll_up"

  /** One session shape: Q3 adds a numeric dice (else a second slice) and
    * drills down (else not); Q4 is `last`.
    */
  final case class Shape(dice: Boolean, drill: Boolean, last: String)
  /** The topic of each session of a block, as an index into the seed's
    * shuffled topics: six distinct topics, three of them recurring.
    */
  val TopicOrder = Seq(0, 1, 0, 2, 1, 3, 0, 4, 2, 5)
  val Shapes = Seq(
    Shape(dice = true, drill = true, "num_topk"),
    Shape(dice = false, drill = true, "repeat"),
    Shape(dice = true, drill = true, "or"),
    Shape(dice = false, drill = true, "num_topk"),
    Shape(dice = true, drill = true, "repeat"),
    Shape(dice = false, drill = true, "sem_topk"),
    Shape(dice = true, drill = false, "num_topk"),
    Shape(dice = false, drill = false, "or"),
    Shape(dice = true, drill = false, "repeat"),
    Shape(dice = false, drill = false, "repeat"))

  /** Group keys of a turn's answer: the whole answer, and rows without
    * an error.
    */
  val All = "*"
  val NoError = "<none>"

  val Schema = StructType(Seq(
    StructField("question_id", LongType), StructField("title", StringType),
    StructField("body", StringType), StructField("tags", StringType),
    StructField("score", LongType), StructField("creation_date", StringType)))

  val Topics = Seq("python", "java", "spark", "docker", "kotlin", "rust",
    "react", "pandas", "numpy", "kafka", "golang", "swift")
  val Extra = Seq("performance", "deadlock", "migration", "segfault",
    "timeout", "encoding")
  /** Error names planted in half the bodies (none contains a topic or
    * extra word), and the drill-down's extraction pattern for them.
    */
  val Errors = Seq("NullPointerException", "OutOfMemoryError", "KeyError",
    "ValueError", "IndexError", "IllegalStateException", "SegmentationFault")
  val ErrorPattern = "([A-Z][A-Za-z]*(?:Error|Exception|Fault))"
  val ErrorRe = ErrorPattern.r
  /** Filler vocabulary: consonant-vowel syllable pairs, none of which
    * contains a topic or extra word.
    */
  val Filler: IndexedSeq[String] = (for {
    a <- "bdfgklmnprstvz"; b <- "aeiou"; c <- "bdfgklmnprstvz"; d <- "aeiou"
  } yield s"$a$b$c$d").filterNot(w => (Topics ++ Extra).exists(w.contains)).toIndexedSeq

  /** The words a slice action or top-k query asks for ("mentions x" -> x). */
  def tokens(s: String): Seq[String] = s.split(" ").toSeq.filterNot(_ == "mentions")
}
