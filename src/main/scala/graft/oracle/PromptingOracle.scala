package graft.oracle

/** LLM-backed oracle skeleton: the reference's per-judgment prompts
  * (Semantic-OLAP/Agents/Components/Operaters.py — filter_LLM:45-78,
  * sem_map:318-350, sem_group:376-397, sem_reduce:404-423,
  * sem_topk:453-494) recast over one abstract completion function.
  *
  * Subclasses implement [[complete]] (and ideally [[completeBatch]] with a
  * real batched RPC). It compiles nothing, so the engine reaches it only
  * through the `*Batch` overrides below, each one [[completeBatch]] per
  * batch; the engine side — batching, partition-local client reuse,
  * cost-ordered cascades that shrink this oracle's input — lives in
  * [[BatchedExec]], [[graft.exec.Cascade]] and the operators, and is fully
  * tested with deterministic fakes. No network code here: the build environment is
  * zero-egress, and the transport is deployment-specific.
  */
abstract class PromptingOracle extends SemanticOracle {

  /** One completion. Implementations own the transport and rate
    * limiting; they see already-batched traffic from [[BatchedExec]].
    * Retry/backoff and row-level failure fallback live HERE (see the
    * resilience section below) — a transport may simply throw on
    * failure and the oracle degrades per row, never per job.
    */
  def complete(prompt: String): String

  /** Override with a single batched RPC where the backend supports it. */
  def completeBatch(prompts: Seq[String]): Seq[String] =
    prompts.map(complete)

  // ---- prompt shapes (mirroring the reference's judgment contracts) ----

  protected def judgePrompt(text: String, condition: String): String =
    s"""Does the following text satisfy the condition?
       |Condition: $condition
       |Text: $text
       |Answer strictly Yes or No.""".stripMargin

  protected def extractPrompt(text: String, desc: String): String =
    s"""Derive the value described below from the text.
       |Description: $desc
       |Text: $text
       |Answer with the value only, or NA if it cannot be derived.""".stripMargin

  protected def extractAllPrompt(text: String, desc: String): String =
    s"""Derive EVERY value described below from the text, in order.
       |Description: $desc
       |Text: $text
       |Answer with one value per line, or NA if none can be derived.""".stripMargin

  protected def classifyPrompt(text: String, vocab: Seq[TagRule]): String =
    s"""Assign the text to one of the existing tags, or answer NA.
       |Tags: ${vocab.map(_.tag).mkString(", ")}
       |Text: $text
       |Answer with exactly one tag or NA.""".stripMargin

  protected def summarizePrompt(values: Seq[String], desc: String): String =
    s"""Summarize the following distinct values into one short phrase.
       |Focus: $desc
       |Values: ${values.mkString("; ")}""".stripMargin

  protected def duelPrompt(a: String, b: String, query: String): String =
    s"""Which text is more relevant to the query?
       |Query: $query
       |Text A: $a
       |Text B: $b
       |Answer strictly A or B.""".stripMargin

  /** The memory DAG's NL relation judgment (OLAP_Memory.py:5-44):
    * current vs historical query, answered with one keyword.
    */
  protected def relationPrompt(current: String, historical: String): String =
    s"""Compare the data sets described by the two queries and answer with
       |exactly one keyword: contain (current strictly contains historical),
       |subset (current strictly within historical), equal, intersect
       |(definite partial overlap), or no_relation (disjoint or unknown).
       |Current query: $current
       |Historical query: $historical""".stripMargin

  /** Wire into `new CubeCatalog(root, oracle, Some(o.relationJudge))`:
    * one completion per structurally-undecided pair, refusing
    * (no_relation) on transport failure — reuse is never minted by a
    * failed call.
    */
  def relationJudge: (String, String) => String =
    (cur, hist) => callOr("no_relation")(relationPrompt(cur, hist))(_.trim)

  protected def scorePrompt(text: String, query: String): String =
    s"""Rate the relevance of the text to the query from 0.0 to 1.0.
       |Query: $query
       |Text: $text
       |Answer with a single number.""".stripMargin

  // ---- transport resilience -------------------------------------------

  /** Per-completion attempts before a row is given up on (>= 1). */
  protected def maxAttempts: Int = 3

  /** Base backoff between attempts; doubles per retry (50, 100, 200...). */
  protected def retryBackoffMs: Long = 50L

  /** Which failures are worth retrying. Default: every non-fatal
    * throwable (timeouts, 5xx-shaped transport errors); fatal JVM errors
    * always propagate.
    */
  protected def isTransient(e: Throwable): Boolean =
    scala.util.control.NonFatal(e)

  /** Overridable for tests (no real sleeping in specs). */
  protected def sleep(ms: Long): Unit = Thread.sleep(ms)

  /** Completions given up on after retry, per JVM (driver or executor —
    * in local mode one process, so specs can read it directly). A
    * non-zero value means some rows carry their CONSERVATIVE defaults
    * (judge false / extract None / score 0.0 / summarize "") rather than
    * an oracle answer — visible, bounded degradation instead of a failed
    * 100 TB job over one flaky row.
    */
  val failedCompletions = new java.util.concurrent.atomic.LongAdder

  /** One prompt with bounded retry + exponential backoff. Left = gave up
    * (transient failures exhausted attempts, or a non-transient failure
    * immediately).
    */
  private def attemptOne(prompt: String): Either[Throwable, String] = {
    var last: Throwable = null
    var i = 0
    while (i < math.max(1, maxAttempts)) {
      try return Right(complete(prompt))
      catch {
        case e: Throwable if isTransient(e) =>
          last = e; i += 1
          if (i < maxAttempts) sleep(retryBackoffMs << (i - 1))
        case e: Throwable => return Left(e) // non-transient: no retry
      }
    }
    Left(last)
  }

  /** Scalar call with ROW-level failure semantics: retry, then fall back
    * to `default` and count it — one poisoned row must not kill the
    * stage it rides in.
    */
  private def callOr[R](default: R)(prompt: String)(parse: String => R): R =
    attemptOne(prompt) match {
      case Right(s) => parse(s)
      case Left(_)  => failedCompletions.increment(); default
    }

  /** Batched call with PARTIAL-BATCH failure semantics: one
    * [[completeBatch]] attempt; if the RPC throws (or returns the wrong
    * cardinality — a malformed batched response), fall back to per-prompt
    * [[attemptOne]] so only the genuinely failing prompts take defaults.
    * The whole-batch RPC is not itself retried: re-sending N prompts to
    * retry one poisoned row is the wrong cost model; the per-row path
    * carries the retries.
    */
  private def resilientBatch[R](prompts: Seq[String], default: R)(
      parse: String => R): Seq[R] = {
    val whole =
      try {
        val rs = completeBatch(prompts)
        if (rs.length == prompts.length) Some(rs) else None
      } catch { case e: Throwable if isTransient(e) => None }
    whole match {
      case Some(rs) => rs.map(parse)
      case None => prompts.map(p => callOr(default)(p)(parse))
    }
  }

  // ---- SemanticOracle implementation over complete() ----

  private def yes(s: String): Boolean =
    s.trim.toLowerCase.startsWith("y")

  private def na(s: String): Option[String] = {
    val t = s.trim
    if (t.isEmpty || t.equalsIgnoreCase("na")) None else Some(t)
  }

  override def judge(text: String, condition: String): Boolean =
    callOr(false)(judgePrompt(text, condition))(yes)

  override def extract(text: String, desc: String): Option[String] =
    callOr(Option.empty[String])(extractPrompt(text, desc))(na)

  private def parseLines(s: String): Seq[String] =
    na(s).toSeq.flatMap(_.split("\n").map(_.trim)
      .filter(v => v.nonEmpty && !v.equalsIgnoreCase("na")))

  override def extractAll(text: String, desc: String): Seq[String] =
    callOr(Seq.empty[String])(extractAllPrompt(text, desc))(parseLines)

  override def classify(text: String, vocab: Seq[TagRule]): Option[String] =
    callOr(Option.empty[String])(classifyPrompt(text, vocab))(
      na(_).filter(t => vocab.exists(_.tag == t)))

  override def summarize(values: Seq[String], desc: String): String =
    callOr("")(summarizePrompt(values, desc))(_.trim)

  override def duel(a: String, b: String, query: String): Boolean =
    callOr(false)(duelPrompt(a, b, query))(
      _.trim.toUpperCase.startsWith("A"))

  private def parseScore(s: String): Double =
    try s.trim.toDouble match {
      // NaN parses without exception and would sort ABOVE 1.0 in a
      // descending Spark sort — treat it like any other garbage answer
      case d if d.isNaN => 0.0
      case d if d < 0 => 0.0
      case d if d > 1 => 1.0
      case d => d
    } catch { case _: NumberFormatException => 0.0 }

  override def score(text: String, query: String): Double =
    callOr(0.0)(scorePrompt(text, query))(parseScore)

  // batched variants route through completeBatch (one RPC per batch)

  /** Null texts never reach the LLM: the default batch methods
    * short-circuit null -> false/None/0.0, and these overrides must agree
    * (same answer as the scalar loop, and no wasted completions). Runs the
    * batch over non-null texts only and stitches defaults back in position.
    */
  private def batchNonNull[R](texts: Seq[String], default: R)(
      run: Seq[String] => Seq[R]): Seq[R] = {
    val nonNull = texts.filter(_ != null)
    if (nonNull.isEmpty) texts.map(_ => default)
    else {
      val it = run(nonNull).iterator
      texts.map(t => if (t == null) default else it.next())
    }
  }

  override def judgeBatch(texts: Seq[String], condition: String): Seq[Boolean] =
    batchNonNull(texts, false)(ts =>
      resilientBatch(ts.map(judgePrompt(_, condition)), false)(yes))

  override def extractBatch(texts: Seq[String], desc: String): Seq[Option[String]] =
    batchNonNull(texts, Option.empty[String])(ts =>
      resilientBatch(ts.map(extractPrompt(_, desc)),
        Option.empty[String])(na))

  override def extractAllBatch(texts: Seq[String],
      desc: String): Seq[Seq[String]] =
    batchNonNull(texts, Seq.empty[String])(ts =>
      resilientBatch(ts.map(extractAllPrompt(_, desc)),
        Seq.empty[String])(parseLines))

  override def classifyBatch(texts: Seq[String],
      vocab: Seq[TagRule]): Seq[Option[String]] =
    batchNonNull(texts, Option.empty[String])(ts =>
      resilientBatch(ts.map(classifyPrompt(_, vocab)),
        Option.empty[String])(na(_).filter(t => vocab.exists(_.tag == t))))

  override def scoreBatch(texts: Seq[String], query: String): Seq[Double] =
    batchNonNull(texts, 0.0)(ts =>
      resilientBatch(ts.map(scorePrompt(_, query)), 0.0)(parseScore))

  override def duelBatch(pairs: Seq[(String, String)],
      query: String): Seq[Boolean] =
    resilientBatch(pairs.map { case (a, b) =>
      duelPrompt(Option(a).getOrElse(""), Option(b).getOrElse(""), query)
    }, false)(_.trim.toUpperCase.startsWith("A"))
}
