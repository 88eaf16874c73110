package perfbench

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.TaskContext

import graft.oracle.{BatchedOracle, DeterministicOracle, TagRule}

/** The benchmark's stand-in for an LLM transport. Every judgment goes to
  * [[DeterministicOracle]], but the `compile*` hooks are NOT forwarded,
  * so the engine routes each `sem_*` judgment out of band exactly as it
  * would for a remote model, and every request and text is billed here.
  *
  * Spark runs the oracle in task threads after serializing it, so the
  * counters live in this object (one JVM: `local[N]`). With `traced`,
  * each request's busy time is added to the benchmark span that launched
  * its Spark job (read back from the task's local properties).
  */
class CountingOracle(traced: Boolean) extends BatchedOracle {
  import CountingOracle._
  private val det = DeterministicOracle.default

  private def bill[T](texts: Seq[String])(f: => T): T = {
    requests.increment()
    CountingOracle.texts.add(texts.size)
    texts.foreach(t => if (t != null) chars.add(t.length))
    if (!traced) f
    else {
      val t0 = System.nanoTime()
      try f
      finally {
        busyNs.add(System.nanoTime() - t0)
        val tc = TaskContext.get()
        val parent = if (tc == null) null else tc.getLocalProperty("perfbench.span")
        if (parent != null)
          busyBySpan.computeIfAbsent(parent.toLong, _ => new LongAdder)
            .add(System.nanoTime() - t0)
      }
    }
  }

  override def judge(text: String, condition: String): Boolean =
    bill(Seq(text))(det.judge(text, condition))
  override def extract(text: String, desc: String): Option[String] =
    bill(Seq(text))(det.extract(text, desc))
  override def classify(text: String, vocab: Seq[TagRule]): Option[String] =
    bill(Seq(text))(det.classify(text, vocab))
  override def summarize(values: Seq[String], desc: String): String =
    bill(values)(det.summarize(values, desc))
  override def score(text: String, query: String): Double =
    bill(Seq(text))(det.score(text, query))

  override def judgeBatch(ts: Seq[String], condition: String): Seq[Boolean] =
    bill(ts)(ts.map(t => t != null && det.judge(t, condition)))
  override def extractBatch(ts: Seq[String], desc: String): Seq[Option[String]] =
    bill(ts)(ts.map(t => if (t == null) None else det.extract(t, desc)))
  override def classifyBatch(ts: Seq[String],
      vocab: Seq[TagRule]): Seq[Option[String]] =
    bill(ts)(ts.map(t => if (t == null) None else det.classify(t, vocab)))
  override def scoreBatch(ts: Seq[String], query: String): Seq[Double] =
    bill(ts)(ts.map(t => if (t == null) 0.0 else det.score(t, query)))
}

object CountingOracle {
  val requests = new LongAdder
  val texts = new LongAdder
  val chars = new LongAdder
  val busyNs = new LongAdder
  val busyBySpan =
    new java.util.concurrent.ConcurrentHashMap[Long, LongAdder]

  final case class Snap(requests: Long, texts: Long, chars: Long, busyNs: Long)
  def snap(): Snap = Snap(requests.sum, texts.sum, chars.sum, busyNs.sum)
}
