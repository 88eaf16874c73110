package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload shares with the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val tiny: Boolean, val work: String, val tracer: Tracer,
    val jobs: Option[JobListener]) {
  def sc = spark.sparkContext
  def traced: Boolean = tracer.enabled
}

/** One closed-loop unit (a turn, a table op, a micro-batch). */
final case class Sample(kind: String, ms: Double, span: Long)

/** A workload: a seeded input generator plus a single-client closed loop
  * over the engine's public entry points.
  */
abstract class Workload(val ctx: Ctx) {
  val units = ArrayBuffer.empty[Sample]
  var attempted = 0L
  var failed = 0L
  /** Wall time the loop was measured over (ns). */
  var measuredNs = 0L

  /** Generate the inputs and write them under `dir` (not timed). */
  def prepare(dir: String): Unit
  /** The engine's own set-up calls over the prepared inputs; timed as
    * `setup_s`.
    */
  def setup(): Unit
  /** Untimed warm-up units, so JIT, codegen and the engine's memos fill. */
  def warmup(): Unit
  /** The closed loop: a fixed amount of work set by `--seconds` alone,
    * recording units and setting [[measuredNs]].
    */
  def run(): Unit
  /** How many times a run sets up; `setup_s` is the median. */
  def setups: Int = 3
  /** Post-run correctness checks that are too costly inside the loop. */
  def verify(): Unit
  /** The workload's own end-to-end figures (printed, not scored). */
  def report(): Seq[Metric]
  /** Per-layer figures from the traced run. */
  def layers(): Seq[Metric]

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failed <= 5) System.err.println(s"perfbench: MISMATCH $what")
    }
  }

  /** Time one unit; an exception counts it failed. */
  def unit[T](kind: String, timed: Boolean)(f: Long => T): Option[T] = {
    val t0 = System.nanoTime()
    var sid = 0L
    try {
      val r = ctx.tracer.span(kind, link = true, sc = ctx.sc) { id => sid = id; f(id) }
      if (timed) units += Sample(kind, (System.nanoTime() - t0) / 1e6, sid)
      Some(r)
    } catch {
      case e: Exception =>
        attempted += 1; failed += 1
        System.err.println(s"perfbench: $kind failed: $e")
        None
    }
  }

  /** Repeat `mix` (one whole mix of units) `--seconds` / `perMix` times,
    * rounded and at least `atLeast`; sets [[measuredNs]]. `perMix` is
    * how long one mix took on the reference box. The count depends on
    * the argument alone, never on measured speed, so every run of a
    * workload does the same work.
    */
  def repeatFixed(perMix: Double, atLeast: Int = 1)(mix: => Unit): Unit = {
    val t0 = System.nanoTime()
    (1 to math.max(atLeast, math.round(ctx.seconds / perMix).toInt)).foreach(_ => mix)
    measuredNs = System.nanoTime() - t0
  }

  def latencies(kinds: String*): Seq[Double] =
    units.filter(u => kinds.isEmpty || kinds.contains(u.kind)).map(_.ms).toSeq
}

object Main {
  val Workloads = Seq("olap_sessions", "table_churn", "ingest_dedup")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opts.getOrElse("workload", "")
    require(Workloads.contains(name), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val tiny = opts.getOrElse("scale", "full") == "tiny"
    val work = opts("work")
    val cores = opts.getOrElse("cores", "4").toInt

    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val spec = declared(opts("spec"))
    val code =
      try { runWorkload(spark, name, seed, seconds, traced, tiny, work, spec); 0 }
      catch { case e: Exception => System.err.println(s"perfbench: $e"); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  private def heapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU time of every thread of this JVM (ns): driver, executors, GC
    * and JIT.
    */
  private def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  /** The (name, unit) pairs of BENCHMARK.json's end_to_end and
    * per_layer lists.
    */
  private def declared(path: String): (Seq[(String, String)], Seq[(String, String)]) = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    def list(k: String) = (j \ k).children.map { m =>
      ((m \ "name").values.toString, (m \ "unit").values.toString)
    }
    (list("end_to_end"), list("per_layer"))
  }

  def runWorkload(spark: SparkSession, name: String, seed: Long,
      seconds: Double, traced: Boolean, tiny: Boolean, work: String,
      spec: (Seq[(String, String)], Seq[(String, String)])): Unit = {
    val tracer = new Tracer(traced)
    val listener =
      if (!traced) None
      else {
        val off = System.nanoTime() - System.currentTimeMillis() * 1000000L
        val l = new JobListener(off)
        spark.sparkContext.addSparkListener(l)
        Some(l)
      }
    val ctx = new Ctx(spark, seed, seconds, tiny, work, tracer, listener)
    def make(): Workload = name match {
      case "olap_sessions" => new OlapSessions(ctx)
      case "table_churn" => new TableChurn(ctx)
      case "ingest_dedup" => new IngestDedup(ctx)
    }
    // set-up is measured several times (fresh inputs, directory and
    // workload each time) and reported as the median; the last one is
    // kept. Only the engine's set-up calls are timed, not the input
    // generation.
    var wl: Workload = make()
    val setupS = (1 to (if (tiny) 1 else wl.setups)).map { i =>
      if (i > 1) wl = make()
      wl.prepare(s"$work/setup-$i")
      val t0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }
    val tw = System.nanoTime()
    wl.warmup()

    listener.foreach(_.open = true)
    val gc0 = gcMs()
    val cpu0 = cpuNs()
    val read0 = CountingFs.snap().bytesRead
    val t0 = System.nanoTime()
    wl.run()
    val cpu = cpuNs() - cpu0
    val bytesRead = CountingFs.snap().bytesRead - read0
    val gc = gcMs() - gc0
    listener.foreach { l => l.open = false; l.drain() }
    val heap = heapMb()
    val tv = System.nanoTime()
    wl.verify()
    System.err.println("perfbench: unit ms " + wl.units.map(u => f"${u.kind}:${u.ms}%.0f").mkString(" "))
    System.err.println(f"perfbench: set-up ${setupS.sum}%.1f s, warm-up ${(t0 - tw) / 1e9}%.1f s, " +
      f"run ${(tv - t0) / 1e9}%.1f s, verify ${(System.nanoTime() - tv) / 1e9}%.1f s")

    val lat = wl.latencies()
    val n = lat.size
    val contract = Seq(
      Metric("setup_s", Stats.median(setupS), "s", setupS.size),
      Metric("latency_p50_ms", Stats.median(lat), "ms", n),
      Metric("throughput_per_s", Stats.ratio(n, wl.measuredNs / 1e9), "1/s", n),
      Metric("cpu_ms_per_unit", Stats.ratio(cpu / 1e6, n), "ms", n),
      Metric("bytes_read_per_unit", Stats.ratio(bytesRead, n), "bytes", n),
      Metric("retained_heap_mb", heap, "MB", 1))
    val failedRatio = Metric("failed_ratio", Stats.ratio(wl.failed, wl.attempted),
      "failed/attempted", wl.attempted)
    val common = listener.toSeq.flatMap { l => Seq(
      Metric("jvm.gc_ms", Stats.ratio(gc, n), "ms/unit", n),
      Metric("spark.scheduler_delay_ms", Stats.ratio(l.schedMs.sum, n), "ms/unit", n),
      Metric("spark.executor_run_ms", Stats.ratio(l.runMs.sum, n), "ms/unit", n),
      Metric("spark.executor_cpu_ms", Stats.ratio(l.cpuNs.sum / 1e6, n), "ms/unit", n),
      Metric("spark.shuffle_write_bytes", Stats.ratio(l.shuffleWriteBytes.sum, n), "bytes/unit", n),
      Metric("spark.tasks", Stats.ratio(l.tasks.sum, n), "count/unit", n))
    }
    // the JSON line carries exactly the metrics BENCHMARK.json declares;
    // only the per-layer metrics of other workloads' own layers may read
    // 0 without samples
    val skip = Layers.notExercised(name)
    val scored =
      if (!traced) spec._1.map { case (k, _) => contract.find(_.name == k)
        .getOrElse(sys.error(s"end-to-end metric $k is not measured")) }
      else {
        val got = wl.layers() ++ common
        got.filter(m => skip(m.name)).foreach(m =>
          sys.error(s"${m.name} is both measured and on the not-exercised list"))
        spec._2.map { case (k, unit) =>
          got.find(_.name == k).getOrElse {
            require(skip(k), s"per-layer metric $k is not measured on $name")
            Metric(k, 0.0, unit, 0)
          }
        }
      }
    // a metric without samples or with a non-finite value, or a run
    // that checked nothing, is a failed run: no result line
    val bad = scored.filter(m => m.value.isNaN || m.value.isInfinite ||
      (m.samples == 0 && !skip(m.name)))
    require(bad.isEmpty, "metrics without a finite measured value: " +
      bad.map(m => s"${m.name}=${m.value} (n=${m.samples})").mkString(", "))
    require(wl.attempted > 0, "the run made no correctness checks")
    val shown = if (traced) scored else contract ++ (failedRatio +: wl.report())
    val tag = if (traced) "traced" else "untraced"
    println(s"perfbench $name seed=$seed $tag: ${wl.attempted} checks, " +
      s"${wl.failed} failed, $n units in ${"%.1f".format(wl.measuredNs / 1e9)} s")
    // in the traced run the end-to-end figures carry tracing overhead;
    // they are printed for the overhead comparison, not for scoring
    (if (traced) contract.map(m => m.copy(name = "traced." + m.name)) else Nil)
      .foreach(m => println(line(m)))
    shown.foreach(m => println(line(m, traced && skip(m.name))))
    if (traced) {
      val dir = new java.io.File(work).getParentFile
      tracer.dump(new java.io.File(dir, s"spans-$name-$seed.jsonl").getPath,
        listener.toSeq.flatMap(_.finished).map(j =>
          Span(-1L - j.id, j.parent, 0L, "job:" + j.site, j.start, j.end)))
    }
    val json = scored.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(", ")
    println(s"""{"correct": ${wl.failed == 0}, "attempted": ${wl.attempted}, """ +
      s""""failed": ${wl.failed}, "metrics": {$json}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) v.toString else java.math.BigDecimal.valueOf(v).toPlainString

  private def line(m: Metric, skipped: Boolean = false): String =
    f"metric ${m.name}%-34s ${num(m.value)}%14s ${m.unit}%-16s n=${m.samples}" +
      (if (skipped) " (not exercised)" else "")
}
