package perfbench

/** Per-layer figures shared by every workload, derived from the span
  * trees of the timed units: benchmark spans plus the Spark jobs the
  * listener linked to them.
  */
object Layers {
  /** Engine files whose Spark jobs are reported on their own. A job is
    * attributed to the file that ran the action, and most engine calls
    * return lazy frames, so only these files launch jobs on a measured
    * path; jobs of the frames the benchmark collects count as
    * `benchmark`, and jobs from any other file as `other`.
    */
  val Sites = Seq("Ops", "Merge", "DedupIndex")
  val BenchFiles = Set("OlapSessions", "TableChurn", "IngestDedup", "Main")

  /** The per-layer metrics of one workload's own layers, by workload.
    * Every other workload reports them as 0 with n=0; all the other
    * per-layer metrics (those of [[common]] and the run-wide task
    * totals) are measured on every workload.
    */
  val Specific: Map[String, Seq[String]] = Map(
    "olap_sessions" -> Seq("agent.completions_per_turn", "cube.reuse_equal",
      "cube.reuse_delta", "cube.reuse_root", "cube.reuse_hit_ratio",
      "cube.delta_ops_per_turn", "cube.nodes", "oracle.requests_per_turn",
      "oracle.texts_per_turn", "oracle.chars_per_turn", "oracle.busy_ms_per_turn"),
    "table_churn" -> Seq("merge.upsert_ms_p50", "merge.upsert_dv_ms_p50",
      "merge.delete_dv_ms_p50", "merge.compact_ms_p50", "merge.vacuum_ms_p50",
      "merge.driver_ms_per_commit", "fs.write_ops_per_commit",
      "fs.read_ops_per_commit", "fs.list_ops_per_commit",
      "fs.bytes_written_per_commit", "merge.buckets_touched_ratio",
      "merge.retries", "merge.lookup_ms_p50", "merge.scan_ms_p50",
      "skipping.files_read_ratio", "fs.bytes_read_per_read", "table.live_files"),
    "ingest_dedup" -> Seq("stream.trigger_ms_p50", "stream.add_batch_ms_p50",
      "stream.wal_commit_ms_p50", "stream.commit_offsets_ms_p50",
      "stream.query_planning_ms_p50", "stream.latest_offset_ms_p50",
      "sink.upsert_ms_p50", "dedup.admit_ms_p50", "dedup.survivor_ratio",
      "fs.write_ops_per_batch.sink", "fs.write_ops_per_batch.other"))

  def notExercised(workload: String): Set[String] =
    (Specific - workload).values.flatten.toSet -- Specific(workload)

  def site(s: String): String =
    if (Sites.contains(s)) s else if (BenchFiles.contains(s)) "benchmark" else "other"

  /** Every timed unit with its span tree (root first). Jobs become spans
    * named `job:<site>`; `jobParent` maps a job to the span that ran it.
    */
  def trees(w: Workload, extra: Seq[Span] = Nil,
      jobParent: JobListener#Job => Long = _.parent,
      jobSite: JobListener#Job => String = j => site(j.site)): Seq[(Sample, Seq[Span])] = {
    val spans = w.ctx.tracer.all ++ extra
    val jobs = w.ctx.jobs.toSeq.flatMap(_.finished).map(j =>
      Span(-1L - j.id, jobParent(j), 0L, "job:" + jobSite(j), j.start, j.end))
    val byParent = (spans ++ jobs).groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    // descendants, each clipped to its parent's interval
    def desc(p: Span): Seq[Span] =
      byParent.getOrElse(p.id, Nil).map(c =>
        c.copy(start = math.max(c.start, p.start), end = math.min(c.end, p.end)))
        .filter(c => c.end > c.start).flatMap(c => c +: desc(c))
    w.units.toSeq.flatMap(u => byId.get(u.span).map(r => u -> (r +: desc(r))))
  }

  /** Job count, job time, driver time, job time by engine file, self
    * time by span kind, and how well the self times add up to each
    * unit's wall time.
    */
  def common(w: Workload, extra: Seq[Span] = Nil,
      jobParent: JobListener#Job => Long = _.parent,
      jobSite: JobListener#Job => String = j => site(j.site)): Seq[Metric] = {
    val ts = trees(w, extra, jobParent, jobSite)
    val n = ts.size.toDouble
    val ms = 1e6
    var jobs, jobNs, driverNs = 0.0
    val bySite = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val selfBy = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val ratios = ts.map { case (_, tree) =>
      val root = tree.head
      val js = tree.filter(_.name.startsWith("job:"))
      jobs += js.size
      val union = Trace.unionLength(js.map(j => (j.start, j.end)))
      jobNs += union
      driverNs += root.dur - union
      js.foreach(j => bySite(j.name.stripPrefix("job:")) += j.dur)
      val self = Trace.selfTimes(tree)
      tree.foreach { s =>
        val kind =
          if (s.id == root.id) "driver"
          else if (s.name.startsWith("job:")) "spark_jobs"
          else s.name
        selfBy(kind) += self(s.id)
      }
      tree.map(s => self(s.id)).sum.toDouble / math.max(1L, root.dur)
    }
    val nUnits = ts.size
    Seq(
      Metric("spark.jobs_per_unit", Stats.ratio(jobs, n), "count/unit", nUnits),
      Metric("spark.job_ms_per_unit", Stats.ratio(jobNs / ms, n), "ms/unit", nUnits),
      Metric("driver.ms_per_unit", Stats.ratio(driverNs / ms, n), "ms/unit", nUnits)) ++
    (Sites :+ "benchmark" :+ "other").map(s =>
      Metric(s"spark.job_ms.$s", Stats.ratio(bySite(s) / ms, n), "ms/unit", nUnits)) ++
    Seq("driver", "spark_jobs", "completion", "sink").map(k =>
      Metric(s"self_ms.$k", Stats.ratio(selfBy(k) / ms, n), "ms/unit", nUnits)) ++
    Seq(
      Metric("trace.self_sum_ratio_p50", Stats.median(ratios), "ratio", nUnits),
      Metric("trace.units_off_10pct",
        ratios.count(r => r < 0.9 || r > 1.1).toDouble, "count", nUnits))
  }
}
