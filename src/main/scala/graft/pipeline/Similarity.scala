package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, both expression-only (codegen'd vector math via
  * `zip_with`/`aggregate`, no UDFs):
  *
  *   - [[bruteForceTopK]]: the exact baseline — broadcast the (small) query
  *     set against the corpus, score every pair, per-query top-k via a
  *     bounded window. Corpus-side work is a single scan; right answer at
  *     any corpus size when |queries| is modest.
  *   - [[SignLsh]]: the scale path — random-hyperplane sign buckets
  *     (deterministically seeded). Probing only the query's bucket turns
  *     top-k into a bucket-local problem; recall is tunable by `planes`
  *     (fewer planes = bigger buckets = higher recall, more compute).
  *
  * An IVF variant would replace the hash planes with k-means centroids;
  * sign-LSH is chosen here because it needs no training pass and its
  * bucketing is a pure per-row expression (no iterative driver loop).
  */
object Similarity {

  /** Dot product of two float-array columns (double accumulation,
    * deterministic left-to-right order).
    *
    * Compiles to the native codegen'd kernel
    * ([[graft.functions.VectorDot]]): one tight loop over the array
    * buffers, no intermediate zip array, no higher-order-function
    * dispatch — the per-row cost that dominates brute-force/refine
    * cosine scans. The fold is bit-identical to the declarative
    * `aggregate(zip_with(...))` it replaced: elements widen to double
    * BEFORE the multiply, accumulation is left-to-right (the
    * engine-portable order the oracles replay) — pinned in
    * `VectorMathSpec`.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorMath.dotNative(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = norm(a)
    val nb = norm(b)
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(d / (na * nb))
  }

  /** Exact top-k nearest neighbors by cosine for each query vector.
    *
    * @param corpus  (idCol, vecCol) corpus table — arbitrarily large
    * @param queries (qidCol, vecCol) query table — small, broadcast
    * @return (query_id, neighbor_id, cosine, rank<=k), excluding self-pairs
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      qidCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(qidCol).as("query_id"),
      col(vecCol).as("__qvec")))
    val scored = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cvec"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__cvec"), col("__qvec")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF (inverted-file) approximate nearest neighbor — the
    * train/assign/probe scale path beside [[SignLsh]].
    *
    *   - '''train''': spherical k-means (Lloyd, fixed iterations,
    *     deterministic evenly-spaced init) over a BOUNDED id-ordered sample
    *     collected to the driver — the one intentionally non-distributed
    *     step, standard for IVF, bounded by `sampleN` regardless of corpus
    *     size;
    *   - '''assign''': nearest-centroid cell id per corpus row, a map-only
    *     broadcast kernel (at 100 TB the cell becomes a partition/bucket
    *     column, so a probe prunes storage too);
    *   - '''probe''': each query fans out to its `nProbe` closest cells and
    *     scores only those cells' rows. `nProbe == cells` degenerates to
    *     exact brute force (used by the correctness gate); small `nProbe`
    *     trades recall for a `nProbe/cells` scan fraction.
    */
  /** The `cell=<n>` partition a committed index file belongs to —
    * what lets the partial-rebalance paths carry untouched cells'
    * files into the new state without rewriting them.
    */
  private[pipeline] def cellOfFile(rel: String): Option[Int] =
    "cell=(-?\\d+)/".r.findFirstMatchIn(rel).map(_.group(1).toInt)

  /** Cheap rebuild stamp for a persisted index's frozen model tables:
    * the `centroids` parquet part names embed the writing job's UUID
    * (plus lengths), so ANY rebuild — this JVM or another process —
    * changes the stamp. One `listStatus` per probe, no data read; the
    * codebooks table is always rewritten together with the centroids
    * (build/save replace the whole index), so stamping the centroids
    * dir covers both.
    */
  private def modelStamp(spark: org.apache.spark.sql.SparkSession,
      path: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$path/centroids")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.isFile)
      .map(s => s"${s.getPath.getName}:${s.getLen}")
      .sorted.mkString(",")
  }

  object Ivf {

    private[pipeline] def normalize(v: Array[Double]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n == 0.0) v else { val o = new Array[Double](v.length)
        var j = 0; while (j < v.length) { o(j) = v(j) / n; j += 1 }; o }
    }

    private[pipeline] def dotD(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { d += a(i) * b(i); i += 1 }
      d
    }

    /** Deterministic spherical k-means centroids from an id-ordered sample.
      * Unit-norm centroids; empty cells keep their previous centroid.
      */
    def train(corpus: DataFrame, idCol: String, vecCol: String, cells: Int,
        sampleN: Int = 10000, iters: Int = 10): Array[Array[Double]] = {
      val sample = corpus
        .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
        .orderBy(col(idCol)).limit(sampleN)
        .select("v").collect()
        .map(r => normalize(r.getSeq[Double](0).toArray))
        .filter(_.exists(_ != 0.0))
      require(sample.length >= cells,
        s"need >= $cells non-zero sample vectors, got ${sample.length}")
      // evenly spaced init over the id-ordered sample: deterministic, spread
      var centroids = Array.tabulate(cells)(c =>
        sample((c.toLong * sample.length / cells).toInt))
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cells)(new Array[Double](centroids(0).length))
        val counts = new Array[Int](cells)
        sample.foreach { v =>
          var best = 0; var bestD = Double.NegativeInfinity
          var c = 0
          while (c < cells) {
            val d = dotD(v, centroids(c))
            if (d > bestD) { bestD = d; best = c }
            c += 1
          }
          val s = sums(best)
          var i = 0
          while (i < v.length && i < s.length) { s(i) += v(i); i += 1 }
          counts(best) += 1
        }
        centroids = Array.tabulate(cells)(c =>
          if (counts(c) == 0) centroids(c) else normalize(sums(c)))
        it += 1
      }
      centroids
    }

    /** Adds `cell`: index of the nearest (max cosine) centroid. */
    def withCell(df: DataFrame, vecCol: String,
        centroids: Array[Array[Double]]): DataFrame = {
      val cents = centroids // stable closure capture
      val kernel = udf { v: Seq[Double] =>
        if (v == null) null
        else {
          val nv = normalize(v.toArray)
          var best = 0; var bestD = Double.NegativeInfinity
          var c = 0
          while (c < cents.length) {
            val d = dotD(nv, cents(c))
            if (d > bestD) { bestD = d; best = c }
            c += 1
          }
          java.lang.Integer.valueOf(best)
        }
      }
      df.withColumn("cell", kernel(col(vecCol).cast("array<double>")))
    }

    /** Approximate top-k: score each query only against its nProbe closest
      * cells. Output matches [[bruteForceTopK]]: (query_id, neighbor_id,
      * cosine, rank).
      */
    def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
        qidCol: String, vecCol: String, k: Int, cells: Int, nProbe: Int,
        sampleN: Int = 10000, iters: Int = 10): DataFrame = {
      val centroids = train(corpus, idCol, vecCol, cells, sampleN, iters)
      val cents = centroids
      val probes = math.min(nProbe, cells)
      val probeKernel = udf { v: Seq[Double] =>
        if (v == null) null
        else {
          val nv = normalize(v.toArray)
          cents.indices.map(c => (dotD(nv, cents(c)), c))
            .sortBy { case (d, c) => (-d, c) }
            .take(probes).map(_._2).toArray
        }
      }
      val c = withCell(corpus, vecCol, centroids)
        .select(col("cell"), col(idCol).as("neighbor_id"),
          col(vecCol).as("__cvec"))
      val q = broadcast(queries
        .select(col(qidCol).as("query_id"), col(vecCol).as("__qvec"),
          explode(probeKernel(col(vecCol).cast("array<double>"))).as("cell")))
      val scored = c.join(q, Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("__cvec"), col("__qvec")).as("cosine"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }
  }

  /** Persisted IVF index — the 100 TB storage layout. The corpus is
    * written `partitionBy("cell")`, so a probe's cell set becomes a
    * PARTITION FILTER on the read: only `nProbe/cells` of the files are
    * listed and scanned (visible as `PartitionFilters` in the scan node).
    * This is the "cell column becomes a partition key" scale path the
    * in-memory [[Ivf.topK]] notes inline.
    */
  object IvfIndex {
    import Ivf.{train, withCell}
    import graft.sources.TxLog

    /** Train centroids and commit BOTH model and data through one
      * [[TxLog]] version: the cell-partitioned `corpus` table AND the
      * `centroids` model table land in the SAME State (the
      * [[graft.sources.Merge]] commit discipline), REPLACING any index
      * at `path`. Probes resolve ONE committed state for model +
      * corpus together, so [[append]], [[compact]] and — the point of
      * the shared commit — [[rebalance]] are snapshot-isolated beside
      * them: a probe in flight reads the old centroids WITH the old
      * cell assignments or the new with the new, never a mix. A
      * crashed maintenance op leaves only vacuum-able orphans.
      */
    def build(corpus: DataFrame, idCol: String, vecCol: String, cells: Int,
        path: String, sampleN: Int = 10000, iters: Int = 10): Unit = {
      val spark = corpus.sparkSession
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) fs.delete(root, true) // fresh index, fresh log
      graft.sources.TxLog.dropCachedStates(path) // rebuilt in place: stale memo out
      centroidMemo.remove(path) // ditto for the frozen-centroid memo
      val centroids = train(corpus, idCol, vecCol, cells, sampleN, iters)
      val cenFiles = stageCentroids(spark, path, centroids)
      val files = TxLog.stagePartitionedInto(
        withCell(corpus, vecCol, centroids), path, "corpus", Seq("cell"))
      TxLog.commit(spark, path, TxLog.State(0L, -1L,
        Map("corpus" -> files, "centroids" -> cenFiles)))
    }

    /** Stage the centroid model as a one-file TxLog sub-table (cells ×
      * dim doubles — KB-scale at any corpus size); the caller commits
      * it in the same State as the rows it assigned.
      */
    private def stageCentroids(spark: org.apache.spark.sql.SparkSession,
        path: String, centroids: Array[Array[Double]]): Seq[String] = {
      import spark.implicits._
      TxLog.stageInto(
        centroids.zipWithIndex.toSeq
          .map { case (v, i) => (i, v.toSeq) }
          .toDF("cell", "centroid").coalesce(1),
        path, "centroids")
    }

    // frozen per index lifetime (append reuses them; only build
    // replaces them) — one scan+collect per (JVM, path, build) instead
    // of one per probe. Staleness guard: each entry carries the
    // [[Similarity.modelStamp]] it was loaded under and is re-checked
    // per access, so an index REBUILT IN PLACE BY ANOTHER PROCESS
    // (same-JVM rebuilds invalidate explicitly) serves fresh centroids
    // at the next probe; replacing per path also bounds the map at
    // #paths, never #rebuilds.
    private val centroidMemo = scala.collection.concurrent.TrieMap
      .empty[String, (String, Array[Array[Double]])]

    def loadCentroids(spark: org.apache.spark.sql.SparkSession,
        path: String): Array[Array[Double]] =
      loadCentroids(spark, path, TxLog.currentState(spark, path))

    /** The centroids AT A RESOLVED STATE: a probe that passes the same
      * state here and to [[corpusTable]] reads model + assignments
      * from one committed version — the snapshot isolation a racing
      * [[rebalance]] needs. Versioned indexes memoize per state
      * version (one listStatus-free check); legacy indexes (no
      * `centroids` sub-table in the log) fall back to the sidecar dir
      * under the [[Similarity.modelStamp]] staleness guard.
      */
    private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
        path: String, st: Option[TxLog.State]): Array[Array[Double]] =
      st.filter(_.tables.get("centroids").exists(_.nonEmpty)) match {
        case Some(s) =>
          // content-addressed stamp: the part names embed the writing
          // job's UUID, so an index REBUILT IN PLACE BY ANOTHER
          // PROCESS (same version number, different files) still
          // invalidates — the same guarantee modelStamp's listStatus
          // gives the legacy path, for free from the resolved state
          val stamp = s"txv${s.version}:" +
            s.tables("centroids").mkString(",")
          centroidMemo.get(path) match {
            case Some((s0, m)) if s0 == stamp => m
            case _ =>
              val m = TxLog.readTable(spark, path, s, "centroids").get
                .orderBy("cell").collect()
                .map(_.getSeq[Double](1).toArray)
              centroidMemo.put(path, (stamp, m))
              m
          }
        case None =>
          val stamp = modelStamp(spark, path)
          centroidMemo.get(path) match {
            case Some((s, m)) if s == stamp => m
            case _ =>
              val m = spark.read.parquet(s"$path/centroids")
                .orderBy("cell").collect()
                .map(_.getSeq[Double](1).toArray)
              centroidMemo.put(path, (stamp, m))
              m
          }
      }

    /** The committed corpus table at a resolved state (legacy pre-log
      * layouts fall back to a raw directory read).
      */
    private def corpusTable(spark: org.apache.spark.sql.SparkSession,
        path: String, st: Option[TxLog.State]): DataFrame =
      st.flatMap(s => TxLog.readPartitioned(spark, path, s, "corpus"))
        .getOrElse(spark.read.parquet(s"$path/corpus"))

    private def corpusTable(spark: org.apache.spark.sql.SparkSession,
        path: String): DataFrame =
      corpusTable(spark, path, TxLog.currentState(spark, path))

    /** Probe the persisted index. The union of the queries' probe cells is
      * a driver-side set bounded by |queries| * nProbe; pushing it as an
      * `isin` filter on the partition column prunes the scan to those
      * directories before any row is read.
      *
      * `allowed` (FILTERED vector search): a one-column frame of
      * candidate ids — typically the id projection of a metadata
      * predicate over the source table, where it rides that table's
      * manifest-stats file pruning. Ids outside the set drop BEFORE
      * scoring via a LEFT SEMI join (AQE picks broadcast vs shuffle by
      * the set's real size, so a 10-row allowlist and a
      * billion-row one both plan sensibly). Pre-filtering changes
      * RECALL, not correctness: the probed cells must still contain k
      * allowed candidates — under a selective filter raise `nProbe`
      * (the FAISS/Milvus guidance) or fall back to nProbe == cells for
      * an exact filtered scan.
      */
    def topK(spark: org.apache.spark.sql.SparkSession, path: String,
        queries: DataFrame, qidCol: String, idCol: String, vecCol: String,
        k: Int, nProbe: Int,
        maxProbeBroadcastBytes: Long = 256L << 20,
        allowed: Option[DataFrame] = None): DataFrame = {
      // ONE state snapshot for model + corpus: a rebalance committing
      // mid-probe cannot hand this probe new centroids over old cell
      // assignments (or vice versa)
      val st = TxLog.currentState(spark, path)
      val centroids = loadCentroids(spark, path, st)
      val cents = centroids
      val probes = math.min(nProbe, centroids.length)
      val probeKernel = udf { v: Seq[Double] =>
        if (v == null) null
        else {
          var s = 0.0; var i = 0
          while (i < v.length) { s += v(i) * v(i); i += 1 }
          val n = math.sqrt(s)
          val nv = if (n == 0.0) v.toArray else v.toArray.map(_ / n)
          cents.indices.map { c =>
            var d = 0.0; var j = 0
            val m = math.min(nv.length, cents(c).length)
            while (j < m) { d += nv(j) * cents(c)(j); j += 1 }
            (d, c)
          }.sortBy { case (d, c) => (-d, c) }
            .take(probes).map(_._2).toArray
        }
      }
      val q = queries
        .select(col(qidCol).as("query_id"), col(vecCol).as("__qvec"),
          explode(probeKernel(col(vecCol).cast("array<double>"))).as("cell"))
      // bounded driver collect: |queries| * nProbe cell ids
      val cellSet = q.select("cell").distinct().collect().map(_.getInt(0))
      val c0 = corpusTable(spark, path, st)
        .filter(col("cell").isin(cellSet.toSeq: _*)) // -> PartitionFilters
        .select(col("cell"), col(idCol).as("neighbor_id"),
          col(vecCol).as("__cvec"))
      val c = allowed.foldLeft(c0) { (cf, a) =>
        cf.join(a.select(col(a.columns.head).as("neighbor_id")).distinct(),
          Seq("neighbor_id"), "left_semi")
      }
      // broadcast the query side only while its ESTIMATED size is
      // broadcastable (the DedupIndex probe contract, gated by size
      // rather than hope): a corpus-sized backfill "batch" probes via
      // a plain shuffle equi-join on the cell — identical results
      val est = queries.queryExecution.optimizedPlan.stats.sizeInBytes
      val qSide =
        if (est <= BigInt(maxProbeBroadcastBytes)) broadcast(q) else q
      val scored = c.join(qSide, Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("__cvec"), col("__qvec")).as("cosine"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }

    /** Append vectors under the FROZEN centroids (cells assigned by the
      * persisted model, no retrain — the [[IvfPq.append]] posture):
      * new cell-partitioned files land beside the existing ones and one
      * log commit publishes them; [[topK]] probes see them with zero
      * reader changes, and in-flight probes keep their snapshot. A lost
      * commit race retries the commit only (the file-list union is
      * conflict-free). Centroid drift under sustained appends is
      * repaired by a periodic rebuild.
      */
    def append(spark: org.apache.spark.sql.SparkSession, path: String,
        newRows: DataFrame, idCol: String, vecCol: String): Long = {
      val st0 = TxLog.currentState(spark, path)
      val cen0 = st0.map(_.tables.getOrElse("centroids", Nil))
        .getOrElse(Nil)
      val files = TxLog.stagePartitionedInto(
        withCell(newRows, vecCol, loadCentroids(spark, path, st0)),
        path, "corpus", Seq("cell"))
      TxLog.commitRetrying(spark, path) { parent =>
        val t = parent.map(_.tables).getOrElse(Map.empty)
        // a rebalance that won the race between our staging and this
        // commit swapped the model: our files carry STALE cell
        // assignments — unioning them in would corrupt the index, so
        // refuse loudly and let the caller re-append under the new
        // model (the files are vacuum-able orphans)
        require(t.getOrElse("centroids", Nil) == cen0,
          s"$path was rebalanced during this append — retry the " +
          "append; its staged files carry the old model's cells")
        t + ("corpus" -> (t.getOrElse("corpus", Nil) ++ files))
      }.version
    }

    /** Maintenance rewrite: fold accumulated per-append files into ~one
      * file per cell, committed as a new log version — probes in flight
      * keep reading the superseded files until [[vacuum]] reclaims
      * them; a crash mid-compaction leaves the old state current.
      */
    def compact(spark: org.apache.spark.sql.SparkSession,
        path: String, maxRetries: Int = 5): Unit = {
      TxLog.rewriteRetrying(spark, path, maxRetries, "IvfIndex.compact") {
          parent =>
        val cur = corpusTable(spark, path, parent)
        val nCells = loadCentroids(spark, path, parent).length
        val files = TxLog.stagePartitionedInto(
          cur.repartition(math.max(1, nCells), col("cell")),
          path, "corpus", Seq("cell"))
        // the model rides along UNCHANGED: carry the parent's
        // centroids entry so the compacted state stays whole
        (parent.map(_.tables).getOrElse(Map.empty) + ("corpus" -> files),
          files)
      }
      ()
    }

    /** Index-health signal for centroid DRIFT under sustained appends.
      * [[append]] assigns under FROZEN centroids, so a distribution
      * shift degrades the index silently: recall (new-region vectors
      * pile onto stale boundary cells, splitting true neighbor pairs)
      * and probe latency (hot cells). Two cheap signals, one corpus
      * pass each probe-free:
      *
      *   - `fit`: mean cosine of every member to its assigned
      *     centroid — the recall-predicting signal (a shifted cluster
      *     is FAR from whatever stale centroid adopted it, so fit
      *     drops as drift accumulates; [[rebalance]] restores it);
      *   - `skew`: max cell share over the uniform share — the probe
      *     latency signal (a hot cell is scanned whole by every query
      *     probing it).
      *
      * Thresholds are deployment policy; the gate-tested contract is
      * monotonicity: rebalancing a drifted index raises `fit`.
      */
    final case class Drift(cells: Int, rows: Long, skew: Double,
        fit: Double)

    def driftStats(spark: org.apache.spark.sql.SparkSession,
        path: String, vecCol: String): Drift = {
      val (cells, agg) = cellFits(spark, path, vecCol)
      val rows = agg.map(_._2).sum
      val maxCell = if (agg.isEmpty) 0L else agg.map(_._2).max
      val fit =
        if (rows == 0L) 1.0
        else agg.map { case (_, n, f) => f * n }.sum / rows
      val skew =
        if (rows == 0L) 1.0
        else maxCell.toDouble / (rows.toDouble / cells)
      Drift(cells, rows, skew, fit)
    }

    /** PER-CELL drift signal — (cell, members, mean fit) in one
      * corpus pass — what [[rebalancePartial]]'s caller thresholds on
      * to pick the drifted cells instead of retraining the world.
      */
    def driftStatsPerCell(spark: org.apache.spark.sql.SparkSession,
        path: String, vecCol: String): Seq[(Int, Long, Double)] =
      cellFits(spark, path, vecCol)._2

    private def cellFits(spark: org.apache.spark.sql.SparkSession,
        path: String, vecCol: String): (Int, Seq[(Int, Long, Double)]) = {
      val st = TxLog.currentState(spark, path)
      val cents = loadCentroids(spark, path, st)
      val fitKernel = udf { (v: Seq[Double], cell: Int) =>
        if (v == null || cell < 0 || cell >= cents.length) null
        else {
          val nv = Ivf.normalize(v.toArray)
          java.lang.Double.valueOf(Ivf.dotD(nv, cents(cell)))
        }
      }
      val agg = corpusTable(spark, path, st)
        .select(col("cell"),
          fitKernel(col(vecCol).cast("array<double>"), col("cell"))
            .as("__fit"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n"), avg(col("__fit")).as("f"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      (cents.length, agg)
    }

    /** Repair centroid drift: RETRAIN the centroids on the corpus as
      * committed today (appends included), reassign every vector, and
      * publish the rewrite as one new log version — same cell count,
      * same layout, fresh geometry. The model swap follows [[build]]'s
      * contract (the centroids sidecar is not snapshot-isolated with
      * the corpus commit — rebalance into a NEW path and swap a
      * pointer when probes must stay live through it); the corpus
      * rewrite itself is a normal commit, so a crash leaves the old
      * state current and vacuum-able staging orphans.
      */
    def rebalance(spark: org.apache.spark.sql.SparkSession, path: String,
        idCol: String, vecCol: String, sampleN: Int = 10000,
        iters: Int = 10): Unit = {
      val st0 = TxLog.currentState(spark, path)
      val cur = corpusTable(spark, path, st0).drop("cell")
      val cells = loadCentroids(spark, path, st0).length
      val centroids = train(cur, idCol, vecCol, cells, sampleN, iters)
      // ATOMIC model swap (r17): the retrained centroids and the
      // reassigned corpus stage first, then ONE TxLog commit replaces
      // BOTH sub-tables. A probe in flight resolved the previous
      // state and keeps reading old model + old cells; a probe after
      // the commit resolves new model + new cells — never a mix. The
      // legacy `<path>/centroids` sidecar is not touched (legacy
      // indexes adopt versioned centroids at their first rebalance).
      val cenFiles = stageCentroids(spark, path, centroids)
      val files = TxLog.stagePartitionedInto(
        withCell(cur, vecCol, centroids), path, "corpus", Seq("cell"))
      val corpus0 = st0.map(_.tables.getOrElse("corpus", Nil))
        .getOrElse(Nil)
      TxLog.commitRetrying(spark, path) { parent =>
        // an append that landed between our snapshot and this commit
        // holds rows our full replacement would silently DROP — refuse
        // loudly instead (the staged files are vacuum-able orphans)
        require(parent.map(_.tables.getOrElse("corpus", Nil))
            .getOrElse(Nil) == corpus0,
          s"$path's corpus changed during this rebalance — retry it " +
          "over the new state")
        parent.map(_.tables).getOrElse(Map.empty) +
          ("corpus" -> files) + // full replacement: old files age out
          ("centroids" -> cenFiles)
      }
      centroidMemo.remove(path)
      ()
    }

    /** Drift-TARGETED partial rebalance (r19): retrain and rewrite ONLY
      * `driftedCells`. At 100 TB a full [[rebalance]] re-stages the
      * whole corpus to repair what is usually a few shifted regions;
      * here the staging, training sample, and commit delta are all
      * proportional to the DRIFTED cells' rows:
      *
      *   - the drifted cells' members are read via a partition-filtered
      *     scan (only those directories listed);
      *   - |driftedCells| replacement centroids retrain on that region
      *     alone; every other centroid is carried over byte-identical;
      *   - only the drifted rows reassign — over the FULL merged model,
      *     so a row may migrate into an untouched cell (it lands there
      *     as a NEW file; the untouched cell's existing files are
      *     carried into the new state untouched);
      *   - one TxLog commit replaces model + drifted files together,
      *     exactly [[rebalance]]'s snapshot discipline (same
      *     corpus-race refusal, same vacuum story).
      *
      * The partial trade, stated honestly: rows already sitting in
      * UNTOUCHED cells are not revisited, so a vector whose true
      * nearest centroid became a retrained one stays where it was
      * until the next full rebalance — recall restores on the drifted
      * region, not globally. Pick cells with [[driftStatsPerCell]].
      */
    def rebalancePartial(spark: org.apache.spark.sql.SparkSession,
        path: String, idCol: String, vecCol: String,
        driftedCells: Seq[Int], sampleN: Int = 10000,
        iters: Int = 10): Unit = {
      val dset = driftedCells.distinct.sorted
      require(dset.nonEmpty, "no drifted cells given")
      val st0 = TxLog.currentState(spark, path)
      val all = loadCentroids(spark, path, st0)
      dset.foreach(c => require(c >= 0 && c < all.length,
        s"cell $c out of range (0 until ${all.length})"))
      val members = corpusTable(spark, path, st0)
        .filter(col("cell").isin(dset: _*)) // -> PartitionFilters
        .drop("cell")
      val retrained = train(members, idCol, vecCol, dset.length,
        sampleN, iters)
      val merged = all.clone()
      dset.zipWithIndex.foreach { case (c, i) => merged(c) = retrained(i) }
      val files = TxLog.stagePartitionedInto(
        withCell(members, vecCol, merged), path, "corpus", Seq("cell"))
      val cenFiles = stageCentroids(spark, path, merged)
      val corpus0 = st0.map(_.tables.getOrElse("corpus", Nil))
        .getOrElse(Nil)
      // untouched cells' committed files carry over UNREWRITTEN
      val keep = corpus0.filterNot(f =>
        Similarity.cellOfFile(f).exists(dset.contains))
      TxLog.commitRetrying(spark, path) { parent =>
        require(parent.map(_.tables.getOrElse("corpus", Nil))
            .getOrElse(Nil) == corpus0,
          s"$path's corpus changed during this partial rebalance — " +
          "retry it over the new state")
        parent.map(_.tables).getOrElse(Map.empty) +
          ("corpus" -> (keep ++ files)) +
          ("centroids" -> cenFiles)
      }
      centroidMemo.remove(path)
      ()
    }

    /** Reclaim files no retained log version references. Same contract
      * as [[graft.pipeline.DedupIndex.vacuum]].
      */
    def vacuum(spark: org.apache.spark.sql.SparkSession, path: String,
        keepVersions: Int = 1, graceMs: Long = 0L,
        orphanGraceMs: Long = graft.sources.Merge.DefaultOrphanGraceMs,
        dryRun: Boolean = false): Seq[String] =
      TxLog.vacuum(spark, path, Seq("corpus", "centroids"),
        keepVersions, graceMs, orphanGraceMs, dryRun)

    /** Batch ids with an INDEXED near-duplicate: best probed cosine >=
      * `threshold`. An exact copy assigns to the same cell as its source
      * (identical vector, deterministic centroid tie-break), so copies
      * are caught at any nProbe >= 1; probing only ever REMOVES
      * candidates, so no sub-threshold pair can be admitted wrongly.
      */
    def dominatedBy(spark: org.apache.spark.sql.SparkSession,
        path: String, newDf: DataFrame, idCol: String, vecCol: String,
        threshold: Double, nProbe: Int): DataFrame =
      topK(spark, path, newDf, idCol, idCol, vecCol, k = 1, nProbe)
        .filter(col("cosine") >= threshold)
        .select(col("query_id").as(idCol), col("cosine"))

    /** EMBEDDING-SIDE incremental dedup (the [[graft.pipeline.DedupIndex]]
      * admission flow over vectors): drop batch rows dominated by the
      * index or by a smaller-id in-batch near-duplicate, return the
      * survivors. Pair with [[append]] to admit them — the corpus is
      * probed (cell-pruned scan), never rescanned or shuffled.
      */
    def dedupAgainst(spark: org.apache.spark.sql.SparkSession,
        path: String, newDf: DataFrame, idCol: String, vecCol: String,
        dim: Int, threshold: Double, nProbe: Int,
        planes: Int = 6): DataFrame = {
      val inBatch = graft.pipeline.Dedup.embeddingNearDupPairs(
        newDf, idCol, vecCol, dim, threshold, planes)
        .select(col("id_b").as(idCol)).distinct()
      val vsCorpus = dominatedBy(spark, path, newDf, idCol, vecCol,
        threshold, nProbe).select(col(idCol))
      newDf.join(inBatch.unionByName(vsCorpus).distinct(),
        Seq(idCol), "left_anti")
    }
  }

  /** Int8-quantized similarity — the storage/shuffle lever at 100 TB:
    * per-vector symmetric quantization to byte codes shrinks the vector
    * payload 4x, and because COSINE is scale-invariant the per-vector
    * scale cancels entirely — ranking needs only the integer codes
    * (integer dot products in a tight kernel, no dequantization).
    * Approximation error is the rounding only (identical vectors stay
    * identical, so planted-duplicate expectations hold exactly).
    */
  object Int8 {
    /** Byte codes: round(x / (max|x| / 127)); zero vector -> zero codes. */
    val quantizeUdf = udf { v: Seq[Float] =>
      if (v == null) null
      else {
        var mx = 0f
        v.foreach(x => { val a = math.abs(x); if (a > mx) mx = a })
        val s = if (mx == 0f) 1f else mx / 127f
        v.map(x => math.round(x / s).toByte).toArray
      }
    }

    private val cosQ = udf { (a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) 0.0
      else {
        var dot = 0L; var na = 0L; var nb = 0L
        var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) {
          dot += a(i).toLong * b(i); na += a(i).toLong * a(i)
          nb += b(i).toLong * b(i); i += 1
        }
        if (na == 0L || nb == 0L) 0.0
        else dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
      }
    }

    /** Brute-force top-k over quantized codes (broadcast query side). */
    def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
        qidCol: String, vecCol: String, k: Int): DataFrame = {
      val c = corpus.select(col(idCol).as("neighbor_id"),
        quantizeUdf(col(vecCol)).as("__cq"))
      val q = broadcast(queries.select(col(qidCol).as("query_id"),
        quantizeUdf(col(vecCol)).as("__qq")))
      val scored = c.crossJoin(q)
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosQ(col("__cq"), col("__qq")).as("qcosine"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("qcosine").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }
  }

  /** Random-hyperplane sign LSH. Plane coefficients are generated from a
    * seeded RNG at plan time (literal arrays, broadcast inside the
    * expression) — deterministic across runs and engines.
    */
  object SignLsh {
    def planes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
      val rng = new scala.util.Random(seed)
      Seq.fill(nPlanes)(Seq.fill(dim)(rng.nextGaussian()))
    }

    /** Bucket id: one sign bit per plane packed into a long. The plane
      * matrix is captured in the kernel closure (broadcast with the task),
      * keeping the Catalyst tree to one call — an expression formulation
      * (nPlanes nested aggregate/zip_with lambdas) costs seconds of query
      * compile for zero runtime benefit.
      */
    def bucketCol(vec: Column, dim: Int, nPlanes: Int,
        seed: Long = 42L): Column = {
      val ps = planes(dim, nPlanes, seed).map(_.toArray).toArray
      val kernel = udf { v: Seq[Float] =>
        if (v == null) null
        else {
          var bucket = 0L
          var i = 0
          while (i < ps.length) {
            val p = ps(i)
            var d = 0.0
            var j = 0
            val n = math.min(p.length, v.length)
            while (j < n) { d += v(j).toDouble * p(j); j += 1 }
            if (d > 0.0) bucket |= (1L << i)
            i += 1
          }
          java.lang.Long.valueOf(bucket)
        }
      }
      kernel(vec)
    }

    def withBucket(df: DataFrame, vecCol: String, dim: Int, nPlanes: Int,
        seed: Long = 42L): DataFrame =
      df.withColumn("bucket", bucketCol(col(vecCol), dim, nPlanes, seed))

    /** Approximate top-k: score only within the query's bucket. */
    def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
        qidCol: String, vecCol: String, dim: Int, k: Int,
        nPlanes: Int = 8): DataFrame = {
      val c = withBucket(corpus, vecCol, dim, nPlanes)
        .select(col("bucket"), col(idCol).as("neighbor_id"),
          col(vecCol).as("__cvec"))
      val q = broadcast(withBucket(queries, vecCol, dim, nPlanes)
        .select(col("bucket"), col(qidCol).as("query_id"),
          col(vecCol).as("__qvec")))
      val scored = c.join(q, Seq("bucket"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("__cvec"), col("__qvec")).as("cosine"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }
  }

  /** Product quantization (Jégou et al. 2011): split each vector into `m`
    * subvectors, k-means each subspace (deterministic bounded-sample
    * trainer, same discipline as Ivf.train), store one byte-sized code
    * per subspace — dim×4 bytes collapse to m bytes. Queries rank by ADC
    * (asymmetric distance computation): per query, an m×k lookup table of
    * exact subspace distances, then each corpus row costs m table lookups
    * — no float vector is ever read at query time. At 100 TB this is the
    * difference between scanning 256 GB of codes and 25 TB of floats.
    * Identical vectors encode identically (ADC distance exactly the
    * query's own quantization residual), which is what the planted gate
    * pins.
    */
  object Pq {

    /** codebooks(s)(c) = centroid c of subspace s, length dim/m. */
    final case class Model(m: Int, k: Int, dim: Int,
        codebooks: Array[Array[Array[Double]]])

    private def sq(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val x = a(i) - b(i); d += x * x; i += 1 }
      d
    }

    /** Deterministic Euclidean k-means per subspace over an id-ordered
      * bounded sample (evenly spaced init, fixed iterations).
      */
    def train(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
        m: Int = 4, k: Int = 16, sampleN: Int = 10000,
        iters: Int = 10): Model = {
      require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
      val sub = dim / m
      val sample = corpus
        .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
        .orderBy(col(idCol)).limit(sampleN)
        .select("v").collect()
        .map(_.getSeq[Double](0).toArray)
        .filter(_.length == dim)
      require(sample.length >= k, s"need >= $k sample vectors")
      val books = Array.tabulate(m) { s =>
        val pieces = sample.map(v => v.slice(s * sub, (s + 1) * sub))
        var cents = Array.tabulate(k)(c =>
          pieces((c.toLong * pieces.length / k).toInt))
        var it = 0
        while (it < iters) {
          val sums = Array.fill(k)(new Array[Double](sub))
          val counts = new Array[Int](k)
          pieces.foreach { p =>
            var best = 0; var bestD = Double.MaxValue
            var c = 0
            while (c < k) {
              val d = sq(p, cents(c))
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            val acc = sums(best); var i = 0
            while (i < sub) { acc(i) += p(i); i += 1 }
            counts(best) += 1
          }
          cents = Array.tabulate(k)(c =>
            if (counts(c) == 0) cents(c)
            else sums(c).map(_ / counts(c)))
          it += 1
        }
        cents
      }
      Model(m, k, dim, books)
    }

    /** Per-row nearest-centroid-per-subspace encoder (vector -> m bytes);
      * shared by the PQ-only and IVF+PQ paths.
      */
    private[pipeline] def encoderUdf(
        spark: org.apache.spark.sql.SparkSession, model: Model) = {
      val bc = spark.sparkContext.broadcast(model)
      udf { v: Seq[Double] =>
        if (v == null || v.length != bc.value.dim) null
        else {
          val mm = bc.value
          val sub = mm.dim / mm.m
          Array.tabulate(mm.m) { s =>
            val p = v.slice(s * sub, (s + 1) * sub).toArray
            var best = 0; var bestD = Double.MaxValue
            var c = 0
            while (c < mm.k) {
              val d = sq(p, mm.codebooks(s)(c))
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            best.toByte
          }
        }
      }
    }

    /** Per-query exact subspace-distance lookup table (m x k doubles). */
    private[pipeline] def adcTableUdf(
        spark: org.apache.spark.sql.SparkSession, model: Model) = {
      val bc = spark.sparkContext.broadcast(model)
      udf { qv: Seq[Double] =>
        val mm = bc.value
        val sub = mm.dim / mm.m
        Array.tabulate(mm.m, mm.k) { (s, c) =>
          sq(qv.slice(s * sub, (s + 1) * sub).toArray, mm.codebooks(s)(c))
        }.map(_.toSeq).toSeq
      }
    }

    /** ADC distance: m table lookups per corpus row, no floats read. */
    private[pipeline] val adcUdf =
      udf { (codes: Array[Byte], table: Seq[Seq[Double]]) =>
        var d = 0.0; var s = 0
        while (s < codes.length) {
          d += table(s)(codes(s).toInt & 0xff); s += 1
        }
        d
      }

    /** Encode vectors to m byte codes (nearest centroid per subspace). */
    def encode(df: DataFrame, idCol: String, vecCol: String,
        model: Model): DataFrame = {
      val enc = encoderUdf(df.sparkSession, model)
      df.select(col(idCol).as("neighbor_id"),
        enc(col(vecCol).cast("array<double>")).as("codes"))
        .filter(col("codes").isNotNull)
    }

    /** ADC top-k: queries keep their float vectors (asymmetric), corpus
      * rows cost m lookups into the broadcast per-query distance tables.
      */
    def topK(encoded: DataFrame, queries: DataFrame, qidCol: String,
        vecCol: String, model: Model, k: Int): DataFrame = {
      val spark = encoded.sparkSession
      val q = broadcast(queries
        .select(col(qidCol).as("query_id"),
          adcTableUdf(spark, model)(col(vecCol).cast("array<double>"))
            .as("__tbl")))
      val scored = encoded.crossJoin(q)
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          Pq.adcUdf(col("codes"), col("__tbl")).as("adc_dist"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }
  }

  /** IVF + PQ composed — the actual 100 TB ANN operating point: probe
    * `nProbe` of `cells` inverted-file cells (an `nProbe/cells` scan
    * fraction, a PARTITION FILTER when the code table is cell-partitioned
    * on disk), then rank INSIDE the probed cells by ADC over m-byte PQ
    * codes — float vectors are touched only at BUILD time (centroid
    * training + encoding); a query reads byte codes and nothing else.
    * Composes [[Ivf]] (train/assign/probe) with [[Pq]] (codebooks/encode/
    * ADC) — both deterministic bounded-sample trainers.
    *
    * Recall structure is the product of the two approximations: the probe
    * can miss a neighbor's cell (bounded the same way as [[Ivf.topK]] —
    * a planted exact copy shares the query's cell and its own cell is
    * always probed) and ADC ranks by quantized distance (an exact copy
    * encodes identically, so it attains the minimum possible ADC
    * distance: the query's own quantization residual).
    */
  object IvfPq {

    /** The built index: corpus as (cell, neighbor_id, codes) plus both
      * models. At scale, persist `encoded` partitionBy("cell") exactly
      * like [[IvfIndex.build]] and the probe prunes storage too.
      */
    final case class Index(encoded: DataFrame,
        centroids: Array[Array[Double]], pq: Pq.Model)

    /** Train both quantizers and encode the corpus — the one pass that
      * reads float vectors.
      */
    def build(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
        cells: Int, m: Int = 8, kSub: Int = 64, sampleN: Int = 10000,
        iters: Int = 10): Index = {
      val centroids = Ivf.train(corpus, idCol, vecCol, cells, sampleN, iters)
      val pq = Pq.train(corpus, idCol, vecCol, dim, m, kSub, sampleN, iters)
      val enc = Pq.encoderUdf(corpus.sparkSession, pq)
      val encoded = Ivf.withCell(corpus, vecCol, centroids)
        .select(col("cell"), col(idCol).as("neighbor_id"),
          enc(col(vecCol).cast("array<double>")).as("codes"))
        .filter(col("codes").isNotNull)
      Index(encoded, centroids, pq)
    }

    /** Query the index: fan each query out to its nProbe closest cells,
      * ADC-rank the probed cells' codes. Output (query_id, neighbor_id,
      * adc_dist, rank) — ascending quantized distance.
      */
    def topK(index: Index, queries: DataFrame, qidCol: String,
        vecCol: String, k: Int, nProbe: Int): DataFrame = {
      val spark = index.encoded.sparkSession
      val cents = index.centroids
      val probes = math.min(nProbe, cents.length)
      val probeKernel = udf { v: Seq[Double] =>
        if (v == null) null
        else {
          val nv = Ivf.normalize(v.toArray)
          cents.indices.map(c => (Ivf.dotD(nv, cents(c)), c))
            .sortBy { case (d, c) => (-d, c) }
            .take(probes).map(_._2).toArray
        }
      }
      val q = broadcast(queries.select(col(qidCol).as("query_id"),
        Pq.adcTableUdf(spark, index.pq)(col(vecCol).cast("array<double>"))
          .as("__tbl"),
        explode(probeKernel(col(vecCol).cast("array<double>"))).as("cell")))
      val scored = index.encoded.join(q, Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          Pq.adcUdf(col("codes"), col("__tbl")).as("adc_dist"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }

    /** build + topK in one call (the gate/one-shot form). */
    def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
        qidCol: String, vecCol: String, dim: Int, k: Int, cells: Int,
        nProbe: Int, m: Int, kSub: Int): DataFrame =
      topK(build(corpus, idCol, vecCol, dim, cells, m, kSub), queries,
        qidCol, vecCol, k, nProbe)

    /** ADC-rank, then REFINE: exact-cosine re-rank of each query's top
      * `k × refine` ADC candidates — the standard production finishing
      * step (FAISS's refine stage). ADC distances carry quantization
      * error, so the quantized rank near the cut can be wrong order; the
      * refine pass re-scores only the shortlist with the TRUE vectors
      * and re-cuts at k. Output matches [[bruteForceTopK]]'s shape:
      * (query_id, neighbor_id, cosine, rank) — exact cosines, ordered.
      *
      * Scale shape: the shortlist (|queries| × k × refine ids) is tiny,
      * so fetching its float vectors is ONE corpus scan behind a
      * broadcast-hash semi-join — never a shuffle of the corpus, and the
      * only stage that touches floats at query time. On a keyed/
      * clustered corpus layout the broadcast id set additionally prunes
      * at the scan (bucket/cluster pushdown); the ADC stage still reads
      * byte codes only.
      */
    def topKRefined(index: Index, corpus: DataFrame, queries: DataFrame,
        idCol: String, qidCol: String, vecCol: String, k: Int,
        nProbe: Int, refine: Int = 4): DataFrame = {
      require(refine >= 1, "refine must be >= 1")
      val cand = topK(index, queries, qidCol, vecCol, k * refine, nProbe)
        .select(col("query_id"), col("neighbor_id"))
      val fetched = corpus
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
        .join(broadcast(cand), Seq("neighbor_id"))
      val qv = broadcast(queries.select(col(qidCol).as("query_id"),
        col(vecCol).as("__qv")))
      val exact = fetched.join(qv, Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("__nv"), col("__qv")).as("cosine"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }

    /** build + topKRefined in one call (the gate/one-shot form). */
    def topKRefined(corpus: DataFrame, queries: DataFrame, idCol: String,
        qidCol: String, vecCol: String, dim: Int, k: Int, cells: Int,
        nProbe: Int, m: Int, kSub: Int, refine: Int): DataFrame =
      topKRefined(build(corpus, idCol, vecCol, dim, cells, m, kSub),
        corpus, queries, idCol, qidCol, vecCol, k, nProbe, refine)

    /** Persist the index: byte codes written `partitionBy(cell)` (so a
      * probe's cell set is a PARTITION FILTER — only nProbe/cells of the
      * directories are listed and scanned) plus the two bounded model
      * tables. The codes table carries NO float vectors: at 100 TB the
      * query-time footprint is m bytes/row in the probed cells, full stop.
      *
      * The codes (and tombstone) tables are committed through a
      * [[graft.sources.TxLog]] version log — the [[graft.sources.Merge]]
      * commit discipline — so [[append]]/[[remove]]/[[compact]] are
      * snapshot-isolated beside live [[topKPersisted]] probes and
      * crash-safe (a crashed maintenance op leaves the last committed
      * state current plus vacuum-able orphans). `save` itself REPLACES
      * any index at `path`; rebuild into a new path to keep probes live
      * through a retrain.
      */
    def save(index: Index, path: String): Unit = {
      val spark = index.encoded.sparkSession
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) fs.delete(root, true) // fresh index, fresh log
      graft.sources.TxLog.dropCachedStates(path) // rebuilt in place: stale memo out
      modelMemo.remove(path) // ditto for the frozen-model memo
      val (cenFiles, cbFiles) = stageModels(spark, path, index)
      val files = graft.sources.TxLog.stagePartitionedInto(
        index.encoded, path, "codes", Seq("cell"))
      graft.sources.TxLog.commit(spark, path,
        graft.sources.TxLog.State(0L, -1L, Map("codes" -> files,
          "centroids" -> cenFiles, "codebooks" -> cbFiles)))
    }

    /** Stage BOTH quantizer model tables (KB-scale: cells × dim coarse
      * centroids + m × k subspace codebooks) as TxLog sub-tables; the
      * caller commits them in the same State as the codes they
      * encoded — the atomic-swap discipline [[IvfIndex.rebalance]]
      * established (r17), extended to the PQ family's second model.
      */
    private def stageModels(spark: org.apache.spark.sql.SparkSession,
        path: String, index: Index): (Seq[String], Seq[String]) = {
      import spark.implicits._
      val cen = graft.sources.TxLog.stageInto(
        index.centroids.zipWithIndex.toSeq
          .map { case (v, i) => (i, v.toSeq) }
          .toDF("cell", "centroid").coalesce(1),
        path, "centroids")
      val books = for {
        s <- 0 until index.pq.m
        c <- 0 until index.pq.k
      } yield (s, c, index.pq.dim, index.pq.codebooks(s)(c).toSeq)
      val cb = graft.sources.TxLog.stageInto(
        books.toDF("subspace", "code", "dim", "centroid").coalesce(1),
        path, "codebooks")
      (cen, cb)
    }

    /** ATOMIC IN-PLACE RE-PUBLISH (the quantizer-drift repair with
      * probes LIVE): replace the whole index at `path` — retrained
      * coarse centroids, PQ codebooks, AND the re-encoded codes — as
      * ONE TxLog commit, with tombstones cleared. Unlike [[save]]
      * (which deletes the directory first — correct only for offline
      * builds), a probe concurrent with resave resolves either the
      * old state whole or the new state whole, never new codebooks
      * over old codes; superseded files age out via [[vacuum]]. A
      * remove/append that landed between the caller's build and this
      * commit would be silently dropped by the replacement, so the
      * commit REFUSES if the codes table OR the tombstone table moved
      * (r18: a remove commits only to `deletes`, so the codes guard
      * alone would let this wipe resurrect the removed ids) — rebuild
      * over the new state instead.
      */
    def resave(index: Index, path: String): Unit = {
      val spark = index.encoded.sparkSession
      val st0 = graft.sources.TxLog.currentState(spark, path)
      require(st0.isDefined,
        s"$path has no committed index — use save() for a first build")
      val codes0 = st0.get.tables.getOrElse("codes", Nil)
      val deletes0 = st0.get.tables.getOrElse("deletes", Nil)
      val (cenFiles, cbFiles) = stageModels(spark, path, index)
      val files = graft.sources.TxLog.stagePartitionedInto(
        index.encoded, path, "codes", Seq("cell"))
      graft.sources.TxLog.commitRetrying(spark, path) { parent =>
        require(parent.map(_.tables.getOrElse("codes", Nil))
            .getOrElse(Nil) == codes0,
          s"$path's codes changed during this resave — rebuild over " +
          "the new state")
        // the commit below clears tombstones ("deletes" -> Nil); a
        // remove() that landed after st0 commits ONLY to "deletes", so
        // the codes guard alone would let this wipe resurrect its ids
        require(parent.map(_.tables.getOrElse("deletes", Nil))
            .getOrElse(Nil) == deletes0,
          s"$path's tombstones changed during this resave — rebuild " +
          "over the new state")
        Map("codes" -> files, "deletes" -> Nil,
          "centroids" -> cenFiles, "codebooks" -> cbFiles)
      }
      modelMemo.remove(path)
      ()
    }

    /** Drift-TARGETED partial repair of the persisted PQ index (r19):
      * retrain only the drifted COARSE centroids and re-route only the
      * drifted cells' live members. The key structural fact making this
      * cheap: PQ codes quantize the VECTOR, not a cell residual — they
      * are cell-independent — so the frozen codebooks carry over as the
      * SAME committed files, a re-routed row's re-encoded codes are
      * byte-identical to its stored ones (deterministic quantizer), and
      * untouched cells' code files are carried into the new state
      * unrewritten. Unlike [[resave]] (a full replacement rebuilt from
      * the live corpus, tombstones cleared), tombstones are PRESERVED;
      * drifted cells' tombstoned rows are incidentally purged by the
      * re-stage (they are excluded from the member set), which only
      * advances what [[compact]] would do.
      *
      * `corpus` supplies the float vectors (the codes table stores
      * none). Every LIVE drifted member must be present in it or this
      * refuses — silently dropping a live row would be data loss.
      *
      * What this repairs is coarse GEOMETRY (recall routing); codebook
      * drift still needs the full [[resave]]. Cost ∝ the drifted
      * region: a partition-filtered byte-code scan for the member ids,
      * one semi-join against the corpus for their vectors, |drifted|
      * centroids retrained on that region alone, one commit.
      */
    def rebalancePartial(spark: org.apache.spark.sql.SparkSession,
        path: String, corpus: DataFrame, idCol: String, vecCol: String,
        driftedCells: Seq[Int], sampleN: Int = 10000,
        iters: Int = 10): Unit = {
      val dset = driftedCells.distinct.sorted
      require(dset.nonEmpty, "no drifted cells given")
      val st0 = graft.sources.TxLog.currentState(spark, path)
      require(st0.isDefined,
        s"$path has no committed index — build+save first")
      val (all, pq) = loadModels(spark, path, st0)
      dset.foreach(c => require(c >= 0 && c < all.length,
        s"cell $c out of range (0 until ${all.length})"))
      val codes0 = st0.get.tables.getOrElse("codes", Nil)
      val deletes0 = st0.get.tables.getOrElse("deletes", Nil)
      val models0 = st0.get.tables.getOrElse("centroids", Nil) ++
        st0.get.tables.getOrElse("codebooks", Nil)
      // live drifted members: a partition-filtered scan of byte codes,
      // tombstones anti-joined out
      val memberIds = codesTable(spark, path, st0)
        .filter(col("cell").isin(dset: _*)) // -> PartitionFilters
        .select("neighbor_id").distinct()
      val liveIds = tombstones(spark, path, st0)
        .map(_.select(col("neighbor_id")).distinct())
        .foldLeft(memberIds)((m, d) =>
          m.join(broadcast(d), Seq("neighbor_id"), "left_anti"))
      val src = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__v"))
      val missing = liveIds.join(src.select("neighbor_id"),
        Seq("neighbor_id"), "left_anti").count()
      require(missing == 0L,
        s"$missing live member(s) of the drifted cells are absent from " +
        "the given corpus — a partial rebalance would silently drop " +
        "them; pass the full live corpus (or resave() a fresh build)")
      val members = src.join(liveIds, Seq("neighbor_id"), "left_semi")
        .select(col("neighbor_id"), col("__v").as(vecCol))
      val retrained = Ivf.train(members, "neighbor_id", vecCol,
        dset.length, sampleN, iters)
      val merged = all.clone()
      dset.zipWithIndex.foreach { case (c, i) => merged(c) = retrained(i) }
      val enc = Pq.encoderUdf(spark, pq) // FROZEN codebooks
      val files = graft.sources.TxLog.stagePartitionedInto(
        Ivf.withCell(members, vecCol, merged)
          .select(col("cell"), col("neighbor_id"),
            enc(col(vecCol).cast("array<double>")).as("codes"))
          .filter(col("codes").isNotNull),
        path, "codes", Seq("cell"))
      val keep = codes0.filterNot(f =>
        Similarity.cellOfFile(f).exists(dset.contains))
      import spark.implicits._
      val cenFiles = graft.sources.TxLog.stageInto(
        merged.zipWithIndex.toSeq
          .map { case (v, i) => (i, v.toSeq) }
          .toDF("cell", "centroid").coalesce(1),
        path, "centroids")
      graft.sources.TxLog.commitRetrying(spark, path) { parent =>
        val t = parent.map(_.tables).getOrElse(Map.empty)
        // anything that moved since the snapshot would be silently
        // dropped or mis-routed by this commit — refuse loudly; the
        // staged files are vacuum-able orphans
        require(t.getOrElse("codes", Nil) == codes0,
          s"$path's codes changed during this partial rebalance — " +
          "retry it over the new state")
        require(t.getOrElse("deletes", Nil) == deletes0,
          s"$path's tombstones changed during this partial rebalance — " +
          "retry it over the new state")
        require(t.getOrElse("centroids", Nil) ++
            t.getOrElse("codebooks", Nil) == models0,
          s"$path was re-published during this partial rebalance — " +
          "retry it over the new state")
        // codebooks and tombstones ride along UNCHANGED (same files)
        t + ("codes" -> (keep ++ files)) + ("centroids" -> cenFiles)
      }
      modelMemo.remove(path)
      ()
    }

    /** The committed codes table (legacy pre-log layouts fall back to a
      * raw directory read).
      */
    private def codesTable(spark: org.apache.spark.sql.SparkSession,
        path: String, st: Option[graft.sources.TxLog.State]): DataFrame =
      st.flatMap(s =>
          graft.sources.TxLog.readPartitioned(spark, path, s, "codes"))
        .getOrElse(spark.read.parquet(s"$path/codes"))

    /** INCREMENTAL index maintenance: encode `newRows` under the
      * persisted index's FROZEN quantizers (the saved coarse centroids
      * and PQ codebooks — no retraining) and append the resulting code
      * files into the cell-partitioned `codes` table. Work ∝ the new
      * rows: the existing corpus is never re-read, re-encoded, or
      * rewritten — at 100 TB a corpus refresh costs its delta, not a
      * rebuild. Appended files land inside the existing `cell=N`
      * directories, so [[topKPersisted]]'s partition-filtered probe sees
      * them with zero reader changes.
      *
      * Recall for appended vectors has the same provable floor as built
      * ones: cell assignment uses the same frozen centroids the probe
      * kernel ranks, so an exact copy of a query lands in the query's own
      * top-probed cell and encodes to the ADC-minimal codes. Quantizer
      * drift is the operational caveat — if the data distribution moves,
      * periodically rebuild (this is FAISS's `add` vs `train` split).
      *
      * Concurrency: appends commit through the version log with
      * optimistic retry, so concurrent appends/removes serialize and a
      * crash mid-append leaves only unreferenced orphans — never a torn
      * codes table.
      */
    def append(newRows: DataFrame, idCol: String, vecCol: String,
        path: String): Long = {
      val spark = newRows.sparkSession
      val st0 = graft.sources.TxLog.currentState(spark, path)
      val models0 = st0.map(s =>
        s.tables.getOrElse("centroids", Nil) ++
          s.tables.getOrElse("codebooks", Nil)).getOrElse(Nil)
      val (centroids, pq) = loadModels(spark, path, st0)
      val enc = Pq.encoderUdf(spark, pq)
      val files = graft.sources.TxLog.stagePartitionedInto(
        Ivf.withCell(newRows, vecCol, centroids)
          .select(col("cell"), col(idCol).as("neighbor_id"),
            enc(col(vecCol).cast("array<double>")).as("codes"))
          .filter(col("codes").isNotNull),
        path, "codes", Seq("cell"))
      graft.sources.TxLog.commitRetrying(spark, path) { parent =>
        val t = parent.map(_.tables).getOrElse(Map.empty)
        // a resave that won the race swapped the quantizers: our
        // staged codes carry the OLD models' cells/codebooks — refuse
        // loudly, the files are vacuum-able orphans
        require(t.getOrElse("centroids", Nil) ++
            t.getOrElse("codebooks", Nil) == models0,
          s"$path was re-published during this append — retry the " +
          "append; its staged codes carry the old quantizers")
        t + ("codes" -> (t.getOrElse("codes", Nil) ++ files))
      }.version
    }

    /** SOFT DELETE from the persisted index (FAISS `remove_ids` /
      * Lucene-style tombstones): record the ids in a `deletes/` sidecar;
      * [[topKPersisted]] anti-joins them out of every probe's candidate
      * set BEFORE ranking, so the next-best neighbor takes the freed
      * rank. Cell files are never rewritten — a remove costs one small
      * append regardless of corpus size, and the read-side cost is a
      * broadcast anti-join against the (small) tombstone set. [[compact]]
      * folds tombstones away physically without retraining; a full
      * [[build]]+[[save]] rebuild remains the cadence for drifted
      * quantizers. Commits through the version log like [[append]].
      */
    def remove(ids: DataFrame, idCol: String, path: String): Long = {
      val spark = ids.sparkSession
      val files = graft.sources.TxLog.stageInto(
        ids.select(col(idCol).as("neighbor_id")).distinct().coalesce(1),
        path, "deletes")
      graft.sources.TxLog.commitRetrying(spark, path) { parent =>
        val t = parent.map(_.tables).getOrElse(Map.empty)
        t + ("deletes" -> (t.getOrElse("deletes", Nil) ++ files))
      }.version
    }

    /** The tombstone table at a resolved state (legacy: raw sidecar dir). */
    private def tombstones(spark: org.apache.spark.sql.SparkSession,
        path: String, st: Option[graft.sources.TxLog.State])
        : Option[DataFrame] =
      st match {
        case Some(s) => graft.sources.TxLog.readTable(spark, path, s,
          "deletes")
        case None =>
          val p = new org.apache.hadoop.fs.Path(s"$path/deletes")
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
      }

    /** Maintenance rewrite: fold the accumulated per-append code files
      * into ~one file per cell and drop tombstoned rows physically,
      * committed as a new log version with the tombstones cleared.
      * Snapshot-isolated beside live probes (they keep reading the
      * superseded files until [[vacuum]]); a crash mid-compaction
      * leaves the old committed state current; a lost race against a
      * concurrent append/remove redoes the rewrite so nothing they
      * added is lost.
      */
    def compact(spark: org.apache.spark.sql.SparkSession, path: String,
        maxRetries: Int = 5): Unit = {
      graft.sources.TxLog.rewriteRetrying(spark, path, maxRetries,
          "IvfPq.compact") { parent =>
        val dead = tombstones(spark, path, parent).map(_.distinct())
        val live = dead.foldLeft(codesTable(spark, path, parent))(
          (c, d) => c.join(broadcast(d), Seq("neighbor_id"), "left_anti"))
        val nCells = loadModels(spark, path, parent)._1.length
        val files = graft.sources.TxLog.stagePartitionedInto(
          live.repartition(math.max(1, nCells), col("cell")),
          path, "codes", Seq("cell"))
        // the quantizer models ride along UNCHANGED
        (parent.map(_.tables).getOrElse(Map.empty) +
          ("codes" -> files) + ("deletes" -> Nil), files)
      }
      ()
    }

    /** Reclaim files no retained log version references — superseded
      * pre-compaction code files, cleared tombstones, crash orphans.
      */
    def vacuum(spark: org.apache.spark.sql.SparkSession, path: String,
        keepVersions: Int = 1, graceMs: Long = 0L,
        orphanGraceMs: Long = graft.sources.Merge.DefaultOrphanGraceMs,
        dryRun: Boolean = false): Seq[String] =
      graft.sources.TxLog.vacuum(spark, path,
        Seq("codes", "deletes", "centroids", "codebooks"),
        keepVersions, graceMs, orphanGraceMs, dryRun)

    // The quantizer models are FROZEN per index (append/remove reuse
    // them; only a fresh save replaces them), so one load per (JVM,
    // path, build) serves every later probe — without this, each
    // topKPersisted re-ran two scan+collect jobs for tables whose
    // content cannot have changed. save() invalidates same-JVM; the
    // per-access [[Similarity.modelStamp]] check catches an index
    // rebuilt in place by ANOTHER process (one listStatus, no data
    // read), and replacing per path bounds the map at #paths.
    private val modelMemo = scala.collection.concurrent.TrieMap
      .empty[String, (String, (Array[Array[Double]], Pq.Model))]

    /** Reload both bounded model tables (cells + m*k rows — driver-safe,
      * memoized per path + rebuild stamp: the models are immutable for
      * an index's lifetime).
      */
    def loadModels(spark: org.apache.spark.sql.SparkSession,
        path: String): (Array[Array[Double]], Pq.Model) =
      loadModels(spark, path,
        graft.sources.TxLog.currentState(spark, path))

    /** The models AT A RESOLVED STATE: a probe that passes the same
      * state here and to the codes/tombstone reads sees quantizers +
      * codes from one committed version — what makes [[resave]]'s
      * in-place swap invisible to in-flight probes. Versioned indexes
      * stamp by the state's model file lists (content-addressed:
      * external in-place rebuilds still invalidate); legacy sidecar-
      * dir layouts keep the [[Similarity.modelStamp]] listStatus
      * guard.
      */
    private def loadModels(spark: org.apache.spark.sql.SparkSession,
        path: String, st: Option[graft.sources.TxLog.State])
        : (Array[Array[Double]], Pq.Model) = {
      val versioned = st.filter(s =>
        s.tables.get("centroids").exists(_.nonEmpty) &&
          s.tables.get("codebooks").exists(_.nonEmpty))
      val stamp = versioned match {
        case Some(v) => s"txv${v.version}:" +
          (v.tables("centroids") ++ v.tables("codebooks")).mkString(",")
        case None => modelStamp(spark, path)
      }
      modelMemo.get(path) match {
        case Some((s, m)) if s == stamp => m
        case _ =>
          def tbl(name: String, legacy: String) = versioned match {
            case Some(v) => graft.sources.TxLog
              .readTable(spark, path, v, name).get
            case None => spark.read.parquet(s"$path/$legacy")
          }
          val centroids = tbl("centroids", "centroids")
            .orderBy("cell").collect()
            .map(_.getSeq[Double](1).toArray)
          val rows = tbl("codebooks", "codebooks")
            .orderBy("subspace", "code").collect()
          val m = rows.map(_.getInt(0)).max + 1
          val k = rows.map(_.getInt(1)).max + 1
          val dim = rows.head.getInt(2)
          val books = Array.tabulate(m, k) { (s, c) =>
            rows(s * k + c).getSeq[Double](3).toArray
          }
          val model = (centroids, Pq.Model(m, k, dim, books))
          modelMemo.put(path, (stamp, model))
          model
      }
    }

    /** Query the PERSISTED index. The probe-cell union is a bounded
      * driver-side set (|queries| * nProbe ids) pushed as an `isin` on
      * the partition column, so the scan prunes to those directories
      * before any row is read — and what it reads is byte codes only.
      */
    def topKPersisted(spark: org.apache.spark.sql.SparkSession,
        path: String, queries: DataFrame, qidCol: String, vecCol: String,
        k: Int, nProbe: Int,
        at: Option[graft.sources.TxLog.State] = None,
        allowed: Option[DataFrame] = None): DataFrame = {
      // ONE state snapshot for models + codes + tombstones: a resave
      // committing mid-probe cannot hand this probe new codebooks
      // over old codes (or any other mix)
      val st0 =
        if (at.isDefined) at
        else graft.sources.TxLog.currentState(spark, path)
      val (centroids, pq) = loadModels(spark, path, st0)
      val cents = centroids
      val probes = math.min(nProbe, centroids.length)
      val probeKernel = udf { v: Seq[Double] =>
        if (v == null) null
        else {
          val nv = Ivf.normalize(v.toArray)
          cents.indices.map(c => (Ivf.dotD(nv, cents(c)), c))
            .sortBy { case (d, c) => (-d, c) }
            .take(probes).map(_._2).toArray
        }
      }
      val q = queries.select(col(qidCol).as("query_id"),
        Pq.adcTableUdf(spark, pq)(col(vecCol).cast("array<double>"))
          .as("__tbl"),
        explode(probeKernel(col(vecCol).cast("array<double>"))).as("cell"))
      // bounded driver collect: |queries| * nProbe cell ids — computed
      // from the slim probe-kernel plan, NOT from q, so the (much
      // heavier) per-query ADC tables are never built just to be
      // dropped by this projection
      val cellSet = queries.select(
          explode(probeKernel(col(vecCol).cast("array<double>")))
            .as("cell"))
        .distinct().collect().map(_.getInt(0))
      // ONE state resolution for codes + tombstones: the probe sees a
      // single committed snapshot even beside concurrent maintenance
      // an explicit state pins the probe to a TableCatalog-published
      // index version; default resolves the newest committed state
      val st = st0
      val live0 = tombstones(spark, path, st).foldLeft(
        codesTable(spark, path, st)
          .filter(col("cell").isin(cellSet.toSeq: _*))) // -> PartitionFilters
        { (c, dead) => c.join(broadcast(dead), Seq("neighbor_id"),
            "left_anti") } // removed ids drop BEFORE ranking
      // FILTERED search: ids outside `allowed` drop before ADC ranking
      // via LEFT SEMI (AQE sizes the join); selective filters want a
      // higher nProbe — see [[IvfIndex.topK]]'s recall note
      val live = allowed.foldLeft(live0) { (cf, a) =>
        cf.join(a.select(col(a.columns.head).as("neighbor_id")).distinct(),
          Seq("neighbor_id"), "left_semi")
      }
      val scored = live.join(broadcast(q), Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          Pq.adcUdf(col("codes"), col("__tbl")).as("adc_dist"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }
  }
}
