package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-row LSH signature + bucket keys, the one-kernel UDF result shape
  * shared by the SimHash and n-gram pipelines. Top-level (not nested in
  * the object) so Catalyst's generated serializer code can call its
  * accessors.
  */
case class SigBands(sig: Array[Long], bands: Array[Long])

/** Deduplication operators for training-data pipelines, each designed
  * around the 100 TB execution shape:
  *
  *   - exact: one hash-aggregate on the content key, no driver state;
  *   - MinHash+LSH: per-row signatures, band-bucket grouping with
  *     in-bucket pair verification — two shuffles total: one fat
  *     (band, key) grouping (b× inflation, bounded) and one slim
  *     distinct over qualifying pairs;
  *   - SimHash: 64-bit signature + chunk-banding, Hamming verify via
  *     `bit_count(xor)`;
  *   - n-gram Jaccard: exact set similarity, but only on LSH candidates;
  *   - embedding cosine: delegates candidate generation to
  *     [[Similarity.SignLsh]] buckets.
  *
  * Skew note: a degenerate bucket (e.g. empty-text documents) would make
  * the in-bucket pair join quadratic; `maxBucket` drops buckets above a
  * bound and reports them — at scale those buckets are handled by exact
  * dedup on the fingerprint instead (they're near-identical anyway).
  */
object Dedup {

  // ------------------------------------------------------------- exact

  /** Exact dedup on a content key: keep the min-id representative.
    * Returns (key, keep_id, n_dups). One shuffle on the key.
    */
  def exactGroups(df: DataFrame, idCol: String, keyCols: Seq[Column],
      keyName: String = "dup_key"): DataFrame =
    df.groupBy(keyCols.map(_.as(keyName)): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup: drop all but the min-id row per normalized-content key.
    * Window-free formulation (self-join on the winner) broadcast-joins the
    * winners when small; at scale prefer this over a global row_number.
    */
  def exactDedup(df: DataFrame, idCol: String, key: Column): DataFrame = {
    val winners = df.groupBy(key.as("__k"))
      .agg(min(col(idCol)).as(idCol))
    df.join(winners.select(col(idCol)), Seq(idCol), "left_semi")
  }

  /** Exact dedup with a keep policy: per content key, keep the row that
    * maximizes `priority` (ties broken by smallest id — fully
    * deterministic). The training-pipeline "keep the longest / highest
    * quality copy" form; one hash aggregate via `max_by`, no window.
    */
  def exactDedupKeep(df: DataFrame, idCol: String, key: Column,
      priority: Column): DataFrame = {
    val winners = df.groupBy(key.as("__k"))
      .agg(max_by(col(idCol),
        struct(priority.as("p"), (-col(idCol)).as("tb"))).as(idCol))
    df.join(winners.select(col(idCol)), Seq(idCol), "left_semi")
  }

  // ------------------------------------------------- minhash signatures

  /** The in-bucket kernels carry ids as primitive longs through typed
    * Datasets; a non-integral id column would cast to null (encoder error)
    * or collide after narrowing. Fail fast with an actionable message
    * instead. String/UUID ids should be mapped to a synthetic long id
    * (e.g. [[graft.sources.JsonSource]]'s OLAP_ID) before dedup.
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(Seq("byte", "short", "integer", "long")
        .contains(dt.typeName),
      s"dedup id column '$idCol' must be an integral type, got ${dt.typeName}; " +
        "derive a long surrogate id first (e.g. withOlapId)")
  }

  /** FNV-1a 64-bit base hash + murmur-style seed mixing. */
  @inline private def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }
  @inline private def mix(h: Long, seed: Int): Long = {
    var x = h ^ (seed.toLong * 0x9E3779B97F4A7C15L)
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 33
    x
  }

  /** Signature kernel shared by the UDF entry points. */
  private def sigFromBases(base: Array[Long], k: Int): Array[Long] = {
    val sig = new Array[Long](k)
    var i = 0
    while (i < k) {
      var best = Long.MaxValue
      var j = 0
      while (j < base.length) {
        val h = mix(base(j), i)
        if (h < best) best = h
        j += 1
      }
      sig(i) = best
      i += 1
    }
    sig
  }

  /** k MinHash values over a shingle array, as one row-local kernel: each
    * shingle is base-hashed ONCE, then k cheap integer mixes derive the k
    * hash families. A higher-order-expression formulation recomputes the
    * shingle-construction subtree inside the k-way lambda (Catalyst
    * re-evaluates the captured subtree per outer element — measured 60×
    * slower at sf0.1), so the tight JVM loop is the scalable form here.
    * Empty input -> null.
    */
  def minhashSigUdf(k: Int = 64) = udf { shingles: Seq[String] =>
    if (shingles == null || shingles.isEmpty) null
    else sigFromBases(shingles.map(fnv1a).toArray, k)
  }

  /** Tokenize + shingle + sign in ONE kernel straight from the text
    * column. Semantically identical to
    * `minhashSigUdf(k)(Shingles.wordShingles(text, n))`, but the whole
    * shingle pipeline lives inside the function: the Catalyst tree is a
    * single UDF call, so query compile time (which dominates the
    * higher-order formulation — big lambda trees cost seconds of
    * Catalyst+Janino work per query) stays flat. The shingle string is
    * hashed incrementally (token hashes remixed) — no per-shingle string
    * allocation at all.
    */
  def minhashSigFromText(n: Int, k: Int) = udf { text: String =>
    val base = shingleBases(text, n)
    if (base == null) null else sigFromBases(base, k)
  }

  /** LSH band keys for a signature: b bands of r rows; band j's key is the
    * hash of rows [j*r, (j+1)*r). Output: array of b longs.
    */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      j => xxhash64(concat_ws(",",
        transform(slice(sig, j * rows + 1, lit(rows)), x => x.cast("string")))))

  /** Estimated Jaccard between two equal-length signatures: fraction of
    * agreeing minhash positions.
    */
  def estJaccard(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / size(a)

  /** Signatures table (id, sig) for a text column. */
  def signatures(df: DataFrame, idCol: String, text: Column,
      shingleN: Int, k: Int): DataFrame =
    df.select(col(idCol).as("id"),
        minhashSigFromText(shingleN, k)(text).as("sig"))
      .filter(col("sig").isNotNull)

  /** Base hashes of all word n-shingles of `text` (FNV over the n tokens
    * joined by ' ', hashed incrementally — no shingle string allocation);
    * null for null/too-short texts. Shared by the MinHash and n-gram
    * kernels.
    */
  private def shingleBases(text: String, n: Int): Array[Long] = {
    if (text == null) return null
    val trimmed = text.toLowerCase.trim
    val toks = if (trimmed.isEmpty) Array.empty[String]
               else trimmed.split("\\s+")
    if (toks.length < n) return null
    val nShingles = toks.length - n + 1
    val base = new Array[Long](nShingles)
    var s = 0
    while (s < nShingles) {
      var h = 0xcbf29ce484222325L
      var t = 0
      while (t < n) {
        if (t > 0) { h ^= ' '; h *= 0x100000001b3L }
        val tok = toks(s + t)
        var c = 0
        while (c < tok.length) { h ^= tok.charAt(c); h *= 0x100000001b3L; c += 1 }
        t += 1
      }
      base(s) = h
      s += 1
    }
    base
  }

  /** LSH band keys of a signature: FNV over the bytes of rows
    * [j*r, (j+1)*r) per band j. Shared by the MinHash and n-gram kernels.
    */
  private def bandKeysOf(sig: Array[Long], bands: Int, r: Int): Array[Long] = {
    val bk = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var h = 0xcbf29ce484222325L
      var p = j * r
      val end = p + r
      while (p < end) {
        var b = 0
        while (b < 8) { h ^= (sig(p) >>> (b * 8)) & 0xFF; h *= 0x100000001b3L; b += 1 }
        p += 1
      }
      bk(j) = h
      j += 1
    }
    bk
  }

  /** Dropped-bucket visibility (recall loss must never be silent): every
    * candidate/join call registers a fresh named accumulator counting the
    * buckets its `maxBucket` bound dropped; read [[lastDroppedBuckets]]
    * AFTER an action on the returned frame (accumulators populate on
    * execution). Each drop also WARNs in the executor log. A non-zero
    * count means skewed near-identical content — the documented at-scale
    * mitigation is exact dedup on the fingerprint BEFORE the LSH pass
    * (the [[graft.pipeline.Clean.standardPipeline]] ordering), which
    * collapses those buckets below the bound. Diagnostic covers the most
    * recent call in this JVM; concurrent calls each keep their own
    * accumulator in the Spark UI ("graft.dedup.droppedBuckets").
    */
  @volatile private var lastDropAcc:
      Option[org.apache.spark.util.LongAccumulator] = None

  def lastDroppedBuckets: Long = lastDropAcc.map(_.value.toLong).getOrElse(0L)

  private def newDropAcc(df: DataFrame) = {
    val acc = df.sparkSession.sparkContext
      .longAccumulator("graft.dedup.droppedBuckets")
    lastDropAcc = Some(acc)
    acc
  }

  private def warnDrop(size: Int, maxBucket: Int): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"dedup: dropping LSH bucket with >$maxBucket rows (saw $size); " +
        "pairs in it are lost — run exact dedup on the fingerprint first " +
        "to collapse near-identical content below the bound")

  /** Generic in-bucket pair kernel shared by every LSH mode: stream one
    * bucket's (id, payload) rows into a bounded buffer (buckets above
    * `maxBucket` are dropped without materializing past the cap — the
    * iterator stops filling; the drop is counted on `dropped` and warned,
    * never silent), then run `verify` over every i<j pair and emit
    * qualifying results with ids ordered ascending. Runs entirely inside
    * the bucket's task — payloads never ride through a second join.
    */
  private def bucketPairs[P, R](maxBucket: Int,
      dropped: org.apache.spark.util.LongAccumulator,
      verify: (P, P) => Option[R])(
      it: Iterator[(Long, P)]): Iterator[(Long, Long, R)] = {
    val buf = new scala.collection.mutable.ArrayBuffer[(Long, P)]
    var overflow = false
    while (it.hasNext && !overflow) {
      buf += it.next()
      if (buf.length > maxBucket) overflow = true
    }
    if (overflow) { dropped.add(1L); warnDrop(buf.length, maxBucket) }
    if (overflow || buf.length < 2) Iterator.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, R)]
      var i = 0
      while (i < buf.length) {
        var j = i + 1
        while (j < buf.length) {
          val (ia, pa) = buf(i)
          val (ib, pb) = buf(j)
          if (ia != ib) verify(pa, pb).foreach { r =>
            out += (if (ia < ib) (ia, ib, r) else (ib, ia, r))
          }
          j += 1
        }
        i += 1
      }
      out.iterator
    }
  }

  /** MinHash verify: fraction of agreeing signature positions >= threshold. */
  private def minhashVerify(k: Int, threshold: Double)(
      sa: Array[Long], sb: Array[Long]): Option[Double] = {
    var eq = 0
    var p = 0
    while (p < k) { if (sa(p) == sb(p)) eq += 1; p += 1 }
    val est = eq.toDouble / k
    if (est >= threshold) Some(est) else None
  }

  /** Candidate duplicate pairs via MinHash-LSH with in-bucket verification.
    *
    * Shape: one signature pass, one shuffle into (band, key) buckets, pair
    * generation + estimate inside each bucket, one slim distinct over
    * qualifying pairs. Two shuffles total; the wide signatures cross the
    * wire once (b× band inflation, bounded), and no verify join exists at
    * all.
    *
    * @return (id_a, id_b, est_jaccard) with id_a < id_b, est >= threshold.
    */
  def minhashCandidates(df: DataFrame, idCol: String, text: Column,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame =
    minhashSigCandidates(df, idCol, minhashSigFromText(shingleN, k)(text),
      k, bands, threshold, maxBucket)

  /** [[minhashCandidates]] over an already computed signature column
    * (`sig`: k MinHash values, null for a row with none) — the entry for a
    * caller that carries its rows' signatures, such as
    * [[DedupIndex.streamingAdmitBatches]]'s signed frame, so the kernel
    * runs once per row however many passes read the signature.
    */
  private[pipeline] def minhashSigCandidates(df: DataFrame, idCol: String,
      sig: Column, k: Int, bands: Int, threshold: Double,
      maxBucket: Int = 1000): DataFrame = {
    requireIntegralId(df, idCol)
    require(k % bands == 0, "bands must divide k")
    val spark = df.sparkSession
    import spark.implicits._
    val r = k / bands
    val keys = udf { s: Seq[Long] =>
      if (s == null) null else bandKeysOf(s.toArray, bands, r)
    }
    // no isNotNull filter on the signature: a pushed-down filter would
    // re-evaluate a computed signature per row (Filter + Project each
    // compute it); posexplode of a null band array emits no rows, which
    // drops too-short/null texts for free. The signature is projected
    // below the explode, so it is computed once even when `sig` is a UDF.
    val dropped = newDropAcc(df)
    df.select(col(idCol).cast("long").as("id"), sig.as("sig"))
      .select(col("id"), col("sig"),
        posexplode(keys(col("sig"))).as(Seq("band", "key")))
      .select(col("band"), col("key"), col("id"), col("sig"))
      .as[(Int, Long, Long, Array[Long])]
      .groupByKey { case (band, key, _, _) => (band, key) }
      .flatMapGroups { (_: (Int, Long), it: Iterator[(Int, Long, Long, Array[Long])]) =>
        bucketPairs(maxBucket, dropped, minhashVerify(k, threshold) _)(
          it.map(t => (t._3, t._4)))
      }
      .toDF("id_a", "id_b", "est_jaccard")
      .distinct() // same pair found in several bands -> one row
  }

  /** MinHash-LSH dedup: drop every row that has a smaller-id near-duplicate
    * (connected-component-free greedy: survivor = not dominated by any
    * smaller id; transitive chains keep only chain minima's view).
    */
  def minhashDedup(df: DataFrame, idCol: String, text: Column,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    val dominated = minhashCandidates(df, idCol, text, shingleN, k, bands,
      threshold).select(col("id_b").as(idCol)).distinct()
    df.join(dominated, Seq(idCol), "left_anti")
  }

  /** Duplicate clustering: connected components over a candidate-pair
    * graph by iterative min-label propagation — every id converges to the
    * smallest id of its component. Greedy `minhashDedup` only removes rows
    * directly dominated by a smaller id; transitive chains (A~B, B~C but
    * not A~C) need the component view to keep exactly one representative
    * per cluster.
    *
    * Each iteration is one join + one aggregation (all hash-partitioned on
    * id — Spark's standard CC-lite shape); iterations needed = graph
    * diameter, bounded by `maxIter` with an early exit when no label
    * changes. Near-dup components are short chains in practice, so the
    * loop converges in a few rounds.
    *
    * @param pairs (id_a, id_b) candidate pairs (from any *Candidates call)
    * @return (id, cluster) for every id appearing in `pairs`; cluster =
    *         min id of its component. Rows with no duplicate partner are
    *         absent (their cluster is themselves).
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 10,
      checkpointDir: Option[String] = None): DataFrame =
    duplicateClustersWithStatus(pairs, maxIter, checkpointDir)._1

  /** [[duplicateClusters]] plus a convergence flag: false means a component
    * with graph diameter > `maxIter` still has rows labeled above its true
    * minimum (the caller keeps extra "representatives"). Also logged as a
    * warning so the silent-truncation failure mode is visible.
    *
    * @param checkpointDir reliable checkpoint directory for real clusters:
    *   the default `localCheckpoint` trades fault tolerance for speed
    *   (executor loss mid-propagation kills the lineage-truncated run);
    *   a reliable dir survives it at the cost of writing each round's
    *   labels to that storage.
    */
  def duplicateClustersWithStatus(pairs: DataFrame, maxIter: Int = 10,
      checkpointDir: Option[String] = None): (DataFrame, Boolean) = {
    val sc = pairs.sparkSession.sparkContext
    checkpointDir.foreach { dir =>
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
    }
    // checkpoint between iterations: each round references the previous
    // labels frame several times, so without lineage truncation the
    // logical plan grows EXPONENTIALLY and analysis itself OOMs
    def ckpt(df: DataFrame, eager: Boolean): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager)
      else df.localCheckpoint(eager)
    val edges = ckpt(pairs.select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
      .union(pairs.select(col("id_b").cast("long").as("src"),
        col("id_a").cast("long").as("dst"))), eager = true)
    // initialization IS round one: cluster0 = min(self, direct neighbors)
    // comes out of the same aggregation that enumerates the ids, so the
    // loop starts one propagation hop ahead at no extra job
    var labels = ckpt(edges.groupBy(col("src").as("id"))
      .agg(least(col("id"), min(col("dst"))).as("cluster")), eager = true)
    // each round's convergence count materializes the NEW labels
    // checkpoint, after which the previous round's blocks are dead —
    // release them then (and `edges` after the loop) instead of leaving
    // a per-round block trail to GC; the final labels stay pinned for
    // the caller
    var prevRound: DataFrame = labels
    var iter = 1
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min("cluster").as("nmin"))
      // LAZY checkpoint + one count: the convergence probe is the action
      // that materializes the round's labels (truncating lineage), so each
      // iteration runs exactly ONE job — no separate join+isEmpty pass
      val updated = ckpt(labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster")))
            .as("cluster")), eager = false)
      converged = updated.filter(col("cluster") =!= col("old")).count() == 0L
      if (prevRound != null)
        org.apache.spark.sql.GraftShim.unpinLocalCheckpoint(prevRound)
      prevRound = updated
      labels = updated.select("id", "cluster")
      iter += 1
    }
    org.apache.spark.sql.GraftShim.unpinLocalCheckpoint(edges)
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"duplicateClusters: not converged after $maxIter iterations; " +
          "components wider than maxIter hops keep extra representatives")
    (labels, converged)
  }

  /** Cluster-aware MinHash dedup: one representative (min id) per
    * connected duplicate component survives — handles transitive chains
    * the greedy [[minhashDedup]] resolves only pairwise.
    */
  def minhashDedupClustered(df: DataFrame, idCol: String, text: Column,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    val pairs = minhashCandidates(df, idCol, text, shingleN, k, bands, threshold)
    val dominated = duplicateClusters(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(dominated, Seq(idCol), "left_anti")
  }

  // ----------------------------------------------------------- simhash

  /** 64-bit SimHash of a token array (Charikar): per bit, sum +1/-1 over
    * token hashes; bit set iff the sum is positive. Implemented as a Scala
    * UDF (the 64-way bit loop is clearer and faster in JVM code than a
    * 64-element higher-order expression); still fully distributed/row-local.
    */
  val simhash64 = udf { toks: Seq[String] =>
    if (toks == null || toks.isEmpty) null
    else {
      val counts = new Array[Int](64)
      toks.foreach { t =>
        // xxhash-free deterministic 64-bit string hash (FNV-1a)
        var h = 0xcbf29ce484222325L
        var i = 0
        while (i < t.length) { h ^= t.charAt(i); h *= 0x100000001b3L; i += 1 }
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
      java.lang.Long.valueOf(out)
    }
  }

  /** SimHash near-dup pairs: band the 64-bit signature into 4 16-bit chunks
    * (any pair within Hamming distance 3 shares >=1 exact chunk), bucket on
    * (chunk index, chunk value), verify Hamming distance inside the bucket
    * (same two-shuffle shape as [[minhashCandidates]]).
    */
  /** SimHash signature + its four 16-bit chunk keys in one kernel (single
    * UDF evaluation per row — same rationale as [[minhashSigFromText]]).
    * Tokenization matches [[TextAnalysis.tokensCol]] over lowercased text.
    * Empty/blank text -> null (dropped by the downstream explode).
    */
  private val simhashSigChunks = udf { text: String =>
    val toks = if (text == null) Array.empty[String]
               else { val t = text.toLowerCase.trim
                      if (t.isEmpty) Array.empty[String] else t.split("\\s+") }
    if (toks.isEmpty) null
    else {
      val counts = new Array[Int](64)
      toks.foreach { t =>
        var h = 0xcbf29ce484222325L
        var i = 0
        while (i < t.length) { h ^= t.charAt(i); h *= 0x100000001b3L; i += 1 }
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      var sig = 0L
      var b = 0
      while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
      SigBands(Array(sig),
        Array.tabulate(4)(j => (sig >>> (j * 16)) & 0xFFFFL))
    }
  }

  def simhashCandidates(df: DataFrame, idCol: String, text: Column,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    requireIntegralId(df, idCol)
    val spark = df.sparkSession
    import spark.implicits._
    val dropped = newDropAcc(df)
    df.select(col(idCol).cast("long").as("id"), simhashSigChunks(text).as("sb"))
      .select(posexplode(col("sb.bands")).as(Seq("chunk", "ckey")),
        col("id"), col("sb.sig").getItem(0).as("sig"))
      .as[(Int, Long, Long, Long)]
      .groupByKey { case (chunk, ckey, _, _) => (chunk, ckey) }
      .flatMapGroups { (_: (Int, Long), it: Iterator[(Int, Long, Long, Long)]) =>
        bucketPairs(maxBucket, dropped, (sa: Long, sb: Long) => {
          val ham = java.lang.Long.bitCount(sa ^ sb)
          if (ham <= maxHamming) Some(ham) else None
        })(it.map(t => (t._3, t._4)))
      }
      .toDF("id_a", "id_b", "hamming")
      .distinct()
  }

  // ---------------------------------------------------- n-gram jaccard

  /** Exact n-gram Jaccard similarity between two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val uni = size(array_union(a, b))
    when(uni === 0, 0.0).otherwise(inter.cast("double") / uni.cast("double"))
  }

  /** Distinct word-shingle set as one kernel (same rationale as
    * [[minhashSigFromText]]: flat Catalyst tree, no per-query lambda
    * compile cost).
    */
  def distinctShinglesUdf(n: Int) = udf { text: String =>
    if (text == null) null
    else {
      val toks = text.toLowerCase.trim.split("\\s+")
      if (toks.length < n) Seq.empty[String]
      else (0 to toks.length - n).map(i =>
        toks.slice(i, i + n).mkString(" ")).distinct
    }
  }

  /** Sorted distinct shingle hashes + MinHash band keys in one kernel.
    * MinHash over the multiset equals MinHash over the distinct set (min is
    * duplicate-insensitive), so the same base hashes serve both: bands for
    * LSH bucketing, the sorted distinct array for exact verification.
    */
  private def ngramShingleBands(n: Int, k: Int, bands: Int) = {
    val r = k / bands
    udf { text: String =>
      val base = shingleBases(text, n)
      if (base == null) null
      else SigBands(base.distinct.sorted, bandKeysOf(sigFromBases(base, k), bands, r))
    }
  }


  /** Exact Jaccard of two SORTED distinct-hash arrays (merge intersection). */
  private def sortedJaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Near-dup pairs by exact n-gram Jaccard: MinHash-LSH bands generate
    * candidates, the exact (hashed-)shingle-set Jaccard verifies inside the
    * bucket — same two-shuffle, zero-join shape as [[minhashCandidates]].
    * Shingles compare by 64-bit FNV hash (collision odds are negligible at
    * realistic shingle counts and the comparison stays deterministic).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, text: Column,
      n: Int = 3, threshold: Double = 0.8, k: Int = 64, bands: Int = 16,
      maxBucket: Int = 1000): DataFrame = {
    requireIntegralId(df, idCol)
    require(k % bands == 0, "bands must divide k")
    val spark = df.sparkSession
    import spark.implicits._
    val dropped = newDropAcc(df)
    df.select(col(idCol).cast("long").as("id"),
        ngramShingleBands(n, k, bands)(text).as("sb"))
      .select(col("id"), col("sb.sig").as("sh"),
        posexplode(col("sb.bands")).as(Seq("band", "key")))
      .select(col("band"), col("key"), col("id"), col("sh"))
      .as[(Int, Long, Long, Array[Long])]
      .groupByKey { case (band, key, _, _) => (band, key) }
      .flatMapGroups { (_: (Int, Long), it: Iterator[(Int, Long, Long, Array[Long])]) =>
        bucketPairs(maxBucket, dropped, (sa: Array[Long], sb: Array[Long]) => {
          val jac = sortedJaccard(sa, sb)
          if (jac >= threshold) Some(jac) else None
        })(it.map(t => (t._3, t._4)))
      }
      .toDF("id_a", "id_b", "jaccard")
      .distinct()
  }

  /** Distinct word-shingle HASHES as one kernel (the exact-verification
    * payload of [[ngramJaccardPairs]] exposed standalone): 64-bit FNV per
    * shingle, duplicates dropped. Empty array for null/too-short texts.
    */
  def distinctShingleHashesUdf(n: Int) = udf { text: String =>
    val base = shingleBases(text, n)
    if (base == null) Array.empty[Long] else base.distinct
  }

  /** EXACT n-gram Jaccard pairs via an inverted index — no LSH, no
    * all-pairs scan: explode (doc, shingle-hash), equi-join on the hash
    * (docs sharing no shingle never meet), count co-occurrences per doc
    * pair (= intersection size), then Jaccard from the per-doc set sizes.
    * The oracle-grade exact operator: use it to audit the LSH families'
    * recall on bounded corpora. Cost scales with sum over shingles of
    * df(s)^2 — a document-frequency-skewed corpus (boilerplate shingles in
    * everything) makes the hash join quadratic on the hot shingle, so at
    * 100 TB this runs on samples/partitions while [[minhashCandidates]]
    * remains the full-corpus path.
    */
  def exactJaccardPairs(df: DataFrame, idCol: String, text: Column,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    requireIntegralId(df, idCol)
    val sets = df.select(col(idCol).cast("long").as("id"),
        distinctShingleHashesUdf(n)(text).as("sh"))
      .filter(size(col("sh")) > 0)
    val sizes = sets.select(col("id"), size(col("sh")).as("sz"))
    val inv = sets.select(col("id"), explode(col("sh")).as("h"))
    inv.alias("a").join(inv.alias("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-side in-bucket pair kernel: like [[bucketPairs]], but rows carry
    * a side tag and only (side 0, side 1) pairs are verified — the
    * similarity-JOIN form of the same bounded-buffer bucket shape (no
    * within-side pairs, ids NOT reordered: output is (left, right)).
    */
  private def crossBucketPairs[P, R](maxBucket: Int,
      dropped: org.apache.spark.util.LongAccumulator,
      verify: (P, P) => Option[R])(
      it: Iterator[(Int, Long, P)]): Iterator[(Long, Long, R)] = {
    val lefts = new scala.collection.mutable.ArrayBuffer[(Long, P)]
    val rights = new scala.collection.mutable.ArrayBuffer[(Long, P)]
    var overflow = false
    while (it.hasNext && !overflow) {
      val (side, id, p) = it.next()
      (if (side == 0) lefts else rights) += ((id, p))
      if (lefts.length + rights.length > maxBucket) overflow = true
    }
    if (overflow) {
      dropped.add(1L); warnDrop(lefts.length + rights.length, maxBucket)
    }
    if (overflow || lefts.isEmpty || rights.isEmpty) Iterator.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, R)]
      var i = 0
      while (i < lefts.length) {
        var j = 0
        while (j < rights.length) {
          val (il, pl) = lefts(i)
          val (ir, pr) = rights(j)
          verify(pl, pr).foreach(r => out += ((il, ir, r)))
          j += 1
        }
        i += 1
      }
      out.iterator
    }
  }

  /** Similarity JOIN between two corpora by exact n-gram Jaccard: LSH
    * bands generate cross-side candidates, the exact shingle-set Jaccard
    * verifies inside the bucket. The corpus-alignment operator (match a
    * noisy/derived corpus back to its source) — same two-shuffle,
    * zero-join shape as [[ngramJaccardPairs]], with both sides flowing
    * through ONE union pipeline (no separate build/probe passes).
    *
    * @return (left_id, right_id, jaccard) with jaccard >= threshold;
    *         a left row may match many right rows and vice versa.
    */
  def ngramJaccardJoin(left: DataFrame, leftId: String, leftText: Column,
      right: DataFrame, rightId: String, rightText: Column,
      n: Int = 3, threshold: Double = 0.8, k: Int = 64, bands: Int = 16,
      maxBucket: Int = 1000): DataFrame = {
    requireIntegralId(left, leftId)
    requireIntegralId(right, rightId)
    require(k % bands == 0, "bands must divide k")
    val spark = left.sparkSession
    import spark.implicits._
    val dropped = newDropAcc(left)
    val kernel = ngramShingleBands(n, k, bands)
    def side(df: DataFrame, id: String, text: Column, tag: Int) =
      df.select(lit(tag).as("side"), col(id).cast("long").as("id"),
        kernel(text).as("sb"))
    side(left, leftId, leftText, 0)
      .unionByName(side(right, rightId, rightText, 1))
      .select(col("side"), col("id"), col("sb.sig").as("sh"),
        posexplode(col("sb.bands")).as(Seq("band", "key")))
      .select(col("band"), col("key"), col("side"), col("id"), col("sh"))
      .as[(Int, Long, Int, Long, Array[Long])]
      .groupByKey { case (band, key, _, _, _) => (band, key) }
      .flatMapGroups {
        (_: (Int, Long), it: Iterator[(Int, Long, Int, Long, Array[Long])]) =>
          crossBucketPairs(maxBucket, dropped,
            (sa: Array[Long], sb: Array[Long]) => {
              val jac = sortedJaccard(sa, sb)
              if (jac >= threshold) Some(jac) else None
            })(it.map(t => (t._3, t._4, t._5)))
      }
      .toDF("left_id", "right_id", "jaccard")
      .distinct()
  }

  /** Similarity JOIN between two embedding corpora: sign-LSH buckets on
    * both sides, cosine-verified cross-side pairs inside the bucket — the
    * ANN-join form of [[embeddingNearDupPairs]] (align two vector corpora
    * without an all-pairs cross join).
    *
    * @return (left_id, right_id, cosine) with cosine >= threshold.
    */
  def embeddingSimilarityJoin(left: DataFrame, leftId: String,
      right: DataFrame, rightId: String, vecCol: String, dim: Int,
      threshold: Double = 0.95, planes: Int = 8,
      maxBucket: Int = 10000): DataFrame = {
    requireIntegralId(left, leftId)
    requireIntegralId(right, rightId)
    val spark = left.sparkSession
    import spark.implicits._
    val dropped = newDropAcc(left)
    def side(df: DataFrame, id: String, tag: Int) =
      Similarity.SignLsh.withBucket(df, vecCol, dim, planes)
        .select(col("bucket"), lit(tag).as("side"),
          col(id).cast("long").as("id"),
          col(vecCol).cast("array<double>").as("vec"))
        .filter(col("bucket").isNotNull)
    side(left, leftId, 0).unionByName(side(right, rightId, 1))
      .as[(Long, Int, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Int, Long, Array[Double])]) =>
        crossBucketPairs(maxBucket, dropped,
          (a: (Array[Double], Double), b: (Array[Double], Double)) => {
            val cos =
              if (a._2 == 0.0 || b._2 == 0.0) 0.0
              else {
                val va = a._1; val vb = b._1
                var d = 0.0; var p = 0
                val n = math.min(va.length, vb.length)
                while (p < n) { d += va(p) * vb(p); p += 1 }
                d / (a._2 * b._2)
              }
            if (cos >= threshold) Some(cos) else None
          })(it.map { t =>
            val v = t._4
            var s = 0.0; var i = 0
            while (i < v.length) { s += v(i) * v(i); i += 1 }
            (t._2, t._3, (v, math.sqrt(s)))
          })
      }
      .toDF("left_id", "right_id", "cosine")
      .distinct()
  }

  // ------------------------------------------- embedding cosine near-dup

  /** Embedding near-duplicate pairs: cosine >= threshold, candidates from
    * sign-LSH buckets (Similarity.SignLsh), verified inside the bucket —
    * no all-pairs cross join, no self-join (same shape as
    * [[minhashCandidates]]). Cosine matches [[Similarity.cosine]]: double
    * products, left-to-right accumulation, 0 on a zero-norm side.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double = 0.95, planes: Int = 8,
      maxBucket: Int = 10000): DataFrame = {
    requireIntegralId(df, idCol)
    val spark = df.sparkSession
    import spark.implicits._
    val dropped = newDropAcc(df)
    val bucketed = Similarity.SignLsh.withBucket(df, vecCol, dim, planes)
      .select(col("bucket"), col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .filter(col("bucket").isNotNull)
    bucketed.as[(Long, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Long, Array[Double])]) =>
        // norm computed once per ROW at buffer-fill time (payload carries
        // it), not once per pair
        bucketPairs(maxBucket, dropped,
          (a: (Array[Double], Double), b: (Array[Double], Double)) => {
            val cos =
              if (a._2 == 0.0 || b._2 == 0.0) 0.0
              else {
                val va = a._1; val vb = b._1
                var d = 0.0; var p = 0
                val n = math.min(va.length, vb.length)
                while (p < n) { d += va(p) * vb(p); p += 1 }
                d / (a._2 * b._2)
              }
            if (cos >= threshold) Some(cos) else None
          })(it.map { t =>
            val v = t._3
            var s = 0.0; var i = 0
            while (i < v.length) { s += v(i) * v(i); i += 1 }
            (t._2, (v, math.sqrt(s)))
          })
      }
      .toDF("id_a", "id_b", "cosine")
      .distinct()
  }

  // ---------------------------------- repeated spans (ExactSubstr-ish)

  /** Remove REPEATED TOKEN SPANS across (and within) documents — the
    * distributed form of exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499: the ExactSubstr pass that removes 50-token
    * substrings shared between documents). Every `windowTokens`-token
    * window is fingerprinted with a polynomial rolling hash (one pass
    * per document); a fingerprint that occurs more than once in the
    * corpus marks a duplicated span, and every occurrence EXCEPT the
    * first — smallest (doc, position) — is cut from its document.
    * Overlapping cut windows merge, so a long shared paragraph
    * disappears as one span while its first occurrence survives whole;
    * a span repeated WITHIN one document keeps only its first
    * occurrence too. Surviving tokens are reassembled in order,
    * single-space separated (documents with no cut keep their text
    * byte-identical).
    *
    * The reference algorithm builds a corpus-wide suffix array — the
    * part that does not distribute at 100 TB. Fixed-width window
    * fingerprints are the standard scalable surrogate (they find
    * exactly the duplicated substrings of length >= windowTokens): one
    * explode (≈ one row per token), one aggregate for each
    * fingerprint's owner, one join back on the fingerprint, one
    * per-document reassembly — all hash-partitioned, nothing quadratic,
    * no driver state; the collect_list payload is bounded by a single
    * document's cut-window count. A 64-bit fingerprint collision
    * (~2^-64 per pair) could cut a non-duplicate span — the same
    * accepted trade MinHash dedup makes.
    *
    * @return `df` with `textCol` rewritten to the cleaned text.
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame = {
    require(windowTokens >= 2, "windowTokens must be >= 2")
    requireIntegralId(df, idCol)
    val w = windowTokens
    val winUdf = udf { text: String =>
      val toks =
        if (text == null || text.trim.isEmpty) Array.empty[String]
        else text.trim.split("\\s+")
      if (toks.length < w) Array.empty[Long]
      else {
        val th = toks.map(fnv1a)
        val b = 1000000007L
        var pw = 1L
        var i = 1
        while (i < w) { pw *= b; i += 1 } // b^(w-1), wrapping like the hash
        val out = new Array[Long](toks.length - w + 1)
        var h = 0L
        i = 0
        while (i < w) { h = h * b + th(i); i += 1 }
        out(0) = h
        i = w
        while (i < toks.length) {
          h = (h - th(i - w) * pw) * b + th(i)
          out(i - w + 1) = h
          i += 1
        }
        out
      }
    }
    val wins = df
      .select(col(idCol).cast("long").as("id"), winUdf(col(textCol)).as("__h"))
      .select(col("id"), posexplode(col("__h")).as(Seq("pos", "h")))
    val owners = wins.groupBy("h")
      .agg(count(lit(1)).as("n"), min(struct(col("id"), col("pos"))).as("o"))
      .filter(col("n") > 1)
      .select(col("h"), col("o").getField("id").as("oid"),
        col("o").getField("pos").as("opos"))
    val cuts = wins.join(owners, "h")
      .filter(!(col("id") === col("oid") && col("pos") === col("opos")))
      .select(col("id"), col("pos"))
    val spans = cuts.groupBy("id")
      .agg(collect_list(col("pos")).as("__ps"))
      .select(col("id").as(idCol), col("__ps"))
    val cut = udf { (text: String, ps: Seq[Int]) =>
      val toks = text.trim.split("\\s+")
      val drop = new Array[Boolean](toks.length)
      ps.foreach { p =>
        var i = p
        val end = math.min(p + w, toks.length)
        while (i < end) { drop(i) = true; i += 1 }
      }
      val keep = new scala.collection.mutable.ArrayBuffer[String]
      var i = 0
      while (i < toks.length) { if (!drop(i)) keep += toks(i); i += 1 }
      keep.mkString(" ")
    }
    df.join(spans, Seq(idCol), "left")
      .withColumn(textCol, when(col("__ps").isNull, col(textCol))
        .otherwise(cut(col(textCol), col("__ps"))))
      .drop("__ps")
  }

  // ------------------------------------------------------------ SemDeDup

  /** SEMANTIC deduplication over an embedding column — SemDeDup (Abbas
    * et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", arXiv:2303.09540). k-means the
    * vectors, generate candidate pairs ONLY within a cluster, connect
    * pairs with cosine >= `threshold` into duplicate groups, and keep
    * per group the member LEAST similar to its cluster centroid — the
    * paper's keep-the-outlier rule (low-centroid-similarity
    * representatives preserve the most training signal). Ties (exact
    * copies are colinear, so their centroid cosines are bit-equal) and
    * zero-norm members fall back to the smallest id, so the pass is
    * fully deterministic and replayable.
    *
    * 100 TB shape: clustering bounds candidate generation the way LSH
    * bands do for text — one k-means assignment (centroids are a
    * k × dim broadcast), one shuffle into cluster buckets, in-bucket
    * pairing through the bounded [[bucketPairs]] kernel (clusters above
    * `maxCluster` are dropped with a counted warning — pick k so
    * corpus/k stays under the cap; the paper runs k = 110,000 on LAION
    * for exactly this reason), connected components at one job per
    * round, survivor choice as one aggregation. Nothing is all-pairs;
    * nothing collects beyond k × dim.
    *
    * @return the surviving rows of `df` (semantic duplicates removed).
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, kmeansIters: Int = 3, threshold: Double = 0.95,
      maxCluster: Int = 10000): DataFrame = {
    requireIntegralId(df, idCol)
    val spark = df.sparkSession
    import spark.implicits._
    // the assignment is a PURE EXPRESSION of the final centroids —
    // re-derive it per consumer (a zero-shuffle codegen map over the
    // scan) instead of joining the corpus back to a materialized
    // (id, cluster) frame: the old shape paid that corpus-wide shuffle
    // join once per consumer (the centroid-mean agg, the pair kernel,
    // and the keep-rule scoring all read `base`)
    val kcents = Clustering.kmeansCentroids(df, vecCol, idCol, k,
      kmeansIters)
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("__vec"),
      Clustering.assignTo(col(vecCol), kcents).as("cluster"))
    // per-cluster mean vector — what the keep rule scores against (one
    // partial-agg'd shuffle, k × dim collect: bounded by construction)
    val centroids: Map[Int, Array[Double]] = base
      .select(col("cluster"), posexplode(col("__vec")).as(Seq("__p", "__x")))
      .groupBy("cluster", "__p").agg(avg("__x").as("__m"))
      .collect()
      .groupBy(_.getInt(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray).toMap
    val bc = spark.sparkContext.broadcast(centroids)
    val centroidCos = udf { (cluster: Int, vec: Seq[Double]) =>
      val c = bc.value(cluster)
      var d = 0.0
      var i = 0
      val n = math.min(c.length, vec.length)
      while (i < n) { d += vec(i) * c(i); i += 1 }
      var na = 0.0
      i = 0
      while (i < vec.length) { na += vec(i) * vec(i); i += 1 }
      var nc = 0.0
      i = 0
      while (i < c.length) { nc += c(i) * c(i); i += 1 }
      if (na == 0.0 || nc == 0.0) 0.0
      else d / (math.sqrt(na) * math.sqrt(nc))
    }
    val dropped = newDropAcc(df)
    val pairs = base.select(col("cluster"), col("id"), col("__vec"))
      .as[(Int, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (_: Int, it: Iterator[(Int, Long, Array[Double])]) =>
        // same in-bucket cosine kernel as embeddingNearDupPairs: norm
        // once per row at fill time, never a second join
        bucketPairs(maxCluster, dropped,
          (a: (Array[Double], Double), b: (Array[Double], Double)) => {
            val cos =
              if (a._2 == 0.0 || b._2 == 0.0) 0.0
              else {
                val va = a._1; val vb = b._1
                var d = 0.0; var p = 0
                val n = math.min(va.length, vb.length)
                while (p < n) { d += va(p) * vb(p); p += 1 }
                d / (a._2 * b._2)
              }
            if (cos >= threshold) Some(cos) else None
          })(it.map { t =>
            val v = t._3
            var s = 0.0; var i = 0
            while (i < v.length) { s += v(i) * v(i); i += 1 }
            (t._2, (v, math.sqrt(s)))
          })
      }
      .toDF("id_a", "id_b", "cosine")
      .select("id_a", "id_b").distinct()
    val groups = duplicateClusters(pairs)
    // keep-the-outlier: per duplicate group the (centroid-cosine, id)
    // struct minimum — lowest similarity wins, ties to the smallest id.
    // ONE pass: the window min per group marks the keeper in the same
    // shuffle the old groupBy-then-anti-join shape paid, without
    // evaluating `scored` a second time for the join-back.
    val scored = groups.withColumnRenamed("cluster", "grp")
      .join(base, "id")
      .withColumn("__cc", centroidCos(col("cluster"), col("__vec")))
    val wGrp = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    val losers = scored
      .withColumn("__k", min(struct(col("__cc"), col("id"))).over(wGrp))
      .filter(struct(col("__cc"), col("id")) =!= col("__k"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ----------------------------------------------- line-level (CCNet-ish)

  /** Remove LINES that repeat across the corpus — the boilerplate pass of
    * CCNet/C4-style cleaning (nav bars, cookie banners, "subscribe"
    * footers repeat verbatim in thousands of pages while body text does
    * not). A line is boilerplate when it occurs in >= `minDocs` DISTINCT
    * documents; every occurrence is dropped and each document's surviving
    * lines are reassembled in their original order (possibly to an empty
    * string — the caller decides whether to then drop empty docs).
    *
    * Execution shape at 100 TB: explode to (doc, pos, line); one
    * hash-aggregate on the line (map-side partial combine collapses
    * repeats before the shuffle) for the boilerplate set; one shuffle join
    * back on the line; one hash-aggregate on the doc id to reassemble.
    * No driver-side state, no window over the whole corpus. The line-agg
    * payload can be slimmed to a 64-bit `xxhash64(line)` key when line
    * text dominates shuffle width; kept as text here so the equality is
    * collision-free.
    *
    * @return (idCol, textCol) with `textCol` rewritten to the cleaned text.
    */
  def removeDuplicateLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
    val boiler = lines.groupBy("line")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("line"), lit(true).as("__boiler"))
    lines.join(boiler, Seq("line"), "left")
      .groupBy(idCol)
      // boilerplate rows contribute null -> collect_list drops them;
      // array_sort on (pos, line) restores document order
      .agg(array_join(
        transform(
          array_sort(collect_list(
            when(col("__boiler").isNull, struct(col("pos"), col("line"))))),
          x => x.getField("line")),
        "\n").as(textCol))
  }
}
