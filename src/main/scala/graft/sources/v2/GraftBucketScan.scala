package graft.sources.v2

import java.util

import graft.sources.{Merge, Skipping}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, Reducer, ReducibleFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.connector.read.Statistics
import org.apache.spark.sql.graftshim.ParquetReadShim
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, StringType, StructType, TimestampNTZType, TimestampType}

/** STORAGE-PARTITIONED JOIN (the Iceberg SPJ move): a NATIVE DSv2 batch
  * scan that reports the table's on-disk bucket layout as
  * [[KeyGroupedPartitioning]], so joining two graft tables bucketed on
  * the same key with the same bucket count plans with ZERO shuffle —
  * at 100 TB the dominant cost of a fact-fact join is the exchange,
  * and co-bucketed tables already hold matching keys in matching
  * partitions. One [[InputPartition]] per bucket carries its bucket id
  * as the partition key; Spark groups, aligns and (with
  * `spark.sql.sources.v2.bucketing.pushPartValues.enabled`) fills
  * missing buckets, then plans the join exchange-free.
  *
  * Reading rides Spark's OWN parquet reader (via
  * [[ParquetReadShim]]) — codecs, widened-type promotion and row-group
  * filter pushdown identical to the V1 bridge path — vectorized even
  * under live deletion vectors (batches are filtered by a positional
  * selection view) and under column mapping (renames happen at the
  * reader doorway). The session opts in with
  * `spark.graft.bucketedScan=true`; unsupported layouts (foreign key
  * types, missing schema) fall back to the V1 bridge, same results,
  * shuffled join.
  */
class GraftBucketScan(path: String, version: Long, dataSchema: StructType,
    required: StructType, pushed: Array[Filter], keyCols: Seq[String],
    bucketNs: Seq[Int], keySorted: Boolean,
    units0: Seq[(Long, Seq[(String, Long)])],
    dvFiles: Seq[(String, Long)] = Seq.empty,
    colMap: Seq[(String, String)] = Seq.empty)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportStatistics with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  require(keyCols.size == bucketNs.size && keyCols.nonEmpty,
    "one bucket count per key column")

  private val nBuckets: Long = bucketNs.map(_.toLong).product

  // mutated ONLY by [[filter]] (runtime bucket pruning) — partition
  // COUNT and keys stay fixed, file lists shrink
  private var units: Seq[(Long, Seq[(String, Long)])] = units0

  /** Row-major flat bucket id → per-dimension tuple (the partition KEY
    * Spark aligns join sides on; single-key layouts are the 1-tuple).
    */
  private def tupleOf(flat: Long): Seq[Long] = {
    val out = new Array[Long](bucketNs.size)
    var rest = flat
    var i = bucketNs.size - 1
    while (i >= 0) {
      out(i) = rest % bucketNs(i)
      rest /= bucketNs(i)
      i -= 1
    }
    out.toSeq
  }

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String = {
    val fs = pushed.map(_.toString).mkString("[", ", ", "]")
    s"GraftBucketScan path=$path, version=$version, " +
      s"buckets=${units.size}/$nBuckets, dvFiles=${dvFiles.size}, " +
      s"PushedFilters: $fs, ReadSchema: ${required.catalogString}"
  }

  /** Manifest-derived sizes, same as the V1 bridge scan — what lets
    * the optimizer broadcast a small graft table and rate runtime
    * filtering as beneficial.
    */
  override def estimateStatistics(): Statistics = {
    val spark = SparkSession.active
    val bounds = pushed.flatMap(GraftTable.filterToColumn)
      .reduceOption(_ && _)
      .map(Skipping.impliedBounds).getOrElse(Seq.empty)
    val (bytes, rows) =
      Merge.estimateVersionSize(spark, path, version, bounds)
    new Statistics {
      override def sizeInBytes(): util.OptionalLong =
        bytes.map(util.OptionalLong.of).getOrElse(util.OptionalLong.empty)
      override def numRows(): util.OptionalLong =
        rows.map(util.OptionalLong.of).getOrElse(util.OptionalLong.empty)
    }
  }

  /** RUNTIME bucket pruning (the dynamic-partition-pruning move for
    * bucket layouts): a broadcast join's build side delivers the
    * probe keys at execution time as `In(keyCol, values)`; each value
    * hashes to exactly one bucket — the writer's own routing — so
    * every other bucket's files drop from the scan WITHOUT stats, a
    * structural guarantee. At 100 TB this is "join the fact table to
    * a filtered dim and read only the dim keys' buckets". Partition
    * COUNT and partition keys stay fixed (pruned buckets keep an
    * empty file list), so a KeyGroupedPartitioning already reported
    * to the planner stays valid under AQE's re-planning.
    */
  override def filterAttributes(): Array[NamedReference] =
    // every key DIMENSION prunes independently: on a composite grid, a
    // runtime In on k1 alone keeps only the matching b1 slices (all b2
    // cells of them) — the per-dimension hash is the writer's own.
    // ONLY columns in the pruned read schema: Spark's PartitionPruning
    // resolves these refs against the scan OUTPUT and throws (not
    // skips) on a miss, so a projection that drops a key column must
    // drop its pruning claim with it.
    keyCols.filter(k => required.fieldNames.contains(k))
      .map(Expressions.column).toArray

  override def filter(filters: Array[Filter]): Unit = {
    val perDim: Seq[(Int, Seq[Any])] = keyCols.indices.flatMap { i =>
      filters.collectFirst {
        case In(c, vs) if c == keyCols(i) => vs.toSeq
        case EqualTo(c, v) if c == keyCols(i) => Seq(v)
      }.filter(vs => vs.nonEmpty && vs.size <= 4096).map(i -> _)
    }
    if (perDim.isEmpty) return
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    // one local row, no job: evaluate the writer's per-dimension
    // routing for every delivered value
    val exprs = perDim.flatMap { case (i, vs) =>
      val dt = dataSchema(keyCols(i)).dataType
      vs.map(v =>
        pmod(xxhash64(lit(v).cast(dt)), lit(bucketNs(i).toLong)))
    }
    val row = graft.sources.Merge.evalLocal(spark, exprs)
    var off = 0
    val keeps: Seq[(Int, Set[Long])] = perDim.map { case (i, vs) =>
      val ks = vs.indices.filterNot(j => row.isNullAt(off + j))
        .map(j => row.getLong(off + j)).toSet
      off += vs.size
      (i, ks)
    }
    units = units.map { case (b, files) =>
      val t = tupleOf(b)
      if (keeps.forall { case (i, ks) => ks.contains(t(i)) }) (b, files)
      else (b, Seq.empty)
    }
    GraftBucketScan.lastRuntimePrune =
      Some((units.count(_._2.nonEmpty), units.size))
  }

  /** The scan's clustering IS the table's layout: `bucket(n, key)`.
    * Spark resolves the transform against the owning catalog's
    * [[GraftBucketFunction]] and compares both join sides' partition
    * VALUES — never a hash-function assumption, which is what makes
    * declaring a non-Spark hash (xxhash64) sound where lying
    * `HashPartitioning` would not be.
    */
  override def outputPartitioning(): Partitioning =
    // one SINGLE-column transform per key dimension (tuple partition
    // keys): Spark's KeyGroupedPartitioning supports exactly this
    // shape — a multi-column transform is rejected by
    // `supportsExpressions` (one child per transform)
    new KeyGroupedPartitioning(
      keyCols.zip(bucketNs).map { case (k, n) =>
        Expressions.bucket(n, k): org.apache.spark.sql.connector
          .expressions.Expression
      }.toArray, units.size)

  /** KEY-SORTED scan at the compacted steady state: when the manifest
    * records `keySorted` (every write path sorts its bucket files by
    * key; only a clusterBy/zOrder rewrite breaks it) AND each bucket
    * resolves to at most ONE file, every partition streams in key
    * order — so a merge join over two such tables plans with NO Sort
    * on top of the NO Exchange: the entire join is a streaming zipper
    * over pre-sorted storage (Iceberg's sort-order metadata makes the
    * same move). With per-FILE input partitions every split is
    * individually key-sorted, so the claim holds whenever the flag
    * does; when exec-side grouping concatenates a multi-file bucket
    * into one task, Spark itself drops the claim (ordering survives
    * only groups of <= 1 split) and plans the Sorts.
    *
    * With `allowCompatibleTransforms` enabled, a mismatched-count join
    * reduces both sides to the gcd and CONCATENATES the finer side's
    * buckets per reduced key at execution time — after planning
    * consumed the ordering — and a sort-free merge join over that
    * concatenation silently drops rows (Spark's own grouped-partition
    * ordering check runs before the join-time reduction exists). Since
    * r16 the claim is kept whenever [[GraftSpjSortRestore]] is
    * INSTALLED in the session: that rule re-adds partition-local Sorts
    * over exactly the scans whose reduction engaged, so equal-count
    * joins keep the sort-free zipper even with the conf on. A session
    * WITHOUT the graft extensions still withdraws up front (the r15
    * behavior) — a kept claim there would be the row-dropping lie.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val spark = SparkSession.active
    val compatOn =
      spark.conf.get("spark.sql.sources.v2.bucketing" +
        ".allowCompatibleTransforms.enabled", "false") == "true"
    if (keySorted &&
        (!compatOn || GraftSpjSortRestore.installed(spark)))
      // composite grids claim the full key-tuple order (files are
      // sorted by (k1, k2, ...)), so their merge joins zipper too
      keyCols.map(k =>
        Expressions.sort(Expressions.column(k),
          org.apache.spark.sql.connector.expressions.SortDirection
            .ASCENDING)).toArray
    else Array.empty
  }

  /** One input partition PER FILE (Iceberg's split granularity), not
    * per bucket: Spark's exec-side grouping (`HasPartitionKey` +
    * `v2.bucketing.enabled`) reassembles buckets for SPJ, so the plan
    * is identical where it was identical — but (a) a plain scan of a
    * multi-file bucket now parallelizes per file instead of one task
    * per bucket, and (b) `partiallyClusteredDistribution` has real
    * splits to work with: a HOT bucket's files stay separate tasks
    * while the other side's matching partition is replicated — the
    * skew escape an exchange-free plan otherwise lacks (AQE can't
    * split what never shuffles). A fully-pruned bucket emits one
    * EMPTY partition so the partition-VALUE set stays fixed under
    * runtime filtering (the validation re-groups and compares values).
    */
  override def planInputPartitions(): Array[InputPartition] =
    units.flatMap { case (b, files) =>
      val key = tupleOf(b)
      if (files.isEmpty) Seq(GraftBucketInputPartition(key, Seq.empty))
      else files.map(f => GraftBucketInputPartition(key, Seq(f)))
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    // COLUMN MAPPING: files store PHYSICAL names while this scan (and
    // everything above it) speaks LOGICAL ones — rename the schemas
    // and the pushed filters at the reader doorway. Rows are
    // POSITIONAL, so field order (preserved by the rename) is the only
    // thing that matters above the reader; nothing is renamed back.
    val l2p = colMap.toMap
    val dataSchemaP =
      if (l2p.isEmpty) dataSchema
      else StructType(dataSchema.fields.map(f =>
        f.copy(name = l2p.getOrElse(f.name, f.name))))
    val requiredP =
      if (l2p.isEmpty) required
      else StructType(required.fields.map(f =>
        f.copy(name = l2p.getOrElse(f.name, f.name))))
    val pushedP =
      if (l2p.isEmpty) pushed.toSeq
      else pushed.toSeq.flatMap(GraftBucketScan.renameFilter(_, l2p))
    if (dvFiles.isEmpty) {
      val rowFunc = ParquetReadShim.buildReader(
        spark, dataSchemaP, requiredP, pushedP)
      // vectorized whenever the schema batches (atomic types): DSv2
      // columnar reads keep this scan's throughput at parity with
      // Spark's own parquet scans; row mode is the complex-type fallback
      val batchFunc = ParquetReadShim.buildColumnarReader(
        spark, dataSchemaP, requiredP, pushedP)
      new GraftBucketReaderFactory(rowFunc, batchFunc)
    } else {
      // DELETION VECTORS through the native scan — merge-on-read
      // WITHOUT surrendering the SPJ partitioning OR vectorization (a
      // CDC-maintained fact table is DV-bearing at steady state,
      // exactly where both matter). The data reader also produces
      // Spark's parquet ROW-INDEX column (exact under row-group
      // skipping); each partition decodes the deleted-row-count-sized
      // DV sidecars once per executor into sorted position arrays, and
      // the reader subtracts them while streaming: columnar batches
      // are filtered with a per-batch SELECTION (deletion-free batches
      // pass through untouched minus the index column), rows with a
      // monotone cursor probe. Order is preserved either way, so the
      // key-sorted merge-join contract survives DV deletes.
      val rowFunc = ParquetReadShim.buildReaderWithRowIndex(
        spark, dataSchemaP, requiredP, pushedP)
      val batchFunc = ParquetReadShim.buildColumnarReaderWithRowIndex(
        spark, dataSchemaP, requiredP, pushedP)
      val dvFunc = ParquetReadShim.buildReader(
        spark, GraftBucketScan.DvSchema, GraftBucketScan.DvSchema,
        Seq.empty)
      new GraftBucketDvReaderFactory(rowFunc, batchFunc, dvFunc, dvFiles,
        required, new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration))
    }
  }
}

object GraftBucketScan {
  /** Test seam: (buckets with files remaining, buckets total) of the
    * most recent runtime-filter prune.
    */
  @volatile var lastRuntimePrune: Option[(Int, Int)] = None

  /** The deletion-vector sidecar read schema — the SUPERSET of
    * [[Merge.deleteWhereDV]]'s two formats (v1 per-row `(file, pos)`,
    * v2 per-file bitmap `(file, n, dv)`): parquet null-fills the
    * absent optional columns, so a v2 row reads with `pos` null and a
    * v1 row with `dv` null, and mixed manifests need no tagging.
    * `file` is the data file's `_metadata.file_path`; positions are
    * `_metadata.row_index` — per row in v1, delta-varint packed in
    * the v2 blob ([[graft.sources.DvCodec]]).
    */
  val DvSchema: StructType = graft.sources.DvCodec.SupersetSchema

  /** Rename a pushed filter's attribute references logical→physical
    * for the parquet reader. None (drop) for a shape we don't know how
    * to rename — filters here are advisory row-group pruning only (the
    * residual Filter node above the scan re-applies every predicate),
    * so dropping is always sound.
    */
  def renameFilter(f: Filter, m: Map[String, String]): Option[Filter] = {
    import org.apache.spark.sql.sources._
    def r(a: String): String = m.getOrElse(a, a)
    f match {
      case AlwaysTrue() | AlwaysFalse()    => Some(f)
      case EqualTo(a, v)                   => Some(EqualTo(r(a), v))
      case EqualNullSafe(a, v)             => Some(EqualNullSafe(r(a), v))
      case GreaterThan(a, v)               => Some(GreaterThan(r(a), v))
      case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(r(a), v))
      case LessThan(a, v)                  => Some(LessThan(r(a), v))
      case LessThanOrEqual(a, v)           => Some(LessThanOrEqual(r(a), v))
      case In(a, vs)                       => Some(In(r(a), vs))
      case IsNull(a)                       => Some(IsNull(r(a)))
      case IsNotNull(a)                    => Some(IsNotNull(r(a)))
      case StringStartsWith(a, v)     => Some(StringStartsWith(r(a), v))
      case StringEndsWith(a, v)            => Some(StringEndsWith(r(a), v))
      case StringContains(a, v)            => Some(StringContains(r(a), v))
      case And(l, rt) =>
        for (lf <- renameFilter(l, m); rf <- renameFilter(rt, m))
          yield And(lf, rf)
      case Or(l, rt) =>
        for (lf <- renameFilter(l, m); rf <- renameFilter(rt, m))
          yield Or(lf, rf)
      case Not(c) => renameFilter(c, m).map(Not(_))
      case _ => None
    }
  }
}

/** One bucket's files; the per-dimension bucket id tuple is the
  * KeyGroupedPartitioning partition key Spark aligns join sides on
  * (single-key layouts are the 1-tuple).
  */
case class GraftBucketInputPartition(key: Seq[Long],
    files: Seq[(String, Long)])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(key: _*)
}

class GraftBucketReaderFactory(
    rowFunc: org.apache.spark.sql.execution.datasources.PartitionedFile
      => Iterator[InternalRow],
    batchFunc: Option[
      org.apache.spark.sql.execution.datasources.PartitionedFile
        => Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]])
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    batchFunc.isDefined

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftBucketInputPartition]
    new PartitionReader[InternalRow] {
      private val it = p.files.iterator.flatMap { case (f, len) =>
        rowFunc(ParquetReadShim.partitionedFile(f, len))
      }
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val f = batchFunc.getOrElse(
      throw new UnsupportedOperationException("row-only schema"))
    val p = partition.asInstanceOf[GraftBucketInputPartition]
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private val it = p.files.iterator.flatMap { case (path, len) =>
        f(ParquetReadShim.partitionedFile(path, len))
      }
      private var batch: org.apache.spark.sql.vectorized.ColumnarBatch = _
      override def next(): Boolean =
        if (it.hasNext) { batch = it.next(); true } else false
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
        batch
      override def close(): Unit = ()
    }
  }
}

/** The DELETION-VECTOR variant of the bucket reader: subtracts the
  * version's live DV (file, pos) rows while streaming — VECTORIZED
  * whenever the schema batches (the CDC steady state keeps columnar
  * throughput), row mode as the complex-type fallback. Ordering is
  * preserved on both paths (a positional filter never reorders), so
  * the key-sorted merge-join contract survives DV deletes untouched.
  *
  * Per-executor cost: one decode of the DV sidecars
  * (deleted-row-count sized — [[graft.sources.Merge.compactVersion]]
  * folds them back to zero) into SORTED `long[]` position arrays —
  * 8 bytes per deleted row, not a boxed hash set — then per data row
  * a monotone-cursor probe (row indexes only move forward within a
  * file, so the whole subtraction is one merge pass, amortized O(1)
  * per row). Columnar batches with no deletions in range pass through
  * untouched (minus the index column); batches with deletions get a
  * selection-remapped view, never a copy. Both path spellings are
  * normalized through [[org.apache.hadoop.fs.Path]] — the DV writer
  * recorded `_metadata.file_path`, the planner recorded
  * `fs.makeQualified`.
  */
class GraftBucketDvReaderFactory(
    rowFunc: org.apache.spark.sql.execution.datasources.PartitionedFile
      => Iterator[InternalRow],
    batchFunc: Option[
      org.apache.spark.sql.execution.datasources.PartitionedFile
        => Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]],
    dvFunc: org.apache.spark.sql.execution.datasources.PartitionedFile
      => Iterator[InternalRow],
    dvFiles: Seq[(String, Long)], required: StructType,
    hconf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {

  private def norm(s: String): String =
    new org.apache.hadoop.fs.Path(s).toString

  /** ROW-GROUP-LEVEL DV SKIPPING (r17): the splits to actually read
    * for one data file under its sorted skip array. When the dead
    * positions COVER a whole row group (a clustered delete — exactly
    * what a key-range compliance delete or a CDC re-load produces),
    * that group's bytes are never decoded: the footer's block ranges
    * and the sorted positions are both known, so fully-dead groups
    * are sliced AROUND (parquet's midpoint split contract) and
    * everything else reads as one run-merged slice each. Engaged only
    * past [[GraftBucketDvReaderFactory.rowGroupSkipMinPositions]]
    * dead rows in the file — below that no group can be covered, so
    * the footer read would be pure overhead. Row indexes stay
    * file-global under slicing (the generator derives them from the
    * footer), so the monotone subtraction cursor is untouched.
    */
  private def liveSlices(f: String, len: Long, dead: Array[Long])
      : Seq[org.apache.spark.sql.execution.datasources.PartitionedFile] = {
    if (dead == null ||
        dead.length < GraftBucketDvReaderFactory.rowGroupSkipMinPositions)
      return Seq(ParquetReadShim.partitionedFile(f, len))
    val blocks =
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), hconf.value)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          r.getFooter.getBlocks.asScala.toSeq
            .map(b => (b.getRowCount, b.getStartingPos,
              b.getCompressedSize))
        } finally r.close()
      } catch { // footer trouble: fall back to the full-file read —
        // skipping is an optimization, never a correctness dependency
        case _: Exception =>
          return Seq(ParquetReadShim.partitionedFile(f, len))
      }
    // per block: first file-global row index + whether every row dies
    def lower(x: Long): Int = {
      var lo = 0; var hi = dead.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (dead(mid) < x) lo = mid + 1 else hi = mid
      }
      lo
    }
    var firstRow = 0L
    val keep = Seq.newBuilder[(Long, Long)] // (byteStart, byteEnd)
    var skipped = 0
    blocks.foreach { case (rows, bStart, bSize) =>
      val deadIn = lower(firstRow + rows) - lower(firstRow)
      if (deadIn == rows) skipped += 1
      else keep += ((bStart, bStart + bSize))
      firstRow += rows
    }
    if (skipped == 0)
      return Seq(ParquetReadShim.partitionedFile(f, len))
    GraftBucketDvReaderFactory.skippedRowGroups.addAndGet(skipped)
    // merge adjacent kept ranges into maximal runs: an excluded
    // block's midpoint lies strictly outside every merged range
    val merged = keep.result().foldLeft(
      List.empty[(Long, Long)]) { case (acc, (s, e)) =>
      acc match {
        case (ps, pe) :: tail if s <= pe => (ps, math.max(pe, e)) :: tail
        case _ => (s, e) :: acc
      }
    }.reverse
    merged.map { case (s, e) =>
      ParquetReadShim.partitionedFileSlice(f, s, e - s, len)
    }
  }

  /** This executor's decoded skip sets, keyed by normalized file —
    * sorted position arrays. The sidecars decode ONCE PER EXECUTOR
    * (sidecar files are immutable — a later delete commits NEW files,
    * so the sorted path list is a sound cache key); every other split
    * on the executor takes a map lookup instead of re-reading the
    * deleted-row-count-sized sidecars. A runtime-pruned EMPTY
    * partition touches nothing at all.
    */
  private def skipSets(p: GraftBucketInputPartition)
      : Map[String, Array[Long]] =
    if (p.files.isEmpty) Map.empty
    else GraftBucketDvReaderFactory.decodedDv(
      dvFiles.map(_._1).sorted.mkString("\n"), {
        val m = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
        dvFiles.foreach { case (df, len) =>
          dvFunc(ParquetReadShim.partitionedFile(df, len))
            .foreach { r =>
              val b = m.getOrElseUpdate(
                norm(r.getUTF8String(0).toString),
                new scala.collection.mutable.ArrayBuilder.ofLong())
              // v2 bitmap row: the blob IS the file's sorted positions
              // (decoded straight into the skip array); v1 row: one
              // position. Superset schema: file=0, pos=1, n=2, dv=3.
              if (!r.isNullAt(3))
                b.addAll(graft.sources.DvCodec.decode(r.getBinary(3)))
              else b.addOne(r.getLong(1))
            }
        }
        m.map { case (f, b) =>
          val a = b.result()
          java.util.Arrays.sort(a)
          GraftBucketDvReaderFactory.decodedPositions.addAndGet(a.length)
          f -> a
        }.toMap
      })

  override def supportColumnarReads(partition: InputPartition): Boolean =
    batchFunc.isDefined

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftBucketInputPartition]
    new PartitionReader[InternalRow] {
      private val skip = skipSets(p)
      // drop the trailing row-index column before rows leave the reader
      private val project =
        org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
          required.fields.zipWithIndex.map { case (f, i) =>
            org.apache.spark.sql.catalyst.expressions
              .BoundReference(i, f.dataType, nullable = true)
              : org.apache.spark.sql.catalyst.expressions.Expression
          }.toIndexedSeq)
      private val idxOrdinal = required.length
      private val it: Iterator[InternalRow] =
        p.files.iterator.flatMap { case (f, len) =>
          val dead = skip.getOrElse(norm(f), null)
          val rows = liveSlices(f, len, dead).iterator.flatMap(rowFunc)
          val live =
            if (dead == null) rows
            else {
              // row indexes are monotone within a file (row-group
              // skipping only jumps FORWARD), so one advancing cursor
              // replaces a per-row hash probe
              var cursor = 0
              rows.filter { r =>
                val pos = r.getLong(idxOrdinal)
                while (cursor < dead.length && dead(cursor) < pos)
                  cursor += 1
                !(cursor < dead.length && dead(cursor) == pos)
              }
            }
          live.map(project)
        }
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
    val bf = batchFunc.getOrElse(
      throw new UnsupportedOperationException("row-only schema"))
    val p = partition.asInstanceOf[GraftBucketInputPartition]
    new PartitionReader[ColumnarBatch] {
      private val skip = skipSets(p)
      private val nOut = required.length // index column is the extra last
      private def dataCols(b: ColumnarBatch): Array[ColumnVector] =
        Array.tabulate(nOut)(b.column)
      private val it: Iterator[ColumnarBatch] =
        p.files.iterator.flatMap { case (f, len) =>
          val dead = skip.getOrElse(norm(f), null)
          val batches = liveSlices(f, len, dead).iterator.flatMap(bf)
          if (dead == null)
            batches.map(b => new ColumnarBatch(dataCols(b), b.numRows()))
          else {
            var cursor = 0 // monotone across the file's batches
            batches.map { b =>
              val idxVec = b.column(nOut)
              val total = b.numRows()
              val sel = new Array[Int](total)
              var i = 0
              var k = 0
              while (i < total) {
                val pos = idxVec.getLong(i)
                while (cursor < dead.length && dead(cursor) < pos)
                  cursor += 1
                if (!(cursor < dead.length && dead(cursor) == pos)) {
                  sel(k) = i; k += 1
                }
                i += 1
              }
              if (k == total) // nothing deleted in this batch's range
                new ColumnarBatch(dataCols(b), total)
              else
                new ColumnarBatch(dataCols(b).map(v =>
                  new GraftSelectedColumnVector(v, sel)
                    : ColumnVector), k)
            }
          }
        }
      private var batch: ColumnarBatch = _
      override def next(): Boolean =
        if (it.hasNext) { batch = it.next(); true } else false
      override def get(): ColumnarBatch = batch
      override def close(): Unit = ()
    }
  }
}

/** A SELECTION VIEW over a column vector: row `i` of this vector is row
  * `sel(i)` of the base — how a deletion-vector mask filters a
  * [[org.apache.spark.sql.vectorized.ColumnarBatch]] without copying
  * any values or surrendering vectorized execution (the consumer's
  * codegen reads through the same ColumnVector interface, one extra
  * array indirection per access). The base vectors stay owned and
  * recycled by the underlying file reader, so `close()` must not
  * forward. Null statistics over-approximate from the base (safe: a
  * consumer may take the has-nulls path for a selection that dropped
  * every null, never the reverse).
  */
private[v2] class GraftSelectedColumnVector(
    base: org.apache.spark.sql.vectorized.ColumnVector, sel: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = base.hasNull
  override def numNulls: Int = base.numNulls
  override def isNullAt(i: Int): Boolean = base.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(sel(i))
  override def getByte(i: Int): Byte = base.getByte(sel(i))
  override def getShort(i: Int): Short = base.getShort(sel(i))
  override def getInt(i: Int): Int = base.getInt(sel(i))
  override def getLong(i: Int): Long = base.getLong(sel(i))
  override def getFloat(i: Int): Float = base.getFloat(sel(i))
  override def getDouble(i: Int): Double = base.getDouble(sel(i))
  override def getArray(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(sel(i))
  override def getMap(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarMap =
    base.getMap(sel(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    base.getDecimal(sel(i), precision, scale)
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String =
    base.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(sel(i))
  override def getInterval(i: Int)
      : org.apache.spark.unsafe.types.CalendarInterval =
    base.getInterval(sel(i))
  // struct fields read through getChild(ordinal).getX(TOP-LEVEL row id),
  // so children must carry the SAME selection
  override def getChild(ordinal: Int)
      : org.apache.spark.sql.vectorized.ColumnVector =
    new GraftSelectedColumnVector(base.getChild(ordinal), sel)
}

object GraftBucketDvReaderFactory {
  /** Executor-local decode-once cache for DV sidecar sets, soft-
    * referenced so memory pressure reclaims it (the decoded map is
    * deleted-row-count sized — the same order as the V1 bridge's DV
    * broadcast). Keyed by the sorted sidecar path list: sidecar files
    * are immutable, a new delete commits NEW files, so a key can
    * never alias two different delete states. Tiny bounded map —
    * cleared wholesale past 8 distinct keys (a task set reads one or
    * two versions at a time).
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.SoftReference[Map[String, Array[Long]]]]()

  /** Test seam: how many times a sidecar set was actually decoded.
    * Atomic — concurrent task threads decode in parallel, and a lost
    * `+= 1` would make the once-per-executor assertion flaky.
    */
  val decodes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test seam: total positions materialized by decodes — the decoded
    * representation is 8 bytes per deleted row (sorted `long[]`), so
    * this measures the per-executor allocation bound directly.
    */
  val decodedPositions = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Test seam: row groups whose decode was skipped entirely because
    * the deletion vector covers every one of their rows.
    */
  val skippedRowGroups = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Don't read footers for files with fewer dead rows than this — no
    * row group could be covered (default parquet groups hold far more
    * rows), so the footer read would be pure overhead. Tests lower it
    * alongside a small parquet.block.size.
    */
  @volatile var rowGroupSkipMinPositions: Int = 1024

  def decodedDv(key: String, load: => Map[String, Array[Long]])
      : Map[String, Array[Long]] = {
    val ref = cache.get(key)
    val hit = if (ref != null) ref.get() else null
    if (hit != null) return hit
    val v = load
    decodes.incrementAndGet()
    if (cache.size > 8) cache.clear()
    cache.put(key, new java.lang.ref.SoftReference(v))
    v
  }
}

/** The V2 function the bucket transform resolves to — REQUIRED for SPJ:
  * Spark's `V2ScanPartitioningAndOrdering` looks `bucket` up in the
  * table's owning [[org.apache.spark.sql.connector.catalog.FunctionCatalog]]
  * and compares both sides by `canonicalName`, so two graft tables
  * (even from two catalog instances) with the same key type and bucket
  * count are provably co-partitioned. `produceResult` computes the SAME
  * routing the writer uses — `pmod(xxhash64(key), n)` with xxhash64's
  * seed 42 — so partition-value push-down scenarios that re-derive keys
  * stay exact.
  */
object GraftBucketFunction extends UnboundFunction {

  override def name(): String = "bucket"

  override def description(): String =
    "bucket(nBuckets, key): the graft layout routing — " +
      "pmod(xxhash64(key), nBuckets)"

  /** Key types whose xxhash64 routing [[bind]] can re-derive exactly:
    * the int-backed (INT, DATE), the long-backed (BIGINT, TIMESTAMP,
    * TIMESTAMP_NTZ) and default-collation STRING. Tables keyed on
    * anything else never build the native scan
    * ([[Merge.bucketScanUnits]] gates on this same set) and read
    * through the shuffled V1 bridge.
    */
  val supportedKeyTypes: Set[DataType] = Merge.spjKeyTypes

  override def bind(inputType: StructType): BoundFunction = {
    // a composite (grid) layout presents one single-column transform
    // per dimension, so bind always sees (nBuckets INT, key)
    require(inputType.fields.length == 2,
      s"bucket takes (nBuckets INT, key), got ${inputType.catalogString}")
    val keyType = inputType.fields(1).dataType
    // UnsupportedOperationException is bind's DOCUMENTED failure mode —
    // the only one V2ExpressionUtils.loadV2FunctionOpt swallows — so an
    // unsupported key type degrades to the shuffled plan instead of
    // failing the query at planning
    if (!supportedKeyTypes.contains(keyType))
      throw new UnsupportedOperationException(
        s"bucket key must be BIGINT, INT, STRING, DATE, TIMESTAMP or " +
        s"TIMESTAMP_NTZ for the native bucket scan, got " +
        keyType.simpleString)
    new GraftBoundBucket(keyType)
  }

  /** The bound bucket function. Also a [[ReducibleFunction]] (Spark's
    * SPARK-47094 compatible-transforms hook): a 64-bucket dim can join
    * a 4096-bucket fact WITHOUT a full shuffle — both sides reduce
    * their bucket ids to the counts' gcd (`id % gcd`, exact because
    * `pmod(h, n) % d == pmod(h, d)` whenever `d | n`), Spark groups the
    * finer side's partitions per reduced key, and the join plans
    * exchange-free at gcd granularity. Reduction is offered only
    * against the SAME canonical function (same key type — the xxhash64
    * of an int and a long differ) and only when the gcd keeps more
    * than one partition (reducing coprime counts to ONE partition
    * would serialize the join; declining falls back to the ordinary
    * shuffle). Session opt-in:
    * `spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled`.
    */
  final class GraftBoundBucket(keyType: DataType)
      extends ScalarFunction[java.lang.Long]
      with ReducibleFunction[java.lang.Long, java.lang.Long] {
      override def inputTypes(): Array[DataType] =
        Array(IntegerType, keyType)
      override def resultType(): DataType = LongType
      override def name(): String = "bucket"
      // the key TYPE is part of the layout (xxhash64 of an int and of
      // the same value as a long differ), so it is part of the
      // canonical identity too — an int-keyed and a long-keyed table
      // must never be declared co-partitioned
      override def canonicalName(): String =
        s"graft.bucket(${keyType.catalogString})"
      override def produceResult(input: InternalRow): java.lang.Long = {
        if (input.isNullAt(1)) return null
        val n = input.getInt(0).toLong
        // internal representations: DATE is the int day count,
        // TIMESTAMP/TIMESTAMP_NTZ the long micros — xxhash64 hashes the
        // internal form, exactly as the writer's routing expression did
        val h = keyType match {
          case LongType | TimestampType | TimestampNTZType =>
            org.apache.spark.sql.catalyst.expressions.XXH64
              .hashLong(input.getLong(1), 42L)
          case IntegerType | DateType =>
            org.apache.spark.sql.catalyst.expressions.XXH64
              .hashInt(input.getInt(1), 42L)
          case StringType =>
            val s = input.getUTF8String(1)
            org.apache.spark.sql.catalyst.expressions.XXH64
              .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
                s.numBytes, 42L)
          case _ => throw new IllegalStateException("unreachable")
        }
        ((h % n) + n) % n
      }

      /** Reduce THIS side's bucket ids toward compatibility with the
        * other side: both sides land at `gcd(thisN, otherN)` buckets.
        * `null` = this side needs no reduction (its count IS the gcd)
        * or no reduction is offered (foreign function, different key
        * type, or a gcd of 1).
        */
      override def reducer(thisNumBuckets: Int,
          otherFunction: ReducibleFunction[_, _], otherNumBuckets: Int)
          : Reducer[java.lang.Long, java.lang.Long] =
        otherFunction match {
          case o: GraftBoundBucket
              if o.canonicalName() == canonicalName() &&
                thisNumBuckets > 0 && otherNumBuckets > 0 =>
            val g = java.math.BigInteger.valueOf(thisNumBuckets)
              .gcd(java.math.BigInteger.valueOf(otherNumBuckets))
              .intValueExact()
            if (g <= 1 || g == thisNumBuckets) null
            else GraftBucketReducer(g)
          case _ => null
        }
    }

  /** `pmod(h, n) % g == pmod(h, g)` when `g | n` — the modular fact
    * that makes coarser bucket ids derivable from finer ones.
    */
  private final case class GraftBucketReducer(g: Int)
      extends Reducer[java.lang.Long, java.lang.Long] {
    override def reduce(bucket: java.lang.Long): java.lang.Long =
      bucket % g
  }
}
