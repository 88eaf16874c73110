package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MANIFEST-LEVEL data skipping: per-file min/max column statistics in a
  * sidecar index, consulted BEFORE Spark ever lists or opens a file.
  *
  * Parquet footers already carry row-group min/max, but at 100 TB the
  * footer is too late: the driver has listed a million files and
  * scheduled a task per file before the first footer is read. The fix —
  * the core idea of Delta/Iceberg table formats — is to hoist file-level
  * stats into table metadata so planning touches ONE small index instead
  * of N footers. Here the index is a `_graft_stats/stats.json` sidecar
  * written at cluster time:
  *
  *   - [[writeIndexed]] lays the data out range-clustered on the stats
  *     columns (each file owns a tight range — [[Tables.writeClustered]])
  *     and records every file's min/max per indexed column in one
  *     driver-written JSON (size ∝ files × columns, not rows);
  *   - [[readSkipping]] evaluates interval bounds against the index,
  *     passes ONLY the surviving files to `spark.read.parquet`, and
  *     applies the bounds as a residual filter — so the result is
  *     identical to filtering the full table, while the scan (and the
  *     file listing itself) is proportional to the selected range.
  *
  * Pruning is CONSERVATIVE: a file is skipped only when its recorded
  * [min, max] provably cannot satisfy every bound (interval disjoint), or
  * when the bound column is entirely null in the file (interval bounds
  * never match null). A column with no recorded stats never prunes.
  *
  * Values are serialized by type (integrals as exact decimal strings,
  * floating point via `Double.toString` round-trip, timestamps as epoch
  * micros, dates as epoch days) so comparison after re-parse is exact —
  * no lossy text round-trip can over-prune.
  */
object Skipping {

  /** Inclusive interval bound on one column; `None` = unbounded on that
    * side. Timestamp columns accept `java.sql.Timestamp` or a
    * `"yyyy-MM-dd[ HH:mm:ss]"` string; date columns `java.sql.Date` or
    * `"yyyy-MM-dd"`; numerics any `Number`; strings `String`.
    */
  final case class Bound(column: String, lower: Option[Any],
      upper: Option[Any],
      // the EXACT value set when the predicate is a point or point
      // set (equality, IN-list, equality-OR chains): lets the bucket
      // hash and the Bloom probe check each value individually where
      // the [lower, upper] hull would keep everything between them
      points: Option[Seq[Any]] = None)

  /** The bound's exact value set, if it has one: explicit `points`,
    * or the degenerate single-point interval.
    */
  private[sources] def pointsOf(b: Bound): Option[Seq[Any]] =
    b.points.orElse((b.lower, b.upper) match {
      case (Some(lo), Some(hi)) if lo == hi => Some(Seq(lo))
      case _ => None
    })

  private[sources] final case class FileStats(file: String, col: String,
      min: Option[String], max: Option[String],
      // the file's ROW COUNT, recorded since r10 alongside the bounds
      // (the same aggregate computes both); -1 on entries written
      // before then. Lets COUNT(*) and LIMIT plan from the manifest.
      rows: Long = -1L,
      // base64 of a serialized per-file Bloom filter over
      // xxhash64(column) — recorded for `bloom:c` stats columns, under
      // the entry name `bloom:c` so the interval logic never reads it.
      // Lets EQUALITY predicates prune files on high-cardinality
      // unsorted columns whose [min, max] spans everything.
      bloom: Option[String] = None,
      // the column's NULL count in this file (-1 = recorded before
      // r16) and, for integral columns, its EXACT sum as a decimal
      // string (None = unknown or non-integral). Together they answer
      // COUNT(col)/SUM(col) from the manifest with zero data I/O.
      nulls: Long = -1L,
      sum: Option[String] = None)

  /** `statsCols` entries are either plain column names (per-file
    * min/max interval stats), `bloom:col` (a per-file Bloom filter
    * for point-lookup pruning — the Delta bloom-filter-index idea in
    * the manifest), or `bloomx:col` (the same filter EXTERNALIZED to
    * one sidecar file per data file — see below). One column may
    * appear in several forms.
    *
    * WHY `bloomx`: an inline filter costs ~12 KB per file·column of
    * MANIFEST — at a million files that is ~12 GB of metadata
    * rewritten shard-granularly on every commit and parsed by every
    * planner. The external layout stores only an `@`-prefixed
    * sidecar REF in the manifest entry (bytes per file), keeps the
    * data under `_graft_bloom/`, and the planner reads a candidate
    * file's filter LAZILY — only for files that survived every other
    * prune, only under a point bound on that column, driver-cached.
    * Trade: one tiny extra read per (file, probe) at plan time vs.
    * manifest size — the right side of the trade past ~10⁴ files.
    */
  private[sources] val BloomPrefix = "bloom:"
  private[sources] val BloomxPrefix = "bloomx:"
  private[sources] def isBloomSpec(c: String): Boolean =
    c.startsWith(BloomPrefix) || c.startsWith(BloomxPrefix)
  private[sources] def isExternalBloomSpec(c: String): Boolean =
    c.startsWith(BloomxPrefix)
  private[sources] def bloomBase(c: String): String =
    c.stripPrefix(BloomPrefix).stripPrefix(BloomxPrefix)

  /** Marks a [[FileStats.bloom]] value as a SIDECAR REF (root-relative
    * path) instead of an inline base64 blob.
    */
  private[sources] val BloomRefMark = "@"
  private[sources] def isBloomRef(v: String): Boolean =
    v.startsWith(BloomRefMark)

  /** `statsx:col` — the bloomx externalization applied to RANGE/NULL
    * stats (r18): the column's per-file min/max/nulls/sum entries move
    * to ONE sidecar per data file (all statsx columns together) and the
    * manifest keeps a single placeholder entry per file — name
    * [[StatsxEntry]], ref in the `bloom` field (so vacuum liveness and
    * the manifest round-trip come for free), `rows` preserved so
    * COUNT(*) still plans from the manifest. Min/max stats are ~100 B
    * per file·column — 100× smaller than blooms but still O(files ×
    * cols) rewritten shard-granularly per commit; at a million files ×
    * tens of columns that is GBs of manifest, and the same lazy trade
    * applies: the planner reads a candidate's sidecar only when a bound
    * actually references a statsx column, only for files that survived
    * every structural prune, decode-once cached. Manifest-answered
    * aggregates (MIN/MAX/COUNT(col)/SUM(col)) resolve sidecars too —
    * one-shot O(files) cached reads on those driver-side paths — so
    * externalizing costs pruning laziness, not pushdown.
    */
  private[sources] val StatsxPrefix = "statsx:"
  private[sources] def isStatsxSpec(c: String): Boolean =
    c.startsWith(StatsxPrefix)
  /** The per-file placeholder entry's column name. `@`-prefixed like
    * [[BloomRefMark]] refs so it can NEVER collide with a real data
    * column's stats entry: a data column literally named "statsx" keeps
    * its plain entry, and stats specs reject `@`-prefixed columns
    * outright (the name is reserved) — without this, the placeholder's
    * min/max=None would read as "all-null column" under a bound on that
    * column and wrongly prune files.
    */
  private[sources] val StatsxEntry = "@statsx"

  /** `ndv:col` — per-file DISTINCT-COUNT sketches in the manifest (the
    * Iceberg-puffin NDV idea applied to the version log): each commit
    * records a DataSketches HLL sketch of the column per file it
    * writes, untouched files' sketches carry over like every other
    * stats entry, and [[Merge.versionColumnNdv]] answers approximate
    * `COUNT(DISTINCT col)` by UNIONING the live files' sketches
    * driver-side — no data file opened at any table size, and a DML
    * commit pays sketch cost only for the files it rewrites. lgK=14:
    * ~1 KB compact sketch per file·column at RSE ≈ 0.81 % — a >3 %
    * deviation is a >3.7-sigma event, and the estimate is
    * DETERMINISTIC for a given value set (fixed hash, order-free
    * union), so gates can pin an error-contract boolean.
    */
  private[sources] val NdvPrefix = "ndv:"
  private[sources] def isNdvSpec(c: String): Boolean =
    c.startsWith(NdvPrefix)
  private[sources] val NdvLgK = 14

  /** `ndvx:col` — the bloomx externalization applied to NDV sketches:
    * the ~1 KB blob moves to a content-private sidecar and the
    * manifest entry keeps only the `@` ref (~40 B) — the production
    * posture past ~100k files, where inline `ndv:` would put a GB of
    * sketches in the version log at a million files. Entries keep the
    * `ndv:col` NAME either way (like bloomx's `bloom:col`), so the
    * union/query path is spec-form-agnostic; [[Merge.versionColumnNdv]]
    * resolves refs through the same decode-once sidecar cache the
    * bloomx probe path uses.
    */
  private[sources] val NdvxPrefix = "ndvx:"
  private[sources] def isNdvxSpec(c: String): Boolean =
    c.startsWith(NdvxPrefix)
  private[sources] def ndvBase(c: String): String =
    c.stripPrefix(NdvPrefix).stripPrefix(NdvxPrefix)

  /** Pre-r19 manifests wrote the placeholder under the BARE name
    * "statsx". Readers normalize those entries via
    * [[isStatsxPlaceholder]] so old tables keep sidecar pruning and
    * manifest-answered aggregates after the `@statsx` rename.
    */
  private[sources] val LegacyStatsxEntry = "statsx"

  /** Placeholder test that also recognizes the legacy name by SHAPE: a
    * sidecar ref in the bloom field with no min/max. Unambiguous — a
    * real data column named "statsx" has min/max (or an inline base64
    * bloom, whose alphabet has no `@`), and a bloom spec on it writes
    * its entry as `bloom:statsx`, never bare.
    */
  private[sources] def isStatsxPlaceholder(e: FileStats): Boolean =
    (e.col == StatsxEntry ||
      (e.col == LegacyStatsxEntry && e.min.isEmpty && e.max.isEmpty)) &&
      e.bloom.exists(isBloomRef)

  /** Test seam: statsx sidecar files actually read (cache misses). */
  val statsSidecarReads = new java.util.concurrent.atomic.AtomicLong(0L)

  private val statsSidecarCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[FileStats]]()

  private def enc64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def dec64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** One line per column entry; every variable-width field base64'd so
    * stat strings (truncated raw values — any bytes) never collide with
    * the separators.
    */
  private[sources] def encodeStatsSidecar(entries: Seq[FileStats]): Array[Byte] =
    entries.map { e =>
      Seq(enc64(e.col), e.min.map(enc64).getOrElse("-"),
        e.max.map(enc64).getOrElse("-"), e.rows.toString,
        e.nulls.toString, e.sum.map(enc64).getOrElse("-")).mkString("\t")
    }.mkString("\n").getBytes("UTF-8")

  /** The sidecar's entries re-keyed to `file` (the sidecar stores only
    * column-level lines; the data file's identity is the caller's).
    * Decode-once cached; empty on any read trouble — pruning keeps the
    * file, never depends on a sidecar read succeeding.
    */
  private[sources] def readStatsSidecar(
      fs: org.apache.hadoop.fs.FileSystem, root: Path, ref: String,
      file: String): Seq[FileStats] = {
    val rel = ref.stripPrefix(BloomRefMark)
    val p = new Path(root, rel)
    val key = fs.makeQualified(p).toString
    val hit = statsSidecarCache.get(key)
    val parsed =
      if (hit != null) hit
      else try {
        val in = fs.open(p)
        val bytes = try in.readAllBytes() finally in.close()
        statsSidecarReads.incrementAndGet()
        val es = new String(bytes, "UTF-8").split("\n").toSeq
          .filter(_.nonEmpty).map { line =>
            val f = line.split("\t", -1)
            FileStats("", dec64(f(0)),
              if (f(1) == "-") None else Some(dec64(f(1))),
              if (f(2) == "-") None else Some(dec64(f(2))),
              rows = f(3).toLong, nulls = f(4).toLong,
              sum = if (f(5) == "-") None else Some(dec64(f(5))))
          }
        if (statsSidecarCache.size >= 4096) statsSidecarCache.clear()
        statsSidecarCache.put(key, es)
        es
      } catch { case _: Exception => Seq.empty }
    parsed.map(_.copy(file = file))
  }

  /** Test seam: sidecar bloom files actually read (cache misses). */
  val bloomSidecarReads = new java.util.concurrent.atomic.AtomicLong(0L)

  // driver-side decode-once cache for sidecar blooms, keyed by the
  // absolute sidecar path (content-addressed: a re-analyze writes new
  // files). Bounded: cleared wholesale past 4096 entries (~48 MB).
  private val bloomSidecarCache = new java.util.concurrent.ConcurrentHashMap[
    String, String]()

  /** The sidecar's filter as the same base64 form the inline layout
    * stores (decode-once cached); None on any read trouble — the
    * caller keeps the file, pruning never depends on a sidecar read.
    */
  private[sources] def readBloomSidecar(
      fs: org.apache.hadoop.fs.FileSystem, root: Path, ref: String)
      : Option[String] = {
    val rel = ref.stripPrefix(BloomRefMark)
    val p = new Path(root, rel)
    val key = fs.makeQualified(p).toString
    val hit = bloomSidecarCache.get(key)
    if (hit != null) return Some(hit)
    try {
      val in = fs.open(p)
      val bytes = try in.readAllBytes() finally in.close()
      bloomSidecarReads.incrementAndGet()
      val b64 = java.util.Base64.getEncoder.encodeToString(bytes)
      if (bloomSidecarCache.size >= 4096) bloomSidecarCache.clear()
      bloomSidecarCache.put(key, b64)
      Some(b64)
    } catch { case _: Exception => None }
  }

  /** Bloom sizing: fixed per-file capacity. ~12 KB per file·column at
    * a ~1% false-positive rate up to this many distinct values; files
    * holding more merely degrade toward "never prunes", never toward
    * wrong pruning.
    */
  private[sources] val BloomExpectedItems = 10000L
  private[sources] val BloomNumBits = 96000L

  /** `java.sql.Timestamp` → Catalyst-internal epoch micros, matching
    * the write side's conversion EXACTLY. `getTime` already carries the
    * millis of the fractional second, and `Math.floorDiv` (never plain
    * `/`, which truncates toward zero) keeps PRE-EPOCH values right:
    * for −0.5 s, getTime = −500 and nanos = 500000000, so
    * floorDiv(−500,1000)·1e6 + 500000 = −500000 micros — truncating
    * division would produce +500000 and diverge from what
    * `xxhash64(col)` hashed / what the stats encoded at write time.
    */
  private[sources] def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Conservative driver-side probe: Some(hash) only for types whose
    * catalyst-internal form (what `xxhash64(col)` hashed on the write
    * side) is reconstructible exactly from the bound value; None
    * declines and the file is kept.
    */
  private[sources] def bloomHashOf(dt: DataType, v: Any): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val internal: Option[Literal] = (dt, v) match {
      case (LongType, n: Number)    => Some(Literal(n.longValue, dt))
      case (IntegerType, n: Number) => Some(Literal(n.intValue, dt))
      case (ShortType, n: Number)   => Some(Literal(n.shortValue, dt))
      case (ByteType, n: Number)    => Some(Literal(n.byteValue, dt))
      case (DoubleType, n: Number)  => Some(Literal(n.doubleValue, dt))
      case (FloatType, n: Number)   => Some(Literal(n.floatValue, dt))
      case (StringType, s: String)  => Some(Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), dt))
      case (BooleanType, b: Boolean) => Some(Literal(b, dt))
      // temporal internals are exact integers (micros / epoch days)
      case (_: TimestampType, t: java.sql.Timestamp) => Some(Literal(
        tsMicros(t), dt))
      case (TimestampNTZType, l: java.time.LocalDateTime) => Some(Literal(
        l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          l.getNano / 1000L, dt))
      case (_: DateType, d: java.sql.Date) =>
        Some(Literal(d.toLocalDate.toEpochDay.toInt, dt))
      case (_: DateType, d: java.time.LocalDate) =>
        Some(Literal(d.toEpochDay.toInt, dt))
      case _ => None
    }
    internal.map(l => new XxHash64(Seq(l)).eval(null).asInstanceOf[Long])
  }

  /** Deserialize once, probe many: a point SET probes every value
    * against one parsed filter (k base64-decodes per file would dwarf
    * the probe itself). A value whose hash cannot be reconstructed —
    * or an unreadable filter — keeps the file.
    */
  private[sources] def bloomAnyMightContain(dt: DataType, vs: Seq[Any],
      b64: String): Boolean = {
    val hs = vs.map(bloomHashOf(dt, _))
    if (hs.exists(_.isEmpty)) return true // an untyped probe: keep
    val bf =
      try org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(
          java.util.Base64.getDecoder.decode(b64)))
      catch { case _: Exception => return true } // unreadable: keep
    hs.exists(h => bf.mightContainLong(h.get))
  }

  private[sources] def bloomMightContain(dt: DataType, v: Any,
      b64: String): Boolean = bloomAnyMightContain(dt, Seq(v), b64)

  private def statsPath(root: Path) = new Path(
    new Path(root, "_graft_stats"), "stats.json")

  /** Cap on stored STRING stats (the Delta move): a long text column in
    * statsCols must not bloat every manifest/sidecar with full values.
    * Truncation stays SOUND by direction — a prefix is always a valid
    * lower bound; for the upper bound the prefix's rightmost
    * non-MAX char is incremented (prefix alone would be BELOW values it
    * must bound). The all-MAX-prefix pathology keeps the full value
    * rather than lying. Non-string types are fixed-width — never
    * truncated.
    */
  private[sources] val MaxStatStringLen = 64
  private[sources] def statMin(v: Any): Any = v match {
    case s: String if s.length > MaxStatStringLen =>
      s.substring(0, MaxStatStringLen)
    case x => x
  }
  private[sources] def statMax(v: Any): Any = v match {
    case s: String if s.length > MaxStatStringLen =>
      val p = s.substring(0, MaxStatStringLen)
      val i = p.lastIndexWhere(_ != '\uffff')
      if (i < 0) s else p.substring(0, i) + (p(i) + 1).toChar
    case x => x
  }

  /** Serialize one typed min/max value to its exact string form. */
  private[sources] def encode(v: Any): String = v match {
    case null                     => null
    case t: java.sql.Timestamp    => tsMicros(t).toString
    case i: java.time.Instant     =>
      (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
    case l: java.time.LocalDateTime => // timestamp_ntz: wall-clock micros
      (l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        l.getNano / 1000L).toString
    case d: java.sql.Date         => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate   => d.toEpochDay.toString
    case d: java.lang.Double      => d.toString
    case f: java.lang.Float       => f.doubleValue.toString
    case n: java.math.BigDecimal  => n.toPlainString
    case n: scala.math.BigDecimal => n.bigDecimal.toPlainString
    case other                    => other.toString
  }

  /** Parse a caller-supplied bound value into the comparison domain of
    * `dt` (BigDecimal for numerics, micros for timestamps, days for
    * dates, raw string for strings).
    */
  private[sources] def boundKey(dt: DataType, v: Any): Any = (dt, v) match {
    case (_: TimestampType, t: java.sql.Timestamp) => tsMicros(t)
    case (_: TimestampType, s: String) =>
      val norm = if (s.contains(" ") || s.contains("T")) s.replace('T', ' ')
                 else s + " 00:00:00"
      // via tsMicros, not getTime*1000: keeps sub-milli fractions in
      // the string AND the pre-epoch floor
      tsMicros(java.sql.Timestamp.valueOf(norm))
    case (TimestampNTZType, l: java.time.LocalDateTime) =>
      l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        l.getNano / 1000L
    case (TimestampNTZType, s: String) =>
      val norm = if (s.contains(" ") || s.contains("T")) s.replace('T', ' ')
                 else s + " 00:00:00"
      val l = java.time.LocalDateTime.parse(norm.replace(' ', 'T'))
      l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        l.getNano / 1000L
    case (_: DateType, d: java.sql.Date) => d.toLocalDate.toEpochDay
    case (_: DateType, s: String) =>
      java.time.LocalDate.parse(s).toEpochDay
    case (_: StringType, s: String) => s
    case (t, n: Number) if isNumeric(t) => new java.math.BigDecimal(n.toString)
    case (t, other) => throw new IllegalArgumentException(
      s"cannot use ${other.getClass.getSimpleName} bound on ${t.simpleString}")
  }

  /** Decode a stored stats string back to the column's EXTERNAL value
    * (the type a Row carries) — the reverse of [[encode]], defined for
    * exactly the types whose stats are EXACT (numerics, decimals,
    * dates, timestamps; strings are truncated/over-approximate and
    * deliberately excluded). Backs manifest-answered MIN/MAX pushdown.
    */
  private[sources] def decodeStat(dt: DataType, s: String): Option[Any] =
    dt match {
      case _: ByteType    => Some(new java.math.BigDecimal(s).byteValue)
      case _: ShortType   => Some(new java.math.BigDecimal(s).shortValue)
      case _: IntegerType => Some(new java.math.BigDecimal(s).intValue)
      case _: LongType    => Some(new java.math.BigDecimal(s).longValue)
      case _: FloatType   => Some(s.toFloat)
      case _: DoubleType  => Some(s.toDouble)
      case _: DecimalType => Some(new java.math.BigDecimal(s))
      case _: DateType    =>
        Some(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(s.toLong)))
      case _: TimestampType =>
        val micros = s.toLong
        val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        Some(t)
      case TimestampNTZType =>
        val micros = s.toLong
        Some(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC))
      case _ => None
    }

  /** Parse a stored stats string into the same comparison domain. */
  private[sources] def statKey(dt: DataType, s: String): Any = dt match {
    case _: TimestampType | TimestampNTZType | _: DateType => s.toLong
    case _: StringType                  => s
    case t if isNumeric(t)              => new java.math.BigDecimal(s)
    case t => throw new IllegalArgumentException(
      s"no stats comparison for ${t.simpleString}")
  }

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: FloatType | _: DoubleType | _: DecimalType => true
    case _ => false
  }

  /** Strict order over [[statKey]]/[[boundKey]] comparison keys. */
  private[sources] def ltKey(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
      x.compareTo(y) < 0
    case (x: Long, y: Long)     => x < y
    case (x: String, y: String) => x < y
    case _ => throw new IllegalStateException(s"mixed keys: $a / $b")
  }

  @SuppressWarnings(Array("unchecked"))
  private def lte(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
      x.compareTo(y) <= 0
    case (x: Long, y: Long)     => x <= y
    case (x: String, y: String) => x <= y
    case _ => throw new IllegalStateException(s"mixed keys: $a / $b")
  }

  /** The residual predicate a bound stands for (applied after pruning so
    * semantics equal a full-table filter regardless of index quality).
    */
  private[sources] def residual(dt: DataType, b: Bound): Column = {
    def litOf(v: Any): Column = (dt, v) match {
      case (_: TimestampType, s: String) =>
        val norm = if (s.contains(" ") || s.contains("T")) s.replace('T', ' ')
                   else s + " 00:00:00"
        lit(java.sql.Timestamp.valueOf(norm))
      case (TimestampNTZType, s: String) =>
        val norm = if (s.contains(" ") || s.contains("T")) s.replace('T', ' ')
                   else s + " 00:00:00"
        lit(java.time.LocalDateTime.parse(norm.replace(' ', 'T')))
      case (_: DateType, s: String) => lit(java.sql.Date.valueOf(s))
      case (_, other)               => lit(other).cast(dt)
    }
    val c = col(b.column)
    val lo = b.lower.map(v => c >= litOf(v))
    val hi = b.upper.map(v => c <= litOf(v))
    (lo.toSeq ++ hi.toSeq).reduceOption(_ && _).getOrElse(lit(true))
  }

  /** Range-cluster `df` on `clusterCols` into `files` files and write the
    * per-file min/max sidecar for `statsCols` (defaults to the cluster
    * columns). One extra aggregate job over the just-written data — at
    * write time, when the data is hot, not at every read.
    */
  def writeIndexed(df: DataFrame, path: String, clusterCols: Seq[String],
      files: Int, statsCols: Seq[String] = Seq.empty): Unit = {
    val cols = if (statsCols.nonEmpty) statsCols else clusterCols
    require(cols.nonEmpty, "indexed layout needs >= 1 stats column")
    Tables.writeClustered(df, path, clusterCols, files)
    val spark = df.sparkSession
    writeStats(spark, path, cols)
  }

  /** (Re)build the sidecar for an existing parquet directory — use after
    * an external rewrite (e.g. [[Tables.compact]]) invalidates the index.
    * The sidecar records the table SCHEMA alongside the per-file stats,
    * so planning never has to open a data file at all.
    */
  def writeStats(spark: SparkSession, path: String,
      statsCols: Seq[String]): Unit = {
    val data = spark.read.parquet(path)
    statsCols.foreach(c => require(data.columns.contains(c),
      s"stats column $c not in ${data.columns.mkString(", ")}"))
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    // one row per file — bounded by the file count, a driver-safe collect
    val rows = data.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val root = new Path(path)
    val entries = rows.flatMap { r =>
      val file = new Path(r.getString(0)).getName
      statsCols.map { c =>
        val mn = r.get(r.fieldIndex(s"__min_$c"))
        val mx = r.get(r.fieldIndex(s"__max_$c"))
        FileStats(file, c, Option(mn).map(v => encode(statMin(v))),
          Option(mx).map(v => encode(statMax(v))))
      }
    }.sortBy(e => (e.file, e.col))
    val arr = entries.map { e =>
      val mn = e.min.map(v => "\"" + JsonEscape(v) + "\"").getOrElse("null")
      val mx = e.max.map(v => "\"" + JsonEscape(v) + "\"").getOrElse("null")
      s"""{"file":"${JsonEscape(e.file)}","col":"${JsonEscape(e.col)}",""" +
        s""""min":$mn,"max":$mx}"""
    }.mkString("[", ",", "]")
    val body = (s"""{"schema":"${JsonEscape(graft.sources.Merge.schemaToString(data.schema))}",""" +
      s""""stats":$arr}""").getBytes("UTF-8")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sp = statsPath(root)
    if (!fs.exists(sp.getParent)) fs.mkdirs(sp.getParent)
    val out = fs.create(sp, true)
    try out.write(body) finally out.close()
  }

  /** Driver-local sidecar parse (json4s — a few KB of metadata; a Spark
    * job here would put a scheduler round-trip into every planning
    * call). Returns (recorded schema if present, stats entries);
    * tolerates the pre-schema array format.
    */
  private def readStats(spark: SparkSession,
      root: Path): (Option[StructType], Seq[FileStats]) = {
    val sp = statsPath(root)
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val body = {
      val in = fs.open(sp)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(body)
    def entries(ja: JValue): Seq[FileStats] = ja match {
      case JArray(xs) => xs.flatMap { e =>
        def f(n: String): Option[String] = e \ n match {
          case JString(s) => Some(s); case _ => None
        }
        for (file <- f("file"); c <- f("col"))
          yield FileStats(file, c, f("min"), f("max"))
      }
      case _ => Seq.empty
    }
    j \ "stats" match {
      case JNothing => (None, entries(j)) // pre-schema array format
      case st =>
        val schema = j \ "schema" match {
          case JString(ddl) =>
            Some(graft.sources.Merge.schemaFromString(ddl))
          case _ => None
        }
        (schema, entries(st))
    }
  }

  /** The interval bounds IMPLIED by a `Column` predicate — the bridge
    * that makes skipping automatic: users write the filter they mean,
    * planning extracts what the stats can use. Walks the (unresolved)
    * expression tree collecting `attr op literal` conjuncts
    * (>, >=, <, <=, = — either operand order); everything else — OR
    * branches, function calls, casts, IS NULL — contributes NOTHING,
    * which is always sound because every extracted bound is implied by
    * its conjunct alone and the CALLER re-applies the full predicate as
    * the residual. Strict inequalities widen to inclusive bounds (may
    * keep a boundary file, never drops a wrong one). Multiple bounds on
    * one column all apply ([[survives]] is a forall).
    */
  def impliedBounds(pred: Column): Seq[Bound] = {
    import org.apache.spark.sql.catalyst.expressions.{
      And, AttributeReference, EqualTo, Expression, GreaterThan,
      GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, Or}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    // catalyst literals carry INTERNAL values; convert by the literal's
    // own type to the external forms boundKey/statKey already compare
    def ext(l: Literal): Option[Any] = (l.dataType, l.value) match {
      case (_, null) => None // null comparisons match nothing; no bound
      case (StringType, u) => Some(u.toString)
      case (_: TimestampType, m: java.lang.Long) =>
        // floorDiv/floorMod: truncation would shift a PRE-EPOCH
        // fractional second up a whole second (−4.589 s → −3.589 s)
        val t = new java.sql.Timestamp(Math.floorDiv(m, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(m, 1000000L) * 1000L).toInt)
        Some(t)
      case (TimestampNTZType, m: java.lang.Long) =>
        Some(java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(m, 1000000L),
          (Math.floorMod(m, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC))
      case (_: DateType, d: java.lang.Integer) =>
        Some(java.time.LocalDate.ofEpochDay(d.toLong).toString)
      case (t: DecimalType, d: org.apache.spark.sql.types.Decimal) =>
        Some(d.toJavaBigDecimal)
      case (t, v) if isNumeric(t) => Some(v)
      case _ => None // binary, arrays, ...: stats never recorded anyway
    }
    def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def bound(a: Expression, l: Literal, isLower: Boolean,
        isEq: Boolean = false): Seq[Bound] =
      (attrName(a), ext(l)) match {
        case (Some(c), Some(v)) =>
          if (isEq) Seq(Bound(c, Some(v), Some(v)))
          else if (isLower) Seq(Bound(c, Some(v), None))
          else Seq(Bound(c, None, Some(v)))
        case _ => Nil
      }
    // one comparison leaf; `flip` when the literal was on the LEFT
    def leaf(op: String, a: Expression, l: Literal,
        flip: Boolean): Seq[Bound] = op match {
      case ">" | ">=" => bound(a, l, isLower = !flip)
      case "<" | "<=" => bound(a, l, isLower = flip)
      case "=" | "==" => bound(a, l, isLower = false, isEq = true)
      case _          => Nil
    }
    // IN-list: sound interval = [min literal, max literal]. Ordering
    // needs a common comparison domain WITHOUT the column's type
    // (unresolved tree): numbers via BigDecimal, strings/dates lexical
    // (date/timestamp TEXT literals are ISO — lexical == chronological).
    def inBounds(a: Expression, ls: Seq[Expression]): Seq[Bound] = {
      val vs = ls.map { case l: Literal => ext(l); case _ => None }
      if (vs.exists(_.isEmpty) || vs.isEmpty) Nil
      else attrName(a) match {
        case None => Nil
        case Some(c) =>
          val xs = vs.flatten
          if (xs.forall(_.isInstanceOf[Number])) {
            val ks = xs.map(x => new java.math.BigDecimal(x.toString))
            Seq(Bound(c, Some(xs(ks.indexOf(ks.min))),
              Some(xs(ks.indexOf(ks.max))), points = Some(xs)))
          } else if (xs.forall(_.isInstanceOf[String])) {
            val ss = xs.map(_.asInstanceOf[String])
            Seq(Bound(c, Some(ss.min), Some(ss.max), points = Some(xs)))
          } else Nil
      }
    }
    // startsWith: every string extending prefix p lies in
    // [p, nextPrefix(p)) where nextPrefix increments p's rightmost
    // non-MaxValue char (an inclusive upper on a superset stays sound;
    // a p+MAX suffix bound would NOT be — p+MAX+MAX
    // escapes it and a matching file could be wrongly dropped)
    def prefixBounds(a: Expression, l: Literal): Seq[Bound] =
      (attrName(a), ext(l)) match {
        case (Some(c), Some(p: String)) if p.nonEmpty =>
          val i = p.lastIndexWhere(_ != '\uffff')
          if (i < 0) Seq(Bound(c, Some(p), None))
          else Seq(Bound(c, Some(p),
            Some(p.substring(0, i) + (p(i) + 1).toChar)))
        case _ => Nil
      }
    // OR: a sound bound must hold for EVERY branch, so only the HULL of
    // per-branch intervals on a column qualifies — and only when every
    // branch actually bounds that column (one unbounded branch kills
    // it). `name LIKE 'a%' OR name LIKE 'b%'` → name ∈ [a, c); mixed
    // value classes (can't order across types without the column's
    // dtype) bail to nothing, which is always sound.
    def hull(x: Expression, y: Expression): Seq[Bound] = {
      val (bx, by) = (walk(x), walk(y))
      val cols = bx.map(_.column).toSet intersect by.map(_.column).toSet
      cols.toSeq.sorted.flatMap { c =>
        val (xs, ys) = (bx.filter(_.column == c), by.filter(_.column == c))
        // per branch: the tightest interval it implies for c — the
        // branch's bounds INTERSECT, so a side is defined when ANY
        // bound defines it, and the tightest wins (max lower, min upper)
        def side(bs: Seq[Bound], lower: Boolean): Option[Any] = {
          val xs = bs.flatMap(b => if (lower) b.lower else b.upper)
          if (xs.isEmpty) None
          else if (xs.forall(_.isInstanceOf[Number])) {
            val ks = xs.map(v => new java.math.BigDecimal(v.toString))
            Some(xs(if (lower) ks.indexOf(ks.max) else ks.indexOf(ks.min)))
          } else if (xs.forall(_.isInstanceOf[String])) {
            val ss = xs.map(_.asInstanceOf[String])
            Some(if (lower) ss.max else ss.min)
          } else None
        }
        def branchIv(bs: Seq[Bound]): Option[(Option[Any], Option[Any])] =
          Some((side(bs, lower = true), side(bs, lower = false)))
        (branchIv(xs), branchIv(ys)) match {
          case (Some((lx, ux)), Some((ly, uy))) =>
            // hull: min of lowers (None = unbounded wins), max of uppers
            def outer(a: Option[Any], b: Option[Any],
                takeMin: Boolean): Option[Any] = (a, b) match {
              case (Some(va), Some(vb)) =>
                val vs = Seq(va, vb)
                if (vs.forall(_.isInstanceOf[Number])) {
                  val ks = vs.map(v => new java.math.BigDecimal(v.toString))
                  Some(vs(if (takeMin) ks.indexOf(ks.min)
                          else ks.indexOf(ks.max)))
                } else if (vs.forall(_.isInstanceOf[String])) {
                  val ss = vs.map(_.asInstanceOf[String])
                  Some(if (takeMin) ss.min else ss.max)
                } else None
              case _ => None
            }
            val lo = outer(lx, ly, takeMin = true)
            val hi = outer(ux, uy, takeMin = false)
            // point sets UNION across OR branches (c = 1 OR c IN (5, 9)
            // stays a point set); a branch without one kills it
            def branchPts(bs: Seq[Bound]): Option[Seq[Any]] =
              if (bs.size == 1) pointsOf(bs.head) else None
            val pts = for (px <- branchPts(xs); py <- branchPts(ys))
              yield px ++ py
            if (lo.isEmpty && hi.isEmpty) Nil
            else Seq(Bound(c, lo, hi, points = pts))
          case _ => Nil
        }
      }
    }
    def walk(e: Expression): Seq[Bound] = e match {
      // the Column DSL converts to UNRESOLVED function nodes ("and",
      // ">=", ...) — the analyzer hasn't run on a bare predicate
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        (f.nameParts.last.toLowerCase, f.arguments) match {
          case ("and", Seq(x, y))        => walk(x) ++ walk(y)
          case ("or", Seq(x, y))         => hull(x, y)
          case ("in", a +: ls)           => inBounds(a, ls)
          case ("startswith", Seq(a, l: Literal)) => prefixBounds(a, l)
          case (op, Seq(a, l: Literal))  => leaf(op, a, l, flip = false)
          case (op, Seq(l: Literal, a))  => leaf(op, a, l, flip = true)
          case _                         => Nil
        }
      case org.apache.spark.sql.catalyst.expressions.In(a, ls) =>
        inBounds(a, ls)
      case org.apache.spark.sql.catalyst.expressions.StartsWith(
          a, l: Literal) => prefixBounds(a, l)
      // typed fallbacks for predicates built from resolved plans
      case And(x, y)                          => walk(x) ++ walk(y)
      case Or(x, y)                           => hull(x, y)
      case GreaterThan(a, l: Literal)         => leaf(">", a, l, false)
      case GreaterThanOrEqual(a, l: Literal)  => leaf(">=", a, l, false)
      case LessThan(a, l: Literal)            => leaf("<", a, l, false)
      case LessThanOrEqual(a, l: Literal)     => leaf("<=", a, l, false)
      case GreaterThan(l: Literal, a)         => leaf(">", a, l, true)
      case GreaterThanOrEqual(l: Literal, a)  => leaf(">=", a, l, true)
      case LessThan(l: Literal, a)            => leaf("<", a, l, true)
      case LessThanOrEqual(l: Literal, a)     => leaf("<=", a, l, true)
      case EqualTo(a, l: Literal)             => leaf("=", a, l, false)
      case EqualTo(l: Literal, a)             => leaf("=", a, l, true)
      case _                                  => Nil
    }
    walk(org.apache.spark.sql.GraftColumnBridge.expression(pred))
  }

  /** [[readSkipping]] driven by a plain predicate: prune with
    * [[impliedBounds]], then apply the FULL predicate — result ≡
    * `read.filter(pred)` whatever the extraction found.
    */
  def readWhere(spark: SparkSession, path: String,
      pred: Column): DataFrame = {
    val bounds = impliedBounds(pred)
    val base =
      if (bounds.isEmpty) spark.read.parquet(path)
      else readSkipping(spark, path, bounds)
    base.filter(pred)
  }

  /** The conservative pruning decision for ONE file: can it contain a row
    * satisfying every bound, given its recorded per-column stats? Shared
    * with [[Merge]]'s manifest-level skipping so both prune identically:
    * a column with no stats never prunes; an all-null column always does
    * (interval bounds never match null); otherwise keep iff the recorded
    * [min, max] intersects every bound interval.
    */
  private[sources] def survives(schema: StructType,
      colStats: Map[String, FileStats], bounds: Seq[Bound]): Boolean =
    bounds.forall { b =>
      val dt = schema(b.column).dataType
      val pts = pointsOf(b)
      val interval = colStats.get(b.column) match {
        case None => true // no stats recorded for this file/column: keep
        case Some(s) => (s.min, s.max) match {
          case (None, _) | (_, None) => false // all-null column: no
            // non-null value can satisfy an interval bound
          case (Some(mn), Some(mx)) =>
            val (lo, hi) = (statKey(dt, mn), statKey(dt, mx))
            pts match {
              // a point SET checks each value: keep iff ANY lies in
              // [min, max] — strictly tighter than the hull interval
              case Some(ps) => ps.exists { p =>
                val k = boundKey(dt, p)
                lte(lo, k) && lte(k, hi)
              }
              case None =>
                b.lower.forall(v => lte(boundKey(dt, v), hi)) &&
                  b.upper.forall(v => lte(lo, boundKey(dt, v)))
            }
        }
      }
      // point predicates additionally probe the file's Bloom filter
      // when one was recorded for this column — the point-lookup prune
      // min/max cannot give on high-cardinality unsorted columns
      val bloomOk = pts match {
        case Some(ps) =>
          colStats.get(BloomPrefix + b.column)
            .flatMap(_.bloom)
            // sidecar REFS can't be probed purely — keep here; the
            // planner's lazy sidecar pass refines them with fs access
            .filterNot(isBloomRef)
            .forall(bf => bloomAnyMightContain(dt, ps, bf))
        case None => true
      }
      interval && bloomOk
    }

  /** The files of `path` that can contain rows satisfying every bound,
    * plus the total file count — the planning decision, exposed so
    * callers (and specs) can assert the index actually pruned.
    */
  def planFiles(spark: SparkSession, path: String,
      bounds: Seq[Bound]): (Seq[String], Int) = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the directory listing is the freshness source of truth (a file
    // added outside the index must be READ, just never skipped); the
    // sidecar's recorded schema keeps planning from opening any footer
    val all = fs.listStatus(root)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).sorted.toSeq
    val (recorded, statEntries) = readStats(spark, root)
    val schema = recorded.getOrElse(spark.read.parquet(path).schema)
    bounds.foreach(b => require(schema.fieldNames.contains(b.column),
      s"bound column ${b.column} not in ${schema.fieldNames.mkString(", ")}"))
    val stats = statEntries
      .groupBy(_.file).view.mapValues(_.map(s => s.col -> s).toMap).toMap
    val selected = all.filter(f =>
      survives(schema, stats.getOrElse(f, Map.empty), bounds))
    (selected, all.size)
  }

  /** Read `path` under interval `bounds`: index-pruned file set + the
    * bounds applied as a residual filter — result ≡ reading the whole
    * table and filtering, cost ∝ the files whose ranges intersect.
    */
  def readSkipping(spark: SparkSession, path: String,
      bounds: Seq[Bound]): DataFrame = {
    require(bounds.nonEmpty, "readSkipping needs >= 1 bound")
    val (selected, _) = planFiles(spark, path, bounds)
    val schema = readStats(spark, new Path(path))._1
      .getOrElse(spark.read.parquet(path).schema)
    val base =
      if (selected.isEmpty)
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema)
        .parquet(selected.map(f => new Path(path, f).toString): _*)
    bounds.foldLeft(base)((df, b) =>
      df.filter(residual(schema(b.column).dataType, b)))
  }
}
