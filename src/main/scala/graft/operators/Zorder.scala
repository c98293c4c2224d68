package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering for multi-dimensional scan
  * pruning — the data-layout lever for predicates over MORE THAN ONE
  * column. A layout sorted on one column gives parquet row-group
  * min/max stats that prune that column only; every other dimension's
  * stats span the full domain in every file. Interleaving the bits of
  * d quantized columns (Morton 1966) and range-clustering on the
  * result bounds EVERY clustered dimension per file: a d-dimensional
  * box predicate then touches the files along a curve segment instead
  * of the whole table, and the pruning needs NO reader changes —
  * ordinary parquet min/max stats on the original columns do it
  * ([[graft.ZorderProbe]] measures decoded rows per layout from
  * executed-plan SQLMetrics; this is the public pattern behind
  * Delta/Iceberg OPTIMIZE ZORDER, re-expressed on plain parquet).
  *
  * 100 TB shape: one stats aggregate (min/max per clustered column,
  * partial-aggregated to a single row — the only driver collect, 2d
  * doubles), then exactly ONE shuffle (`repartitionByRange` on the
  * z-value, sampled boundaries) and a LOCAL sort within partitions —
  * the same cost any clustering rewrite pays, amortized over every
  * scan that prunes thereafter. The z-value is plain long arithmetic
  * (shift/and/or — whole-stage codegen keeps it in the generated
  * loop), never a UDF.
  *
  * Quantization comes in two built forms: [[writeZordered]] maps each
  * column to `bits` equal-WIDTH buckets of its [min, max] — the cheap
  * default for roughly uniform columns — and [[writeZorderedByRank]]
  * uses equal-DEPTH (approx-quantile) buckets for skewed columns,
  * where one extreme outlier would otherwise stretch the range until
  * every normal row shares bucket 0 and the curve degenerates to a
  * 1-D sort (both regimes measured in ZorderProbe). NULLs bucket to 0
  * (they sort first, like NULLS FIRST), a constant column (max == min)
  * degenerates to one bucket, and values are clamped so max lands in
  * the top bucket, not past it.
  *
  * ==Incremental story==
  * Every clustered write stamps a `_graft_clustering` [[Layout]]
  * marker whose payload IS the layout's quantization: curve, bits,
  * file count, and each column's pinned bucket parameters (bit-exact
  * doubles). That makes the layout appendable the way the index
  * families are: [[appendClustered]] buckets a new batch through the
  * PINNED parameters (never a fresh stats pass — fresh bounds would
  * interleave incompatibly with the resident files) and lands it as a
  * batchId-keyed idempotent transaction ([[Layout.idempotentAppend]]),
  * each batch z-sorted into a few tight files, so the tail still
  * prunes; [[compactTail]] folds the accumulated tail into exactly the
  * resident files it overlaps — rewrite bytes ∝ tail × overlap, the
  * amortized form daily ingest runs — and [[compactClustered]] folds
  * EVERYTHING back into the main `numFiles` grid (the periodic
  * defragmentation), both through the same pinned parameters with
  * crash-recoverable staged swaps. Append-then-compact therefore
  * equals a pinned-parameter full rewrite (ZorderSpec pins row parity
  * exactly and structural disjointness; CONTRACTS.json grades the
  * pruning ordering per bench run).
  */
object Zorder {

  /** One clustered column's pinned quantization: `kind` "u" =
    * equal-width with params [lo, hi]; "r" = equal-depth with params =
    * the sorted numeric rank boundaries; "s" = equal-depth over a
    * STRING key with `sparams` = the boundary strings, sorted in
    * Spark's UTF8 binary order (the order the bucketing comparisons
    * run in — a driver-side java.lang.String sort would disagree on
    * supplementary characters). */
  final case class ColQuant(name: String, kind: String,
      params: Seq[Double], sparams: Seq[String] = Nil)

  /** A clustered layout's full physical identity — everything an
    * append or compaction needs to place NEW rows exactly where the
    * original write would have: curve ("morton" | "hilbert"), bits per
    * dimension, main-grid file count, and the per-column pinned
    * quantization. Serialized bit-exactly into the `_graft_clustering`
    * marker ([[payload]]/[[parsePayload]]). */
  final case class Clustering(curve: String, bits: Int, numFiles: Int,
      cols: Seq[ColQuant])

  private[graft] val markerFile = "_graft_clustering"
  private[graft] val schemaFile = "_graft_schema"
  private[graft] val zrangesFile = "_graft_zranges"

  /** The curve value, MATERIALIZED as a physical column in every
    * clustered data file (since round 17). The write pipelines compute
    * z once per row into this column (the range shuffle, the local
    * sort and the parquet writer's stats all read the materialized
    * value instead of re-evaluating the bucketing/interleave tree),
    * and the parquet footer then carries the file's EXACT
    * [zmin, zmax] as ordinary int64 column statistics — so
    * [[residentIvs]]' interval lookups are served by a driver-side
    * footer read at COMMIT time ([[zrangesFromFooters]] →
    * `_graft_zranges`), never by the per-fold Spark scan
    * ([[computeZranges]], now the legacy fallback). Readers never see
    * the column: every manifest read drops it after the scan (column
    * pruning makes that free), and the write gates refuse user
    * columns with this name. */
  private[graft] val zColName = "__graft_z"
  private[graft] val manifestPrefix = "_graft_manifest."
  private[graft] val manifestDeltaPrefix = "_graft_manifestd."
  private[graft] val schemaDdlPrefix = "_graft_schemad."

  /** Manifest per-file stats cover at most this many top-level
    * primitive columns (clustering columns always first in line) —
    * bounds manifest growth on wide tables; columns past the cap
    * never prune (conservative keep). 16 columns ≈ 5× the name-only
    * line, still ∝ batch per delta commit. */
  private val statsColumnCap = 16

  // ----- deletion vectors: row-level deletes without rewrite -------
  //
  // A narrow CDC delete through [[mergeClustered]] still REWRITES the
  // files the keys live in — correct, but write cost ∝ victim file
  // bytes, not ∝ deleted rows. A deletion vector (DV) is the
  // Delta/Iceberg-v2 answer: a tiny parquet file of (data file name,
  // row position) tombstones, committed as an ordinary manifest entry
  // (name prefix `dv-`), that every manifest read applies as an
  // anti-join before returning rows. Because DV files ARE manifest
  // entries and root files, they inherit the ENTIRE existing
  // protocol with no new protocol code: delta commits make a delete
  // cost ∝ the batch, epoch-pinned reads see the DV set as of their
  // epoch (a pre-delete pin still serves the undeleted rows), the
  // whole compact's victim sweep retires/deletes superseded DVs under
  // the same grace as data files, and vacuum's self-heal ages out a
  // crashed delete's orphans. Both fold forms apply DVs to their
  // INPUTS (a fold must not resurrect deleted rows), so any compact
  // MATERIALIZES the tombstones it folds over; the whole compact's
  // fresh base manifest then carries no dv- entries at all.
  //
  // Row identity is parquet physical position (`_metadata.row_index`):
  // deterministic per file, stable under splits and row-group
  // pruning, and file names embed write-job UUIDs, so a (name, pos)
  // pair can never address different bytes. The documented trade
  // (same as retention): DVs live in the manifest, so plain DIRECTORY
  // reads of the layout do not see deletes — DV layouts are
  // manifest-readers-only ([[readClustered]]).
  private[graft] val dvPrefix = "dv-"
  private[graft] def isDvName(n: String): Boolean = n.startsWith(dvPrefix)

  /** Test seam: invoked with a step label at each reader-visible
    * protocol transition inside the write/append/compact forms, so the
    * reader-atomicity spec can interleave manifest resolutions
    * mid-swap against the REAL protocol (hand-replaying the steps in a
    * spec would pin a copy of the protocol, not the code). A no-op in
    * production; only ZorderSpec installs one, single-threaded, and
    * restores the no-op after. */
  private[graft] var onProtocolStep: String => Unit = _ => ()
  // NOT underscore-prefixed: it becomes a partitionBy DIRECTORY name
  // (`graftzregion=3/`) inside the tail staging dir, and a hidden name
  // there would make publish/recovery skip the staged files
  private val regionCol = "graftzregion"

  /** The layout's DATA schema as a marker payload — what
    * [[appendClustered]] validates batches against: one line per field,
    * `urlenc(name)=catalogString`, order-insensitive compare. A marker
    * read instead of `spark.read.parquet(path).schema` because the
    * latter is (a) a full directory listing + footer read per
    * streaming micro-batch, (b) sampled-footer roulette on a legacy
    * mixed layout, and (c) an AnalysisException on an empty-but-marked
    * bootstrap layout. */
  private def schemaPayload(schema: org.apache.spark.sql.types.StructType): String =
    schema.fields.map(f =>
      java.net.URLEncoder.encode(f.name, "UTF-8") + "=" +
        f.dataType.catalogString).sorted.mkString("\n")

  /** Quantize `c` to a long in [0, 2^bits) given its [lo, hi] range.
    * NULLs bucket to 0; NaN and +Infinity rows land in the TOP bucket,
    * −Infinity in bucket 0 — clamped in DOUBLE space, because an ANSI
    * long cast of a non-finite value would crash the whole rewrite
    * (Spark orders NaN greater than any double, so greatest→least
    * sends it to the top). */
  private[graft] def bucket(c: Column, lo: Double, hi: Double,
      bits: Int): Column = {
    val n = 1L << bits
    if (!(hi > lo)) lit(0L)
    else {
      val scaled = (c.cast("double") - lit(lo)) / lit(hi - lo) * lit(n.toDouble)
      // the NULL→0 mapping happens HERE: greatest skips nulls, so a
      // null input becomes greatest(null, 0.0) = 0.0 before the clamp
      val clamped = least(greatest(scaled, lit(0.0)), lit((n - 1).toDouble))
      clamped.cast("long")
    }
  }

  /** Interleave the low `bits` bits of each quantized dimension into
    * one Morton code: bit b of dimension i lands at position
    * b·d + (d−1−i), so dimension 0 owns the MOST significant bit of
    * each group (ties broken by leading columns, like a sort key).
    * Monotone in each dimension with the others fixed. */
  private[graft] def interleave(qs: Seq[Column], bits: Int): Column = {
    val d = qs.length
    require(d >= 2, s"z-ordering needs >= 2 dimensions, got $d (use a plain sort)")
    require(bits >= 1 && d * bits <= 63,
      s"d*bits = ${d * bits} must fit a non-negative long (<= 63)")
    val terms = for {
      b <- 0 until bits
      (q, i) <- qs.zipWithIndex
    } yield shiftleft(shiftrightunsigned(q, b).bitwiseAND(lit(1L)),
      b * d + (d - 1 - i))
    terms.reduce(_ bitwiseOR _)
  }

  /** The z-value column for `cols` over `df`, quantized by a single
    * min/max stats pass (one aggregate job, one collected row).
    * Type-gated like every write form: this helper used to bypass the
    * gate, so a StringType column flowed into the stats pass, cast to
    * all-NULL doubles, and silently pinned lo = hi = 0.0 — the exact
    * degenerate never-pruning quantization the write forms refuse. */
  def zvalue(df: DataFrame, cols: Seq[String], bits: Int): Column = {
    validateTypes(df, cols, allowStrings = false)
    interleave(uniformQuants(df, cols, bits).map(q =>
      bucket(numericView(df.schema, q.name), q.params(0), q.params(1),
        bits)), bits)
  }

  /** EVERY argument check a clustered write needs, hoisted so a bad
    * argument never costs the full-table stats pass first — interleave
    * re-checks its own invariants, but by then the scan has run. */
  private def validateWrite(df: DataFrame, cols: Seq[String], bits: Int,
      numFiles: Int, allowStrings: Boolean = false): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    require(cols.length >= 2,
      s"z-ordering needs >= 2 dimensions, got ${cols.length} (use a plain sort)")
    require(bits >= 1 && cols.length * bits <= 63,
      s"d*bits = ${cols.length * bits} must fit a non-negative long (<= 63)")
    // names travel through the _graft_clustering marker's text format
    // (`:`/`;`/`,`/space are its separators) — clustering columns are
    // plain top-level columns, so restrict to identifier characters
    cols.foreach(c => require(c.matches("[A-Za-z0-9_]+"),
      s"clustered column name '$c' must match [A-Za-z0-9_]+ (it is " +
        "serialized into the layout marker)"))
    requireNoReservedZ(df.columns, "input")
    validateTypes(df, cols, allowStrings)
  }

  /** Reserved-name gate for the materialized curve column, CASE-
    * INSENSITIVE like Spark's own column resolution (default
    * spark.sql.caseSensitive=false): a user column `__GRAFT_Z` would
    * pass an exact-case check and then be silently REPLACED by
    * `withColumn(zColName, z)`, which resolves case-insensitively —
    * data loss with no error. Applied by every verb a user frame
    * enters through (write forms, appends, merges, deletes). */
  private def requireNoReservedZ(cols: Seq[String], what: String): Unit =
    require(!cols.exists(_.equalsIgnoreCase(zColName)),
      s"$what carries the reserved column name $zColName — the write " +
        "pipeline materializes the curve value under it (resolved " +
        "case-insensitively); rename the data column")

  /** The TYPE gate, the same loud style as the empty-frame refusal: a
    * non-numeric column (StringType, binary, arrays…) would either
    * crash the stats pass with a raw cast error or — under a lax cast
    * — silently become all-NULL doubles, pinning lo = hi = 0.0 into
    * the marker so that dimension buckets to 0 forever and the layout
    * never prunes it. Allowed: numeric, TIMESTAMP (casts to epoch
    * seconds), DATE (normalized to epoch days via [[numericView]] —
    * ANSI forbids DATE→DOUBLE directly), boolean. TIMESTAMP_NTZ is
    * REFUSED rather than normalized: its only double spelling goes
    * through a session-timezone reinterpretation, and a pinned
    * quantization that shifts with the session timezone would
    * mis-bucket appends made from a differently-zoned session.
    * Shared by every write form AND the public [[zvalue]] helper, so
    * no stats-pass entry point can pin the degenerate quantization. */
  private def validateTypes(df: DataFrame, cols: Seq[String],
      allowStrings: Boolean): Unit = {
    cols.foreach { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(
        sys.error(s"clustered column '$c' missing from the input (has: " +
          s"${df.columns.mkString(", ")})"))
      val ok = f.dataType match {
        case _: org.apache.spark.sql.types.NumericType => true
        case org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.BooleanType => true
        // strings carry no numeric scale to stretch equal-WIDTH
        // buckets over — only the RANK forms admit them, with
        // boundaries pinned as actual key strings
        case org.apache.spark.sql.types.StringType => allowStrings
        case _ => false
      }
      require(ok,
        s"clustered column '$c' has type ${f.dataType.catalogString} — " +
          "clustering needs a numeric, timestamp, date or boolean " +
          "column (string keys: use writeZorderedByRank/" +
          "writeHilbertByRank, which pin rank boundaries; anything " +
          "else pins a degenerate never-pruning quantization into the " +
          "layout marker, or crashes the stats pass); cluster on a " +
          "numeric key, cast timestamp_ntz to timestamp, or derive a " +
          "key (e.g. a dictionary code or xxhash64 bucket) first")
    }
  }

  /** The ONE numeric spelling of a clustered column every stats pass
    * and every bucketing shares (they must agree bit-for-bit, or the
    * pinned params would mis-bucket appends): plain `cast("double")`
    * for numeric/timestamp/boolean; DATE goes through `unix_date`
    * (epoch DAYS — timezone-free, so the pinned quantization means the
    * same thing in every session; ANSI forbids casting DATE to a
    * numeric directly). */
  private def numericView(schema: org.apache.spark.sql.types.StructType,
      name: String): Column =
    schema.fields.find(_.name == name).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.DateType) =>
        unix_date(col(name)).cast("double")
      case _ => col(name).cast("double")
    }

  /** Rewrite `df` as a z-ordered parquet layout at `path`: range-
    * partition on the Morton code into `numFiles` files, sort within
    * each, write, and stamp the `_graft_clustering` marker with the
    * pinned quantization. Every clustered column's per-file min/max is
    * then tight, and ordinary pushed-down predicates prune files and
    * row groups in all `cols` dimensions at once. */
  def writeZordered(df: DataFrame, path: String, cols: Seq[String],
      bits: Int = 16, numFiles: Int = 32): Clustering = {
    validateWrite(df, cols, bits, numFiles)
    writeAndStamp(df, path,
      Clustering("morton", bits, numFiles, uniformQuants(df, cols, bits)))
  }

  /** [[writeZordered]] on the HILBERT curve instead of Morton: same
    * quantization, same single-shuffle write, but the curve never
    * takes Morton's long diagonal jumps — every successive cell is
    * adjacent ([[graft.HilbertCodeNSpec]] pins unit-step adjacency at
    * d = 2, 3, 4) — so a box predicate cuts it into fewer, longer runs
    * and the same file count covers the box with tighter bounding
    * boxes (ZorderProbe measures the decoded-rows difference on
    * identical boxes, 2-D and 3-D). The curve is a native codegen
    * expression in both arities — `hilbert_d2`
    * ([[graft.functions.HilbertCode]], the classic xy2d loop) at two
    * dimensions, `hilbert_dn` ([[graft.functions.HilbertCodeN]],
    * Skilling's transpose algorithm) beyond — because the per-bit
    * rotate/flip state doesn't unroll into Column combinators without
    * multiplying the tree per bit plane. */
  def writeHilbert(df: DataFrame, path: String, cols: Seq[String],
      bits: Int = 16, numFiles: Int = 32): Clustering = {
    validateWrite(df, cols, bits, numFiles)
    writeAndStamp(df, path,
      Clustering("hilbert", bits, numFiles, uniformQuants(df, cols, bits)))
  }

  /** [[writeZordered]] with rank (equi-depth) quantization — the form
    * for skewed clustering columns, and the ONLY form that accepts
    * STRING columns (kind "s": equal-depth boundary keys, for
    * categorical keys like source/language — see
    * [[stringRankBoundaries]]). Same single-shuffle shape; stats cost
    * is ONE quantile job covering every numeric column plus one small
    * distinct-key aggregate PER string column.
    * Each dimension's decision-tree bucket is STAGED as a projected
    * column before the interleave — interleaving the raw bucket
    * expressions would embed the O(2^bits)-node tree once per output
    * bit (bits copies per dimension: thousands of expression nodes,
    * the bucket re-evaluated `bits` times per row); staging evaluates
    * it once per row and the interleave reads cheap attributes. The
    * stage columns are dropped after the sort, before the write. */
  def writeZorderedByRank(df: DataFrame, path: String, cols: Seq[String],
      bits: Int = 8, numFiles: Int = 32): Clustering = {
    validateWrite(df, cols, bits, numFiles, allowStrings = true)
    writeAndStamp(df, path,
      Clustering("morton", bits, numFiles, rankQuants(df, cols, bits)))
  }

  /** [[writeZorderedByRank]] on the HILBERT curve — the skew-robust
    * quantization combined with the measured-better curve (q176 pinned
    * rank mode on Morton before the d-dimensional hilbert existed;
    * there is no reason to pair the robust buckets with the dominated
    * curve). Same staged decision-tree bucketing, same single-shuffle
    * write; bits ≤ 8 (the rank-boundary budget). */
  def writeHilbertByRank(df: DataFrame, path: String, cols: Seq[String],
      bits: Int = 8, numFiles: Int = 32): Clustering = {
    validateWrite(df, cols, bits, numFiles, allowStrings = true)
    writeAndStamp(df, path,
      Clustering("hilbert", bits, numFiles, rankQuants(df, cols, bits)))
  }

  /** Route to the measured-best curve: HILBERT at every dimension
    * count — ZorderProbe measured it dominating Morton on identical
    * boxes in 2-D (12,151 vs 25,517 decoded rows, spread box) AND 3-D
    * (22,117 vs 30,646, bits=12/dim) — with the caller's `bits`
    * clamped to what d·bits ≤ 63 admits (a 4-D request at the default
    * 16 bits would otherwise just throw; the clamp trades resolution
    * for dimensions the way every multi-dim index does). Exists so a
    * caller cannot pick the dominated curve by accident; the returned
    * [[Clustering]] records the curve and the effective bits. */
  def writeBest(df: DataFrame, path: String, cols: Seq[String],
      bits: Int = 16, numFiles: Int = 32): Clustering = {
    require(cols.length >= 2,
      s"clustering needs >= 2 dimensions, got ${cols.length} (use a plain sort)")
    val eff = math.min(bits, 63 / cols.length)
    writeHilbert(df, path, cols, eff, numFiles)
  }

  /** The write half every clustered form shares: bucket + curve from
    * the PINNED parameters, one range shuffle, local sort, overwrite,
    * then stamp the marker. Marker-after-data matches the rebuild arm
    * of the [[Layout]] state machine: a crash between the write and
    * the stamp leaves data-without-marker, which every append, compact
    * and probe REFUSES (never silently mis-buckets). */
  private def writeAndStamp(df: DataFrame, path: String,
      cl: Clustering): Clustering =
    // a rebuild holds the SAME writer lease appends and compactions do
    // — mode("overwrite") would delete the whole dir INCLUDING an
    // in-flight writer's lease file and ledger, letting a concurrent
    // append publish into the fresh layout under the new marker
    // (silent mixing); Layout.rebuild clears under the lease (lease
    // file survives) and the write goes append-mode into the emptied
    // layout. Markers stamped LAST: clustering identity + the data
    // SCHEMA (what appendClustered validates batches against — a
    // marker read, not a per-batch directory listing, and defined even
    // for an empty bootstrap layout).
    Layout.rebuild(df.sparkSession, path, "writeClustered") {
      val spark = df.sparkSession
      val (staged, z, drop) = clusteredFrame(df, cl)
      withStatsTimestamps(spark) {
        staged.withColumn(zColName, z)
          .repartitionByRange(cl.numFiles, col(zColName))
          .sortWithinPartitions(col(zColName))
          .drop(drop: _*)
          .write.mode("append").parquet(path)
      }
      Layout.writeMarker(spark, path, markerFile, payload(cl))
      Layout.writeMarker(spark, path, schemaFile,
        schemaPayload(df.schema))
      // first generation: a BASE manifest listing the bootstrap's
      // files with their footer stats (readClustered refuses the whole
      // rebuild window above via the marker gate, so there is no torn
      // state for it to expose)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
      // isDvName guard is defensive only: the rebuild purged the old
      // layout's files, and a leftover dv- orphan entering the fresh
      // base would APPLY old-generation deletes to the new rows
      // no eager z-range capture here: the materialized curve column
      // means the FIRST fold's residentIvs serves its cache misses
      // from these footers (driver-only, ~ms) — bootstrap-only
      // lifecycles (q175/q177/q180) never pay for ranges nothing reads
      stampManifest(spark, fs, root, footerStats(spark, fs, root,
        listDataFiles(fs, root).map(_.getPath.getName)
          .filterNot(isDvName), Some(cl)))
      cl
    }

  /** Append a batch into an existing clustered layout as ONE
    * idempotent batchId-keyed transaction — the daily-ingest /
    * `foreachBatch` shape every index family already has, for
    * clustered tables: the batch is bucketed through the layout's
    * PINNED quantization (read from the `_graft_clustering` marker —
    * never a fresh stats pass), z-sorted into `batchFiles` tight
    * files, and published via [[Layout.idempotentAppend]] (replays
    * are no-ops, crash windows are swept and redone). The appended
    * tail therefore still prunes — each batch file carries a narrow
    * z-range — just at batch granularity instead of the main grid's;
    * [[compactClustered]] folds the tail back in. Returns
    * true if the batch was applied by THIS call (false = replay).
    *
    * Values beyond the pinned bounds CLAMP to the edge bucket (rows
    * stay correct, but intra-batch resolution in that dimension is
    * gone and a later fold widens — ZorderProbe measures the two
    * regimes): for an append-heavy dimension like event time,
    * bootstrap with headroom past the current max, or rebuild
    * periodically (a rebuild re-derives the bounds).
    *
    * Refused fast: a missing marker (over data = crashed rebuild; over
    * an empty path = bootstrap with a `write*` form first — unlike the
    * index families there is no caller-side parameter set to bootstrap
    * from, the quantization comes from a stats pass only a full write
    * runs), or a standing commit record of an in-flight or crashed
    * rewrite (run [[compactClustered]] to recover first). */
  def appendClustered(batch: DataFrame, path: String, batchId: Long,
      batchFiles: Int = 4): Boolean = {
    val spark = batch.sparkSession
    require(batchFiles >= 1, s"batchFiles must be >= 1, got $batchFiles")
    // ONE lease across record check + marker read + publish: a
    // compaction starting between the check and the append would
    // otherwise sweep files this append is publishing
    Layout.withWriterLease(spark, path, "appendClustered") {
    requireNoReservedZ(batch.columns, "appendClustered: batch")
    requireNotCompacting(spark, path, "appendClustered")
    val cl = clusteringOf(spark, path).getOrElse(sys.error(
      s"appendClustered: no $markerFile marker at $path — either a " +
        "crashed rebuild (data without its marker) or a fresh path; " +
        "bootstrap with writeZordered/writeHilbert/writeZorderedByRank " +
        "first (the pinned quantization comes from the write's stats " +
        "pass)"))
    // schema parity with the resident layout, checked BEFORE anything
    // lands: parquet directories have no schema enforcement of their
    // own, and a narrower (or differently-typed) batch would read back
    // with sampled-footer roulette — silent nulls, or whole columns
    // dropped by the next compaction. Name set AND per-name type must
    // match (nullability is a reader concern). Validated against the
    // `_graft_schema` marker the write stamped — one tiny read per
    // batch, never a directory listing; a pre-marker legacy layout
    // falls back to ONE mergeSchema read over its data files (skipped
    // when empty — nothing to corrupt, the batch defines the schema).
    // A mismatch over an EMPTY layout re-stamps instead of refusing —
    // the [[Layout]] state machine's dead-marker arm: a corrected
    // producer must not be poisoned forever by a schema nothing ever
    // landed under.
    val markerSchema = Layout.readMarker(spark, path, schemaFile)
    lazy val hasFiles = graft.sources.Sinks.hasDataFiles(spark, path)
    // the legacy-fallback frame is built ONCE and reused by the
    // mismatch arm's row probe
    lazy val residentDf = spark.read.option("mergeSchema", "true").parquet(path)
    // the fallback schema sheds the materialized curve column: a crash
    // between the two marker stamps of a rebuild leaves marker-present
    // schema-absent data WITH __graft_z, and deriving the payload from
    // the raw footers would mismatch every legitimate batch forever
    // (pre-r17 this arm self-healed; the drop restores that)
    val resident = markerSchema.orElse {
      if (hasFiles) Some(schemaPayload(residentDf.drop(zColName).schema))
      else None
    }
    val incoming = schemaPayload(batch.schema)
    if (resident.exists(_ != incoming)) {
      // rowless re-stamp arm, the ONE Layout-level spelling
      // ([[Layout.hasRowsConservative]]/[[Layout.purgeRowlessLayout]],
      // shared with bootstrapUnderLease so the two protocols cannot
      // drift): a mismatch over ROWS refuses; over a rowless layout
      // the stale files, ledger AND the old schema marker are cleared
      // together — a crash after this append publishes must leave
      // marker-absent-over-new-data (the retry's fallback read then
      // sees the NEW schema and the idempotent replay proceeds), never
      // old-marker-over-new-rows, which would brick every retry on
      // this very gate. The mergeSchema frame built above is reused as
      // the row probe.
      require(!Layout.hasRowsConservative(hasFiles, residentDf),
        s"appendClustered: batch schema [${incoming.replace("\n", ", ")}] " +
          s"does not match the resident layout's " +
          s"[${resident.get.replace("\n", ", ")}] at $path — appending " +
          "it would corrupt every future read (parquet dirs have no " +
          "schema enforcement)")
      Layout.purgeRowlessLayout(spark, path, hasFiles)
      markerSchema.foreach { _ =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val sm = new org.apache.hadoop.fs.Path(path, schemaFile)
        require(fs.delete(sm, false),
          s"appendClustered: could not clear the stale schema marker $sm")
      }
    }
    val (staged, z, drop) = clusteredFrame(batch, cl)
    val applied = Layout.idempotentAppend(spark, path, batchId) { stg =>
      withStatsTimestamps(spark) {
        staged.withColumn(zColName, z)
          .repartitionByRange(math.min(batchFiles, cl.numFiles),
            col(zColName))
          .sortWithinPartitions(col(zColName))
          .drop(drop: _*)
          .write.mode("overwrite").parquet(stg)
      }
    }
    // stamp/refresh AFTER the batch landed (or replayed) so a rejected
    // or crashed first append can never poison the gate with a schema
    // nothing holds: covers the legacy-absent marker (one fallback
    // read, then marker reads forever) and the re-stamp-over-empty arm
    if (!markerSchema.contains(incoming))
      Layout.writeMarker(spark, path, schemaFile, incoming)
    // manifest: the new generation adds this batch's published files.
    // Refreshed on the REPLAY arm too — a crash between the ledger
    // commit and this stamp leaves committed-but-unlisted files, and
    // the at-least-once replay (a no-op for the data) heals the
    // pointer here. Files-before-pointer, so a resolve at any instant
    // names only files that exist. The batch's names come from a
    // PREFIX glob, not a full root listing — a prefixed LIST on
    // object stores, so the per-micro-batch cost does not grow with
    // the table (the schema-marker discipline, applied to the
    // pointer).
    val fsm = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootm = fsm.makeQualified(new org.apache.hadoop.fs.Path(path))
    // Option-wrapped: globStatus returns NULL (not an empty array) on
    // some filesystems when nothing matches — reachable here for an
    // EMPTY batch, whose staged write publishes no data files.
    // RETIRED names are excluded from the heal: after a retention
    // fold, this batch's b<id>- files are still ON DISK (ledgered, in
    // grace) but their rows live in the fold's replacements — an
    // unfiltered glob on a replay would stamp them back into the
    // manifest and double-count every row of the batch
    val retiredA = readRetired(spark, path).keySet
    val addedNames = Option(fsm.globStatus(
        new org.apache.hadoop.fs.Path(rootm, s"b$batchId-*")))
      .getOrElse(Array.empty).toSeq
      .filterNot(_.isDirectory).map(_.getPath.getName)
      .filterNot(retiredA)
    commitManifestDelta(spark, fsm, rootm,
      footerStats(spark, fsm, rootm, addedNames, Some(cl)), Set.empty,
      deferGc = retiredA.nonEmpty)
    onProtocolStep("append-manifest")
    applied
    }
  }

  /** Fold the appended tail back into the main grid: re-cluster ALL
    * current rows through the PINNED quantization into the layout's
    * `numFiles` and swap the files in a crash-recoverable staged
    * rewrite. After a compact the layout prunes exactly like a fresh
    * pinned-parameter rewrite (ZorderSpec pins rows exactly and
    * decoded-rows parity; the `_graft_batches` ledger is KEPT so a
    * replayed pre-compact batch stays a no-op rather than
    * re-appending folded rows).
    *
    * Protocol (single writer per path, like every [[Layout]] rewrite)
    * — the one commit protocol every clustered rewrite shares
    * ([[recordCommit]] / [[finishCommit]] / [[recoverCommit]]):
    *   1. stage the full re-clustered rewrite under the hidden
    *      `_graft_commit_tmp` (parquet readers never see it);
    *   2. write the `_graft_commit` record — staged subdir and publish
    *      prefix `c<T>-`, the planned names, every file live before the
    *      fold as the retire list, `retainMs`, "base manifest" — the
    *      writer-side commit point;
    *   3. publish the staged files into the root under `c<T>-` (the
    *      root transiently holds BOTH generations);
    *   4. stamp a BASE manifest of exactly the planned files — the
    *      READER-side commit point ([[readClustered]] resolves the
    *      manifest, so it sees the old generation until this instant
    *      and the new one after, never a mixture);
    *   5. retire (under `retainMs` grace) or delete the listed files;
    *   6. drop the staging dir, then the record.
    * Every crash window recovers on the next rewrite call: record
    * present → roll steps 3–6 forward from the record (renames of
    * already-published files are gone from staging, the manifest stamp
    * and the sweep are set operations); staging without a record → a
    * pre-commit crash, the stale staging is discarded. Because old
    * files outlive the manifest flip, a manifest reader resolves a
    * COMPLETE generation at every step, crashed states and recovery
    * steps included; only a direct directory read (the legacy/raw
    * path) can observe the transient both-generations state between
    * steps 3 and 5.
    *
    * At 100 TB this whole-layout form is the periodic DEFRAGMENTATION
    * (it alone restores the exact `numFiles` grid); the per-ingest
    * compact is [[compactTail]], which rewrites only the tail and the
    * resident files it overlaps — rewrite bytes ∝ tail, not table. */
  def compactClustered(spark: SparkSession, path: String,
      retainMs: Long = 0L): Unit =
    Layout.withWriterLease(spark, path, "compactClustered") {
    require(retainMs >= 0,
      s"compactClustered: retainMs must be >= 0, got $retainMs")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    // finish (or discard) any crashed rewrite first — this fold must
    // see the completed state
    recoverCommit(spark, fs, root)
    // roll back any CRASHED append before folding: an unledgered
    // publish folded into the compacted files would strand the
    // stream's sweep-and-redo — the replay re-appends rows the fold
    // already absorbed (under the lease, staging-without-ledger IS
    // crashed, never in-flight)
    Layout.rollbackUnledgered(spark, path)
    val cl = clusteringOf(spark, path).getOrElse(sys.error(
      s"compactClustered: no $markerFile marker at $path — not a " +
        "clustered graft layout (or a crashed rebuild); rebuild with a " +
        "write* form first"))
    // mergeSchema: the fold must see EVERY column present anywhere in
    // the layout, not one sampled footer's view — with schema-checked
    // appends the schemas agree, but a pre-check legacy layout must
    // surface its width here rather than silently drop columns.
    // Explicit LIVE paths, never the directory: files a PREVIOUS
    // retention compact left in grace are old-generation rows whose
    // fold-in would duplicate every one. The ledger is read once: under
    // the lease nothing else writes it mid-call.
    val retiredM = readRetired(spark, path)
    // DV files are excluded as fold SOURCES and applied as the fold's
    // FILTER (from the manifest, never the directory — an orphan DV
    // from a crashed delete commit must not delete anything): the
    // whole compact MATERIALIZES every tombstone, its fresh base
    // manifest carries no dv- entries, and the victim list below
    // reclaims the superseded DV files like any old-generation file
    val dvNames0 = currentManifest(spark, fs, root)
      .map(_._2.filter(isDvName)).getOrElse(Seq.empty)
    val victims = listDataFiles(fs, root)
      .filterNot(st => retiredM.contains(st.getPath.getName))
    val livePaths = victims
      .filterNot(st => isDvName(st.getPath.getName)).map(_.getPath)
    require(livePaths.nonEmpty,
      s"compactClustered: no live data files at $path — nothing to fold")
    // the materialized curve column is WRITE-pipeline state, never fold
    // input: dropped here (free — column pruning), recomputed below
    val (staged, z, drop) = clusteredFrame(
      applyDvs(spark, fs, root,
        spark.read.option("mergeSchema", "true")
          .parquet(livePaths.map(_.toString): _*), dvNames0)
        .drop(zColName), cl)
    withStatsTimestamps(spark) {
      staged.withColumn(zColName, z)
        .repartitionByRange(cl.numFiles, col(zColName))
        .sortWithinPartitions(col(zColName))
        .drop(drop: _*)
        .write.mode("overwrite").parquet(stagedDir(root, "c").toString)
    }
    // the new generation is a BASE manifest of exactly the staged
    // files; every file live before the fold retires or goes
    val token = newToken()
    commit(spark, fs, root, planCommit(fs, root, "whole", token,
      Seq("c" -> s"c$token-"), victims.map(_.getPath.getName), retainMs,
      batchId = None, base = true), Some(cl), retiredM)
    // the z-range cache describes files the swap just deleted — drop
    // it (a pure cache: the next fold's residentIvs re-fills misses
    // from the fresh grid's FOOTERS — driver-only, ~ms — thanks to
    // the materialized curve column; the Spark-scan fallback only
    // ever runs for legacy files)
    val zr = new org.apache.hadoop.fs.Path(root, zrangesFile)
    if (fs.exists(zr)) fs.delete(zr, false)
  }

  /** Fold ONLY the appended tail back into the layout — the amortized
    * form of [[compactClustered]], whose whole-layout rewrite is the
    * one cost that does not scale: at 100 TB with daily ingest, a
    * full-table rewrite per compact prices clustered ingest out.
    * This form rewrites the `b<id>-` batch files PLUS exactly the
    * resident files whose z-ranges the tail's z-ranges intersect,
    * leaving disjoint resident files UNTOUCHED on disk — rewrite bytes
    * are bounded by tail size × overlap, not table size (a
    * time-correlated daily batch lands in a narrow curve segment and
    * touches few resident files; a domain-spanning batch honestly
    * degrades toward the whole-layout fold).
    *
    * ==Why the result is still fully clustered==
    * The layout near-invariant — every non-tail file's z-range is
    * pairwise disjoint EXCEPT at shared boundary values (a range
    * task's sorted output split across files legally puts one z value
    * on both sides of a cut, e.g. under
    * `spark.sql.files.maxRecordsPerFile`) — makes the fold set CLOSED:
    * a resident whose interval holds no tail z-VALUE can't hold any
    * folded row's value beyond a shared endpoint, and residents tied
    * at a folded value are folded too (the containment expansion). The
    * rewritten rows are range-partitioned on z and split by REGION
    * (the fold intervals merged by the untouched-aware
    * [[buildRegions]] rule) via a `partitionBy` on a region bucket, so
    * no replacement file can SPAN a junction that an untouched file
    * sits at or inside — replacement z-ranges at worst TIE an
    * untouched file at a boundary value the layout already shared,
    * never strictly contain one. ZorderSpec pins pairwise
    * disjointness after a tail compact on tie-free layouts (the same
    * structural "fully clustered" the whole-compact contract grades)
    * and no-overlap-beyond-ties on tie layouts; a layout with GENUINE
    * interior overlap (foreign writes) folds everything, restoring the
    * invariant.
    *
    * ==Cost shape==
    * Overlap is tested at VALUE level — a resident folds iff some tail
    * z-value lands inside its interval — so the fold is MINIMAL and
    * independent of how many files the append spread the batch over
    * (a hull test would let a spread batch's few files bridge the
    * curve segments they occupy and drag every resident in between
    * into the rewrite). One narrow scan of the TAIL files (clustered
    * columns only) feeds a binary search over the broadcast resident
    * boundaries; resident files' own ranges come from the
    * `_graft_zranges` cache — a pure cache: entries for missing files
    * are recomputed by a targeted scan and re-stamped, so the FIRST
    * tail compact of a legacy layout pays one narrow full scan and
    * every later one scans ∝ tail. The rewrite (shuffle + sort + write
    * of full-width rows, the dominant cost) is ∝ fold set by
    * construction. Replacement file count is sized by bytes (fold
    * bytes / mean resident file bytes), so file sizes stay near the
    * grid's.
    *
    * ==Crash protocol==
    * The [[compactClustered]] commit protocol, one record and one
    * recovery rule: stage under `_graft_commit_tmp`; write the
    * `_graft_commit` record — publish prefix `t<token>-`, the planned
    * replacement names, the fold set as the retire list (a partial
    * fold's victims cannot be told apart by name pattern), the
    * caller's `retainMs` (so a crash keeps its reader grace), "delta
    * manifest" — the writer-side commit point; publish; commit a
    * manifest delta of (+ replacements, − fold set) — the READER-side
    * commit point; retire or delete the fold set; drop staging, then
    * the record. Every rewrite entry recovers a standing record by
    * rolling it forward; staging without a record is pre-commit debris
    * and is discarded. A manifest reader ([[readClustered]]) resolves
    * a complete generation at every step, crashed states included —
    * fold files outlive the flip. Appends refuse while the record
    * stands. The batch LEDGER is kept, crashed unledgered appends are
    * rolled back first, and replays stay no-ops — the
    * [[compactClustered]] rules unchanged.
    *
    * Returns true if a tail was folded; false = no `b<id>-` files (the
    * steady state — callers can invoke it unconditionally per ingest
    * cycle). */
  def compactTail(spark: SparkSession, path: String,
      retainMs: Long = 0L): Boolean =
    Layout.withWriterLease(spark, path, "compactTail") {
      val (fs, root, cl, retiredM, tails, mains) =
        tailFoldPreamble(spark, path, "compactTail", retainMs)
      if (tails.isEmpty) false
      else {
        foldAndPublish(spark, path, fs, root, cl, retainMs, retiredM,
          tails, mains, extraProbe = None, transform = _.get)
        true
      }
    }

  /** Keyed MERGE — CDC apply / upsert / delete on a clustered layout,
    * rewriting EXACTLY the files the changed keys can live in (located
    * by clustering-value containment over the per-file z-ranges, the
    * [[compactTail]] discipline) through the same commit protocol:
    * record + publish-new → flip-manifest → delete-old (or retire
    * under `retainMs` grace), recovered like every rewrite. Rewrite
    * cost is ∝ touched files × overlap + the standing tail, never
    * table size — the 100 TB CDC-apply shape.
    *
    * Semantics (the Delta MERGE essentials):
    *   - `changes` rows carry the layout's FULL data schema (so every
    *     row knows its clustering values), plus the optional
    *     `deleteCol` (true = remove the key) and `versionCol` markers;
    *   - a change key present in the layout is REPLACED by the change
    *     row (all its resident copies — merge enforces key uniqueness
    *     among the keys it touches); an absent key INSERTS; a delete
    *     of an absent key is a no-op;
    *   - duplicate keys WITHIN the batch refuse loudly unless
    *     `versionCol` is given, where the highest version wins
    *     (last-write survivor rule);
    *   - all standing tail (`b<id>-`) files fold in as a side effect —
    *     they overlap every box, so any of them could hold a touched
    *     key, and folding them is work the next compact owed anyway;
    *   - merge batches are CDC-sized by assumption: replacement file
    *     count is sized by FOLD bytes, so a bulk load smuggled in as
    *     merge-inserts lands under-split — bulk ingest belongs to
    *     [[appendClustered]] (inserts here are the keys a CDC stream
    *     creates, not a backfill).
    *
    * ==The clustering-immutability contract==
    * A key's CLUSTERING column values are its address: the rewrite
    * touches exactly the files whose z-interval contains the change
    * row's clustering values. Updating a key's clustering columns in
    * place would leave the old row at its old address untouched (a
    * silent duplicate) — move a row by sending a DELETE carrying the
    * OLD clustering values plus an INSERT carrying the new ones in the
    * same batch. Non-clustering columns update freely. */
  def mergeClustered(spark: SparkSession, path: String,
      changes: DataFrame, keyCols: Seq[String],
      deleteCol: Option[String] = None, versionCol: Option[String] = None,
      retainMs: Long = 0L): Unit =
    Layout.withWriterLease(spark, path, "mergeClustered") {
      val (fs, root, cl, retiredM, tails, mains) =
        tailFoldPreamble(spark, path, "mergeClustered", retainMs)
      require(keyCols.nonEmpty, "mergeClustered: keyCols is empty")
      requireNoReservedZ(changes.columns, "mergeClustered: changes")
      val metaCols = deleteCol.toSeq ++ versionCol.toSeq
      metaCols.foreach(c => require(changes.columns.contains(c),
        s"mergeClustered: marker column $c is not in the changes batch"))
      require(!keyCols.exists(metaCols.contains),
        s"mergeClustered: keyCols and marker columns overlap")
      val dataSchema = org.apache.spark.sql.types.StructType(
        changes.schema.fields.filterNot(f => metaCols.contains(f.name)))
      keyCols.foreach(k => require(dataSchema.fieldNames.contains(k),
        s"mergeClustered: key column $k is not in the changes batch"))
      // schema parity — the appendClustered gate, applied to merges:
      // a narrower or retyped batch would corrupt every future read
      Layout.readMarker(spark, path, schemaFile).foreach { rp =>
        require(rp == schemaPayload(dataSchema),
          s"mergeClustered: change schema [${schemaPayload(dataSchema)
            .replace("\n", ", ")}] does not match the resident " +
            s"layout's [${rp.replace("\n", ", ")}] at $path (marker " +
            "columns excluded); run migrateSchemaWiden first if this " +
            "is a widening")
      }
      // survivor rule within the batch: versionCol → last-write wins;
      // no versionCol → duplicate keys are ambiguous, refuse loudly
      // (one bounded job over the CHANGES batch, never the table)
      val keyed = versionCol match {
        case Some(v) =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keyCols.map(col): _*)
            .orderBy(col(v).desc)
          changes.withColumn("__graft_rn", row_number().over(w))
            .filter(col("__graft_rn") === 1).drop("__graft_rn")
        case None =>
          val dup = changes.groupBy(keyCols.map(col): _*)
            .count().filter(col("count") > 1).limit(1).collect()
          require(dup.isEmpty,
            s"mergeClustered: duplicate key ${dup.headOption} in the " +
              "changes batch and no versionCol to arbitrate — dedupe " +
              "first or pass versionCol (last-write wins)")
          changes
      }
      keyed.cache()
      try {
        // NULL keys refuse loudly: the replacement anti-join is
        // null-UNsafe equality (NULL matches nothing), so a NULL-key
        // change would union in its row while every resident NULL-key
        // copy survives — a silent duplicate — and a NULL-key delete
        // would silently no-op
        require(keyed.filter(keyCols.map(col(_).isNull)
          .reduce(_ || _)).isEmpty,
          s"mergeClustered: the changes batch carries NULL in a key " +
            s"column (${keyCols.mkString(", ")}) — a NULL key cannot " +
            "address a resident row; filter or repair the batch first")
        if (keyed.isEmpty) () // an empty batch is a no-op, not a fold
        else {
          val isDelete = deleteCol.map(c =>
            coalesce(col(c).cast("boolean"), lit(false)))
            .getOrElse(lit(false))
          val upserts = keyed.filter(!isDelete).drop(metaCols: _*)
          val changeKeys = keyed.select(keyCols.map(col): _*).distinct()
          foldAndPublish(spark, path, fs, root, cl, retainMs, retiredM,
            tails, mains, extraProbe = Some(keyed),
            transform = {
              // every resident copy of a changed key drops (anti-join
              // on the key), the surviving change rows take its place;
              // allowMissingColumns covers a widened-schema fold whose
              // oldest files predate the migration
              case Some(fold) => fold
                .join(changeKeys, keyCols, "left_anti")
                .unionByName(upserts, allowMissingColumns = true)
              case None => upserts // pure insert into gaps: no victims
            })
        }
      } finally keyed.unpersist()
    }

  /** Row-level DELETE by key WITHOUT rewriting any data file — the
    * deletion-vector verb ([[mergeClustered]] with `deleteCol` is the
    * rewrite form; this one writes tombstones). Write cost is ∝ the
    * KEY BATCH — one narrow scan of the files the keys can live in
    * (located by clustering-value containment, the shared
    * [[locateByValue]] primitive), a semi-join producing (file name,
    * parquet row position) pairs, one tiny parquet file of those
    * pairs published under `dv-<token>-`, and one manifest DELTA
    * commit — while a merge-delete rewrites victim file BYTES. At
    * 100 TB a trickle of CDC deletes costs megabytes a day instead of
    * rewriting gigabyte files per batch; any later fold or compact
    * MATERIALIZES the tombstones it touches, and the whole compact
    * clears the DV set entirely.
    *
    * Semantics: every resident row matching some key row on `keyCols`
    * is deleted, everywhere it resides (tails included). Key rows
    * must also carry the layout's CLUSTERING columns — a key's
    * clustering values are its address (the [[mergeClustered]]
    * immutability contract); deleting a row whose clustering values
    * moved requires the OLD values. Deleting an absent key is a
    * no-op; re-running a committed delete is a no-op (already-deleted
    * positions are excluded from the fresh tombstone set, so the
    * call is idempotent by construction — no batchId needed). NULL in
    * a key column refuses loudly (the anti/semi-join is null-UNsafe —
    * a NULL key addresses nothing and would silently no-op).
    *
    * Protocol: the DV file is an ordinary manifest ENTRY, so the
    * commit inherits the whole existing discipline — the delta
    * commit is atomic (readers see all tombstones or none), a pinned
    * pre-delete epoch keeps serving the undeleted rows, retention
    * and vacuum govern superseded DV files exactly like data files.
    * Its one commit point is that manifest delta, so it writes no
    * commit record; it stages under the shared `_graft_commit_tmp`.
    * Crash windows: before publish → stale staging, discarded by the
    * next rewrite entry; after publish, before commit → orphan `dv-`
    * files no resolve can reach, swept here and aged out by vacuum's
    * self-heal; after commit → the delete IS committed.
    *
    * Returns the number of row positions tombstoned by THIS call. */
  def deleteClustered(spark: SparkSession, path: String,
      keys: DataFrame, keyCols: Seq[String]): Long =
    Layout.withWriterLease(spark, path, "deleteClustered") {
      val (fs, root, cl, retiredM, tails, mains) =
        tailFoldPreamble(spark, path, "deleteClustered", 0L)
      require(keyCols.nonEmpty, "deleteClustered: keyCols is empty")
      keyCols.foreach(k => require(keys.columns.contains(k),
        s"deleteClustered: key column $k is not in the keys frame"))
      cl.cols.map(_.name).foreach(c => require(keys.columns.contains(c),
        s"deleteClustered: clustering column $c is not in the keys " +
          "frame — a key's clustering values are its address (the " +
          "mergeClustered contract); carry the OLD clustering values " +
          "in every key row"))
      Seq("__graft_dv_file", "__graft_dv_pos").foreach(c => require(
        !keys.columns.contains(c) && !keyCols.contains(c),
        s"deleteClustered: $c is a reserved column name"))
      requireNoReservedZ(keys.columns ++ keyCols, "deleteClustered: keys")
      val manifested = currentManifest(spark, fs, root).getOrElse(
        sys.error(s"deleteClustered: $path has no generation manifest " +
          "— bootstrap or append once first (deletion vectors commit " +
          "through the manifest; a directory read cannot see them)"))
        ._2.toSet
      sweepDvDebris(spark, fs, root, manifested, retiredM)
      val dvLive = manifested.filter(isDvName).toSeq.sorted
      val keyed = keys.select(
        (keyCols ++ cl.cols.map(_.name).filterNot(keyCols.contains))
          .map(col): _*).distinct()
      keyed.cache()
      try {
        require(keyed.filter(keyCols.map(col(_).isNull)
          .reduce(_ || _)).isEmpty,
          s"deleteClustered: the keys frame carries NULL in a key " +
            s"column (${keyCols.mkString(", ")}) — a NULL key cannot " +
            "address a resident row; filter or repair the batch first")
        if (keyed.isEmpty) 0L
        else {
          val (cnt, victimFiles) = stageTombstones(spark, path, fs, root,
            cl, dvLive, tails, mains, keyed, keyCols)
          if (cnt == 0L) 0L
          else {
            // record-free: publish, then the one manifest delta commit
            val added = publish(fs, root, "dv", s"$dvPrefix${newToken()}-")
            fs.delete(new org.apache.hadoop.fs.Path(root, stagingDir), true)
            commitManifestDelta(spark, fs, root,
              added.map(_ -> "").toMap, Set.empty,
              deferGc = retiredM.nonEmpty)
            // pre-warm the read side's victim cache when this batch IS
            // the generation's whole DV set (the common first-delete
            // case) — the first manifest read then skips its
            // distinct-victims job entirely
            if (dvLive.isEmpty)
              cacheDvFiles(root.toString, added.sorted, victimFiles)
            cnt
          }
        }
      } finally keyed.unpersist()
    }

  /** Sweep a crashed delete's published-but-uncommitted dv- orphans
    * under the writer lease (unreachable by any resolve; ledgered ones
    * are a previous compact's grace and stay). Its stale staging is
    * the shared staging dir, discarded by [[recoverCommit]]. */
  private def sweepDvDebris(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      manifested: Set[String], retired: Map[String, Long]): Unit =
    listDataFiles(fs, root).map(_.getPath.getName)
      .filter(n => isDvName(n) && !manifested(n) && !retired.contains(n))
      .foreach(n => require(
        fs.delete(new org.apache.hadoop.fs.Path(root, n), false),
        s"deleteClustered: could not sweep orphan $n"))

  /** STAGE fresh tombstones for every resident copy (in `tails` +
    * the located `mains`) of a key row in `keyed` — the core
    * [[deleteClustered]] and [[mergeOnRead]] share. `keyed` must be
    * distinct, NULL-free over `keyCols`, and carry the clustering
    * columns (the address contract). Already-deleted positions
    * (`dvLive`) are excluded, which is what makes a retry find
    * nothing fresh. Returns (fresh tombstone count, distinct victim
    * data-file base names) — both observed from the staging WRITE job
    * itself (no re-read job); on 0 (absent
    * keys, or a retry) NOTHING is left staged. On > 0 the tombstone
    * parquet sits in the `dv` subdir of the shared staging dir,
    * awaiting its caller's publish — staging and publishing are split
    * so [[mergeOnRead]] can put its commit record between them. */
  private def stageTombstones(spark: SparkSession, path: String,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      cl: Clustering, dvLive: Seq[String],
      tails: Seq[org.apache.hadoop.fs.FileStatus],
      mains: Seq[org.apache.hadoop.fs.FileStatus],
      keyed: DataFrame, keyCols: Seq[String]): (Long, Set[String]) = {
    val tmp = stagedDir(root, "dv")
    val ivs = residentIvs(spark, path, cl, tails ++ mains, mains)
    def realIv(n: String): Option[(Long, Long)] =
      ivs.get(n).filter(iv => iv._1 <= iv._2)
    val mainIvsSorted = mains.flatMap(st =>
      realIv(st.getPath.getName)
        .map(iv => (st.getPath.getName, iv))).sortBy(_._2)
    val (hit, _) = locateByValue(spark, cl, mainIvsSorted, Seq(keyed))
    // tails always scan: every b<id>- file overlaps by construction,
    // so any of them could hold a touched key
    val victims = tails ++ mains.filter(st => hit(st.getPath.getName))
    if (victims.isEmpty) (0L, Set.empty[String])
    else {
      // ONE narrow scan of the victims: key columns + row identity
      // (the raw metadata path — the basename is cut only from the
      // MATCHED rows below, batch-sized, never per scanned row);
      // existing tombstones are excluded so a retry finds nothing
      // fresh
      // select-only scan: the declared schema (when one stands) skips
      // mergeSchema's per-call footer-merging Spark job
      val vReader = selectScanSchema(spark, path, fs, root) match {
        case Some(s) => spark.read.schema(s)
        case None => spark.read.option("mergeSchema", "true")
      }
      val narrow = vReader
        .parquet(victims.map(_.getPath.toString): _*)
        .select(Seq(
          col("_metadata.file_path").as("__graft_dv_file"),
          col("_metadata.row_index").as("__graft_dv_pos")) ++
          keyCols.map(col): _*)
      val undeleted =
        if (dvLive.isEmpty) narrow
        else narrow.join(broadcast(dvFrame(spark, root, dvLive)),
          Seq("__graft_dv_file", "__graft_dv_pos"), "left_anti")
      val fresh = undeleted
        .join(keyed.select(keyCols.map(col): _*).distinct(),
          keyCols, "left_semi")
        .select(element_at(split(col("__graft_dv_file"), "/"), -1)
          .as("file"), col("__graft_dv_pos").as("pos"))
      // repartition(1): the tombstone set is batch-sized; one file
      // keeps the read side's broadcast build trivial (repartition,
      // not coalesce — the join above keeps its parallelism).
      // The distinct victim set rides the WRITE job as an observed
      // metric (SET semantics, so a re-executed map task after a
      // fetch failure cannot change it) and pre-warms the read side's
      // dvFilesCache; the COUNT comes from the staged parquet's own
      // footer record counts — driver-only metadata, no re-read job,
      // and exact under ANY task re-execution (an observed count()
      // would double-apply re-run map tasks' updates; the pre-r17
      // re-read job was exact, and the count gates the idempotency
      // arm, so it must stay exact).
      val obs = new org.apache.spark.sql.Observation()
      fresh.observe(obs, collect_set(col("file")).as("victims"))
        .repartition(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val victimSet =
        obs.get("victims").asInstanceOf[scala.collection.Seq[String]].toSet
      val conf = spark.sparkContext.hadoopConfiguration
      val cnt = listDataFiles(fs, tmp).map { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            st.getPath, conf))
        try r.getRecordCount finally r.close()
      }.sum
      if (cnt == 0L)
        fs.delete(new org.apache.hadoop.fs.Path(root, stagingDir), true)
      (cnt, victimSet)
    }
  }

  /** Keyed MERGE in the MERGE-ON-READ discipline — [[mergeClustered]]
    * semantics (update / delete / insert, last-write `versionCol`
    * arbitration, the clustering-immutability contract) with
    * [[deleteClustered]] economics: NO data file is rewritten. Old
    * copies of every change key are TOMBSTONED (one narrow scan of
    * the located victims), surviving upsert rows land as an ordinary
    * ledgered `b<batchId>-` tail batch through the pinned
    * quantization, and ONE manifest delta commit publishes both sides
    * together — a reader resolves either the full old state or
    * tombstones AND inserts at once, never a half-applied batch. At
    * 100 TB this is the CDC steady state: per-batch write cost is
    * ∝ the batch (tombstone rows + insert rows), the read side pays
    * one broadcast anti-join plus the tail overlap the trigger policy
    * already bounds, and the standing folds ([[compactTail]] /
    * [[compactClustered]]) amortize both debts on their own schedule
    * — the rewrite-now form ([[mergeClustered]]) remains for when
    * read amplification matters more than write cost.
    *
    * ==Why this verb commits through the record==
    * Key-addressed tombstones are NOT state-idempotent the way the
    * rewrite merge is: once a batch's inserts are visible (committed,
    * or folded into replacements), re-running the tombstone pass
    * would address the batch's own NEW copies — the ledger blocks the
    * re-insert, and the replay would destroy the data it delivered.
    * So replays must never re-run a completed batch, and a crashed
    * one must be COMPLETED, not redone: the shared `_graft_commit`
    * record ([[recordCommit]]) lists the planned dv and insert file
    * names and the batch id to ledger, and every rewrite entry rolls
    * it forward through publish → ledger → commit, all idempotent set
    * operations. Before the record, nothing is durable (staging is
    * discarded); from the record on, recovery finishes the batch
    * exactly once; the manifest delta
    * stays the single reader-visible atom (a reader resolves the full
    * old state or tombstones AND inserts together at every crash
    * window). A replayed `batchId` whose ledger entry stands returns
    * 0 and touches nothing. The batchId namespace is shared with
    * [[appendClustered]] — use distinct ids across both verbs.
    *
    * Returns the number of positions tombstoned by THIS call (0 for
    * a replay or a pure-insert batch). */
  def mergeOnRead(spark: SparkSession, path: String, changes: DataFrame,
      keyCols: Seq[String], batchId: Long,
      deleteCol: Option[String] = None, versionCol: Option[String] = None,
      batchFiles: Int = 4): Long =
    Layout.withWriterLease(spark, path, "mergeOnRead") {
      val (fs, root, cl, retiredM, tails, mains) =
        tailFoldPreamble(spark, path, "mergeOnRead", 0L)
      require(batchFiles >= 1, s"batchFiles must be >= 1, got $batchFiles")
      // a negative id would escape the b\d+- tail classification AND
      // brick recovery (the record's header check is \d{1,18}) — the
      // idempotentAppend gate, enforced before anything durable
      require(batchId >= 0, s"mergeOnRead: batchId must be >= 0, " +
        s"got $batchId")
      require(keyCols.nonEmpty, "mergeOnRead: keyCols is empty")
      requireNoReservedZ(changes.columns, "mergeOnRead: changes")
      val metaCols = deleteCol.toSeq ++ versionCol.toSeq
      metaCols.foreach(c => require(changes.columns.contains(c),
        s"mergeOnRead: marker column $c is not in the changes batch"))
      require(!keyCols.exists(metaCols.contains),
        s"mergeOnRead: keyCols and marker columns overlap")
      val dataSchema = org.apache.spark.sql.types.StructType(
        changes.schema.fields.filterNot(f => metaCols.contains(f.name)))
      keyCols.foreach(k => require(dataSchema.fieldNames.contains(k),
        s"mergeOnRead: key column $k is not in the changes batch"))
      Seq("__graft_dv_file", "__graft_dv_pos", "__graft_rn").foreach(c =>
        require(!changes.columns.contains(c),
          s"mergeOnRead: $c is a reserved column name"))
      Layout.readMarker(spark, path, schemaFile).foreach { rp =>
        require(rp == schemaPayload(dataSchema),
          s"mergeOnRead: change schema [${schemaPayload(dataSchema)
            .replace("\n", ", ")}] does not match the resident " +
            s"layout's [${rp.replace("\n", ", ")}] at $path (marker " +
            "columns excluded); run migrateSchemaWiden first if this " +
            "is a widening")
      }
      val manifested = currentManifest(spark, fs, root).getOrElse(
        sys.error(s"mergeOnRead: $path has no generation manifest — " +
          "bootstrap or append once first (tombstones commit through " +
          "the manifest)"))._2.toSet
      sweepDvDebris(spark, fs, root, manifested, retiredM)
      // exactly-once: an applied batch is a COMPLETED batch (the
      // commit record guarantees ledger ⇒ published + committed,
      // or recovered by the preamble above) — a replay must not re-run
      // the tombstone pass, which would address the batch's own
      // inserts wherever a fold has moved them
      if (Layout.batchApplied(spark, path, batchId)) 0L
      else {
      val dvLive = manifested.filter(isDvName).toSeq.sorted
      // survivor rule within the batch — the mergeClustered spelling
      val keyed = versionCol match {
        case Some(v) =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keyCols.map(col): _*)
            .orderBy(col(v).desc)
          changes.withColumn("__graft_rn", row_number().over(w))
            .filter(col("__graft_rn") === 1).drop("__graft_rn")
        case None =>
          val dup = changes.groupBy(keyCols.map(col): _*)
            .count().filter(col("count") > 1).limit(1).collect()
          require(dup.isEmpty,
            s"mergeOnRead: duplicate key ${dup.headOption} in the " +
              "changes batch and no versionCol to arbitrate — dedupe " +
              "first or pass versionCol (last-write wins)")
          changes
      }
      keyed.cache()
      try {
        require(keyed.filter(keyCols.map(col(_).isNull)
          .reduce(_ || _)).isEmpty,
          s"mergeOnRead: the changes batch carries NULL in a key " +
            s"column (${keyCols.mkString(", ")}) — a NULL key cannot " +
            "address a resident row; filter or repair the batch first")
        if (keyed.isEmpty) 0L
        else {
          val isDelete = deleteCol.map(c =>
            coalesce(col(c).cast("boolean"), lit(false)))
            .getOrElse(lit(false))
          val upserts = keyed.filter(!isDelete).drop(metaCols: _*)
          // 1. STAGE tombstones for every resident copy of every
          // change key — updates AND deletes (the change rows carry
          // the full data schema, so the clustering address is
          // present). Nothing durable happens before the record.
          val keysOnly = keyed.select(
            (keyCols ++ cl.cols.map(_.name).filterNot(keyCols.contains))
              .map(col): _*).distinct()
          val (nTomb, morVictims) = stageTombstones(spark, path, fs,
            root, cl, dvLive, tails, mains, keysOnly, keyCols)
          // 2. STAGE the surviving upsert rows through the pinned
          // quantization (the appendClustered write body, into this
          // verb's own hidden staging). A pure-delete batch (the
          // common CDC delete shape) skips the staging entirely —
          // Spark writes a footer-only file even for zero rows, and
          // committing one per delete batch would inflate the tail
          // file count (tripping tailCompactDue early, joining every
          // fold scan) for no row
          if (!upserts.isEmpty) {
            val (staged, z, drop) = clusteredFrame(upserts, cl)
            withStatsTimestamps(spark) {
              staged.withColumn(zColName, z)
                .repartitionByRange(
                  math.min(batchFiles, cl.numFiles), col(zColName))
                .sortWithinPartitions(col(zColName))
                .drop(drop: _*)
                .write.mode("overwrite").parquet(
                  stagedDir(root, "b").toString)
            }
          }
          onProtocolStep("mor-staged")
          // 3. the writer-side commit point: the record lists the
          // planned dv and insert names and the batch to ledger; 4–6.
          // publish → ledger → ONE manifest delta commit (the
          // reader-visible atom), shared verbatim with recovery
          val token = newToken()
          val c = planCommit(fs, root, "mor", token,
            Seq("dv" -> s"$dvPrefix$token-", "b" -> s"b$batchId-m$token-"),
            retire = Nil, retainMs = 0L, batchId = Some(batchId),
            base = false)
          if (c.planned.isEmpty) {
            // a batch that changes nothing (all-absent deletes):
            // nothing to publish, nothing to ledger — NOT applied, so
            // a later batch reusing the id is not silently swallowed
            fs.delete(new org.apache.hadoop.fs.Path(root, stagingDir), true)
            0L
          } else {
            commit(spark, fs, root, c, Some(cl), retiredM)
            // pre-warm the read side's victim cache (the
            // deleteClustered discipline) when this batch's DVs are
            // the generation's whole DV set
            val dvPlanned = c.planned.filter(isDvName)
            if (dvLive.isEmpty && dvPlanned.nonEmpty)
              cacheDvFiles(root.toString, dvPlanned.sorted, morVictims)
            nTomb
          }
        }
      } finally keyed.unpersist()
      }
    }

  /** The shared entry discipline of the fold family ([[compactTail]],
    * [[mergeClustered]], [[deleteClustered]], [[mergeOnRead]]): recover
    * any crashed rewrite ([[recoverCommit]]), roll back crashed
    * unledgered appends, and enumerate the fold universe — retired
    * files (a previous retention compact's grace) are OUT entirely:
    * not residents (their rows are old-generation duplicates), not
    * invariant inputs, not blockers. */
  private[graft] def tailFoldPreamble(spark: SparkSession, path: String,
      what: String, retainMs: Long): (org.apache.hadoop.fs.FileSystem,
      org.apache.hadoop.fs.Path, Clustering, Map[String, Long],
      Seq[org.apache.hadoop.fs.FileStatus],
      Seq[org.apache.hadoop.fs.FileStatus]) = {
    // a negative retainMs would behave as "no grace" live but be
    // written verbatim into the commit record, whose recovery header
    // check (\d{1,18}) then refuses — one crash would brick every
    // rewrite path until a human cleared the record
    require(retainMs >= 0, s"$what: retainMs must be >= 0, got $retainMs")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    recoverCommit(spark, fs, root)
    Layout.rollbackUnledgered(spark, path)
    val cl = clusteringOf(spark, path).getOrElse(sys.error(
      s"$what: no $markerFile marker at $path — not a clustered " +
        "graft layout (or a crashed rebuild); rebuild with a write* " +
        "form first"))
    val retiredM = readRetired(spark, path)
    // DV files are manifest entries, not fold inputs: they filter the
    // fold's READ (deleted rows must not resurrect into replacements)
    // but are never residents or tails themselves
    val files = listDataFiles(fs, root)
      .filterNot(st => retiredM.keySet(st.getPath.getName))
      .filterNot(st => isDvName(st.getPath.getName))
    val (tails, mains) = files.partition(st =>
      st.getPath.getName.matches("b\\d+-.*"))
    (fs, root, cl, retiredM, tails, mains)
  }

  /** Value-level containment over the sorted resident interval list —
    * the ONE location primitive the fold forms and [[deleteClustered]]
    * share: (residents holding at least one probe row's clustering
    * value, probe value spans falling in inter-resident GAPS). One job
    * over the probe rows: each value binary-searches a broadcast
    * boundary list of the sorted resident intervals and lands in a
    * resident slot or a gap slot; per-slot min/max come back in one
    * tiny aggregate. A deliberate udf: a maintenance job over probe
    * rows only (never a benched query path), EXACT long arithmetic (a
    * double spelling corrupts codes past 2^53), O(log M) per row over
    * a boundary list with no codegen-expressible spelling at 10^5
    * residents.
    *
    * `mainIvsSorted` must be sorted by (lo, hi) — lo alone is not
    * enough: sorted-run file splitting can put a single-value file
    * (0,0) NEXT TO the wider run file (0,2) that shares its boundary
    * value, and a lo-tie ordered (0,2),(0,0) would read as genuine
    * overlap. The binary search needs the layout near-invariant
    * (residents pairwise disjoint EXCEPT at shared BOUNDARY values —
    * legal under range-task output splitting); boundary ties are
    * handled by the containment EXPANSION (a probe value ON a shared
    * endpoint lives in BOTH residents, but the search returned only
    * one slot — every resident whose interval contains the slot's
    * boundary values is selected; an interior value is contained only
    * by its own slot, so expanding unconditionally is exact). GENUINE
    * interior overlap (foreign writes) makes the boundary sequence
    * decrease somewhere and selects EVERY resident — for a fold that
    * full rewrite restores the invariant; for a delete it degrades to
    * a conservative all-file scan, never a missed row. */
  /** Resident per-file z-ranges for exactly `files` (`mains` ⊆
    * `files` are the ones that get entries): cached and self-healing —
    * cache entries whose file vanished are dropped, residents without
    * entries get ONE targeted narrow scan. File names are unique
    * forever (every write embeds a job UUID), so a named entry can
    * never describe different bytes. Tail files need no range
    * entries: the callers test them by VALUE. A ZERO-ROW data file
    * yields no range entry from the stats pass, so it caches an
    * inverted sentinel (lo > hi, unreachable for a real file) rather
    * than paying a targeted scan on EVERY call; callers exclude
    * sentinel entries from interval computations (no rows → nothing
    * to fold or match, nothing to block a junction). */
  private def residentIvs(spark: SparkSession, path: String,
      cl: Clustering, files: Seq[org.apache.hadoop.fs.FileStatus],
      mains: Seq[org.apache.hadoop.fs.FileStatus])
      : Map[String, (Long, Long)] = {
    val full = readZranges(spark, path)
    val names = files.map(_.getPath.getName).toSet
    val cached = full.filter(e => names.contains(e._1))
    val missing = mains.filter(st => !cached.contains(st.getPath.getName))
    // a cache miss tries the FOOTERS first (exact, driver-only — new-
    // format files carry the materialized curve column, so a lost
    // best-effort cache write costs a metadata read, not a scan); the
    // targeted Spark scan remains for legacy files only
    val fromFooters =
      if (missing.isEmpty) Map.empty[String, (Long, Long)]
      else {
        val fsF = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        zrangesFromFooters(spark,
          fsF.makeQualified(new org.apache.hadoop.fs.Path(path)),
          missing.map(_.getPath.getName))
      }
    val still = missing.filterNot(st =>
      fromFooters.contains(st.getPath.getName))
    val computed = fromFooters ++
      computeZranges(spark, cl, still.map(_.getPath))
    val emptySentinels = still.map(_.getPath.getName)
      .filterNot(computed.contains).map(_ -> (1L, 0L)).toMap
    // PERSIST what the targeted scan just paid for (additive — stale
    // entries for vanished files are filtered on every read): without
    // this, a bootstrapped layout that only ever sees the delete/
    // merge-on-read verbs re-scans the whole resident grid on EVERY
    // batch (writeHilbert stamps no cache; only folds did), which
    // contradicts the cost-∝-batch claim. Best-effort like the fold's
    // own refresh — a lost write just means the next call re-scans.
    if (missing.nonEmpty)
      writeZranges(spark, path, full ++ computed ++ emptySentinels)
    cached ++ computed ++ emptySentinels
  }

  /** The layout's declared column schema for SELECT-ONLY scans (the
    * tombstone victim scan, the fold's tail probe): the widened DDL if
    * one stands, else the `_graft_schema` marker's fields (the append
    * gate enforces every file matches it, so per-call mergeSchema —
    * a footer-merging Spark JOB per read — proves nothing there), else
    * None (legacy layout: callers keep the mergeSchema read). NOT for
    * rewrite reads (folds/compacts), which keep mergeSchema so a
    * legacy layout surfaces its full width and the rewrite preserves
    * the files' column order (the marker payload is name-sorted). */
  private def selectScanSchema(spark: SparkSession, path: String,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path)
      : Option[org.apache.spark.sql.types.StructType] =
    readerSchema(spark, fs, root).orElse(
      Layout.readMarker(spark, path, schemaFile).flatMap { payload =>
        try Some(org.apache.spark.sql.types.StructType(
          payload.split('\n').iterator.map(_.trim).filter(_.nonEmpty)
            .map { line =>
              val i = line.indexOf('=')
              org.apache.spark.sql.types.StructField(
                java.net.URLDecoder.decode(line.substring(0, i), "UTF-8"),
                org.apache.spark.sql.catalyst.parser.CatalystSqlParser
                  .parseDataType(line.substring(i + 1)),
                nullable = true)
            }.toArray))
        catch { case scala.util.control.NonFatal(_) => None }
      })

  private def locateByValue(spark: SparkSession, cl: Clustering,
      mainIvsSorted: Seq[(String, (Long, Long))],
      probeParts: Seq[DataFrame]): (Set[String], Seq[(Long, Long)]) = {
    val flat = mainIvsSorted
      .flatMap { case (_, (lo, hi)) => Seq(lo, hi) }.toArray
    val m = mainIvsSorted.length
    val invariantHolds = flat.indices.drop(1).forall(i =>
      flat(i - 1) <= flat(i))
    if (!invariantHolds) (mainIvsSorted.map(_._1).toSet, Seq.empty)
    else {
      val bcFlat = spark.sparkContext.broadcast(flat)
      val slotOf = udf { (zv: Long) =>
        val a = bcFlat.value
        val p = java.util.Arrays.binarySearch(a, zv)
        if (p >= 0) (p / 2).toLong // on a bound => inside resident p/2
        else {
          val q = -p - 1
          if (q % 2 == 1) (q / 2).toLong // strictly inside resident
          else (a.length / 2 + q / 2).toLong // gap before resident q/2
        }
      }
      val probeZ = probeParts.map { p =>
        val (stagedP, zP, _) = clusteredFrame(
          p.select(cl.cols.map(c => col(c.name)): _*), cl)
        stagedP.select(zP.as("__z"))
      }.reduce(_ unionByName _)
      val slots = probeZ
        .groupBy(slotOf(col("__z")).as("__slot"))
        .agg(min(col("__z")).as("lo"), max(col("__z")).as("hi"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      bcFlat.destroy()
      // los is sorted; residents containing v form a contiguous run
      // ending at the last lo <= v
      val los = mainIvsSorted.map(_._2._1).toArray
      def containing(v: Long): Seq[Int] = {
        var j = java.util.Arrays.binarySearch(los, v)
        if (j < 0) j = -j - 2 // last lo <= v
        else while (j + 1 < m && los(j + 1) == v) j += 1
        val out = Seq.newBuilder[Int]
        var i = j
        while (i >= 0 && mainIvsSorted(i)._2._2 >= v) {
          out += i; i -= 1
        }
        out.result()
      }
      // (the slot itself is always in containing(lo) — its probe
      // min lies inside its own interval)
      val selected = slots.collect { case (s, lo, hi) if s < m =>
        containing(lo) ++ containing(hi)
      }.flatten.toSet
      (selected.map(i => mainIvsSorted(i)._1),
        slots.collect { case (s, lo, hi) if s >= m => (lo, hi) }.toSeq)
    }
  }

  /** The staged-fold core [[compactTail]] and [[mergeClustered]]
    * share: select the fold set by VALUE-level containment (all tails
    * + every main whose z-interval holds a probe value), rewrite
    * `transform(foldDf)` through the region-split staged swap, and
    * publish under the commit protocol (record → publish → manifest
    * flip → delete-or-retire). `extraProbe` adds rows whose
    * clustering values must be covered beyond the tail's (a merge's
    * change rows); `transform` receives the fold frame (None when the
    * probe touched no file — a pure gap insert) and returns the rows
    * to publish in the fold set's place. */
  private[graft] def foldAndPublish(spark: SparkSession, path: String,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      cl: Clustering, retainMs: Long, retiredM: Map[String, Long],
      tails: Seq[org.apache.hadoop.fs.FileStatus],
      mains: Seq[org.apache.hadoop.fs.FileStatus],
      extraProbe: Option[DataFrame],
      transform: Option[DataFrame] => DataFrame): Unit = {
    val files = tails ++ mains
    locally {
      val ivs = residentIvs(spark, path, cl, files, mains)
      def realIv(n: String): Option[(Long, Long)] =
        ivs.get(n).filter(iv => iv._1 <= iv._2)
      // fold selection by VALUE-level overlap, never per-tail-file
      // hulls: a resident folds iff at least one tail z-VALUE lands
      // inside its interval (a hull test lets a spread batch's few
      // files BRIDGE the curve segments they occupy and drag every
      // resident in between into the rewrite — measured in
      // ZorderProbe's first cut: 50 of 128 residents for a 6.5% time
      // slab). The location primitive is [[locateByValue]], shared
      // with [[deleteClustered]].
      val mainIvsSorted = mains.flatMap(st =>
        realIv(st.getPath.getName).map(iv => (st.getPath.getName, iv)))
        .sortBy(_._2)
      // select-only scan (locateByValue reads the clustering columns):
      // the declared schema skips mergeSchema's per-call footer job
      val tailReader = selectScanSchema(spark, path, fs, root) match {
        case Some(s) => spark.read.schema(s)
        case None => spark.read.option("mergeSchema", "true")
      }
      val probeParts = (if (tails.isEmpty) Seq.empty[DataFrame]
        else Seq(tailReader
          .parquet(tails.map(_.getPath.toString): _*))) ++
        extraProbe.toSeq
      require(probeParts.nonEmpty,
        "foldAndPublish: nothing to probe — no tails and no extra " +
          "probe (caller bug)")
      onProtocolStep("tail-ivs")
      val (foldMainNames, gapIvs) =
        locateByValue(spark, cl, mainIvsSorted, probeParts)
      onProtocolStep("tail-located")
      val foldMains = mains.filter(st => foldMainNames(st.getPath.getName))
      val foldSet = tails ++ foldMains
      val foldNames = foldSet.map(_.getPath.getName).toSet
      // sorted by (lo, hi) — buildRegions' binary search needs the hi
      // sequence non-decreasing, which a lo-only sort breaks on lo-ties
      val untouchedIvs = mains.filterNot(st => foldNames(st.getPath.getName))
        .flatMap(st => realIv(st.getPath.getName)).sorted
      // regions: folded residents' intervals plus the PER-GAP tail
      // value spans (each lies strictly between resident intervals, so
      // it can never cover an untouched resident), merged by the
      // UNTOUCHED-AWARE rule — adjacent intervals join only when no
      // untouched resident sits at or between their junction. One rule
      // for overlap, touching AND gap coalescing, because under
      // endpoint ties each of the naive forms can swallow an untouched
      // resident: folded (0,10) and (10,30) with untouched (10,10)
      // between them must stay two regions, or the replacement spans
      // [0,30], strictly contains (10,10), and the next compact trips
      // the whole-layout repair — the recurring full rewrite this
      // operator exists to avoid
      val regions = buildRegions(
        foldMains.flatMap(st => realIv(st.getPath.getName)) ++ gapIvs,
        untouchedIvs)
      // replacement file count by BYTES, so replacement files stay the
      // grid's size: fold bytes over the mean resident file
      val foldBytes = foldSet.map(_.getLen).sum
      val meanMain =
        if (mains.nonEmpty) math.max(1L, mains.map(_.getLen).sum / mains.length)
        else math.max(1L, foldBytes / cl.numFiles)
      val k = math.max(1, math.min(cl.numFiles,
        math.round(foldBytes.toDouble / meanMain).toInt))
      val tmp = stagedDir(root, "t")
      // fold inputs apply the generation's deletion vectors: a fold
      // over a DV'd file MATERIALIZES the tombstones (the rewritten
      // rows exclude deleted positions), and the dead DV records —
      // addressing names the flip removes — never match again
      val dvNames = currentManifest(spark, fs, root)
        .map(_._2.filter(isDvName)).getOrElse(Seq.empty)
      val foldDf =
        if (foldSet.isEmpty) None
        else Some(applyDvs(spark, fs, root,
          spark.read.option("mergeSchema", "true")
            .parquet(foldSet.map(_.getPath.toString): _*), dvNames)
          .drop(zColName))
      val rewritten = transform(foldDf)
      requireNoReservedZ(rewritten.columns, "compactTail: transform output")
      require(!rewritten.columns.contains(regionCol),
        s"compactTail: input already carries a $regionCol column — a " +
          "leaked stage column from a crashed tail compact; drop it first")
      val (staged, z, drop) = clusteredFrame(rewritten, cl)
      // the region bucket is a MONOTONE function of z (regions are
      // sorted, the bucket is a balanced search over their upper
      // bounds), so the z sort below orders it too; computed BEFORE
      // the stage-column drop because z references them in rank mode.
      // partitionBy on it splits each range task's output file at
      // region boundaries — the step that keeps a replacement file
      // from spanning a gap holding an untouched file. With one
      // region there is nothing to split, skip the partition dirs.
      withStatsTimestamps(spark) {
        if (regions.length <= 1)
          staged.withColumn(zColName, z)
            .repartitionByRange(k, col(zColName))
            .sortWithinPartitions(col(zColName))
            .drop(drop: _*)
            .write.mode("overwrite").parquet(tmp.toString)
        else
          // sort key leads with the region so the dynamic-partition
          // writer's required ordering is already satisfied and it
          // inserts no sort of its own (which would not preserve the
          // z order within regions); region is monotone in z, so
          // (region, z) IS the z order
          staged.withColumn(zColName, z)
            .withColumn(regionCol,
              regionBucket(col(zColName), regions.map(_._2)))
            .repartitionByRange(k, col(zColName))
            .sortWithinPartitions(col(regionCol), col(zColName))
            .drop(drop: _*)
            .write.mode("overwrite").partitionBy(regionCol)
            .parquet(tmp.toString)
      }
      // a dynamic-partition write emits NO file for zero rows, so a
      // merge that deleted every row of every fold file would publish
      // an EMPTY generation — unreadable (no footer to infer a schema
      // from). Detected on a free staging listing (never a Spark job)
      // and restaged through the single-region arm, which writes one
      // zero-row parquet file WITH the schema; the generation stays
      // readable and reports zero rows, which is what a full delete
      // means.
      def stagingHasData(d: org.apache.hadoop.fs.Path): Boolean =
        fs.exists(d) && fs.listStatus(d).exists { st =>
          if (st.isDirectory) stagingHasData(st.getPath)
          else !Layout.isHidden(st.getPath.getName)
        }
      if (!stagingHasData(tmp))
        withStatsTimestamps(spark) {
          staged.withColumn(zColName, z)
            .repartitionByRange(k, col(zColName))
            .sortWithinPartitions(col(zColName))
            .drop(drop: _*)
            .write.mode("overwrite").parquet(tmp.toString)
        }
      onProtocolStep("tail-staged")
      // the record lists the fold set: a partial fold's victims are not
      // recoverable by name pattern the way the whole compact's
      // "everything live before the fold" is
      val token = newToken()
      commit(spark, fs, root, planCommit(fs, root, "tail", token,
        Seq("t" -> s"t$token-"), foldSet.map(_.getPath.getName), retainMs,
        batchId = None, base = false), Some(cl), retiredM)
      // prune the z-range cache: untouched entries kept, folded ones
      // dropped. Replacement ranges are NOT captured here — the next
      // fold's residentIvs serves its misses from the replacements'
      // FOOTERS (driver-only, ~ms, via the materialized curve column)
      // and persists them, so a one-shot lifecycle pays nothing and a
      // steady loop pays metadata reads, never a scan. Best-effort
      // AFTER the swap committed.
      writeZranges(spark, path, ivs -- foldNames)
    }
  }

  /** Compaction-trigger policy for streaming ingest — answers "should
    * this ingest cycle fold the tail NOW?" from one root listing (no
    * data read, no lease), so a `foreachBatch` maintenance loop
    * decides without a human in the loop:
    * {{{
    *   Zorder.appendClustered(batch, path, batchId)
    *   if (Zorder.tailCompactDue(spark, path)) Zorder.compactTail(spark, path)
    * }}}
    * Two thresholds, two costs they bound:
    *   - `maxTailFiles` bounds READ amplification: every batch file
    *     overlaps the main grid's z-ranges by construction, so a box
    *     scan touches up to that many extra files regardless of the
    *     box — tail file count IS the per-scan overhead;
    *   - `maxTailFraction` (of total data bytes) bounds WRITE
    *     amortization: folding at a fixed fraction keeps each fold's
    *     rewrite ∝ tail × overlap with the total rewrite work over N
    *     ingests linear in bytes ingested (the LSM discipline), while
    *     folding every tiny batch would pay the fold's fixed costs
    *     (tail scan + shuffle setup) per batch.
    * Either trigger fires the fold. False when no tail exists —
    * callers can ask unconditionally per cycle. Advisory by design: a
    * concurrent writer may change the answer before compactTail runs,
    * which is safe (the fold re-lists under its lease; an empty tail
    * returns false). */
  def tailCompactDue(spark: SparkSession, path: String,
      maxTailFiles: Int = 16, maxTailFraction: Double = 0.10): Boolean = {
    require(maxTailFiles >= 1, s"maxTailFiles must be >= 1, got $maxTailFiles")
    require(maxTailFraction > 0.0 && maxTailFraction <= 1.0,
      s"maxTailFraction must be in (0, 1], got $maxTailFraction")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    // retired tails (a retention fold's victims, still in grace) are
    // not a foldable tail — counting them would report due-forever
    // while compactTail correctly finds nothing to fold
    val retired0 = readRetired(spark, path).keySet
    val files = listDataFiles(fs, root)
      .filterNot(st => retired0(st.getPath.getName))
      .filterNot(st => isDvName(st.getPath.getName))
    val (tails, mains) = files.partition(
      _.getPath.getName.matches("b\\d+-.*"))
    tails.nonEmpty && {
      val tailBytes = tails.map(_.getLen).sum
      val total = tailBytes + mains.map(_.getLen).sum
      tails.length >= maxTailFiles ||
        tailBytes.toDouble >= maxTailFraction * total
    }
  }

  /** Tombstone DEBT of a clustered layout: committed tombstone rows /
    * physical data rows, both read from parquet FOOTERS on the driver
    * (O(manifest files) metadata reads, no Spark job — the
    * [[tailCompactDue]] discipline applied to the DV dimension). Debt
    * is what a merge-on-read steady state accumulates: every read
    * pays the anti-join over it, and only a fold materializes it
    * away. Counts come from the MANIFEST's entries (never the
    * directory — an orphan tombstone must not count); dead tombstones
    * (addressing files a tail fold already rewrote) count as debt
    * too, deliberately — they still ride every read's broadcast, and
    * only the whole compact clears them. Advisory by design (the
    * [[tailCompactDue]] contract): 0.0 for a legacy or DV-less
    * layout; an unreadable footer lenient-parses to 0 rows rather
    * than failing a maintenance cron. */
  def dvDebt(spark: SparkSession, path: String): Double = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    currentManifest(spark, fs, root) match {
      case None => 0.0
      case Some((_, names)) =>
        val (dataNames, dvNames) = names.partition(!isDvName(_))
        if (dvNames.isEmpty) 0.0
        else {
          val conf = spark.sparkContext.hadoopConfiguration
          def rowsOf(n: String): Long =
            try {
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(
                org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                  new org.apache.hadoop.fs.Path(root, n), conf))
              try r.getRecordCount finally r.close()
            } catch { case scala.util.control.NonFatal(_) => 0L }
          // bounded pool, the footerStats lesson: a serial footer
          // pass costs ~tens of ms per open — at 10^4+ manifest
          // files a per-micro-batch advisory check must not serialize
          val all = (dvNames ++ dataNames).toSeq
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(16, all.length))
          val counts =
            try all.map(n => n -> pool.submit(
              new java.util.concurrent.Callable[java.lang.Long] {
                def call(): java.lang.Long = rowsOf(n)
              })).map { case (n, f) => n -> f.get().longValue() }.toMap
            finally pool.shutdown()
          val tomb = dvNames.iterator.map(counts).sum
          val data = dataNames.iterator.map(counts).sum
          if (data <= 0L || tomb <= 0L) 0.0 else tomb.toDouble / data
        }
    }
  }

  /** Should a maintenance cycle MATERIALIZE the tombstone debt now?
    * True once [[dvDebt]] crosses `maxDebt` — run
    * [[compactClustered]] (clears the whole DV set and restores the
    * grid) or [[compactTail]] (materializes the overlapped share).
    * The merge-on-read loop shape:
    * {{{
    *   Zorder.mergeOnRead(spark, path, batch, keys, batchId)
    *   if (Zorder.tailCompactDue(spark, path)) Zorder.compactTail(spark, path)
    *   if (Zorder.dvCompactDue(spark, path)) Zorder.compactClustered(spark, path)
    * }}}
    * Advisory like [[tailCompactDue]]: a concurrent writer may change
    * the answer before the compact runs, which is safe. */
  def dvCompactDue(spark: SparkSession, path: String,
      maxDebt: Double = 0.05): Boolean = {
    require(maxDebt > 0.0 && maxDebt <= 1.0,
      s"maxDebt must be in (0, 1], got $maxDebt")
    dvDebt(spark, path) >= maxDebt
  }

  // ----- the commit protocol every clustered rewrite shares -----
  //
  // A rewrite (whole compact, tail fold or merge, merge-on-read) stages
  // its new files under ONE hidden staging dir, writes ONE commit
  // record — the writer-side commit point — and runs ONE routine
  // ([[finishCommit]]): publish → ledger → manifest commit (the
  // reader-side commit point) → retire or delete → clear. Recovery
  // ([[recoverCommit]], run under the writer lease by every rewrite
  // entry) is one rule: a standing record rolls forward through the
  // same routine; staging without a record is pre-commit debris and is
  // discarded. Every step is idempotent — published files are gone
  // from staging, the ledger create and the manifest commit are set
  // operations, the sweep skips what is gone or already retired — so
  // a crash inside recovery recovers the same way.

  private[graft] val commitFile = "_graft_commit"
  private[graft] val stagingDir = "_graft_commit_tmp"

  /** One rewrite's commit record. `verb` prefixes the protocol-step
    * labels ("whole", "tail", "mor"); `staged` maps each staging subdir
    * to the prefix its files publish under; `planned` are the published
    * names the manifest commit adds; `retire` the names it removes,
    * retired under `retainMs` grace or deleted; `batchId` the ledger
    * entry to create; `base` stamps a full base manifest instead of a
    * delta. */
  private[graft] final case class Commit(verb: String, token: String,
      staged: Seq[(String, String)], planned: Seq[String],
      retire: Seq[String], retainMs: Long, batchId: Option[Long],
      base: Boolean) {
    /** A header, then one url-encoded line per staged subdir and per
      * listed name; the header's counts make a torn list detectable. */
    def encode: String = {
      def enc(n: String) = java.net.URLEncoder.encode(n, "UTF-8")
      val header = s"v1 $verb $token $retainMs ${batchId.getOrElse(-1L)} " +
        s"${if (base) "base" else "delta"} ${staged.length} " +
        s"${planned.length} ${retire.length}"
      (header +: (staged.map { case (d, p) => s"${enc(d)} ${enc(p)}" } ++
          (planned ++ retire).map(enc))).mkString("\n")
    }
  }

  /** The record at `root`, or None. A damaged one refuses loudly:
    * acting on a partial list would duplicate or lose rows. */
  private[graft] def readCommit(spark: SparkSession,
      root: org.apache.hadoop.fs.Path): Option[Commit] =
    Layout.readMarker(spark, root.toString, commitFile).map { payload =>
      def damaged(why: String): Nothing = throw new IllegalArgumentException(
        s"unusable $commitFile record at $root ($why) — cannot tell the " +
          "crashed rewrite's files apart; resolve manually (acting on a " +
          "partial list would duplicate or lose rows)")
      def dec(n: String) = java.net.URLDecoder.decode(n, "UTF-8")
      val lines = payload.split('\n').toSeq.filter(_.nonEmpty)
      val h = lines.headOption.getOrElse("").split(' ').toSeq
      if (!(h.length == 9 && h(0) == "v1" && h(1).matches("[a-z]+") &&
          h(2).matches("[A-Za-z0-9-]+") && h(3).matches("\\d{1,18}") &&
          h(4).matches("-1|\\d{1,18}") && Set("base", "delta")(h(5)) &&
          h.drop(6).forall(_.matches("\\d{1,9}"))))
        damaged("unparseable header")
      val Seq(nS, nP, nR) = h.drop(6).map(_.toInt)
      val body = lines.drop(1)
      if (body.length != nS + nP + nR)
        damaged(s"lists ${body.length} lines but records $nS+$nP+$nR — " +
          "a torn or damaged list")
      Commit(h(1), h(2),
        body.take(nS).map(_.split(' ') match {
          case Array(d, p) => dec(d) -> dec(p)
          case _ => damaged("bad staging line")
        }),
        body.slice(nS, nS + nP).map(dec), body.drop(nS + nP).map(dec),
        h(3).toLong, Some(h(4).toLong).filter(_ >= 0), h(5) == "base")
    }

  private def newToken(): String = java.util.UUID.randomUUID.toString.take(8)

  private def stagedDir(root: org.apache.hadoop.fs.Path,
      sub: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root,
      stagingDir), sub)

  /** (staged file, published name) for every data file under the
    * staging subdir `sub`, FLATTENING partition directories into the
    * name (the tail staging is `graftzregion=N/part-…`; the layout is a
    * flat directory) — `<prefix><N>-part-…`. Deterministic, so a
    * crashed publish resumes with the same names; empty once
    * everything is published, or when nothing was staged. */
  private def stagedFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, sub: String,
      prefix: String): Seq[(org.apache.hadoop.fs.Path, String)] = {
    def walk(d: org.apache.hadoop.fs.Path,
        tag: String): Seq[(org.apache.hadoop.fs.Path, String)] =
      fs.listStatus(d).toSeq.sortBy(_.getPath.getName).flatMap { st =>
        val name = st.getPath.getName
        if (Layout.isHidden(name)) Nil
        else if (st.isDirectory) walk(st.getPath, tag +
          name.substring(name.indexOf('=') + 1)
            .replaceAll("[^A-Za-z0-9]", "") + "-")
        else Seq(st.getPath -> (prefix + tag + name))
      }
    try walk(stagedDir(root, sub), "")
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Move the staged files of `sub` to their published names in the
    * root; returns those names. */
  private def publish(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, sub: String, prefix: String): Seq[String] =
    stagedFiles(fs, root, sub, prefix).map { case (src, n) =>
      val dest = new org.apache.hadoop.fs.Path(root, n)
      require(fs.rename(src, dest), s"publish: rename $src -> $dest failed")
      n
    }

  /** The record for what is staged now: each subdir's files, planned
    * under its prefix. */
  private[graft] def planCommit(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, verb: String, token: String,
      staged: Seq[(String, String)], retire: Seq[String], retainMs: Long,
      batchId: Option[Long], base: Boolean): Commit =
    Commit(verb, token, staged, staged.flatMap { case (d, p) =>
      stagedFiles(fs, root, d, p).map(_._2) }, retire, retainMs, batchId,
      base)

  /** Write the record — the writer-side commit point. Atomic (temp +
    * rename), so a torn list is unreachable by any crash. */
  private[graft] def recordCommit(spark: SparkSession,
      root: org.apache.hadoop.fs.Path, c: Commit): Unit = {
    Layout.writeMarkerAtomic(spark, root.toString, commitFile, c.encode)
    onProtocolStep(s"${c.verb}-sentinel")
  }

  private def commit(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      c: Commit, cl: Option[Clustering], retired: Map[String, Long]): Unit = {
    recordCommit(spark, root, c)
    finishCommit(spark, fs, root, c, cl, retired)
  }

  /** Everything after the commit point, shared verbatim by the live
    * path and recovery: publish the staged files, create the ledger
    * entry, commit the manifest (base or delta), retire or delete the
    * listed files, clear staging, then the record. `retired` is the
    * retire ledger as it stands. */
  private def finishCommit(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      c: Commit, cl: Option[Clustering], retired: Map[String, Long]): Unit = {
    c.staged.foreach { case (d, p) => publish(fs, root, d, p) }
    val onDisk = listDataFiles(fs, root).map(st => st.getPath.getName -> st).toMap
    c.planned.foreach(n => require(onDisk.contains(n),
      s"$commitFile: planned file $n at $root is neither staged nor " +
        "published — foreign deletion mid-commit; resolve manually"))
    onProtocolStep(s"${c.verb}-published")
    c.batchId.foreach { id =>
      val ledger = new org.apache.hadoop.fs.Path(root, s"_graft_batches/$id")
      if (!fs.exists(ledger)) {
        fs.mkdirs(ledger.getParent)
        fs.create(ledger, false).close()
      }
      onProtocolStep(s"${c.verb}-ledger")
    }
    // a retired name stays out of the generation (a retention fold's
    // victim is still on disk, its rows live in the replacements)
    val added = c.planned.filterNot(retired.contains)
    val entries = footerStats(spark, fs, root, added.filterNot(isDvName), cl) ++
      added.filter(isDvName).map(_ -> "")
    val deferGc = c.retainMs > 0 || retired.nonEmpty
    if (c.base) stampManifest(spark, fs, root, entries, deferGc = deferGc)
    else commitManifestDelta(spark, fs, root, entries, c.retire.toSet, deferGc)
    onProtocolStep(s"${c.verb}-manifest")
    // only listed files still on disk and not yet retired enter the
    // sweep: a crash mid-sweep leaves a subset, and re-retiring would
    // restart a grace or put a phantom entry in the ledger
    retireOrDelete(spark, fs, root,
      c.retire.filterNot(retired.contains).flatMap(onDisk.get), c.retainMs,
      retired)
    onProtocolStep(s"${c.verb}-swept")
    fs.delete(new org.apache.hadoop.fs.Path(root, stagingDir), true)
    require(fs.delete(new org.apache.hadoop.fs.Path(root, commitFile), false),
      s"could not clear the $commitFile record at $root")
    onProtocolStep(s"${c.verb}-done")
  }

  /** The one recovery rule, run under the writer lease by every
    * rewrite entry before it starts: a standing record rolls forward
    * ([[finishCommit]]); staging without a record is a pre-commit crash
    * and is discarded — the layout never saw it. */
  private def recoverCommit(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    val staging = new org.apache.hadoop.fs.Path(root, stagingDir)
    // a crash inside the record's atomic write leaves a hidden temp,
    // which can only coexist with staging or the record — so the sweep
    // lives in the crash arms (the no-crash path pays no listing), and
    // runs FIRST in each: after the arm's own deletes a crash would
    // leave a temp no later call re-enters
    def sweepRecordTemps(): Unit = fs.listStatus(root).foreach { st =>
      if (!st.isDirectory && st.getPath.getName.startsWith(commitFile + ".tmp."))
        fs.delete(st.getPath, false)
    }
    readCommit(spark, root) match {
      case Some(c) =>
        sweepRecordTemps()
        finishCommit(spark, fs, root, c, clusteringOf(spark, root.toString),
          readRetired(spark, root.toString))
      case None if fs.exists(staging) =>
        sweepRecordTemps()
        require(fs.delete(staging, true), s"could not clear stale staging $staging")
      case None => ()
    }
  }

  /** The layout's published data files — clustered layouts are FLAT
    * (every write form, append publish and compact publish lands files
    * in the root), so one non-recursive listing, hidden names skipped. */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => !st.isDirectory && !Layout.isHidden(st.getPath.getName))

  // ----- generation manifest: the reader-side atomicity pointer -----
  //
  // The compact forms REWRITE the layout in place; without a pointer,
  // a reader listing the directory mid-swap sees a torn generation
  // (rows missing under delete-then-publish, rows duplicated under
  // publish-then-delete). The manifest is that pointer, SEGMENTED the
  // way a log-structured commit log is:
  //
  //   - BASE files `_graft_manifest.<epoch>.<token>` hold the FULL
  //     generation: one line per data file, with optional per-file
  //     per-clustered-column [min,max] stats (the Delta/Iceberg
  //     add-file stats, read from parquet FOOTERS at commit time —
  //     O(commit files) driver-side metadata reads, no Spark job);
  //   - DELTA files `_graft_manifestd.<epoch>.<token>` hold one
  //     commit's add/remove records only, so the serialization cost
  //     of an append/tail-fold commit is ∝ THE BATCH, not the table
  //     (the r15 residual: a full-list stamp per micro-batch was a
  //     multi-MB rewrite per commit at 10^5 files).
  //
  // Every file is an ATOMIC temp+rename create of a NEW name — never
  // an in-place overwrite, which no Hadoop filesystem replaces
  // atomically. Epochs are DENSE (every commit is prior+1), so a
  // reader resolves generation E as: highest base B <= E, plus the
  // contiguous delta chain B+1..E — a gap means the chain was GC'd
  // (vacuumed), and the resolve fails loudly rather than serving a
  // torn generation. Writers order every swap publish-new → COMMIT
  // MANIFEST → delete-old, so at every instant the resolved
  // generation's files all exist on disk; [[readClustered]] therefore
  // yields exactly the pre- or post-swap row set at ANY protocol
  // step, crash windows and recovery included. Delta chains REBASE
  // into a fresh base when the pending delta lines reach a fixed
  // fraction of the table (amortized commit bytes stay ∝ batch — the
  // LSM discipline the data files already follow) or the chain hits
  // a length cap (bounding resolve cost); the whole-layout compact is
  // a natural rebase (its commit IS the full new generation).
  //
  // GC of superseded manifest files (old bases, rebased-away deltas):
  // IMMEDIATE at each base stamp while no retire ledger stands (the
  // single-pointer behavior — readers that lose a list-then-open race
  // re-resolve with bounded backed-off retries), DEFERRED TO VACUUM
  // while one does: retained (in-grace) data files keep their
  // manifest history alive, which is what makes [[readClustered]]'s
  // asOfEpoch overload able to pin a retained generation — epoch
  // history lives exactly as long as the grace files it describes,
  // and vacuum reclaims both together. The per-resolve atomicity
  // contract is unchanged; snapshot isolation across long-running
  // reads is the retention + asOfEpoch pair.

  /** The ONE versioned-marker protocol the manifest and the retire
    * ledger share (two parallel copies had already drifted on backoff
    * and exhaustion behavior): family files are
    * `<prefix><epoch-16hex>.<uuid>`, resolved by a PREFIXED glob (a
    * prefix LIST on object stores — never a full root listing, so
    * per-resolve cost does not grow with the table), `.tmp.` temps and
    * malformed foreign names skipped, highest epoch read with bounded
    * BACKED-OFF retries on a vanished file (a lock-free reader can
    * lose the list-then-open race to a fast-stamping writer's GC on
    * every attempt — each loss proves a NEWER file exists, so the
    * reader backs off to outlast a burst of commits). Returns None
    * when the family has no file; `onExhaust` decides the give-up
    * behavior per family. */
  private def resolveVersioned(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, prefix: String)(
      onExhaust: => Option[(Long, String)]): Option[(Long, String)] = {
    def candidates(): Seq[(Long, org.apache.hadoop.fs.Path)] =
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(root, prefix + "*")))
        .getOrElse(Array.empty).toSeq.flatMap { st =>
          val n = st.getPath.getName
          if (st.isDirectory || n.contains(".tmp.")) None
          else {
            val epochHex = n.substring(prefix.length).takeWhile(_ != '.')
            try Some((java.lang.Long.parseUnsignedLong(epochHex, 16),
              st.getPath))
            catch { case _: NumberFormatException => None }
          }
        }
    var attempts = 12
    while (attempts > 0) {
      attempts -= 1
      candidates().sortBy(c => (c._1, c._2.getName)).lastOption match {
        case None => return None
        case Some((epoch, mp)) =>
          try {
            val in = fs.open(mp)
            return Some((epoch,
              try new String(in.readAllBytes(), "UTF-8") finally in.close()))
          } catch {
            // the writer GC'd this epoch between our list and open —
            // a newer file exists; back off and re-list
            case _: java.io.FileNotFoundException =>
              Thread.sleep(25L * (12 - attempts))
          }
      }
    }
    onExhaust
  }

  /** Stamp the next epoch of a versioned family (atomic rename to a
    * FRESH name — readers switch in one listing), then GC every other
    * family file: older epochs and crashed temps, all ours-or-dead
    * under the writer lease. */
  private def stampVersioned(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      prefix: String, epoch: Long, payload: String): Unit = {
    val fname = f"$prefix$epoch%016x." +
      java.util.UUID.randomUUID.toString.take(8)
    Layout.writeMarkerAtomic(spark, root.toString, fname, payload)
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(root, prefix + "*")))
      .getOrElse(Array.empty).foreach { st =>
      if (!st.isDirectory && st.getPath.getName != fname)
        fs.delete(st.getPath, false)
    }
  }

  /** One resolved generation: its epoch, the file-name → stats-payload
    * map ("" = no stats recorded; legacy v1 lines, or columns whose
    * footers carried no usable statistics), the base epoch the chain
    * started from and the total delta LINES pending on it (the rebase
    * trigger's inputs). */
  /** Newest-generation resolve cache: path → (family name-set
    * signature, resolved Gen). Sound because the versioned-marker
    * protocol only ever creates FRESH names — a matching name set is
    * a proof of matching contents, across writers in other JVMs too.
    * Concurrent map: readers resolve from any thread. */
  private val genCache =
    new scala.collection.concurrent.TrieMap[String,
      (Set[String], Gen)]()

  private final case class Gen(epoch: Long, entries: Map[String, String],
      baseEpoch: Long, deltaLines: Long)

  /** `urlenc(name)` or `urlenc(name)\t<stats>` — the one entry line
    * format base adds and delta `+` records share. */
  private def encEntry(name: String, stats: String): String =
    java.net.URLEncoder.encode(name, "UTF-8") +
      (if (stats.isEmpty) "" else "\t" + stats)

  private def decEntry(line: String): (String, String) = {
    val i = line.indexOf('\t')
    if (i < 0) (java.net.URLDecoder.decode(line, "UTF-8"), "")
    else (java.net.URLDecoder.decode(line.substring(0, i), "UTF-8"),
      line.substring(i + 1))
  }

  /** The manifest FAMILY at `root`: (isDelta, epoch, path) per file,
    * one prefixed glob (`_graft_manifest*` — a prefix LIST on object
    * stores, catching both the base and the delta prefix), `.tmp.`
    * temps and malformed foreign names skipped. */
  private def manifestFamily(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : Seq[(Boolean, Long, org.apache.hadoop.fs.Path)] =
    Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(root, "_graft_manifest*")))
      .getOrElse(Array.empty).toSeq.flatMap { st =>
        val n = st.getPath.getName
        val prefix =
          if (n.startsWith(manifestDeltaPrefix)) Some(manifestDeltaPrefix)
          else if (n.startsWith(manifestPrefix)) Some(manifestPrefix)
          else None
        prefix match {
          case Some(p) if !st.isDirectory && !n.contains(".tmp.") =>
            val epochHex = n.substring(p.length).takeWhile(_ != '.')
            try Some((p == manifestDeltaPrefix,
              java.lang.Long.parseUnsignedLong(epochHex, 16), st.getPath))
            catch { case _: NumberFormatException => None }
          case _ => None
        }
      }

  private def readManifestFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Resolve generation `asOf` (None = the newest) from the base +
    * delta-chain family. None = no manifest family at all (a legacy
    * pre-manifest layout). A vanished file mid-read (a reader losing
    * the list-then-open race to a writer's GC) re-lists with bounded
    * BACKED-OFF retries — each loss proves a newer commit exists; the
    * last attempt's failures are LOUD. A requested epoch whose chain
    * is gone (vacuumed history, or never existed) fails loudly — a
    * pinned reader silently served a different generation would be a
    * snapshot-isolation hole. */
  private def resolveGeneration(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, asOf: Option[Long]): Option[Gen] = {
    var attempts = 12
    while (attempts > 0) {
      attempts -= 1
      val fam = manifestFamily(fs, root)
      if (fam.isEmpty) return None
      // newest-generation resolves are cached per path, keyed by the
      // family's NAME SET: every commit writes a fresh
      // `<prefix><epoch>.<uuid>` and never rewrites in place, so an
      // identical name set proves identical bytes and the multi-MB
      // base parse is skipped — without this, every micro-batch
      // commit re-reads O(table) manifest bytes just to append a
      // delta record ∝ batch (the read-side half of the r15
      // commit-cost residual). Pinned (asOf) resolves stay uncached:
      // rare, and a stale hit there would be a snapshot hole.
      val famSig = fam.map(_._3.getName).toSet
      if (asOf.isEmpty) genCache.get(root.toString) match {
        case Some((sig, gen)) if sig == famSig => return Some(gen)
        case _ => ()
      }
      val bases = fam.filter(!_._1)
      require(bases.nonEmpty,
        s"manifest family at $root has delta files but no base — a " +
          "damaged generation chain; rebuild the layout (reading " +
          "around it could serve a torn generation)")
      val newest = fam.map(_._2).max
      val target = asOf.getOrElse(newest)
      require(target <= newest,
        s"asOfEpoch $target is in the future at $root (newest " +
          s"committed epoch is $newest)")
      val baseCands = bases.filter(_._2 <= target)
      require(baseCands.nonEmpty || asOf.isEmpty,
        s"epoch $target at $root predates the oldest retained base " +
          "manifest — its generation was vacuumed (or never existed); " +
          "pinned reads only reach epochs whose retired files are " +
          "still inside the vacuum grace")
      // same-epoch duplicates (a recovery restamp) resolve by name,
      // deterministically, like the single-pointer protocol did
      val (_, baseEpoch, basePath) =
        baseCands.sortBy(c => (c._2, c._3.getName)).last
      val chain = (baseEpoch + 1) to target
      val deltaByEpoch = fam.filter(_._1).groupBy(_._2)
      val missing = chain.filterNot(deltaByEpoch.contains)
      try {
        if (missing.nonEmpty) {
          if (asOf.nonEmpty) sys.error(
            s"generation $target at $root is not reconstructable — " +
              s"delta epoch(s) ${missing.take(4).mkString(",")} are " +
              "gone from the chain (vacuumed history, or foreign " +
              "deletion); pin a newer epoch")
          // current read: our listing straddled a rebase (new base
          // stamped, old deltas GC'd, the base not yet in our list) —
          // retryable, a newer commit exists by construction
          throw new java.io.FileNotFoundException(
            s"chain gap at epoch(s) ${missing.take(4).mkString(",")}")
        }
        val baseLines = readManifestFile(fs, basePath).trim
          .split('\n').map(_.trim)
        val bh = baseLines.headOption.getOrElse("").split(' ')
        require(bh.length == 2 && (bh(0) == "v1" || bh(0) == "v2") &&
          bh(1).matches("\\d{1,9}"),
          s"unparseable base manifest (epoch $baseEpoch) at $root — a " +
            "damaged generation pointer; rebuild or remove it (reading " +
            "around it could return a torn generation)")
        val baseEntries = baseLines.drop(1).filter(_.nonEmpty).map(decEntry)
        require(baseEntries.length == bh(1).toInt,
          s"base manifest (epoch $baseEpoch) at $root lists " +
            s"${baseEntries.length} files but records ${bh(1)} — " +
            "damaged; rebuild or remove it")
        var entries = baseEntries.toMap
        var deltaLines = 0L
        chain.foreach { e =>
          val dp = deltaByEpoch(e).sortBy(_._3.getName).last._3
          val lines = readManifestFile(fs, dp).trim.split('\n').map(_.trim)
          val h = lines.headOption.getOrElse("").split(' ')
          require(h.length == 3 && h(0) == "v2d" &&
            h(1).matches("\\d{1,9}") && h(2).matches("\\d{1,9}"),
            s"unparseable delta manifest (epoch $e) at $root — " +
              "damaged; rebuild the layout")
          val body = lines.drop(1).filter(_.nonEmpty)
          require(body.length == h(1).toInt + h(2).toInt,
            s"delta manifest (epoch $e) at $root carries " +
              s"${body.length} records but declares ${h(1)}+${h(2)} — " +
              "damaged; rebuild the layout")
          body.foreach { l =>
            if (l.startsWith("+")) entries += decEntry(l.substring(1))
            else if (l.startsWith("-"))
              entries -= java.net.URLDecoder.decode(l.substring(1), "UTF-8")
            else sys.error(s"delta manifest (epoch $e) at $root has a " +
              s"record without a +/- tag ('${l.take(40)}') — damaged; " +
              "rebuild the layout")
          }
          deltaLines += body.length
        }
        val gen = Gen(target, entries, baseEpoch, deltaLines)
        if (asOf.isEmpty) {
          // bounded: drop a stale entry beyond the cap (tests create
          // hundreds of throwaway layouts per JVM; production touches
          // a handful of paths)
          if (genCache.size >= 64 && !genCache.contains(root.toString))
            genCache.remove(genCache.keysIterator.next())
          genCache.put(root.toString, (famSig, gen))
        }
        return Some(gen)
      } catch {
        // the writer GC'd part of the chain between our list and open —
        // a newer commit exists; back off and re-list
        case _: java.io.FileNotFoundException =>
          Thread.sleep(25L * (12 - attempts))
      }
    }
    sys.error(
      s"could not resolve a stable manifest chain at $root after " +
        "12 list+read attempts — a writer kept committing and " +
        "GC'ing faster than this reader could open the chain (the " +
        "layout itself is healthy; every lost race proves a newer " +
        "commit exists). Retry the read, or slow the ingest commit " +
        "rate")
  }

  /** The current generation: (epoch, data file names), or None for a
    * legacy pre-manifest layout. Exhausted resolve retries fail
    * LOUDLY — a manifest reader silently seeing an empty generation
    * would return wrong (empty-ish) results. */
  private[graft] def currentManifest(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[(Long, Seq[String])] =
    resolveGeneration(fs, root, None)
      .map(g => (g.epoch, g.entries.keys.toSeq))

  /** The newest committed generation epoch of a clustered layout —
    * what a snapshot-pinning reader records before a long job and
    * hands to [[readClustered]]'s asOfEpoch overload. None = a legacy
    * pre-manifest layout. */
  def currentEpoch(spark: SparkSession, path: String): Option[Long] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    resolveGeneration(fs, root, None).map(_.epoch)
  }

  /** Write one manifest-family file (base or delta) at `epoch`:
    * atomic temp+rename to a FRESH name — readers switch in one
    * listing, an in-place overwrite is never atomic on HDFS-likes. */
  private def writeManifestFile(spark: SparkSession,
      root: org.apache.hadoop.fs.Path, prefix: String, epoch: Long,
      payload: String): Unit =
    Layout.writeMarkerAtomic(spark, root.toString,
      f"$prefix$epoch%016x." + java.util.UUID.randomUUID.toString.take(8),
      payload)

  /** GC superseded manifest files: bases below `keepBaseEpoch`, deltas
    * at or below it (the active chain is the newest base plus deltas
    * above it), and crashed `.tmp.` temps. Writer-lease callers only.
    * Callers decide WHEN (immediate at a base stamp while no retire
    * ledger stands; from vacuum once every grace expired) — history
    * must outlive the retained files it describes. */
  private def gcManifestHistory(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, keepBaseEpoch: Long): Unit = {
    // reader pins extend history retention: resolving a pinned epoch P
    // needs the newest base <= P plus the deltas above it, so while an
    // unexpired pin with P below the cut stands, the cut clamps down
    // to that base — otherwise a pure-append rebase (or vacuum's
    // history cut) would make a pinned epoch unresolvable while every
    // file of its generation is still intact. Pins at or above the
    // cut need no clamp: the kept base + kept deltas already reach
    // them. Expired pins are GC'd inside activePins (every caller
    // here holds the writer lease).
    val cut = activePins(fs, root, System.currentTimeMillis())
      .map(_._1).minOption match {
      case Some(p) if p < keepBaseEpoch =>
        val bases = manifestFamily(fs, root)
          .collect { case (false, e, _) if e <= p => e }
        if (bases.isEmpty) return // no base can serve the pin: keep all
        bases.max
      case _ => keepBaseEpoch
    }
    manifestFamily(fs, root).foreach { case (isDelta, epoch, p) =>
      if (if (isDelta) epoch <= cut else epoch < cut)
        fs.delete(p, false)
    }
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(root,
      "_graft_manifest*")))
      .getOrElse(Array.empty).foreach { st =>
        if (!st.isDirectory && st.getPath.getName.contains(".tmp."))
          fs.delete(st.getPath, false)
      }
  }

  /** Stamp a BASE manifest holding exactly `entries` (name → stats
    * payload). Call only under the writer lease, only when every name
    * is already present on disk. `epochHint` saves a second resolve
    * when the caller already holds the current generation. Superseded
    * history is GC'd immediately unless `deferGc` (a retire ledger
    * stands, or this commit is itself retiring files): retained
    * generations keep their manifest chain until vacuum, so
    * epoch-pinned readers can reach them through the grace. */
  private def stampManifest(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      entries: Map[String, String], epochHint: Option[Long] = None,
      deferGc: Boolean = false): Unit = {
    val epoch = epochHint.getOrElse(
      resolveGeneration(fs, root, None).map(_.epoch + 1).getOrElse(0L))
    val sorted = entries.toSeq.sortBy(_._1)
    writeManifestFile(spark, root, manifestPrefix, epoch,
      (s"v2 ${sorted.length}" +: sorted.map { case (n, s) =>
        encEntry(n, s)
      }).mkString("\n"))
    if (!deferGc) gcManifestHistory(fs, root, epoch)
  }

  /** Bound on the delta chain a resolve must open — past it the next
    * commit rebases regardless of the byte-amortization trigger. */
  private val maxDeltaChain = 64

  /** The manifest COMMIT every append-side path shares: current
    * generation (or, for a legacy pre-manifest layout, the root's data
    * files EXCLUDING unledgered `b<id>-` batches — a crashed append's
    * uncommitted files must not enter the first manifest) plus
    * `added`, minus `removed`. Writes a DELTA record (cost ∝ this
    * commit) unless the pending chain crossed the rebase trigger:
    * delta lines ≥ max(16, |table|/4) — amortized commit bytes then
    * stay ∝ batch at every table size (each rebase's full-list cost
    * is paid once per ~4×-its-size of delta traffic) — or chain
    * length > [[maxDeltaChain]] (resolve cost stays bounded). */
  private def commitManifestDelta(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      added: Map[String, String], removed: Set[String],
      deferGc: Boolean): Unit =
    resolveGeneration(fs, root, None) match {
      case None =>
        // legacy-migration arm: unledgered batches (crashed appends)
        // and retire-ledgered files (unreachable without a manifest,
        // but a hand-deleted manifest must not resurrect old
        // generations) are both excluded from the first base. Stats
        // start empty for legacy residents (conservative — they gain
        // stats when a fold rewrites them); `added` keeps its own.
        val retired = readRetired(spark, root.toString).keySet
        // dv- files cannot be LIVE without a manifest (deletes commit
        // through one) — any present here is a crashed commit's
        // orphan, and entering the first base would make reads APPLY
        // deletes that never committed
        val legacy = listDataFiles(fs, root).map(_.getPath.getName)
          .filterNot(retired).filterNot(isDvName).filter { n =>
            val m = "^b(\\d+)-.*".r.findFirstMatchIn(n)
            m.forall(mm => Layout.batchApplied(spark, root.toString,
              mm.group(1).toLong))
          }.map(_ -> "").toMap
        stampManifest(spark, fs, root, (legacy -- removed) ++ added,
          epochHint = Some(0L), deferGc = deferGc)
      case Some(cur) =>
        val next = (cur.entries -- removed) ++ added
        // a no-op commit (a REPLAYED append whose files the manifest
        // already lists) does not burn an epoch — restamping an
        // identical generation would pay a write per at-least-once
        // replay
        if (next != cur.entries) {
          val adds = added.filter { case (n, s) => cur.entries.get(n)
            .forall(_ != s) }
          val rems = removed.filter(cur.entries.contains)
          val thisLines = adds.size + rems.size
          val pendingChain = cur.epoch - cur.baseEpoch + 1
          if (pendingChain > maxDeltaChain ||
              cur.deltaLines + thisLines >=
                math.max(16L, next.size.toLong / 4))
            stampManifest(spark, fs, root, next,
              epochHint = Some(cur.epoch + 1), deferGc = deferGc)
          else
            writeManifestFile(spark, root, manifestDeltaPrefix,
              cur.epoch + 1,
              (s"v2d ${adds.size} ${rems.size}" +:
                (adds.toSeq.sortBy(_._1).map { case (n, s) =>
                  "+" + encEntry(n, s)
                } ++ rems.toSeq.sorted.map(n =>
                  "-" + java.net.URLEncoder.encode(n, "UTF-8"))))
                .mkString("\n"))
        }
    }

  // ----- per-file column stats: manifest data skipping -----
  //
  // Each commit records, per data file it adds, the [min,max] of every
  // CLUSTERED column, read from the file's parquet FOOTER on the
  // driver (O(commit files) metadata reads, no Spark job — the
  // Delta/Iceberg add-file stats discipline). readClustered's box
  // overload pre-filters the generation's file list against a
  // conjunctive box BEFORE building the scan, so planning cost is
  // ∝ matching files, not table files — at 10^5 files the difference
  // between a footer-stats-after-planning read (the r15 shape) and a
  // real metadata-pruned one. Values serialize in the layout's ONE
  // canonical numeric spelling (numericView: DATE → epoch days,
  // TIMESTAMP → epoch seconds, boolean → 0/1) as bit-exact hex
  // doubles widened one ulp outward — every double-path rounding
  // (int64 beyond 2^53, micros→seconds) stays conservative — and
  // strings URL-encoded raw, compared in UTF-8 BYTE order (Spark's
  // binary string order; a java.lang.String compare would disagree on
  // supplementary characters). Stats are a pure ACCELERATOR with a
  // one-sided failure mode: a column with no usable footer stats is
  // simply unprunable (kept), and damaged stats payloads lenient-parse
  // to unprunable — the opposite lenient choice (pruning on damage)
  // would silently drop rows.

  /** Manifest stats payloads for exactly `names`: name →
    * `urlenc(col)=<min>,<max>;…` (reprs: `d`+hex-double / `s`+urlenc).
    * A column is recorded only when EVERY row group in the file
    * carries usable statistics for it; an unreadable footer yields
    * "" (the file stays unprunable — conservative). */
  private def footerStats(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      names: Seq[String], cl: Option[Clustering]): Map[String, String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def statsOf(n: String): String = cl match {
      case None => ""
      case Some(c) =>
        try {
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(root, n), conf))
          try {
            import scala.jdk.CollectionConverters._
            val blocks = reader.getFooter.getBlocks.asScala.toSeq
            // the Delta add-file stats discipline: record min/max for
            // ALL top-level primitive leaves (clustering columns
            // first, then footer order, capped) — data skipping then
            // works on ANY recorded column whose values correlate
            // with the layout (ingest-ordered ids, dates derived from
            // a clustered timestamp), not just the clustering pair.
            // The cap bounds manifest growth on wide tables; columns
            // past it simply never prune (conservative keep). Nested
            // leaves (dotted paths) are excluded: their Spark-side
            // box spelling is ambiguous.
            // The materialized curve column is layout-internal: never a
            // reader-facing stat.
            val inFooter = blocks.headOption.map(_.getColumns.asScala
              .toSeq.map(_.getPath.toDotString)
              .filter(n => !n.contains(".") && n != zColName))
              .getOrElse(Seq.empty)
            val leaves = (c.cols.map(_.name).filter(inFooter.contains)
              ++ inFooter.filterNot(c.cols.map(_.name).contains))
              .distinct.take(statsColumnCap)
            leaves.flatMap { name =>
              val per = blocks.map { b =>
                b.getColumns.asScala
                  .find(_.getPath.toDotString == name)
                  .flatMap(chunkMinMax)
              }
              if (per.isEmpty || per.exists(_.isEmpty)) None
              else {
                val vs = per.map(_.get)
                val mn = vs.map(_._1).reduce(statMin)
                val mx = vs.map(_._2).reduce(statMax)
                Some(java.net.URLEncoder.encode(name, "UTF-8") +
                  "=" + reprOf(mn, up = false) + "," +
                  reprOf(mx, up = true))
              }
            }.mkString(";")
          } finally reader.close()
        } catch { case scala.util.control.NonFatal(_) => "" }
    }
    // footer opens run CONCURRENTLY (bounded pool): a local/HDFS open
    // costs tens of ms in checksum+seek round-trips, and a bootstrap
    // or whole-compact commit stats its entire grid — serially that
    // put ~1 s per commit on the lifecycle paths (measured, PLANS.md
    // r16); a commit's stats pass should cost one open's latency, not
    // files × latency. Threads are bounded and torn down per call — a
    // maintenance-path cost, never a standing pool.
    if (names.length <= 1) names.map(n => n -> statsOf(n)).toMap
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, names.length))
      try {
        names.map(n => n -> pool.submit(
          new java.util.concurrent.Callable[String] {
            def call(): String = statsOf(n)
          })).map { case (n, f) => n -> f.get() }.toMap
      } finally pool.shutdown()
    }
  }

  /** One column chunk's (min, max) in the canonical spelling, or None
    * when its statistics are absent/unusable (NaN endpoints, INT96,
    * non-string binary, …). */
  private def chunkMinMax(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[(Either[Double, String], Either[Double, String])] = {
    val st = cc.getStatistics
    if (st == null || st.isEmpty || !st.hasNonNullValue) None
    else for {
      mn <- statVal(cc.getPrimitiveType,
        st.genericGetMin.asInstanceOf[AnyRef])
      mx <- statVal(cc.getPrimitiveType,
        st.genericGetMax.asInstanceOf[AnyRef])
    } yield (mn, mx)
  }

  private def statVal(pt: org.apache.parquet.schema.PrimitiveType,
      v: AnyRef): Option[Either[Double, String]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    // DECIMAL(p<=18) is stored as INT32/INT64 holding the UNSCALED
    // integer (12.34 at scale 2 is 1234 on disk) — both int arms must
    // rescale or the recorded bounds sit 10^scale too high and the box
    // pruner silently drops every matching file (rows vanish, no
    // error). Scaling by a positive 10^-scale preserves order, so
    // min/max stay min/max. DECIMAL(p>18) lands in FIXED/BINARY and
    // falls through to None — conservative keep, never a wrong prune.
    def descale(d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation)
        : Option[Either[Double, String]] =
      Some(Left(v.asInstanceOf[Number].doubleValue *
        math.pow(10, -d.getScale)))
    pt.getPrimitiveTypeName match {
      case INT32 => pt.getLogicalTypeAnnotation match {
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          descale(d)
        case _ =>
          // plain ints and DATE (epoch days) share the double spelling
          Some(Left(v.asInstanceOf[Number].doubleValue))
      }
      case INT64 => pt.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          val raw = v.asInstanceOf[Number].longValue
          Some(Left(t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MICROS => raw / 1e6
            case LogicalTypeAnnotation.TimeUnit.MILLIS => raw / 1e3
            case _ => raw / 1e9
          }))
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          descale(d)
        case _ => Some(Left(v.asInstanceOf[Number].doubleValue))
      }
      case FLOAT | DOUBLE =>
        val d = v.asInstanceOf[Number].doubleValue
        if (d.isNaN) None else Some(Left(d))
      case BOOLEAN =>
        Some(Left(if (v.asInstanceOf[java.lang.Boolean]) 1.0 else 0.0))
      case BINARY if pt.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some(Right(new String(
          v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
          java.nio.charset.StandardCharsets.UTF_8)))
      case _ => None // INT96 (no stats), FIXED, non-string binary
    }
  }

  /** UTF-8 unsigned byte order — Spark's binary string comparison. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  private def statMin(a: Either[Double, String],
      b: Either[Double, String]): Either[Double, String] = (a, b) match {
    case (Left(x), Left(y)) => Left(math.min(x, y))
    case (Right(x), Right(y)) => Right(if (utf8Lt(x, y)) x else y)
    case _ => a
  }

  private def statMax(a: Either[Double, String],
      b: Either[Double, String]): Either[Double, String] = (a, b) match {
    case (Left(x), Left(y)) => Left(math.max(x, y))
    case (Right(x), Right(y)) => Right(if (utf8Lt(x, y)) y else x)
    case _ => a
  }

  /** Serialize one endpoint, widening doubles one ulp OUTWARD (`up`
    * = this is a max) so conversion rounding can never flip a keep
    * into a prune. */
  private def reprOf(v: Either[Double, String], up: Boolean): String =
    v match {
      case Left(d) => "d" + hexd(if (up) Math.nextUp(d) else Math.nextDown(d))
      case Right(s) => "s" + java.net.URLEncoder.encode(s, "UTF-8")
    }

  private def parseRepr(r: String): Option[Either[Double, String]] =
    if (r.startsWith("d"))
      try Some(Left(unhexd(r.substring(1))))
      catch { case scala.util.control.NonFatal(_) => None }
    else if (r.startsWith("s"))
      try Some(Right(java.net.URLDecoder.decode(r.substring(1), "UTF-8")))
      catch { case scala.util.control.NonFatal(_) => None }
    else None

  /** A stats payload back to col → (minRepr, maxRepr). Damage parses
    * to EMPTY — the file becomes unprunable, never wrongly pruned. */
  private def parseStatsPayload(s: String): Map[String, (String, String)] =
    if (s.isEmpty) Map.empty
    else try s.split(';').iterator.map { f =>
      val i = f.indexOf('=')
      val Array(lo, hi) = f.substring(i + 1).split(",", 2)
      java.net.URLDecoder.decode(f.substring(0, i), "UTF-8") -> (lo, hi)
    }.toMap
    catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** A query-side bound in the canonical spelling, or None for a type
    * this pruner does not understand (→ no pruning on that column). */
  private def boundVal(v: Any): Option[Either[Double, String]] = v match {
    case s: String => Some(Right(s))
    case b: Boolean => Some(Left(if (b) 1.0 else 0.0))
    case d: java.sql.Date => Some(Left(d.toLocalDate.toEpochDay.toDouble))
    case d: java.time.LocalDate => Some(Left(d.toEpochDay.toDouble))
    case t: java.sql.Timestamp => Some(Left(
      t.getTime / 1000.0 + (t.getNanos % 1000000) / 1e9))
    case i: java.time.Instant =>
      Some(Left(i.getEpochSecond + i.getNano / 1e9))
    case n: Number => Some(Left(n.doubleValue))
    case _ => None
  }

  /** Whether a file with `stats` can hold a row inside the box —
    * conservative on every unknown: missing column stats, unparseable
    * reprs, kind mismatches and exotic bound types all KEEP. */
  private def statsIntersect(stats: Map[String, (String, String)],
      box: Seq[(String, Any, Any)]): Boolean =
    box.forall { case (c, loAny, hiAny) =>
      stats.get(c) match {
        case None => true
        case Some((mnR, mxR)) =>
          (parseRepr(mnR), parseRepr(mxR),
            boundVal(loAny), boundVal(hiAny)) match {
            case (Some(Left(fmn)), Some(Left(fmx)),
                Some(Left(lo)), Some(Left(hi))) =>
              !(fmx < Math.nextDown(lo) || fmn > Math.nextUp(hi))
            case (Some(Right(fmn)), Some(Right(fmx)),
                Some(Right(lo)), Some(Right(hi))) =>
              !(utf8Lt(fmx, lo) || utf8Lt(hi, fmn))
            case _ => true
          }
      }
    }

  /** The box overload's file-level decision, exposed for measurement
    * ([[graft.Contracts]] grades kept/total per bench run;
    * [[graft.ZorderProbe]] the scaling shape): (kept names, all
    * names) for the CURRENT generation. */
  private[graft] def pruneFiles(spark: SparkSession, path: String,
      box: Seq[(String, Any, Any)]): (Seq[String], Seq[String]) = {
    val (kept, all, _) = pruneFilesDv(spark, path, box)
    (kept, all)
  }

  /** [[pruneFiles]] plus the SAME resolve's dv names — the box read
    * arm must take its file list and its tombstone set from ONE
    * generation: two independent resolves can straddle a concurrent
    * compact and pair a pre-compact file list (tombstoned rows still
    * physically present) with a post-compact manifest (dv- entries
    * cleared because the compact materialized them) — serving deleted
    * rows, a state no single generation ever exposed. */
  private def pruneFilesDv(spark: SparkSession, path: String,
      box: Seq[(String, Any, Any)])
      : (Seq[String], Seq[String], Seq[String]) = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    resolveGeneration(fs, root, None) match {
      case None => (Seq.empty, Seq.empty, Seq.empty)
      case Some(g) =>
        val (dvs, datas) = g.entries.keys.toSeq.partition(isDvName)
        val all = datas.sorted
        (all.filter(n =>
          statsIntersect(parseStatsPayload(g.entries(n)), box)), all,
          dvs.sorted)
    }
  }

  // ----- retention: snapshot grace for in-flight readers -----
  //
  // The manifest gives per-RESOLVE atomicity; a reader whose job is
  // still running when a later compact DELETES an old-generation file
  // it resolved earlier still fails. Retention closes that, opt-in:
  // `compactTail(path, retainMs)` / `compactClustered(path, retainMs)`
  // with retainMs > 0 RETIRE the replaced files instead of deleting
  // them — the files stay at their paths (an in-flight reader's
  // resolved list keeps reading), recorded in the `_graft_retired`
  // ledger with their retire time — and [[vacuumClustered]] deletes
  // them once older than the caller's grace window (the
  // Delta VACUUM shape). The ledger is LENIENT-parsed and advisory
  // for timing only: correctness rests on the manifest (retired files
  // are never in it), and vacuum self-heals by stamping any
  // unmanifested data file it finds unledgered. The documented trade:
  // under retention, plain DIRECTORY reads of the layout double-count
  // (retired files are visible to them) — retention layouts are
  // manifest-readers-only ([[readClustered]]), which is what a
  // serving deployment uses anyway. Every maintenance pass
  // (compactTail's resident enumeration, compactClustered's fold
  // source) excludes retired names, so retired rows are never folded
  // back in.

  private[graft] val retiredPrefix = "_graft_retired."
  private[graft] val pinPrefix = "_graft_pin."

  // ----- reader pins: the registration floor under vacuum ----------
  //
  // Epoch-pinned reads gave a long job a snapshot; vacuum's grace was
  // still CALLER-TRUSTED — nothing tied the window to the longest
  // running reader, so a cron'd vacuum could reclaim a generation a
  // reader was still scanning. A pin is that tie: a reader registers
  // `_graft_pin.<epoch-hex>.<uuid>` (atomic fresh-name write, NO
  // writer lease — readers must never contend with the ingest path)
  // with an explicit TTL, and [[vacuumClustered]] will not delete a
  // retired file whose retire time is >= the pin's creation time (the
  // pinned generation can only reference files retired AFTER the pin
  // was taken; files retired before it were already out of the
  // generation the reader resolved). The TTL bounds a crashed
  // reader's hold — vacuum GCs expired pins — and the writer-lease
  // serialization of retire/vacuum closes the races: a pin created
  // mid-vacuum has creation > every retire time that vacuum is
  // considering, and the generation it pinned is manifest-LIVE, which
  // vacuum never touches.

  /** Register a reader pin on the CURRENT generation: returns
    * (pinnedEpoch, pinId). Read through
    * `readClustered(path, pinnedEpoch)`; release with [[unpin]] (or
    * let the TTL lapse — a crashed reader holds nothing past it).
    * Refuses a pre-manifest layout (no epochs to pin) and a
    * non-positive TTL (an unbounded pin would make one crashed reader
    * block retention forever). */
  def pinRead(spark: SparkSession, path: String, ttlMs: Long)
      : (Long, String) = {
    require(ttlMs > 0, s"pinRead: ttlMs must be > 0, got $ttlMs")
    // resolve → stamp → RE-verify, bounded retry: the stamp races the
    // lease-holding writer, so a retire can land between the resolve
    // and the stamp — its retire time would sit BELOW this pin's
    // creation and the floor would not block it. But every retire is
    // preceded by a manifest flip (publish → flip → retire, one
    // protocol), so "epoch unchanged after the stamp" proves no
    // retire interleaved; a moved epoch re-pins at the new current.
    var attempts = 8
    while (attempts > 0) {
      attempts -= 1
      val epoch = currentEpoch(spark, path).getOrElse(sys.error(
        s"pinRead: $path has no generation manifest — a legacy " +
          "pre-manifest layout has no epochs to pin"))
      val now = System.currentTimeMillis()
      val name = f"$pinPrefix$epoch%016x." +
        java.util.UUID.randomUUID.toString.take(8)
      Layout.writeMarkerAtomic(spark, path, name, s"v1 $now ${now + ttlMs}")
      if (currentEpoch(spark, path).contains(epoch)) return (epoch, name)
      unpin(spark, path, name) // a swap interleaved: this pin is too late
    }
    sys.error(s"pinRead: the writer kept committing faster than this " +
      s"reader could pin at $path after 8 attempts — retry, or slow " +
      "the ingest commit rate")
  }

  /** Release a reader pin by the id [[pinRead]] returned. Idempotent:
    * a pin already GC'd by vacuum (TTL lapsed) is not an error. */
  def unpin(spark: SparkSession, path: String, pinId: String): Unit = {
    require(pinId.startsWith(pinPrefix) && !pinId.contains("/"),
      s"unpin: '$pinId' is not a pin id")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), pinId), false): Unit
  }

  /** Unexpired pins at `root` as (pinnedEpoch, creationMs), GC'ing
    * expired pins and crashed `.tmp.` leftovers on the way
    * (writer-lease callers only — vacuum and the manifest-history GC,
    * both commit-path code). A malformed pin file refuses LOUDLY:
    * silently ignoring one could reclaim a generation a live reader
    * still scans, and the atomic writer makes a torn payload
    * unreachable, so damage is external and needs a human. */
  private def activePins(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, now: Long): Seq[(Long, Long)] =
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(root,
      pinPrefix + "*"))).getOrElse(Array.empty).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory) None
      else if (n.contains(".tmp.")) { fs.delete(st.getPath, false); None }
      else {
        val epochHex = n.substring(pinPrefix.length).takeWhile(_ != '.')
        val payload = {
          val in = fs.open(st.getPath)
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        }
        val parts = payload.trim.split(' ')
        require(parts.length == 3 && parts(0) == "v1" &&
          parts(1).matches("\\d{1,18}") && parts(2).matches("\\d{1,18}") &&
          epochHex.matches("[0-9a-f]{16}"),
          s"vacuumClustered: unparseable reader pin $n at $root — " +
            "ignoring it could reclaim a generation a live reader " +
            "still scans; resolve manually")
        if (parts(2).toLong <= now) { fs.delete(st.getPath, false); None }
        else Some((java.lang.Long.parseUnsignedLong(epochHex, 16),
          parts(1).toLong))
      }
    }

  /** The retire ledger, VERSIONED like the manifest
    * (`_graft_retired.<epoch>.<uuid>`, atomic temp+rename to a fresh
    * name, older epochs GC'd by the next writer): the ledger is a
    * LIST a later fold's exclusions depend on, and an in-place
    * overwrite torn mid-write would lenient-parse as EMPTY — the next
    * compact would then fold the still-on-disk retired files back in,
    * silently duplicating every row their replacements already hold
    * (the exact hazard [[Layout.writeMarkerAtomic]]'s doc names for
    * list-valued markers). Payload: `urlenc(name)=retireEpochMs` per
    * line. A malformed LINE in the versioned ledger fails LOUDLY
    * per-line (strict=true) — the atomic writer makes torn payloads
    * unreachable, so a bad line is external damage, and both lenient
    * spellings amplify it into silent row duplication (whole-parse
    * catch empties the ENTIRE ledger, so the next compact folds every
    * still-on-disk retired file back in; a silent per-line skip does
    * the same for just the damaged entry). Only the LEGACY dot-less
    * in-place ledger parses leniently per line (strict=false): it was
    * written in place, so a torn tail line is reachable there, and
    * keeping the intact lines beats emptying the map. */
  private def parseRetired(s: String, strict: Boolean): Map[String, Long] =
    s.split('\n').iterator.map(_.trim).filter(_.nonEmpty).flatMap { line =>
      try {
        val i = line.lastIndexOf('=')
        Some(java.net.URLDecoder.decode(line.substring(0, i), "UTF-8") ->
          line.substring(i + 1).toLong)
      } catch {
        case scala.util.control.NonFatal(_) if strict => sys.error(
          s"unparseable $retiredPrefix ledger line '${line.take(80)}' — " +
            "a hand edit or foreign write damaged the retire ledger; " +
            "resolve manually (reading around it would let the next " +
            "compact fold the damaged entry's file back in and " +
            "duplicate its rows)")
        case scala.util.control.NonFatal(_) => None
      }
    }.toMap

  private[graft] def readRetired(spark: SparkSession,
      path: String): Map[String, Long] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    // exhaustion degrades to the LEGACY fallback (in practice, empty):
    // the only lease-less caller is the advisory tailCompactDue; every
    // correctness-bearing caller holds the lease, where churn cannot
    // happen
    resolveVersioned(fs, root, retiredPrefix)(None) match {
      case Some((_, payload)) => parseRetired(payload, strict = true)
      case None =>
        // migration arm: one round's interim code wrote a dot-less
        // in-place `_graft_retired` — files it holds in grace must not
        // silently re-enter the fold universe (the next compact would
        // duplicate their rows); the next writeRetired deletes it
        Layout.readMarker(spark, root.toString, "_graft_retired")
          .map(parseRetired(_, strict = false)).getOrElse(Map.empty)
    }
  }

  /** Stamp the next retire-ledger epoch ([[stampVersioned]]) and clear
    * the legacy dot-less ledger if one stands. Writer-lease callers
    * only. */
  private def writeRetired(spark: SparkSession, path: String,
      m: Map[String, Long]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    val epoch = resolveVersioned(fs, root, retiredPrefix)(None)
      .map(_._1 + 1).getOrElse(0L)
    stampVersioned(spark, fs, root, retiredPrefix, epoch,
      m.toSeq.sortBy(_._1).map { case (n, t) =>
        java.net.URLEncoder.encode(n, "UTF-8") + "=" + t
      }.mkString("\n"))
    val legacy = new org.apache.hadoop.fs.Path(root, "_graft_retired")
    if (fs.exists(legacy)) fs.delete(legacy, false)
  }

  /** Delete retired files whose grace expired: every data file NOT in
    * the current manifest is garbage-in-waiting — ledgered entries
    * older than `olderThanMs` are deleted, younger ones kept, and
    * UNLEDGERED ones (a crash between flip and retire, or a foreign
    * hand-copy) are self-healed by stamping them with the current
    * time, so they age out on a later vacuum instead of leaking
    * forever. `b<id>-` batch files are never touched (crash debris of
    * the append protocol belongs to its own rollback). Requires a
    * manifest (a legacy directory-is-truth layout has no garbage
    * notion); returns the number of files deleted. Reader pins FLOOR
    * the grace: a file retired at or after an unexpired [[pinRead]]'s
    * creation survives regardless of `olderThanMs` (see the pin
    * section note) — the caller's window governs only unpinned
    * history, which makes a cron'd vacuum safe next to long readers.
    * Manifest-is-truth warning: after the grace, vacuum WILL delete
    * any data file the manifest does not list — do not hand-copy
    * files into a vacuumed layout. */
  def vacuumClustered(spark: SparkSession, path: String,
      olderThanMs: Long): Int =
    Layout.withWriterLease(spark, path, "vacuumClustered") {
    require(olderThanMs >= 0, s"olderThanMs must be >= 0, got $olderThanMs")
    // a crashed compaction's published-but-unflipped replacement files
    // are UNMANIFESTED — the self-heal arm below would stamp them into
    // the ledger, and after recovery flips them live, the next fold
    // would exclude them as "retired" and REWRITE THE LAYOUT WITHOUT
    // THEIR ROWS. Refuse under a commit record (the appendClustered
    // discipline): under the lease a standing record is crashed, and
    // every rewrite entry recovers it
    requireNotCompacting(spark, path, "vacuumClustered")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    currentManifest(spark, fs, root) match {
      case None => 0 // legacy layout: the directory IS the truth
      case Some((_, names)) =>
        val live = names.toSet
        val ledger = readRetired(spark, path)
        val now = System.currentTimeMillis()
        // the reader-registration floor: a retired file whose retire
        // time is at or after an unexpired pin's creation may belong
        // to the generation that reader resolved — it survives this
        // vacuum regardless of the caller's grace, until the pin is
        // released or its TTL lapses
        val pinFloors = activePins(fs, root, now).map(_._2)
        var deleted = 0
        val keep = Map.newBuilder[String, Long]
        listDataFiles(fs, root).foreach { st =>
          val n = st.getPath.getName
          // `b<id>-` files are skipped UNLESS retire-ledgered: an
          // unledgered one is either append-crash debris (the append
          // protocol's rollback owns it) or a committed batch whose
          // manifest heal is pending — both must survive vacuum; a
          // RETIRED tail (a retention fold's victim) ages out normally
          if (!live(n) && (ledger.contains(n) || !n.matches("b\\d+-.*"))) {
            ledger.get(n) match {
              case Some(t) if now - t >= olderThanMs &&
                  !pinFloors.exists(_ <= t) =>
                require(fs.delete(st.getPath, false),
                  s"vacuumClustered: could not delete retired $n")
                deleted += 1
              case Some(t) => keep += n -> t
              case None => keep += n -> now // self-heal: age from now
            }
          }
        }
        // entries for vanished files drop out by construction (the
        // ledger is rebuilt from the files actually present); a NO-OP
        // vacuum (nothing deleted, ledger unchanged) skips the stamp —
        // a periodic vacuum cron on a retention-free layout must not
        // burn a ledger epoch per run
        val next = keep.result()
        val changed = deleted > 0 || next != ledger
        if (changed) writeRetired(spark, path, next)
        // manifest-history CUT rides the same grace: when THIS vacuum
        // empties the ledger (the last grace expired), the retained
        // bases/deltas describe generations with no readable files
        // left — restamp the current generation as a fresh BASE, whose
        // immediate GC reclaims everything below it, so a pinned read
        // of a reclaimed epoch refuses at RESOLVE time ("predates the
        // oldest retained base") instead of deep inside a scan. While
        // ANY grace file remains, the whole history stays — a pinned
        // epoch whose OWN files aged out of an overlapping grace fails
        // at scan time, the documented coarse-grain trade for a
        // one-flag rule. A crash between the file deletes and this
        // stamp leaves stale history standing until the next retention
        // cycle's vacuum — a bounded leak, never a correctness hole
        // (resolving a stale epoch fails loudly at scan).
        if (changed && next.isEmpty)
          resolveGeneration(fs, root, None).foreach(g =>
            stampManifest(spark, fs, root, g.entries,
              epochHint = Some(g.epoch + 1), deferGc = false))
        deleted
    }
  }

  /** The delete-or-retire step every swap shares: with grace, the
    * victims are stamped into the retired ledger and left at their
    * paths; without, they are deleted now. Either way the manifest
    * already excludes them — this step is invisible to manifest
    * readers. An EMPTY victim set under grace skips the ledger stamp
    * (vacuum's no-op discipline): a whole-compact recovery re-run
    * after the sweep already completed must not burn a ledger epoch
    * + GC per call for no state change. */
  private def retireOrDelete(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      victims: Seq[org.apache.hadoop.fs.FileStatus], retainMs: Long,
      ledger: Map[String, Long]): Unit = {
    val now = System.currentTimeMillis()
    // an unexpired reader pin UPGRADES an ungraceful sweep to a
    // retire: outright deletion would yank the pinned generation's
    // files out from under the reader — the vacuum floor governs only
    // ledgered files, so the protection has to start here. The entry
    // ages from now, so the first vacuum after the pin releases
    // reclaims it; a compact on an unpinned layout pays nothing
    // beyond one pin glob per sweep.
    val mustRetire = retainMs > 0 ||
      (victims.nonEmpty && activePins(fs, root, now).nonEmpty)
    if (mustRetire) {
      if (victims.nonEmpty) writeRetired(spark, root.toString,
        ledger ++ victims.map(_.getPath.getName -> now))
    } else victims.foreach { st =>
      require(fs.delete(st.getPath, false),
        s"compact: could not delete replaced file ${st.getPath}")
    }
  }

  /** Widen a clustered layout's schema IN METADATA — no table rewrite:
    * `added`'s columns join the declared schema, and every pre-
    * migration file backfills them with NULL at read time (the columns
    * are forced nullable for exactly that reason). Two marker writes,
    * nothing touches a data file:
    *   1. a versioned `_graft_schemad.<epoch>.<uuid>` DDL marker (the
    *      shared versioned-marker protocol) recording the FULL widened
    *      schema in read order — [[readClustered]] applies it as the
    *      explicit read schema, which is what makes the null backfill
    *      a metadata property instead of a mergeSchema scan;
    *   2. the `_graft_schema` gate payload, so [[appendClustered]]
    *      accepts widened batches from here on (and REFUSES
    *      old-schema batches — migration is the producer flip too;
    *      flip producers after migrating).
    * Widen-only by design: dropping or retyping a column changes what
    * existing BYTES mean and needs a rewrite, which the compact
    * machinery can do but this op refuses to imply. Adding a column
    * that already exists refuses — except the exact-replay arm (same
    * names, same types), which heals the crash window between the two
    * marker writes by re-stamping the gate. Clustering columns are
    * untouched by construction (they exist, so they collide).
    * Compaction is already widen-safe: both fold forms read their
    * inputs with mergeSchema, so a fold over mixed pre/post files
    * unions the column and null-fills the old rows physically. */
  def migrateSchemaWiden(spark: SparkSession, path: String,
      added: org.apache.spark.sql.types.StructType): Unit =
    Layout.withWriterLease(spark, path, "migrateSchemaWiden") {
      require(added.fields.nonEmpty,
        "migrateSchemaWiden: no columns to add")
      requireNotCompacting(spark, path, "migrateSchemaWiden")
      require(clusteringOf(spark, path).nonEmpty,
        s"migrateSchemaWiden: no $markerFile marker at $path — not a " +
          "clustered graft layout, or a rebuild is in flight/crashed")
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
      // resident schema in READ order: the standing DDL marker for a
      // repeat migration, else one footer read of the current
      // generation (a per-migration cost, never a per-batch one)
      val resident = readerSchema(spark, fs, root)
        .getOrElse(readClustered(spark, path).schema)
      val residentLower = resident.fields.map(f =>
        f.name.toLowerCase(java.util.Locale.ROOT) ->
          f.dataType.catalogString).toMap
      val (replayed, fresh) = added.fields.partition(f =>
        residentLower.get(f.name.toLowerCase(java.util.Locale.ROOT))
          .contains(f.dataType.catalogString))
      val collisions = fresh.filter(f => residentLower.contains(
        f.name.toLowerCase(java.util.Locale.ROOT)))
      require(collisions.isEmpty,
        s"migrateSchemaWiden: column(s) ${collisions.map(_.name)
          .mkString(", ")} already exist at $path with a DIFFERENT " +
          "type — retyping needs a rewrite, not a metadata migration")
      require(replayed.isEmpty || fresh.isEmpty,
        s"migrateSchemaWiden: ${replayed.map(_.name).mkString(", ")} " +
          s"already declared at $path but ${fresh.map(_.name)
            .mkString(", ")} not — a partial replay; migrate the " +
          "missing columns alone")
      val widened =
        if (fresh.isEmpty) resident // exact replay: heal the gate only
        else org.apache.spark.sql.types.StructType(
          resident.fields ++ fresh.map(_.copy(nullable = true)))
      if (fresh.nonEmpty) {
        val epoch = resolveVersioned(fs, root, schemaDdlPrefix)(None)
          .map(_._1 + 1).getOrElse(0L)
        stampVersioned(spark, fs, root, schemaDdlPrefix, epoch,
          widened.toDDL)
      }
      // gate LAST: a crash between the two writes leaves readers on
      // the widened schema and appends on the old gate — widened
      // batches refuse (loud, no corruption), and re-running the same
      // migration lands in the replay arm above and heals this stamp
      Layout.writeMarker(spark, path, schemaFile, schemaPayload(widened))
    }

  /** The layout's DECLARED read schema — present only after a
    * [[migrateSchemaWiden]]; None everywhere else, where the files'
    * own footers are the schema (pre-migration behavior, unchanged). */
  private def readerSchema(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : Option[org.apache.spark.sql.types.StructType] =
    resolveVersioned(fs, root, schemaDdlPrefix)(None).map { case (_, ddl) =>
      org.apache.spark.sql.types.StructType.fromDDL(ddl) }

  /** One parquet read spelling for every [[readClustered]] arm: the
    * declared (post-migration) schema when one stands — missing
    * columns backfill NULL per file — else the plain footer-driven
    * read. */
  private def readDeclared(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      paths: Seq[String]): DataFrame =
    // the materialized curve column is layout-internal: dropped from
    // every reader-visible frame (free — column pruning removes it
    // from the scan; a no-op on legacy files without the column)
    readDeclaredRaw(spark, fs, root, paths).drop(zColName)

  /** [[readDeclared]] WITHOUT the curve-column drop — for internal
    * consumers that need the raw scan relation (the DV anti-join
    * resolves `_metadata` directly off it). */
  private def readDeclaredRaw(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      paths: Seq[String]): DataFrame = {
    val reader = readerSchema(spark, fs, root) match {
      case Some(s) => spark.read.schema(s)
      case None => spark.read
    }
    reader.parquet(paths: _*)
  }

  /** The tombstone frame as join input, ONE constructor for every
    * consumer ([[applyDvs]] and [[stageTombstones]]): tombstones
    * store the BASE name (the protocol identity), and this lifts the
    * TINY dv side to full paths — `root + "/" + name` — instead of
    * cutting the basename out of the scan side's
    * `_metadata.file_path` PER ROW (a string split per row measured
    * ×1.5 on a metadata-light scan). The lift is sound because
    * [[readDeclared]] and the victim scans build their file lists
    * from the very same `new Path(root, name)` strings, so the
    * scan's file_path is that string verbatim — a soundness argument
    * that must hold at ONE site, which is why the constructor is
    * shared. */
  private def dvFrame(spark: SparkSession,
      root: org.apache.hadoop.fs.Path, dvNames: Seq[String]): DataFrame =
    spark.read.schema("file STRING, pos BIGINT")
      .parquet(dvNames.map(n =>
        new org.apache.hadoop.fs.Path(root, n).toString): _*)
      .select(concat(lit(root.toString + "/"), col("file"))
        .as("__graft_dv_file"), col("pos").as("__graft_dv_pos"))

  /** Distinct data-file names a dv set addresses, cached per (root,
    * dv name set) — dv names embed tokens and are unique forever, so
    * a hit can never be stale. The ONE tiny driver-side job a DV'd
    * read pays on first resolve; every later read splits its scan
    * for free. Bounded like [[genCache]]. */
  private val dvFilesCache =
    new scala.collection.concurrent.TrieMap[(String, Seq[String]),
      Set[String]]()

  /** Bounded insert into [[dvFilesCache]] — the ONE eviction spelling
    * for the read-side resolve and the writer-side pre-warm (a delete
    * that just staged its tombstones already knows the victim set). */
  private def cacheDvFiles(root: String, dvNamesSorted: Seq[String],
      victims: Set[String]): Unit = {
    val key = (root, dvNamesSorted)
    if (dvFilesCache.size >= 64 && !dvFilesCache.contains(key))
      dvFilesCache.remove(dvFilesCache.keysIterator.next())
    dvFilesCache.put(key, victims)
  }

  /** The generation's data scan with deletion vectors applied — the
    * composition every manifest read arm shares. Files WITHOUT
    * tombstones bypass the anti-join ENTIRELY (their rows never pay
    * the per-row probe): the dv set's distinct victim names — one
    * tiny cached driver job — split the scan into a clean branch and
    * an anti-joined branch, unioned. A narrow (key-local) delete
    * leaves most of a 100 TB table in the clean branch, and dead
    * tombstones (files a fold rewrote) match nothing, so their cost
    * at read time is zero. */
  private def readWithDvs(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      dataNames: Seq[String], dvNames: Seq[String]): DataFrame = {
    // raw scans internally (the anti-join reads _metadata off them);
    // the curve column is dropped from each branch BEFORE the strict
    // union — without a declared schema each branch infers from its own
    // footers, and a layout mixing files with and without the column
    // would give the two branches different column sets
    def declared(ns: Seq[String]): DataFrame =
      readDeclaredRaw(spark, fs, root, ns.map(n =>
        new org.apache.hadoop.fs.Path(root, n).toString))
    if (dvNames.isEmpty) declared(dataNames).drop(zColName)
    else {
      val key = (root.toString, dvNames.sorted)
      val victims = dvFilesCache.getOrElse(key, {
        val v = spark.read.schema("file STRING, pos BIGINT")
          .parquet(dvNames.map(n => new org.apache.hadoop.fs
            .Path(root, n).toString): _*)
          .select(col("file")).distinct()
          .collect().map(_.getString(0)).toSet
        cacheDvFiles(root.toString, dvNames.sorted, v)
        v
      })
      val (dvd, clean) = dataNames.partition(victims)
      def dvApplied(ns: Seq[String]): DataFrame =
        applyDvs(spark, fs, root, declared(ns), dvNames).drop(zColName)
      if (dvd.isEmpty) declared(dataNames).drop(zColName) // dead tombstones
      else if (clean.isEmpty) dvApplied(dataNames)
      else declared(clean).drop(zColName).unionByName(dvApplied(dvd))
    }
  }

  /** Apply a generation's deletion vectors to a scan over its data
    * files: anti-join on (file name, parquet row position). The DV
    * side is ∝ deletes since the last whole compact — BROADCAST when
    * plainly small (the overwhelmingly common case: the scan side
    * gains a codegen'd hash probe and no exchange); past the bound a
    * shuffled anti-join is still correct. Row identity is
    * `_metadata.row_index` (physical position: deterministic per
    * file, stable under splits and row-group pruning) + the file's
    * base name (names embed write-job UUIDs — a (name, pos) pair can
    * never address different bytes). No-op without DVs: the plain
    * scan relation is returned untouched. Hot read paths go through
    * [[readWithDvs]], which routes only tombstone-bearing files here;
    * the fold forms apply this over their whole fold frame (a
    * maintenance rewrite, not a serving read). */
  private def applyDvs(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      data: DataFrame, dvNames: Seq[String]): DataFrame =
    if (dvNames.isEmpty) data
    else {
      Seq("__graft_dv_file", "__graft_dv_pos").foreach(c =>
        require(!data.columns.contains(c),
          s"readClustered: the layout's schema carries the reserved " +
            s"column name $c — deletion-vector application joins on " +
            "it; rename the data column"))
      val dv = dvFrame(spark, root, dvNames)
      val bytes = dvNames.map(n => fs.getFileStatus(
        new org.apache.hadoop.fs.Path(root, n)).getLen).sum
      val dvSide = if (bytes <= (64L << 20)) broadcast(dv) else dv
      data
        .withColumn("__graft_dv_file", col("_metadata.file_path"))
        .withColumn("__graft_dv_pos", col("_metadata.row_index"))
        .join(dvSide, Seq("__graft_dv_file", "__graft_dv_pos"),
          "left_anti")
        .drop("__graft_dv_file", "__graft_dv_pos")
    }

  /** Read a clustered layout through its generation manifest — the
    * reader-side API with the atomicity guarantee the directory read
    * lacks: the resolved file set is exactly one complete generation,
    * at every compact protocol step and every crash window (see the
    * manifest section note above for the long-running-job residual).
    * Refuses a marker-less path loudly (a crashed rebuild, or not a
    * clustered layout at all); a legacy pre-manifest layout falls back
    * to the directory read it always had. Predicates pushed into the
    * returned frame prune row groups through the layout's per-file
    * min/max stats exactly as a directory read would — the scan
    * relation is the same, built from an explicit list. */
  def readClustered(spark: SparkSession, path: String): DataFrame = {
    require(clusteringOf(spark, path).nonEmpty,
      s"readClustered: no $markerFile marker at $path — not a clustered " +
        "graft layout, or a rebuild is in flight/crashed (rebuilds " +
        "clear markers first so readers fail loudly instead of reading " +
        "a half-written layout)")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    currentManifest(spark, fs, root) match {
      case Some((_, names)) if names.exists(!isDvName(_)) =>
        val (dataNames, dvNames) = names.partition(!isDvName(_))
        readWithDvs(spark, fs, root, dataNames, dvNames)
      case Some((_, names)) if names.nonEmpty =>
        // dv-only generation: unreachable by construction (every DV
        // commit adds to a generation with data files, and folds
        // publish at least one file) — refusing beats a directory
        // fallback that would serve rows the DVs deleted
        sys.error(s"readClustered: generation at $path lists only " +
          "deletion vectors and no data files — a damaged manifest; " +
          "rebuild the layout")
      case _ =>
        // legacy layout (no manifest yet), or an empty generation
        // (bootstrap purged, nothing landed): the directory read is
        // the pre-manifest behavior for both — REFUSED when a retire
        // ledger coexists (currently unreachable: retention requires
        // a manifest and folds never emit zero files, but the
        // directory read would double-count any in-grace retired
        // file, so the invariant is enforced, not assumed)
        require(readRetired(spark, path).isEmpty,
          s"readClustered: $path has no resolvable generation but a " +
            "non-empty retire ledger — a directory read would serve " +
            "retired (old-generation) rows; rebuild the layout or " +
            "vacuum past the grace first")
        // same refusal for deletion vectors: a hand-deleted manifest
        // family over a DV'd layout must not degrade to a directory
        // read that parses dv- tombstone files as data rows (declared
        // schema → null-filled garbage) AND serves the deleted rows
        require(!listDataFiles(fs, root).exists(st =>
          isDvName(st.getPath.getName)),
          s"readClustered: $path has no resolvable generation but " +
            "deletion-vector files present — a directory read cannot " +
            "apply (or even skip) them; rebuild the layout")
        readDeclared(spark, fs, root, Seq(path))
    }
  }

  /** [[readClustered]] PINNED to a past generation: resolve epoch
    * `asOfEpoch` through the retained base + delta chain and read
    * exactly that generation's files. The snapshot-isolation
    * completion of retention: record [[currentEpoch]] before a long
    * job, compact with `retainMs > 0` freely — the pinned read keeps
    * serving the PRE-swap row set for as long as the retired files
    * survive the vacuum grace (manifest history lives exactly as long
    * as the grace files; see the manifest section note). Refused
    * loudly once vacuum reclaimed the chain ("predates the oldest
    * retained base" / "not reconstructable"); a pinned epoch whose
    * own files aged out of an OVERLAPPING grace fails at scan time
    * (FileNotFoundException) — both are loud, neither can silently
    * serve a different generation. */
  def readClustered(spark: SparkSession, path: String,
      asOfEpoch: Long): DataFrame = {
    require(clusteringOf(spark, path).nonEmpty,
      s"readClustered: no $markerFile marker at $path — not a clustered " +
        "graft layout, or a rebuild is in flight/crashed")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    val g = resolveGeneration(fs, root, Some(asOfEpoch)).getOrElse(
      sys.error(s"readClustered: $path has no generation manifest — a " +
        "legacy pre-manifest layout has no epochs to pin"))
    val (dataNames, dvNames) =
      g.entries.keys.toSeq.sorted.partition(!isDvName(_))
    require(dataNames.nonEmpty,
      s"readClustered: generation $asOfEpoch at $path is empty — " +
        "nothing to read at that epoch")
    // the CURRENT declared schema on purpose: the pin is a row-set
    // pin, and the schema is table-level metadata (a pinned read after
    // a widening sees the new column as NULL, never a schema error).
    // DVs are THAT generation's: a pin taken before a delete serves
    // the undeleted rows — the delete is a later epoch's entry.
    readWithDvs(spark, fs, root, dataNames, dvNames)
  }

  /** [[readClustered]] restricted by a conjunctive BOX — `(column,
    * inclusive lo, inclusive hi)` triples: the generation's per-file
    * manifest stats pre-filter the FILE LIST before the scan relation
    * is built, so planning cost is ∝ files that can match, not table
    * files (at 10^5 files the difference between metadata pruning and
    * the r15 shape, where parquet footer stats pruned rows only AFTER
    * planning touched every file). Pruning is CONSERVATIVE file
    * SKIPPING, not filtering: the frame holds every row of every file
    * whose recorded [min,max] can intersect the box (a superset of
    * the matching rows — files without stats are kept), and the
    * caller applies its own exact predicate on top, which Spark then
    * also pushes into the kept files' row-group stats as always.
    * Legacy layouts (no manifest) and stats-less generations degrade
    * to the unpruned read — never to a wrong one. */
  def readClustered(spark: SparkSession, path: String,
      box: Seq[(String, Any, Any)]): DataFrame = {
    require(clusteringOf(spark, path).nonEmpty,
      s"readClustered: no $markerFile marker at $path — not a clustered " +
        "graft layout, or a rebuild is in flight/crashed")
    // ONE resolve for the file list AND the tombstone set — a second
    // resolve could straddle a concurrent compact and pair a stale
    // file list with a DV-cleared manifest (serving deleted rows)
    val (kept, all, dvNames) = pruneFilesDv(spark, path, box)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    if (all.isEmpty) readClustered(spark, path) // legacy/empty: unpruned
    else if (kept.isEmpty)
      // no file can match: an empty frame with the layout's schema,
      // anchored on one footer (zero row groups survive lit(false))
      readDeclared(spark, fs, root, Seq(
        new org.apache.hadoop.fs.Path(root, all.head).toString))
        .where(lit(false))
    else
      // the full DV set against the pruned subset: kept files without
      // tombstones ride the clean branch, and DV rows for skipped
      // files never match
      readWithDvs(spark, fs, root, kept, dvNames)
  }

  /** Exact per-file [zmin, zmax] under the PINNED clustering for
    * exactly `paths` — a COLUMN-PRUNED scan (clustered columns only),
    * grouped by file. Files with zero rows produce no entry. */
  private def computeZranges(spark: SparkSession, cl: Clustering,
      paths: Seq[org.apache.hadoop.fs.Path]): Map[String, (Long, Long)] =
    if (paths.isEmpty) Map.empty
    else {
      val df = spark.read.option("mergeSchema", "true")
        .parquet(paths.map(_.toString): _*)
        .select(cl.cols.map(c => col(c.name)): _*)
      val (staged, z, _) = clusteredFrame(df, cl)
      staged.select(input_file_name().as("__f"), z.as("__z"))
        .groupBy(col("__f"))
        .agg(min(col("__z")).as("lo"), max(col("__z")).as("hi"))
        .collect()
        .map { r =>
          val f = r.getString(0)
          f.substring(f.lastIndexOf('/') + 1) -> (r.getLong(1), r.getLong(2))
        }.toMap
    }

  /** Exact per-file [zmin, zmax] from the parquet footers' int64
    * statistics of the materialized [[zColName]] column — the
    * write-time capture feeding the `_graft_zranges` cache: driver-only
    * metadata reads (bounded parallel pool, the [[footerStats]]
    * discipline), no Spark job, and EXACT values (parquet int64 stats
    * are full-precision longs, unlike the manifest stats' double
    * spelling, which loses bits past 2^53 — z codes reach 2^63).
    * Files without the column or with a stats gap (legacy layouts)
    * get NO entry — [[residentIvs]]' targeted-scan fallback covers
    * them; zero-row files record the inverted sentinel residentIvs
    * already caches. */
  private def zrangesFromFooters(spark: SparkSession,
      root: org.apache.hadoop.fs.Path,
      names: Seq[String]): Map[String, (Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def ivOf(n: String): Option[(Long, Long)] =
      try {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(root, n), conf))
        try {
          import scala.jdk.CollectionConverters._
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          if (blocks.isEmpty) Some((1L, 0L)) // zero-row file: sentinel
          else {
            val per = blocks.map(_.getColumns.asScala
              .find(_.getPath.toDotString == zColName)
              .flatMap { cc =>
                val st = cc.getStatistics
                if (st == null || st.isEmpty || !st.hasNonNullValue) None
                else (st.genericGetMin.asInstanceOf[AnyRef],
                    st.genericGetMax.asInstanceOf[AnyRef]) match {
                  case (mn: java.lang.Long, mx: java.lang.Long) =>
                    Some((mn.longValue, mx.longValue))
                  case _ => None
                }
              })
            if (per.exists(_.isEmpty)) None // legacy file / stats gap
            else Some((per.map(_.get._1).min, per.map(_.get._2).max))
          }
        } finally reader.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    if (names.length <= 1) names.flatMap(n => ivOf(n).map(n -> _)).toMap
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, names.length))
      try names.map(n => n -> pool.submit(
          new java.util.concurrent.Callable[Option[(Long, Long)]] {
            def call(): Option[(Long, Long)] = ivOf(n)
          })).flatMap { case (n, f) => f.get().map(n -> _) }.toMap
      finally pool.shutdown()
    }
  }

  /** The `_graft_zranges` cache: `urlenc(name)=hexlo,hexhi` per line.
    * A PURE cache — unparseable content reads as empty and missing
    * entries are recomputed by targeted scan, so correctness never
    * rests on it; file names embed write-job UUIDs, so a named entry
    * can never describe different bytes. */
  private def readZranges(spark: SparkSession,
      path: String): Map[String, (Long, Long)] =
    try Layout.readMarker(spark, path, zrangesFile).map { s =>
      s.split('\n').iterator.map(_.trim).filter(_.nonEmpty).map { line =>
        val i = line.indexOf('=')
        val Array(lo, hi) = line.substring(i + 1).split(',')
        java.net.URLDecoder.decode(line.substring(0, i), "UTF-8") ->
          (java.lang.Long.parseUnsignedLong(lo, 16),
            java.lang.Long.parseUnsignedLong(hi, 16))
      }.toMap
    }.getOrElse(Map.empty)
    catch { case scala.util.control.NonFatal(_) => Map.empty }

  private def writeZranges(spark: SparkSession, path: String,
      ivs: Map[String, (Long, Long)]): Unit =
    Layout.writeMarker(spark, path, zrangesFile,
      ivs.toSeq.sortBy(_._1).map { case (n, (lo, hi)) =>
        java.net.URLEncoder.encode(n, "UTF-8") + "=" +
          java.lang.Long.toHexString(lo) + "," +
          java.lang.Long.toHexString(hi)
      }.mkString("\n"))

  /** Region construction for the tail fold: sort the fold intervals
    * by (lo, hi) and merge each adjacent pair UNLESS an untouched
    * resident sits at or between their junction — `u.hi >= hi₁ &&
    * u.lo <= lo₂` over the CLOSED junction [hi₁, lo₂]. One rule covers
    * overlap, endpoint-touch and gap coalescing, and it is the rule
    * the disjointness argument needs under endpoint ties: an untouched
    * resident can only TOUCH fold intervals at shared boundary values
    * (anything deeper failed the invariant check and took the repair
    * arm), so blocking every junction it touches keeps it outside the
    * merged region's interior — replacement files then tie it at worst,
    * never strictly contain it. Blocked junctions leave regions that
    * may share a boundary value; the region bucket (a monotone
    * hi-bound search) still assigns every z deterministically, the
    * shared value landing with the LEFT region. */
  private[graft] def buildRegions(ivs: Seq[(Long, Long)],
      untouched: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    // the junction test is O(log U), not a linear exists — at 10^5
    // residents with half folded, a linear scan per junction is 10^9
    // driver comparisons. untouched is sorted by lo, and under the
    // layout near-invariant its his are non-decreasing too, so the
    // candidate with u.hi >= hi of MINIMAL lo is exactly the first
    // index by the his order — one binary search, one lo check.
    val uLos = untouched.map(_._1).toArray
    val uHis = untouched.map(_._2).toArray
    def blocked(hi: Long, lo2: Long): Boolean = {
      var l = 0; var r = uHis.length
      while (l < r) {
        val mid = (l + r) >>> 1
        if (uHis(mid) >= hi) r = mid else l = mid + 1
      }
      l < uLos.length && uLos(l) <= lo2
    }
    ivs.sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: rest, (lo2, hi2)) if !blocked(hi, lo2) =>
        (lo, math.max(hi, hi2)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
  }

  /** Region index of `z` — count of regions whose hi bound is below
    * it ([[searchTree]]; every fold z lies inside some region by
    * construction, so the last index is the open top). Gated like the
    * rank trees: past 256 regions the when-tree's node count risks
    * the generated-method limit (past which Spark silently
    * deoptimizes to interpreted evaluation — the failure mode the
    * bits ≤ 8 rank gate documents), and a heavily-scattered fold at
    * the 10⁵-resident scale can legitimately produce thousands of
    * regions. Beyond the gate this falls back to a udf binary search
    * over a broadcast bound array — the [[compactTail]] slotOf
    * discipline: a maintenance rewrite over fold rows only, exact
    * long arithmetic, O(log R) per row, never a benched query path. */
  private def regionBucket(z: Column, his: Seq[Long]): Column =
    if (his.length <= 256) searchTree(i => z > lit(his(i)), his.length - 1)
    else {
      val bounds = his.dropRight(1).toArray // last region is the open top
      val slot = udf { (zv: Long) =>
        // count of his STRICTLY below zv — exact parity with the
        // tree's `>` comparison, including duplicate bounds (a point
        // region tied at a blocked junction): walk back to the FIRST
        // equal bound, the index the tree's left-descent lands on
        val p = java.util.Arrays.binarySearch(bounds, zv)
        var i = if (p >= 0) p else -p - 1
        while (i > 0 && bounds(i - 1) == zv) i -= 1
        i.toLong
      }
      slot(z)
    }

  /** The layout's pinned clustering, read back from the marker — what
    * [[appendClustered]] and [[compactClustered]] bucket through, and
    * the introspection point for users ("what IS this layout?"). */
  def clusteringOf(spark: SparkSession, path: String): Option[Clustering] =
    Layout.readMarker(spark, path, markerFile).map(parsePayload)

  /** Refuse while a rewrite's commit record stands: in flight, or
    * crashed past its commit point (under the lease, crashed). */
  private def requireNotCompacting(spark: SparkSession, path: String,
      what: String): Unit =
    Layout.readMarker(spark, path, commitFile).foreach { rec =>
      val kind = rec.split("[ \n]").lift(1) match {
        case Some("whole") => "compaction"
        case Some("tail") => "tail compaction or merge"
        case Some("mor") => "merge-on-read"
        case _ => "rewrite"
      }
      require(false, s"$what: $path carries a $commitFile record — a " +
        s"$kind is in flight or crashed mid-commit; run compactClustered, " +
        "compactTail, mergeClustered, mergeOnRead or deleteClustered " +
        "(each recovers it) first")
    }

  // ----- marker payload (bit-exact, versioned, human-inspectable) -----

  private def hexd(d: Double): String =
    java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
  private def unhexd(s: String): Double =
    java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(s, 16))

  /** `v1 curve=<c> bits=<b> files=<n> cols=<name>:<kind>:<p0,p1,…>;…`
    * with every double as bit-exact hex, and kind "s" params as
    * URL-encoded boundary strings — the quantization IS the layout
    * identity, and assignment is deterministic in the bits/bytes, so
    * only exact params make an append compatible (the
    * [[Ivf.centroidPayload]] discipline for curve layouts). A kind-s
    * column with ZERO boundaries (single-value key) serializes to an
    * empty param field; the layout's own boundary derivation never
    * emits an empty STRING boundary (the byte-order minimum is never a
    * boundary), so the empty field is unambiguous. */
  private[graft] def payload(cl: Clustering): String =
    s"v1 curve=${cl.curve} bits=${cl.bits} files=${cl.numFiles} cols=" +
      cl.cols.map(c => c.kind match {
        case "s" =>
          // enforced, not just derived: a hand-built kind-s quant with
          // a single EMPTY boundary string would serialize identically
          // to zero boundaries ('name:s:') and parse back as Nil —
          // silently collapsing the layout identity the payload is
          // documented to pin bit-exactly. stringRankBoundaries never
          // emits one (the byte-order minimum is never a boundary),
          // but payload() accepts arbitrary Clusterings.
          require(c.sparams.forall(_.nonEmpty),
            s"kind-s column '${c.name}' carries an empty-string " +
              "boundary — it is indistinguishable from zero boundaries " +
              "in the marker serialization")
          s"${c.name}:s:" + c.sparams.map(
            java.net.URLEncoder.encode(_, "UTF-8")).mkString(",")
        case k => s"${c.name}:$k:${c.params.map(hexd).mkString(",")}"
      }).mkString(";")

  private[graft] def parsePayload(s: String): Clustering = {
    def fail(why: String) = sys.error(
      s"$markerFile: unparseable payload ('$why'): $s")
    val parts = s.trim.split(' ')
    if (parts.length != 5 || parts(0) != "v1") fail("expected 5 v1 fields")
    def field(i: Int, k: String): String = {
      if (!parts(i).startsWith(k + "=")) fail(s"expected $k=")
      parts(i).substring(k.length + 1)
    }
    val cols = field(4, "cols").split(';').toSeq.map { c =>
      // limit -1: a kind-s column with zero boundaries ends in ':'
      val p = c.split(":", -1)
      if (p.length != 3) fail(s"bad col spec $c")
      p(1) match {
        case "u" | "r" =>
          // split(":", -1) admits a trailing-empty param field (a
          // kind-s need); for u/r an empty field is marker damage and
          // must fail AS marker damage, not a bare NumberFormatException
          if (p(2).isEmpty) fail(s"empty ${p(1)} params in $c")
          ColQuant(p(0), p(1), p(2).split(',').toSeq.map(unhexd))
        case "s" =>
          val sp = if (p(2).isEmpty) Nil
            else p(2).split(",", -1).toSeq.map(
              java.net.URLDecoder.decode(_, "UTF-8"))
          ColQuant(p(0), "s", Nil, sp)
        case k => fail(s"unknown kind $k")
      }
    }
    Clustering(field(1, "curve"), field(2, "bits").toInt,
      field(3, "files").toInt, cols)
  }

  // ----- pinned-parameter bucketing + curve code -----

  /** The bucketed frame + curve column for `cl` over `df` — the ONE
    * placement spelling the original write, every append and every
    * compaction share (they must never drift, or an appended batch
    * would interleave incompatibly with the resident files). Rank
    * buckets are STAGED as projected columns (see
    * [[writeZorderedByRank]]'s note — the decision tree must evaluate
    * once per row, not once per output bit); uniform buckets are cheap
    * bit arithmetic and stay inline. Returns (frame, curve column,
    * stage columns to drop before the write). */
  private def clusteredFrame(df: DataFrame,
      cl: Clustering): (DataFrame, Column, Seq[String]) = {
    cl.cols.foreach(c => require(df.columns.contains(c.name),
      s"clustered column '${c.name}' missing from the input (has: " +
        s"${df.columns.mkString(", ")})"))
    cl.cols.foreach {
      case ColQuant(n, "u", ps, _) => require(ps.length == 2,
        s"uniform quantization for '$n' needs [lo, hi], got ${ps.length}")
      case ColQuant(_, "r", _, _) | ColQuant(_, "s", _, _) => ()
      case ColQuant(n, k, _, _) =>
        sys.error(s"unknown quantization kind '$k' for '$n'")
    }
    def curveOf(qs: Seq[Column]): Column = cl.curve match {
      case "morton" => interleave(qs, cl.bits)
      // 2-D keeps the plan-pinned hilbert_d2 fused loop; 3+ dims go
      // through the Skilling-transpose hilbert_dn expression
      case "hilbert" if qs.length == 2 =>
        org.apache.spark.sql.GraftColumn.of(graft.functions.HilbertCode(
          org.apache.spark.sql.GraftColumn.expr(qs(0)),
          org.apache.spark.sql.GraftColumn.expr(qs(1)), cl.bits))
      case "hilbert" =>
        org.apache.spark.sql.GraftColumn.of(graft.functions.HilbertCodeN(
          qs.map(org.apache.spark.sql.GraftColumn.expr), cl.bits))
      case other => sys.error(s"unknown curve '$other' in $markerFile")
    }
    if (!cl.cols.exists(c => c.kind == "r" || c.kind == "s")) {
      val qs = cl.cols.map(c => bucket(numericView(df.schema, c.name),
        c.params(0), c.params(1), cl.bits))
      (df, curveOf(qs), Nil)
    } else {
      require(!df.columns.exists(_.startsWith("__graft_zb_")),
        "input already carries __graft_zb_* columns — a leaked stage " +
          "column from a crashed clustered write; drop it before re-clustering")
      val bcols = cl.cols.indices.map(i => s"__graft_zb_$i")
      // withColumn, not a full re-select: re-selecting every column by
      // name through col() would mis-parse dotted column names as
      // nested-field access — untouched columns must never be resolved
      val staged = cl.cols.zip(bcols).foldLeft(df) { case (d, (c, bc)) =>
        d.withColumn(bc, c.kind match {
          case "u" => bucket(numericView(df.schema, c.name),
            c.params(0), c.params(1), cl.bits)
          case "s" => rankBucketStr(col(c.name), c.sparams)
          case _ => rankBucket(numericView(df.schema, c.name), c.params)
        })
      }
      (staged, curveOf(bcols.map(col)), bcols)
    }
  }

  /** The pinned-parameter curve value of each row of `df` — the
    * measurement hook ZorderSpec's grid pins ride on (per-file z-range
    * disjointness IS "fully clustered"): returns the frame extended
    * with the curve value under `asCol`, stage columns already shed. */
  private[graft] def curveValues(df: DataFrame, cl: Clustering,
      asCol: String): DataFrame = {
    val (staged, z, drop) = clusteredFrame(df, cl)
    staged.withColumn(asCol, z).drop(drop: _*)
  }

  /** The per-dimension equal-width [lo, hi] bounds behind [[zvalue]] —
    * one min/max stats pass, shared by the Morton and Hilbert forms.
    * Stats run over FINITE values only: a single NaN would make max()
    * return NaN (Spark orders it above every double) and silently
    * degenerate the whole dimension to one bucket; ±Infinity would
    * collapse every finite row's scale the same way. Non-finite ROWS
    * still get defined buckets (edge clamp in [[bucket]]). */
  private def uniformQuants(df: DataFrame, cols: Seq[String],
      bits: Int): Seq[ColQuant] = {
    def finite(x: Column): Column = {
      val d = x.cast("double")
      when(isnan(d) || abs(d) === Double.PositiveInfinity, lit(null))
        .otherwise(d)
    }
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      min(finite(numericView(df.schema, c))).as(s"__lo_$c"),
      max(finite(numericView(df.schema, c))).as(s"__hi_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    // clustering an EMPTY frame is refused outright: zero rows pin a
    // degenerate lo = hi quantization into the marker, every future
    // append buckets to curve value 0, and the layout never prunes —
    // permanently, because appends and compactions bucket through the
    // PINNED parameters by design. A single all-NULL column still
    // degenerates to one bucket (documented above); a whole frame
    // with no stats is a bootstrap mistake and must fail loudly.
    require(stats.getLong(0) > 0,
      "cannot cluster an EMPTY frame — the stats pass would pin a " +
        "degenerate quantization that never prunes; bootstrap the " +
        "layout from resident data")
    cols.zipWithIndex.map { case (c, i) =>
      val lo = if (stats.isNullAt(2 * i + 1)) 0.0 else stats.getDouble(2 * i + 1)
      val hi = if (stats.isNullAt(2 * i + 2)) 0.0 else stats.getDouble(2 * i + 2)
      ColQuant(c, "u", Seq(lo, hi))
    }
  }

  /** Stats-bearing timestamps scoped to ONE write: Spark's default
    * INT96 timestamp encoding carries no min/max statistics, so a time
    * column clustered here would prune NOTHING at read (measured in
    * ZorderProbe: 25,199 decoded rows vs 12,633 once stats exist).
    * TIMESTAMP_MICROS is the parquet-standard stats-bearing encoding;
    * it is not set session-wide because its isAdjustedToUTC annotation
    * changes how external readers render values (see Session.builder's
    * note). The set/restore is a SESSION-level mutation — like every
    * rewrite in this engine, one writer per session is assumed: a
    * concurrent parquet write on the same session during this window
    * would pick up MICROS (harmless but unscoped), and a concurrent
    * clustered write could restore the wrong prior. */
  private def withStatsTimestamps[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body finally spark.conf.set(key, prior)
  }

  /** Rank (equi-depth) quantization boundaries for `c` over `df`:
    * 2^bits − 1 approximate quantile splits, deduplicated and sorted.
    * The skew-robust sibling of the min/max scaling above — a
    * heavy-tailed column under equal-WIDTH buckets crams almost every
    * row into one bucket (the z-curve then degenerates to a 1-D sort
    * on the other dimensions, measured in ZorderProbe's rank
    * section); equal-DEPTH buckets spread rows ~evenly regardless of
    * shape. Driver-bounded: ≤ 255 doubles at the bits ≤ 8 this mode
    * supports. */
  private[graft] def rankBoundaries(df: DataFrame, c: String,
      bits: Int): Array[Double] =
    rankBoundariesAll(df, Seq(c), bits).head

  /** All clustered columns' boundaries in ONE approxQuantile pass —
    * the multi-column overload computes every column's sketch in a
    * single table scan, so the stats cost does not grow with the
    * dimension count. */
  private def rankBoundariesAll(df: DataFrame, cols: Seq[String],
      bits: Int): Seq[Array[Double]] = {
    require(bits >= 1 && bits <= 8,
      s"rank mode supports bits in [1,8] (<= 255 boundaries), got $bits")
    require(!df.isEmpty,
      "cannot cluster an EMPTY frame — the quantile pass would pin a " +
        "degenerate quantization that never prunes; bootstrap the " +
        "layout from resident data")
    val n = 1 << bits
    val probs = (1 until n).map(_.toDouble / n).toArray
    df.select(cols.map(c => numericView(df.schema, c).as(c)): _*)
      .stat.approxQuantile(cols.toArray, probs, 0.001)
      .map(_.distinct.sorted).toSeq
  }

  /** The rank quantization of EVERY clustered column, mixed-type:
    * numeric/timestamp/date columns share one approxQuantile pass
    * (kind "r"); STRING columns get equal-depth boundaries over their
    * key frequencies (kind "s") — one small aggregate each. */
  private def rankQuants(df: DataFrame, cols: Seq[String],
      bits: Int): Seq[ColQuant] = {
    // the boundary budget gates HERE, not only inside the numeric
    // quantile pass — an all-string clustering otherwise reaches
    // stringRankBoundaries with 2^16 bucket targets (a marker holding
    // tens of thousands of boundary strings and a when-tree past the
    // codegen method limit)
    require(bits >= 1 && bits <= 8,
      s"rank mode supports bits in [1,8] (<= 255 boundaries), got $bits")
    val isStr = cols.map(c => c -> df.schema.fields.find(_.name == c)
      .exists(_.dataType == org.apache.spark.sql.types.StringType)).toMap
    val numCols = cols.filterNot(isStr)
    val numBounds =
      if (numCols.isEmpty) Map.empty[String, Seq[Double]]
      else numCols.zip(rankBoundariesAll(df, numCols, bits))
        .map { case (c, b) => c -> b.toSeq }.toMap
    cols.map { c =>
      if (isStr(c)) ColQuant(c, "s", Nil,
        stringRankBoundaries(df, c, bits))
      else {
        // an all-NULL column yields ZERO quantile boundaries — a
        // silently constant dimension that never prunes, and a marker
        // col spec with an empty param field; refuse like the
        // empty-frame case
        require(numBounds(c).nonEmpty,
          s"rank clustering column '$c' has no non-NULL values — the " +
            "quantile pass would pin a degenerate quantization that " +
            "never prunes")
        ColQuant(c, "r", numBounds(c))
      }
    }
  }

  /** Equal-depth boundaries for a STRING clustering key: the distinct
    * keys and their counts (one shuffle over the distinct keys —
    * small by the categorical-key assumption this mode makes), sorted
    * IN SPARK (its UTF8 binary order is what the bucketing comparisons
    * run in; a driver-side java String sort would disagree on
    * supplementary characters), then cumulative counts pick the first
    * key of each new bucket. NULLs are excluded (they bucket to 0 like
    * every quantizer here); the global minimum key is never a boundary
    * (bucket 0 starts below every boundary), so an EMPTY-string
    * boundary is unreachable — the marker serialization relies on it.
    * Refused loudly past 65,536 distinct keys: a free-text column is
    * not a clustering key — hash it (xxhash64) to a numeric bucket
    * instead. */
  private def stringRankBoundaries(df: DataFrame, c: String,
      bits: Int): Seq[String] = {
    val maxDistinct = 65536
    // the aggregate is aliased away from "count": a clustering column
    // NAMED count would otherwise make the orderBy ambiguous
    val counts = df.select(col(c)).na.drop
      .groupBy(col(c)).agg(count(lit(1)).as("__graft_cnt"))
      .orderBy(col(c))
      .limit(maxDistinct + 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(counts.length <= maxDistinct,
      s"string clustering column '$c' has more than $maxDistinct " +
        "distinct keys — that is a free-text column, not a clustering " +
        "key; derive a numeric bucket (e.g. xxhash64) instead")
    require(counts.nonEmpty,
      s"cannot cluster on '$c': no non-NULL keys — the boundary pass " +
        "would pin a degenerate quantization that never prunes")
    val total = counts.map(_._2).sum
    val n = 1L << bits
    val bounds = Seq.newBuilder[String]
    var cum = 0L
    var nextTarget = 1L
    counts.foreach { case (v, cnt) =>
      // v starts bucket `nextTarget` when the rows BEFORE it already
      // filled the previous buckets — the first key never qualifies
      if (cum * n >= nextTarget * total && nextTarget < n) {
        bounds += v
        nextTarget += 1
        // skip targets this key's mass alone covers
        while (cum * n >= nextTarget * total && nextTarget < n)
          nextTarget += 1
      }
      cum += cnt
    }
    bounds.result()
  }

  /** The ONE balanced when/otherwise BINARY DECISION TREE every
    * bucketing form shares (numeric rank, string rank, region split —
    * three hand-kept copies previously, whose tree-shape conventions
    * could silently drift and mis-place appends relative to
    * residents): returns how many of the `n` ordered split predicates
    * hold, as a LONG column, in log₂ n comparisons per row, fully
    * whole-stage-codegen'd — no UDF, no interpreted HOF. `cmp(i)`
    * must be monotone in i for a fixed row (true at i implies true
    * below it), which ordered boundaries give for free. NULL descends
    * the false branch at every split and lands in bucket 0. */
  private def searchTree(cmp: Int => Column, n: Int): Column = {
    def go(lo: Int, hi: Int): Column =
      if (lo >= hi) lit(lo.toLong)
      else {
        val mid = (lo + hi) / 2
        when(cmp(mid), go(mid + 1, hi)).otherwise(go(lo, mid))
      }
    go(0, n)
  }

  /** Bucket of `v` among sorted `bounds` — the count of boundaries
    * ≤ v ([[searchTree]]). NaN compares greater than any double in
    * Spark and lands in the top bucket. */
  private[graft] def rankBucket(v: Column, bounds: Seq[Double]): Column =
    searchTree(i => v >= lit(bounds(i)), bounds.length)

  /** [[rankBucket]] over STRING boundaries — the same tree, comparing
    * in Spark's UTF8 binary order (codegen'd string comparisons). */
  private[graft] def rankBucketStr(v: Column, bounds: Seq[String]): Column =
    searchTree(i => v >= lit(bounds(i)), bounds.length)

  /** Per-file bounding boxes of `cols` in a written layout — the
    * zone-map view a pruning reader sees, here for measurement
    * ([[graft.ZorderProbe]]) and spec assertions. One narrow scan. */
  def boundingBoxes(spark: SparkSession, path: String,
      cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    // explicit non-dv file list on flat layouts: a tombstone file
    // read as data would contribute an all-NULL phantom box; falls
    // back to the directory read for non-flat (partitioned) inputs
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
    val flat = listDataFiles(fs, root)
      .filterNot(st => isDvName(st.getPath.getName))
      .map(_.getPath.toString)
    val src = if (flat.nonEmpty) spark.read.parquet(flat: _*)
      else spark.read.parquet(path)
    src.select(input_file_name().as("file") +: cols.map(col): _*)
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
  }
}
