package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table catalog over the driver-generated parquet directory layout
  * (`/root/testdata/sf{N}/{table}.parquet`, see TESTDATA.md).
  *
  * Mirrors the reference's parquet-scan entry point
  * (`dags/tutorial_objectstorage.py:118` — DuckDB `read_parquet(path)`),
  * re-expressed as `spark.read.parquet` so Catalyst owns predicate
  * pushdown / column pruning / partition pruning on every downstream
  * query. At 100 TB these would be partitioned directories or catalog
  * tables; the accessor shape is identical.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred schema per parquet path — METADATA caching only (the
    * scan itself still reads the parquet data on every execution).
    * A pathless `spark.read.parquet` runs a footer-reading Spark JOB
    * per call to infer the schema; measured at ~0.02–0.1 s per
    * [[load]], i.e. once per query EXECUTION — a third of the
    * small-query floor, re-deriving a schema that never changes
    * (the test tables are immutable; paths embed the sf dir). A real
    * deployment declares table schemas once in a catalog; this cache
    * is that declaration, keyed by path. */
  private val schemaCache = new scala.collection.concurrent.TrieMap[
    (String, Long, Long, String), org.apache.spark.sql.types.StructType]

  def load(spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    // cache key carries the file's (mtime, length) identity: test data
    // regenerated in-process (a different events.ts vintage, say) must
    // re-infer, or the stale schema would mis-dispatch the ts
    // normalization below — one FS stat per load buys that safety. The
    // session's nanosAsLong conf is part of the key too: it decides
    // whether a TIMESTAMP(NANOS) column infers as a long, and the cache
    // outlives any one session.
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(hp)
    val schema = schemaCache.getOrElseUpdate(
      (path, st.getModificationTime, st.getLen,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")),
      spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    // events.ts has shipped as parquet TIMESTAMP(NANOS) (reads as long
    // nanos under spark.sql.legacy.parquet.nanosAsLong) and, in newer
    // generator vintages, TIMESTAMP(MICROS) isAdjustedToUTC=false (reads
    // as TIMESTAMP_NTZ). Normalize BOTH to the session-zone TimestampType
    // every downstream query was written against:
    //  - long nanos → truncate to micros, the same truncation DuckDB
    //    applies casting TIMESTAMP_NS down. `div` is exact integer
    //    division; `/` would promote to DOUBLE whose 2^53 mantissa cannot
    //    represent 2024-epoch nanos (~1.7e18) exactly.
    //  - NTZ → plain cast; the session pins UTC (Session.scala), so the
    //    wall-clock field values are unchanged and DuckDB (which reads
    //    the same file as a naive TIMESTAMP) agrees exactly.
    // Dispatch on the observed dtype so all generator vintages load
    // identically.
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    if (table == "events") df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", df("ts").cast(TimestampType))
      case TimestampType => df // already session-zone micros
      case other => sys.error(
        s"events.ts arrived as unrecognized type ${other.sql} — a new " +
          "generator vintage; teach Tables.load its normalization " +
          "rather than letting values drift past the oracle silently")
    } else df
  }

  /** Register every table as a temp view named after itself, so both the
    * DataFrame API and `spark.sql` surfaces see the same catalog that the
    * DuckDB oracle does. Idempotent per session.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Order-insensitive-input, order-sensitive-fold FNV-1a fingerprint
    * of the on-disk identity of `tables` under `dir`: every data
    * file's path, length, and modification time fold in (tables
    * sorted, files sorted, so the value is stable across listings).
    * The key ingredient of build-once-per-source caches
    * ([[graft.queries.Rank]]'s staged edges, the serve-only ANN
    * indexes): a cache keyed by dir alone silently serves STALE
    * derived state when the parquet underneath is regenerated while
    * the JVM lives — folding the file identities into the key forces
    * a rebuild instead.
    *
    * Each file also folds in a CONTENT sample — its last ≤64 bytes,
    * which for parquet cover the footer-metadata tail (row counts,
    * column stats) plus the 8-byte length+magic trailer — because
    * path+length+mtime alone collide when a regeneration lands within
    * filesystem mtime granularity with identical names and sizes: the
    * exact stale-serve the fingerprint exists to prevent. Different
    * data virtually always moves the footer stats even at equal file
    * size. Cost: one FS listing plus one bounded pread per file (64
    * bytes, never row data) — and DELIBERATELY paid on every cache
    * lookup, not just cache builds: the per-call fingerprint IS the
    * freshness check that makes a mid-JVM regeneration rebuild instead
    * of serving stale state. Caching the sample by (path, len, mtime)
    * would reintroduce exactly the mtime-granularity collision the
    * sample exists to close. For the serve paths this is micro- to
    * milliseconds per call on the test tables (1-2 flat files); a
    * million-file layout should fingerprint its _graft_* markers
    * instead of calling this per request. */
  def fingerprint(spark: SparkSession, dir: String,
      tables: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val longs = tables.sorted.iterator.flatMap { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val fs = p.getFileSystem(conf)
      val files =
        if (!fs.exists(p)) Seq.empty
        else {
          val it = fs.listFiles(p, true)
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.hadoop.fs.LocatedFileStatus]
          while (it.hasNext) buf += it.next()
          buf.sortBy(_.getPath.toString).toSeq
        }
      files.iterator.flatMap { f =>
        val n = math.min(f.getLen, 64L).toInt
        val tail = new Array[Byte](n)
        if (n > 0) {
          val in = fs.open(f.getPath)
          try { in.seek(f.getLen - n); in.readFully(tail) }
          finally in.close()
        }
        f.getPath.toString.iterator.map(_.toLong) ++
          Iterator(f.getLen, f.getModificationTime) ++
          tail.iterator.map(_.toLong)
      }
    }
    graft.operators.Layout.fnv1a64(longs)
  }
}
