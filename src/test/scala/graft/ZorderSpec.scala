package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.Zorder

/** Pins the Morton-code arithmetic and the layout guarantees of
  * [[Zorder]]: interleave parity with a reference software
  * implementation, per-dimension monotonicity, exact row round-trip
  * through a z-ordered rewrite, degenerate inputs (constant column,
  * NULLs), and the zone-map property the layout exists for — every
  * clustered dimension's per-file bounding box is narrow, so a
  * 2-D box predicate intersects a strict subset of files.
  */
class ZorderSpec extends SparkSpec {

  /** Raw DIRECTORY read of a clustered layout for the white-box
    * assertions below, with the layout-internal materialized curve
    * column shed — the specs compare DATA rows/schemas; the
    * `__graft_z` column is write-pipeline state every production
    * reader ([[Zorder.readClustered]]) also drops. */
  private def rawLayout(paths: String*): org.apache.spark.sql.DataFrame =
    spark.read.parquet(paths: _*).drop(Zorder.zColName)

  /** Order-insensitive content fingerprint (count + decimal-summed
    * row hash) — the one round-trip check both rewrite tests share. */
  private def fp(df: org.apache.spark.sql.DataFrame) =
    df.agg(count(lit(1)).as("n"),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")).as("ck"))
      .collect()(0)

  /** The staging subdir `sub` of a layout's shared staging dir. */
  private def staging(dir: String, sub: String): String =
    s"$dir/${Zorder.stagingDir}/$sub"

  /** Write a crashed rewrite's commit record over what a test staged
    * under `sub`, exactly as the live path records it. */
  private def recordCrash(dir: String, verb: String, token: String,
      sub: String, prefix: String, retire: Seq[String],
      base: Boolean): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    Zorder.recordCommit(spark, root, Zorder.planCommit(fs, root, verb, token,
      Seq(sub -> prefix), retire, retainMs = 0L, batchId = None, base = base))
  }

  private def refMorton(xs: Seq[Long], bits: Int): Long = {
    val d = xs.length
    var z = 0L
    for (b <- 0 until bits; i <- 0 until d)
      z |= ((xs(i) >> b) & 1L) << (b * d + (d - 1 - i))
    z
  }

  test("interleave matches a reference Morton code on the full 2D grid") {
    val s = spark
    import s.implicits._
    val bits = 3
    val grid = (for (x <- 0L until 8L; y <- 0L until 8L) yield (x, y))
      .toDF("x", "y")
    val got = grid.select(col("x"), col("y"),
        Zorder.interleave(Seq(col("x"), col("y")), bits).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    for (x <- 0L until 8L; y <- 0L until 8L)
      assert(got((x, y)) == refMorton(Seq(x, y), bits),
        s"z($x,$y) mismatch vs reference interleave")
    // and a 3-dimension sample
    val z3 = spark.range(1).select(Zorder.interleave(
      Seq(lit(5L), lit(3L), lit(6L)), 3).as("z")).head().getLong(0)
    assert(z3 == refMorton(Seq(5L, 3L, 6L), 3))
  }

  test("monotone in each dimension with the others fixed") {
    // on the PRODUCTION interleave expression (not the reference
    // helper — asserting refMorton against itself pins nothing), at a
    // bits width the parity grid above does not cover
    val s = spark
    import s.implicits._
    val bits = 5
    val z = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y))
      .toDF("x", "y")
      .select(col("x"), col("y"),
        Zorder.interleave(Seq(col("x"), col("y")), bits).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // BOTH dimensions asserted on the production expression — a dim-1
    // check against the reference helper alone pins nothing
    for (y <- Seq(0L, 13L, 31L); x <- 0L until 31L)
      assert(z((x, y)) < z((x + 1, y)),
        s"z not monotone in dim 0 at ($x,$y)")
    for (x <- Seq(0L, 13L, 31L); y <- 0L until 31L)
      assert(z((x, y)) < z((x, y + 1)),
        s"z not monotone in dim 1 at ($x,$y)")
  }

  test("z-ordered rewrite round-trips every row exactly") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_rt_").toString
    Zorder.writeZordered(e, dir, Seq("user_id", "ts"), bits = 16,
      numFiles = 8)
    val back = rawLayout(dir)
    val (a, b) = (fp(e.select(back.columns.map(col): _*)), fp(back))
    assert(a.getLong(0) == b.getLong(0) && a.getDecimal(1) == b.getDecimal(1),
      "z-ordered layout must hold exactly the source rows")
  }

  test("degenerate inputs: constant column, NULLs, bad params refused") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 5.0), (2L, 5.0), (3L, 5.0)).toDF("id", "c")
      .union(Seq((4L, Double.NaN)).toDF("id", "c"))
      .withColumn("c", when(col("id") === 4L, lit(null)).otherwise(col("c")))
    // constant dimension (max == min) and a NULL both bucket to 0 —
    // the z-value stays defined for every row
    val z = df.select(Zorder.interleave(Seq(
      Zorder.bucket(col("c"), 5.0, 5.0, 8),
      Zorder.bucket(col("id"), 1.0, 4.0, 8)), 8).as("z")).collect()
    assert(z.forall(r => !r.isNullAt(0) && r.getLong(0) >= 0))
    intercept[IllegalArgumentException](
      Zorder.interleave(Seq(col("id")), 8)) // 1-D: use a plain sort
    intercept[IllegalArgumentException](
      Zorder.interleave(Seq(col("id"), col("c")), 32)) // 64 bits > 63
  }

  test("clustering columns are type-gated: a string column is refused loudly") {
    // a StringType clustered column used to cast to all-NULL doubles,
    // pinning lo = hi = 0.0 into the marker — that dimension buckets
    // to 0 forever and the layout never prunes it. The gate must fire
    // BEFORE any stats pass or marker write, naming the column.
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_tg_").toString + "/lay"
    val err = intercept[IllegalArgumentException](Zorder.writeZordered(
      e, dir, Seq("user_id", "event_type"), bits = 8, numFiles = 4))
    assert(err.getMessage.contains("event_type") &&
      err.getMessage.contains("string"),
      s"gate must name the column and its type: ${err.getMessage}")
    assert(Zorder.clusteringOf(spark, dir).isEmpty,
      "no marker may be written for a refused layout")
    // every UNIFORM write form gates (strings have no numeric scale to
    // stretch equal-width buckets over; the RANK forms accept them —
    // the kind-s lifecycle test covers that path)
    intercept[IllegalArgumentException](Zorder.writeHilbert(
      e, dir, Seq("user_id", "event_type"), bits = 8, numFiles = 4))
    intercept[IllegalArgumentException](Zorder.writeBest(
      e, dir, Seq("user_id", "event_type"), numFiles = 4))
    // non-string junk is refused by EVERY form, rank included
    val arr = e.withColumn("arr", array(col("user_id")))
    intercept[IllegalArgumentException](Zorder.writeZorderedByRank(
      arr, dir, Seq("user_id", "arr"), bits = 4, numFiles = 4))
    // timestamps stay clusterable (q177/q178's layouts), and a missing
    // column is named too
    val ok = Files.createTempDirectory("graft_zorder_tg2_").toString
    Zorder.writeZordered(e.limit(200), ok, Seq("user_id", "ts"),
      bits = 8, numFiles = 2)
    assert(Zorder.clusteringOf(spark, ok).isDefined)
    val miss = intercept[RuntimeException](Zorder.writeZordered(
      e, dir, Seq("user_id", "no_such_col"), bits = 8, numFiles = 4))
    assert(miss.getMessage.contains("no_such_col"))
  }

  test("per-file boxes are narrow in BOTH dimensions; a 2D box prunes files") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_box_").toString
    Zorder.writeZordered(e, dir, Seq("user_id", "value"), bits = 16,
      numFiles = 8)
    val boxes = Zorder.boundingBoxes(spark, dir, Seq("user_id", "value"))
      .collect()
    assert(boxes.length == 8, s"expected 8 files, got ${boxes.length}")
    // the measurement a pruning reader makes: which files' boxes
    // intersect a narrow 2D predicate box? A 1D-sorted layout bounds
    // only its sort column; z-order must bound both, so a box that is
    // narrow in EACH dimension intersects strictly fewer than all.
    // The box must sit INSIDE this sf's data domain (sf0.001: user_id
    // 0–14, value ~0–330) — an out-of-domain box touches zero files
    // and the assertion goes vacuous, passing for an unsorted layout.
    val (uLo, uHi, vLo, vHi) = (2L, 8L, 60.0, 120.0)
    val touched = boxes.count { r =>
      r.getLong(1) <= uHi && r.getLong(2) >= uLo &&
        r.getDouble(3) <= vHi && r.getDouble(4) >= vLo
    }
    assert(touched > 0, "in-domain box touched no file — test is vacuous")
    assert(touched < boxes.length,
      s"2D box touched all $touched files — layout is not clustering")
  }

  /** Classic xy2d (public-domain algorithm), the reference for the
    * native hilbert_d2 expression. */
  private def refHilbert(x0: Long, y0: Long, bits: Int): Long = {
    var x = x0; var y = y0; var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  test("hilbert_d2 matches the reference xy2d on the full grid; curve is adjacent") {
    val s = spark
    import s.implicits._
    val bits = 4
    val grid = (for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y))
      .toDF("x", "y")
      .select(col("x"), col("y"),
        org.apache.spark.sql.GraftColumn.of(graft.functions.HilbertCode(
          org.apache.spark.sql.GraftColumn.expr(col("x")),
          org.apache.spark.sql.GraftColumn.expr(col("y")), bits)).as("h"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    for (x <- 0L until 16L; y <- 0L until 16L)
      assert(grid((x, y)) == refHilbert(x, y, bits),
        s"hilbert($x,$y) mismatch vs reference xy2d")
    // the property Morton LACKS and the layout exists for: consecutive
    // curve positions are ADJACENT cells (|dx|+|dy| = 1), so a box
    // cuts the curve into few long runs — a bijection check rides
    // along (every d in [0, 256) hit exactly once)
    val byD = grid.map { case ((x, y), d) => d -> (x, y) }
    assert(byD.size == 256, "hilbert_d2 is not a bijection on the grid")
    (0L until 255L).foreach { d =>
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve jumps between d=$d ($x1,$y1) and d=${d + 1} ($x2,$y2)")
    }
    // the SQL registration resolves too
    val viaSql = spark.sql("SELECT hilbert_d2(5L, 3L, 4)").head().getLong(0)
    assert(viaSql == refHilbert(5L, 3L, 4))
  }

  test("hilbert rewrite round-trips and prunes a 2D box") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_hilbert_rt_").toString
    Zorder.writeHilbert(e, dir, Seq("user_id", "value"), bits = 16,
      numFiles = 8)
    val back = rawLayout(dir)
    val (a, b) = (fp(e.select(back.columns.map(col): _*)), fp(back))
    assert(a.getLong(0) == b.getLong(0) && a.getDecimal(1) == b.getDecimal(1),
      "hilbert layout must hold exactly the source rows")
    val boxes = Zorder.boundingBoxes(spark, dir, Seq("user_id", "value"))
      .collect()
    val touched = boxes.count { r =>
      r.getLong(1) <= 8L && r.getLong(2) >= 2L &&
        r.getDouble(3) <= 120.0 && r.getDouble(4) >= 60.0
    }
    assert(touched > 0 && touched < boxes.length,
      s"2D box touched $touched of ${boxes.length} files")
    // d >= 3 routes through hilbert_dn since r13 (was refused when the
    // only built state machine was 2-D) — the bit-budget guard remains
    intercept[IllegalArgumentException](Zorder.writeHilbert(
      e, dir, Seq("user_id", "value", "event_id"), bits = 32, numFiles = 8))
  }

  test("rankBucket matches a reference binary search, boundary-exact") {
    val s = spark
    import s.implicits._
    val bounds = Seq(1.0, 3.5, 3.5, 10.0, 100.0).distinct // dedup like prod
    def ref(v: Double) = bounds.count(v >= _).toLong
    val vals = Seq(0.0, 1.0, 1.0001, 3.4999, 3.5, 9.9, 10.0, 99.0, 100.0,
      100.1, -5.0)
    val got = vals.toDF("v")
      .select(col("v"), Zorder.rankBucket(col("v"), bounds).as("b"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    vals.foreach(v => assert(got(v) == ref(v),
      s"rankBucket($v) = ${got(v)}, reference ${ref(v)}"))
    // NULL -> bucket 0 (descends the false branch at every split)
    val nb = Seq(Option.empty[Double]).toDF("v")
      .select(Zorder.rankBucket(col("v"), bounds).as("b")).head().getLong(0)
    assert(nb == 0L)
  }

  test("rank quantization spreads a heavy-tailed column; uniform does not") {
    val s = spark
    import s.implicits._
    // value^2 of a uniform column is right-skewed: under equal-WIDTH
    // buckets the dense low region crams into bucket 0; equal-DEPTH
    // boundaries split it ~evenly — the property the rank mode exists
    // for, asserted on distinct bucket counts over the same data
    val e = sources.Tables.load(spark, sfDir, "events")
      .select((col("value") * col("value")).as("heat"))
    val bits = 4
    val r = e.agg(min(col("heat")).as("lo"), max(col("heat")).as("hi"))
      .head()
    val uniform = e.select(Zorder.bucket(col("heat"),
      r.getDouble(0), r.getDouble(1), bits).as("b"))
      .groupBy("b").count().collect()
    val bounds = Zorder.rankBoundaries(e, "heat", bits).toSeq
    val ranked = e.select(Zorder.rankBucket(col("heat"), bounds).as("b"))
      .groupBy("b").count().collect()
    val n = e.count().toDouble
    val uniMaxShare = uniform.map(_.getLong(1)).max / n
    val rankMaxShare = ranked.map(_.getLong(1)).max / n
    assert(uniMaxShare > 0.4,
      f"expected the skew pathology (got max share $uniMaxShare%.2f) — " +
        "corpus shape changed, re-pick the skew column")
    assert(rankMaxShare < 0.15,
      f"rank buckets must spread the tail (max share $rankMaxShare%.2f " +
        f"vs uniform $uniMaxShare%.2f)")
  }

  test("clustering marker payload round-trips bit-exactly") {
    import graft.operators.Zorder.{Clustering, ColQuant}
    val weird = Seq(0.0, -0.0, Double.MinPositiveValue, -1.7e308,
      math.Pi, 1.0 / 3.0)
    val cl = Clustering("hilbert", 16, 32, Seq(
      ColQuant("user_id", "u", Seq(0.0, 1499.0)),
      ColQuant("ts", "r", weird)))
    val back = Zorder.parsePayload(Zorder.payload(cl))
    assert(back.curve == cl.curve && back.bits == cl.bits &&
      back.numFiles == cl.numFiles && back.cols.map(_.name) == Seq("user_id", "ts"))
    // bit-exact: -0.0 must come back as -0.0, not 0.0
    back.cols(1).params.zip(weird).foreach { case (a, b) =>
      assert(java.lang.Double.doubleToLongBits(a) ==
        java.lang.Double.doubleToLongBits(b), s"double $b drifted to $a")
    }
    intercept[RuntimeException](Zorder.parsePayload("v2 something else"))
    intercept[RuntimeException](Zorder.parsePayload(
      "v1 curve=morton bits=8 files=4 cols=a:x:0"))
    // kind "s": boundary STRINGS round-trip through URL encoding even
    // when they contain the payload's own separators
    val clS = Clustering("hilbert", 4, 8, Seq(
      ColQuant("user_id", "r", Seq(1.0, 2.0)),
      ColQuant("source", "s", Nil,
        Seq("a,b", "x:y", "sp ace", "ümlaut≥", ";semi", "v1 curve="))))
    val backS = Zorder.parsePayload(Zorder.payload(clS))
    assert(backS.cols(1).kind == "s" &&
      backS.cols(1).sparams == clS.cols(1).sparams,
      s"string boundaries drifted: ${backS.cols(1).sparams}")
    // zero string boundaries (single-key column) round-trip to Nil
    val clS0 = Clustering("morton", 2, 2, Seq(
      ColQuant("a", "r", Seq(1.0)), ColQuant("b", "s", Nil, Nil)))
    assert(Zorder.parsePayload(Zorder.payload(clS0)).cols(1).sparams.isEmpty)
  }

  test("string rank clustering: lifecycle through pinned boundary keys; string-box pruning") {
    // kind "s": a categorical STRING key clusters through equal-depth
    // boundary strings pinned in the marker — append and fold bucket
    // batches through the SAME boundaries, and per-file min/max stats
    // on the string column prune equality predicates on it
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_str_").toString
    val base = e.filter(col("event_id") % 4 =!= 0)
    val b1 = e.filter(col("event_id") % 4 === 0)
    val cl = Zorder.writeHilbertByRank(base, dir,
      Seq("user_id", "event_type"), bits = 3, numFiles = 8)
    assert(cl.cols(1).kind == "s" && cl.cols(1).sparams.nonEmpty,
      s"string column must pin kind-s boundaries, got ${cl.cols(1)}")
    assert(Zorder.clusteringOf(spark, dir).contains(cl),
      "kind-s marker must round-trip from disk")
    assert(Zorder.appendClustered(b1, dir, batchId = 1, batchFiles = 2))
    assert(Zorder.compactTail(spark, dir))
    Zorder.compactClustered(spark, dir)
    val back = rawLayout(dir)
    val (a, b) = (fp(e.select(back.columns.map(col): _*)), fp(back))
    assert(a.getLong(0) == b.getLong(0) && a.getDecimal(1) == b.getDecimal(1),
      "string-clustered lifecycle must hold exactly the source rows")
    assert(disjoint(zRanges(dir)), "string-clustered grid must be clustered")
    // the pruning the mode exists for: a single-key predicate touches
    // a strict subset of files by the string column's zone maps
    val boxes = Zorder.boundingBoxes(spark, dir,
      Seq("user_id", "event_type")).collect()
    val touched = boxes.count(r =>
      r.getString(3) <= "click" && r.getString(4) >= "click")
    assert(touched > 0 && touched < boxes.length,
      s"event_type='click' touched $touched of ${boxes.length} files — " +
        "the string dimension is not clustering")
    // uniform forms still refuse strings (no numeric scale to stretch)
    intercept[IllegalArgumentException](Zorder.writeZordered(
      e, dir, Seq("user_id", "event_type"), bits = 8, numFiles = 4))
  }

  /** Per-file [zmin, zmax] of a layout under its PINNED clustering —
    * the structural definition of "fully clustered": a pinned-parameter
    * full rewrite range-partitions on z, so the files' z-ranges are
    * pairwise disjoint; an appended tail OVERLAPS the main grid. */
  private def zRanges(dir: String): Seq[(Long, Long)] = {
    val cl = Zorder.clusteringOf(spark, dir).get
    Zorder.curveValues(rawLayout(dir), cl, "__z")
      .select(input_file_name().as("f"), col("__z"))
      .groupBy(col("f")).agg(min("__z").as("lo"), max("__z").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
  }

  private def disjoint(rs: Seq[(Long, Long)]): Boolean = {
    val s = rs.sortBy(_._1)
    s.zip(s.drop(1)).forall { case ((_, hi), (lo2, _)) => hi < lo2 }
  }

  test("append is idempotent per batchId; compact folds the tail back to the grid") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_inc_").toString
    val base = e.filter(col("event_id") % 5 =!= 0)
    val b1 = e.filter(col("event_id") % 5 === 0 && col("event_id") % 10 =!= 0)
    val b2 = e.filter(col("event_id") % 10 === 0)
    val cl = Zorder.writeHilbert(base, dir, Seq("user_id", "value"),
      bits = 16, numFiles = 8)
    assert(Zorder.clusteringOf(spark, dir).contains(cl),
      "marker must round-trip the write's pinned clustering")
    assert(Zorder.appendClustered(b1, dir, batchId = 1, batchFiles = 2))
    assert(!Zorder.appendClustered(b1, dir, batchId = 1, batchFiles = 2),
      "replaying a committed batchId must be a no-op")
    assert(Zorder.appendClustered(b2, dir, batchId = 2, batchFiles = 2))
    // rows: base + both batches, exactly, including the replay window
    val back = rawLayout(dir)
    val (a0, b0) = (fp(e.select(back.columns.map(col): _*)), fp(back))
    assert(a0.getLong(0) == b0.getLong(0) && a0.getDecimal(1) == b0.getDecimal(1),
      "appended layout must hold exactly source ∪ batches")
    // the appended tail overlaps the main grid's z-ranges — that is
    // the pruning debt compaction exists to pay off
    val pre = zRanges(dir)
    assert(pre.length > 8, s"expected tail files beyond the grid, got ${pre.length}")
    assert(!disjoint(pre), "tail files should overlap the main grid")
    Zorder.compactClustered(spark, dir)
    val post = zRanges(dir)
    assert(post.length == 8,
      s"compact must restore the ${cl.numFiles}-file grid, got ${post.length}")
    assert(disjoint(post),
      "compacted files must have pairwise-disjoint z-ranges — the " +
        "structural equality with a pinned-parameter full rewrite")
    val back2 = rawLayout(dir)
    val (a1, b1f) = (fp(e.select(back2.columns.map(col): _*)), fp(back2))
    assert(a1.getLong(0) == b1f.getLong(0) && a1.getDecimal(1) == b1f.getDecimal(1),
      "compaction must preserve every row exactly")
    // the batch ledger SURVIVES compaction: a replayed pre-compact
    // batch must stay a no-op, not re-append folded rows
    assert(!Zorder.appendClustered(b2, dir, batchId = 2, batchFiles = 2),
      "ledger must survive compaction (replay would duplicate rows)")
    // and the clustering is unchanged
    assert(Zorder.clusteringOf(spark, dir).contains(cl))
  }

  test("compactTail folds ONLY the overlapping files; untouched residents survive; result stays clustered") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_tc_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataNames: Set[String] = fs.listStatus(
        new org.apache.hadoop.fs.Path(dir))
      .filter(st => !st.isDirectory &&
        !graft.operators.Layout.isHidden(st.getPath.getName))
      .map(_.getPath.getName).toSet
    // base owns users [5,14]; the batches own [0,4] — a LOW-z tail
    // (user is the leading Morton dimension, and the pinned bounds
    // clamp sub-range users to bucket 0..low), so files holding only
    // high-user rows must survive the fold BYTE-UNTOUCHED
    val base = e.filter(col("user_id") >= 5)
    val b1 = e.filter(col("user_id") < 5 && col("event_id") % 2 === 0)
    val b2 = e.filter(col("user_id") < 5 && col("event_id") % 2 =!= 0)
    val cl = Zorder.writeZordered(base, dir, Seq("user_id", "value"),
      bits = 8, numFiles = 8)
    val mains = dataNames
    assert(Zorder.appendClustered(b1, dir, batchId = 1, batchFiles = 2))
    assert(Zorder.appendClustered(b2, dir, batchId = 2, batchFiles = 2))
    assert(Zorder.compactTail(spark, dir), "a present tail must fold")
    val after = dataNames
    // tail gone; SOME residents untouched (the ∝-tail property's
    // on-disk observable), SOME folded (the overlap was real)
    assert(!after.exists(_.matches("b\\d+-.*")), "no tail files may remain")
    val untouched = mains & after
    assert(untouched.nonEmpty,
      s"a low-z tail must leave high-z residents untouched ($mains -> $after)")
    assert((mains -- after).nonEmpty,
      "the tail overlapped SOMETHING — at least one resident must fold")
    assert(after.exists(_.startsWith("t")), "replacement files must publish")
    // rows exact, clustering unchanged, and the layout is STILL fully
    // clustered: pairwise-disjoint z-ranges including the replacements
    val back = rawLayout(dir)
    val (a, b) = (fp(e.select(back.columns.map(col): _*)), fp(back))
    assert(a.getLong(0) == b.getLong(0) && a.getDecimal(1) == b.getDecimal(1),
      "tail compact must hold exactly source ∪ batches")
    assert(disjoint(zRanges(dir)),
      "tail-compacted layout must have pairwise-disjoint z-ranges — " +
        "the same structural 'fully clustered' the whole compact pins")
    assert(Zorder.clusteringOf(spark, dir).contains(cl))
    // ledger survives: a replayed pre-compact batch stays a no-op
    assert(!Zorder.appendClustered(b1, dir, batchId = 1, batchFiles = 2),
      "ledger must survive tail compaction")
    // steady state: nothing to fold
    assert(!Zorder.compactTail(spark, dir),
      "no tail -> compactTail must report nothing folded")
    // the z-range cache is a PURE cache: corrupt it, ingest again,
    // fold again — correctness must not move
    graft.operators.Layout.writeMarker(spark, dir,
      graft.operators.Zorder.zrangesFile, "garbage ][ not parseable")
    assert(Zorder.appendClustered(e.filter(col("user_id") < 5), dir,
      batchId = 3, batchFiles = 2))
    assert(Zorder.compactTail(spark, dir))
    assert(disjoint(zRanges(dir)), "fold under a corrupt cache must still cluster")
    assert(rawLayout(dir).count() == e.count() + b1.count() + b2.count())
    // and the whole-layout compact still restores the exact grid on top
    Zorder.compactClustered(spark, dir)
    val post = zRanges(dir)
    assert(post.length == 8 && disjoint(post),
      s"whole compact after tail compacts must restore the grid, got ${post.length}")
  }

  test("compactTail with a two-ended tail splits replacements at the untouched middle") {
    // the case the REGION split exists for: tail intervals at BOTH ends
    // of the curve with untouched residents between them — a naive
    // range-partition of the fold rows would emit a replacement file
    // whose z-range SPANS the middle gap and overlaps every untouched
    // file inside it; the partitionBy-on-region split must keep each
    // replacement inside its own end
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_tc2_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = e.filter(col("user_id").between(3, 11) ||
      col("event_id") % 4 =!= 0)
    val bLow = e.filter(col("event_id") % 4 === 0 && col("user_id") < 3)
    val bHigh = e.filter(col("event_id") % 4 === 0 && col("user_id") > 11)
    Zorder.writeZordered(base, dir, Seq("user_id", "value"), bits = 8,
      numFiles = 8)
    assert(Zorder.appendClustered(bLow, dir, batchId = 1, batchFiles = 2))
    assert(Zorder.appendClustered(bHigh, dir, batchId = 2, batchFiles = 2))
    assert(Zorder.compactTail(spark, dir))
    // replacements carry DISTINCT region tags (t<token>-<R>-part…)
    val repl = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("t")).toSeq
    val regionsSeen = repl.flatMap(
      "^t[0-9a-f]{8}-(\\d+)-part.*".r.findFirstMatchIn(_).map(_.group(1)))
    assert(regionsSeen.distinct.size >= 2,
      s"two-ended tail must publish >= 2 regions, files: ${repl.mkString(",")}")
    // untouched middle survives; the WHOLE layout stays disjoint (the
    // assertion a spanning replacement file would break); rows exact
    assert(disjoint(zRanges(dir)),
      "replacements must not span the untouched middle")
    val back = rawLayout(dir)
    val (a, b) = (fp(e.select(back.columns.map(col): _*)), fp(back))
    assert(a.getLong(0) == b.getLong(0) && a.getDecimal(1) == b.getDecimal(1),
      "two-ended tail compact must hold exactly the source rows")
  }

  test("endpoint ties between residents fold by containment, not whole-layout repair") {
    // hi_k == lo_{k+1} is a LEGAL layout state: a range task's z-sorted
    // output split across files (spark.sql.files.maxRecordsPerFile)
    // puts one z value on both sides of the cut. The fold must (a) NOT
    // treat it as the lost invariant (whole-folding a healthy tie
    // layout would pay a full rewrite every cycle, and the rewrite
    // regenerates the tie), and (b) fold EVERY resident containing a
    // tied tail value — the search alone returns one arbitrary side
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_tie_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "97")
    try Zorder.writeZordered(e, dir, Seq("user_id", "value"), bits = 1,
      numFiles = 2)
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val pre = zRanges(dir).sortBy(_._1)
    // the tie must be AT THE BATCH'S VALUE (z = 0), or assertion (b)
    // passes without the containment expansion ever firing
    assert(pre.count { case (lo, hi) => lo <= 0L && 0L <= hi } >= 2,
      s"precondition: >= 2 residents must share the batch's z=0, got $pre")
    def dataNames: Set[String] = fs.listStatus(
        new org.apache.hadoop.fs.Path(dir))
      .filter(st => !st.isDirectory &&
        !graft.operators.Layout.isHidden(st.getPath.getName))
      .map(_.getPath.getName).toSet
    val mains = dataNames
    // the batch lands entirely in z = 0 (both dims in the lower half
    // of the pinned bounds at bits = 1)
    val b = e.filter(col("user_id") <= 5 && col("value") < 100.0)
    assert(b.count() > 0, "tie batch must be non-empty")
    assert(Zorder.appendClustered(b, dir, batchId = 1, batchFiles = 1))
    assert(Zorder.compactTail(spark, dir))
    val after = dataNames
    // (a) NOT the repair arm: residents not containing z=0 survive
    assert((mains & after).nonEmpty,
      "a tie layout must not whole-fold — residents away from the " +
        "batch's z must survive")
    // (b) containment expansion: NO surviving old resident still
    // contains z = 0 — both sides of every 0-tie folded
    val cl = Zorder.clusteringOf(spark, dir).get
    val survivors = Zorder.curveValues(rawLayout(dir), cl, "__z")
      .select(input_file_name().as("f"), col("__z"))
      .groupBy(col("f")).agg(min("__z").as("lo"))
      .collect().filter(r => (mains & after)(r.getString(0).split('/').last))
    assert(survivors.forall(_.getLong(1) > 0L),
      "every resident containing the tied z=0 must have folded")
    // rows exact through the tie fold; no overlap beyond ties remains
    val back = rawLayout(dir)
    val expect = e.unionByName(b)
    val (a2, b2) = (fp(expect.select(back.columns.map(col): _*)), fp(back))
    assert(a2.getLong(0) == b2.getLong(0) && a2.getDecimal(1) == b2.getDecimal(1),
      "tie fold must hold exactly resident ∪ batch rows")
    // (lo, hi) sort — a lo-only sort misorders lo-ties with unequal
    // his and fails this assertion on correct behavior
    val post = zRanges(dir).sorted
    assert(post.zip(post.drop(1)).forall { case ((_, hi), (lo2, _)) => hi <= lo2 },
      s"no overlap beyond endpoint ties may remain, got $post")
  }

  test("compactTail repairs a layout whose resident intervals overlap (foreign files)") {
    // the invariant-lost arm: resident z-intervals that OVERLAP (files
    // landed outside the protocol) make the binary-search fold
    // unsound, so the fold must take EVERYTHING with an interval —
    // restoring pairwise disjointness — rather than trust the search
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_fr_").toString
    val foreignSrc = Files.createTempDirectory("graft_zorder_frs_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val e1 = e.filter(col("event_id") % 2 === 0)
    val e2 = e.filter(col("event_id") % 2 =!= 0 && col("event_id") % 3 =!= 0)
    val b1 = e.filter(col("event_id") % 2 =!= 0 && col("event_id") % 3 === 0)
    Zorder.writeZordered(e1, dir, Seq("user_id", "value"), bits = 8,
      numFiles = 2)
    // foreign files: a second clustered write of DIFFERENT rows over
    // the same domain, hand-copied in — their intervals overlap the
    // residents'
    Zorder.writeZordered(e2, foreignSrc, Seq("user_id", "value"), bits = 8,
      numFiles = 2)
    fs.listStatus(new org.apache.hadoop.fs.Path(foreignSrc))
      .filter(st => !st.isDirectory &&
        !graft.operators.Layout.isHidden(st.getPath.getName))
      .zipWithIndex.foreach { case (st, i) =>
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new org.apache.hadoop.fs.Path(dir, s"foreign$i.parquet"),
          false, spark.sparkContext.hadoopConfiguration)
      }
    assert(Zorder.appendClustered(b1, dir, batchId = 1, batchFiles = 2))
    assert(Zorder.compactTail(spark, dir))
    assert(disjoint(zRanges(dir)),
      "the repair fold must restore pairwise-disjoint residents")
    val back = rawLayout(dir)
    val expect = e1.unionByName(e2).unionByName(b1)
    val (a, b) = (fp(expect.select(back.columns.map(col): _*)), fp(back))
    assert(a.getLong(0) == b.getLong(0) && a.getDecimal(1) == b.getDecimal(1),
      "the repair fold must hold exactly resident ∪ foreign ∪ batch rows")
  }

  test("compactTail recovers crash windows; appends refuse under its sentinel") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val fs = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // window 1: staging without a record (pre-commit crash) — the
    // stale staging is discarded and the fresh fold proceeds
    val d1 = Files.createTempDirectory("graft_zorder_tw1_").toString
    Zorder.writeZordered(e.filter(col("user_id") >= 5), d1,
      Seq("user_id", "value"), bits = 8, numFiles = 4)
    Zorder.appendClustered(e.filter(col("user_id") < 5), d1, batchId = 1)
    e.limit(3).write.parquet(staging(d1, "t"))
    assert(Zorder.compactTail(spark, d1))
    assert(rawLayout(d1).count() == e.count(),
      "pre-commit staging must be discarded, not published")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(d1, Zorder.stagingDir)))

    // window 2: record + staged fold + PARTIAL victim sweep — the
    // recovery must delete the remaining listed victims, publish the
    // staged generation under the recorded token, and end exact
    val d2 = Files.createTempDirectory("graft_zorder_tw2_").toString
    Zorder.writeZordered(e.filter(col("user_id") >= 5), d2,
      Seq("user_id", "value"), bits = 8, numFiles = 4)
    val cl2 = Zorder.clusteringOf(spark, d2).get
    Zorder.appendClustered(e.filter(col("user_id") < 5), d2, batchId = 1)
    val tails = fs.listStatus(new org.apache.hadoop.fs.Path(d2))
      .filter(st => !st.isDirectory && st.getPath.getName.matches("b\\d+-.*"))
      .map(_.getPath).toSeq
    assert(tails.size >= 2, s"need >= 2 tail files, got ${tails.size}")
    // stage the fold of exactly the tail rows, commit the record
    // listing them, then "crash" after deleting only ONE of them
    graft.operators.Zorder
      .curveValues(rawLayout(tails.map(_.toString): _*), cl2, "__z")
      .repartitionByRange(2, col("__z")).sortWithinPartitions(col("__z"))
      .drop("__z").write.parquet(staging(d2, "t"))
    recordCrash(d2, "tail", "tok42", "t", "ttok42-", tails.map(_.getName),
      base = false)
    assert(fs.delete(tails.head, false))
    // appends refuse while the record stands
    val err = intercept[IllegalArgumentException](Zorder.appendClustered(
      e.filter(col("user_id") < 5), d2, batchId = 9))
    assert(err.getMessage.contains("tail"), err.getMessage)
    // recovery (via the fresh compact) completes the crashed fold
    assert(!Zorder.compactTail(spark, d2),
      "after recovery the recovered layout has no tail left")
    assert(rawLayout(d2).count() == e.count(),
      "recovery must complete the staged generation exactly")
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(d2))
      .filter(st => !st.isDirectory &&
        !graft.operators.Layout.isHidden(st.getPath.getName))
      .map(_.getPath.getName)
    assert(!names.exists(_.matches("b\\d+-.*")), "victims must be swept")
    assert(names.exists(_.startsWith("ttok42-")),
      s"staged files must publish under the RECORDED token, got " +
        names.mkString(","))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(d2, Zorder.commitFile)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(d2, Zorder.stagingDir)))
    // and compactClustered ALSO recovers a tail crash (both forms do)
    val d3 = Files.createTempDirectory("graft_zorder_tw3_").toString
    Zorder.writeZordered(e, d3, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    e.limit(3).write.parquet(staging(d3, "t"))
    Zorder.compactClustered(spark, d3)
    assert(rawLayout(d3).count() == e.count())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(d3, Zorder.stagingDir)))

    // a TORN/damaged fold list (count mismatch) must refuse loudly —
    // acting on a prefix would duplicate the unlisted victims' rows
    val d4 = Files.createTempDirectory("graft_zorder_tw4_").toString
    Zorder.writeZordered(e, d4, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    graft.operators.Layout.writeMarker(spark, d4, Zorder.commitFile,
      "v1 tail tokxx 0 -1 delta 1 0 3\nt ttokxx-\nonlyonefile.parquet")
    val torn = intercept[IllegalArgumentException](
      Zorder.compactTail(spark, d4))
    assert(torn.getMessage.contains("torn") ||
      torn.getMessage.contains("lists"), torn.getMessage)
  }

  test("DATE columns cluster via epoch days; TIMESTAMP_NTZ is refused loudly") {
    // ANSI forbids DATE→DOUBLE, so a date column must go through the
    // shared unix_date normalization in EVERY stats pass and bucketing
    // (write, rank boundaries, append, tail compact) — and NTZ is
    // refused outright: its only numeric spelling shifts with the
    // session timezone, which would mis-bucket cross-session appends
    val e = sources.Tables.load(spark, sfDir, "events")
      .withColumn("d", to_date(col("ts")))
    val dir = Files.createTempDirectory("graft_zorder_date_").toString
    val base = e.filter(col("d") < to_date(lit("2024-01-20")))
    val batch = e.filter(col("d") >= to_date(lit("2024-01-20")))
    Zorder.writeHilbert(base, dir, Seq("user_id", "d"), bits = 8,
      numFiles = 4)
    assert(Zorder.appendClustered(batch, dir, batchId = 1, batchFiles = 2))
    Zorder.compactTail(spark, dir)
    val back = rawLayout(dir)
    val (a, b) = (fp(e.select(back.columns.map(col): _*)), fp(back))
    assert(a.getLong(0) == b.getLong(0) && a.getDecimal(1) == b.getDecimal(1),
      "date-clustered lifecycle must hold exactly the source rows")
    assert(disjoint(zRanges(dir)), "date-clustered layout must stay clustered")
    // date-box FILE pruning through the lifecycle: a user×date box must
    // intersect a strict subset of per-file bounding boxes — the
    // zone-map observable the epoch-day quantization exists for (an
    // epoch-day bug that pins a degenerate date dimension makes every
    // file span the full date domain and THIS fails, not the row check)
    val boxes = Zorder.boundingBoxes(spark, dir, Seq("user_id", "d")).collect()
    val (dLo, dHi) = (java.sql.Date.valueOf("2024-01-12"),
      java.sql.Date.valueOf("2024-01-18"))
    val touched = boxes.count { r =>
      r.getLong(1) <= 8L && r.getLong(2) >= 2L &&
        !r.getDate(3).after(dHi) && !r.getDate(4).before(dLo)
    }
    assert(touched > 0 && touched < boxes.length,
      s"date box touched $touched of ${boxes.length} files — no pruning")
    // rank mode shares the same normalization
    val dr = Files.createTempDirectory("graft_zorder_dater_").toString
    Zorder.writeZorderedByRank(e, dr, Seq("user_id", "d"), bits = 4,
      numFiles = 2)
    assert(rawLayout(dr).count() == e.count())
    // NTZ: refused with the column and type named
    val ntz = e.withColumn("tn", col("ts").cast("timestamp_ntz"))
    val err = intercept[IllegalArgumentException](Zorder.writeZordered(
      ntz, dir, Seq("user_id", "tn"), bits = 8, numFiles = 4))
    assert(err.getMessage.contains("tn") &&
      err.getMessage.contains("timestamp_ntz"), err.getMessage)
  }

  test("the reserved curve column is refused CASE-INSENSITIVELY; a " +
      "lost schema marker over curve-bearing data still self-heals") {
    val e = sources.Tables.load(spark, sfDir, "events")
    // Spark resolves columns case-insensitively by default, so an
    // exact-case gate would let `__GRAFT_Z` through and
    // withColumn(zColName, z) would silently REPLACE the user's data
    val poisoned = e.withColumn("__GRAFT_Z", lit("user data"))
    val dirP = Files.createTempDirectory("graft_zorder_zres_").toString
    // merge/delete gate AFTER the layout checks — give them a real one
    Zorder.writeZordered(e.limit(200), dirP + "/lay",
      Seq("user_id", "value"), bits = 8, numFiles = 2)
    Seq[(String, () => Unit)](
      ("writeZordered", () => Zorder.writeZordered(poisoned, dirP + "/w",
        Seq("user_id", "value"), bits = 8, numFiles = 4)),
      ("appendClustered", () => { Zorder.appendClustered(poisoned,
        dirP + "/lay", batchId = 0); () }),
      ("mergeClustered", () => Zorder.mergeClustered(spark, dirP + "/lay",
        poisoned, keyCols = Seq("event_id"))),
      ("deleteClustered", () => { Zorder.deleteClustered(spark,
        dirP + "/lay", poisoned, keyCols = Seq("event_id")); () })
    ).foreach { case (verb, run) =>
      val err = intercept[Exception](run())
      assert(err.getMessage.contains("__graft_z"),
        s"$verb must refuse the reserved curve column: ${err.getMessage}")
    }
    // heal arm: a crash between a rebuild's two marker stamps leaves
    // marker-present schema-absent data that PHYSICALLY carries
    // __graft_z; the fallback-derived payload must shed it or every
    // legitimate batch mismatches forever (the pre-r17 self-heal)
    val dirH = Files.createTempDirectory("graft_zorder_heal_").toString
    Zorder.writeZordered(e.limit(500), dirH, Seq("user_id", "value"),
      bits = 8, numFiles = 2)
    val fsH = new org.apache.hadoop.fs.Path(dirH)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsH.delete(new org.apache.hadoop.fs.Path(dirH, "_graft_schema"),
      false))
    assert(Zorder.appendClustered(e.limit(100), dirH, batchId = 7),
      "append over a lost schema marker must self-heal, not refuse")
    assert(graft.operators.Layout.readMarker(spark, dirH, "_graft_schema")
      .exists(!_.toLowerCase.contains("__graft_z")),
      "the re-stamped schema marker must not carry the curve column")
  }

  test("append refuses markerless, missing-column, and mid-compaction layouts") {
    val e = sources.Tables.load(spark, sfDir, "events")
    // fresh empty path: no marker to pin against
    val empty = Files.createTempDirectory("graft_zorder_e_").toString + "/x"
    val err = intercept[RuntimeException](
      Zorder.appendClustered(e, empty, batchId = 0))
    assert(err.getMessage.contains("bootstrap"))
    // populated but markerless (a crashed rebuild): refuse
    val bare = Files.createTempDirectory("graft_zorder_b_").toString
    e.limit(10).write.mode("overwrite").parquet(bare)
    intercept[RuntimeException](Zorder.appendClustered(e, bare, batchId = 0))
    // clustered, but a compaction record is present: refuse
    val dir = Files.createTempDirectory("graft_zorder_s_").toString
    Zorder.writeZordered(e, dir, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    graft.operators.Layout.writeMarker(spark, dir, Zorder.commitFile,
      "v1 whole tok1 0 -1 base 0 0 0")
    val err2 = intercept[IllegalArgumentException](
      Zorder.appendClustered(e, dir, batchId = 0))
    assert(err2.getMessage.contains("compact"))
    // and a batch missing a clustered column fails with the column name
    new org.apache.hadoop.fs.Path(dir, Zorder.commitFile)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir, Zorder.commitFile), false)
    val err3 = intercept[IllegalArgumentException](
      Zorder.appendClustered(e.drop("value"), dir, batchId = 0))
    assert(err3.getMessage.contains("value"))
    // schema parity is exact, both directions: a WIDER batch (extra
    // column) and a retyped column are refused too — parquet dirs have
    // no schema enforcement, so the append is where it must happen
    val err4 = intercept[IllegalArgumentException](
      Zorder.appendClustered(e.withColumn("extra", lit(1)), dir, batchId = 0))
    assert(err4.getMessage.contains("schema"))
    val err5 = intercept[IllegalArgumentException](Zorder.appendClustered(
      e.withColumn("value", col("value").cast("float")), dir, batchId = 0))
    assert(err5.getMessage.contains("schema"))
    // a rebuild while another writer holds the lease throws instead of
    // deleting their lease with the directory (the overwrite hazard)
    graft.operators.Layout.writeMarker(spark, dir, "_graft_lease", "foreign")
    intercept[IllegalStateException](
      Zorder.writeZordered(e, dir, Seq("user_id", "value"), bits = 8,
        numFiles = 4))
    new org.apache.hadoop.fs.Path(dir, "_graft_lease")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir, "_graft_lease"), false)
  }

  test("empty bootstrap refused; rowless crash state re-stamps schema AND replays the ledger") {
    val s = spark
    import s.implicits._
    // clustering an EMPTY frame would pin a degenerate lo = hi
    // quantization that never prunes — refused in BOTH stats modes
    val empty = Seq.empty[(Long, Long, Double)].toDF("id", "user_id", "value")
    val d0 = Files.createTempDirectory("graft_zorder_mt0_").toString
    intercept[IllegalArgumentException](Zorder.writeZordered(
      empty, d0, Seq("user_id", "value"), bits = 8, numFiles = 4))
    intercept[IllegalArgumentException](Zorder.writeZorderedByRank(
      empty, d0, Seq("user_id", "value"), bits = 4, numFiles = 4))

    // the rowless re-stamp arm: markers + ledger survive but every
    // data file is gone (a purge-side crash shape). A corrected
    // producer's NEW schema must re-stamp, and the ledger must go with
    // the rowless files — a surviving ledger would no-op the corrected
    // replay of a batchId whose rows all vanished, losing them forever
    val dir = Files.createTempDirectory("graft_zorder_mt_").toString + "/lay"
    val a = Seq((1L, 3L, 50.0), (2L, 7L, 80.0)).toDF("id", "user_id", "value")
    Zorder.writeZordered(a, dir, Seq("user_id", "value"), bits = 8,
      numFiles = 2)
    assert(Zorder.appendClustered(a, dir, batchId = 0, batchFiles = 1))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.operators.Layout.deleteData(fs,
      fs.makeQualified(new org.apache.hadoop.fs.Path(dir)))
    val b = Seq((1L, 3L, 50.0, "x"), (2L, 7L, 80.0, "y"))
      .toDF("id", "user_id", "value", "tag")
    assert(Zorder.appendClustered(b, dir, batchId = 0, batchFiles = 1),
      "corrected replay over a rowless layout must RE-APPLY, not no-op")
    assert(rawLayout(dir).count() == 2)
    assert(graft.operators.Layout.readMarker(spark, dir, "_graft_schema")
      .exists(_.contains("tag")), "landed schema must be re-stamped")
    // and the schema gate bites again on the now-populated layout
    intercept[IllegalArgumentException](Zorder.appendClustered(
      b.withColumn("value", col("value").cast("float")), dir, batchId = 1))
  }

  test("a rebuild clears FOREIGN markers — no stale certificate survives") {
    // clearForRebuild is marker-family-agnostic: a stale marker from a
    // different index family surviving a rebuild would keep certifying
    // the new family's rows (e.g. an Ivf _graft_centroids over a
    // clustered layout lets Ivf.appendIndex pass its guard and mix row
    // schemas) — overwrite semantics minus the lease, exactly
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_fm_").toString
    graft.operators.Layout.writeMarker(spark, dir, "_graft_centroids",
      "float 4 64 1234")
    Zorder.writeZordered(e.limit(100), dir, Seq("user_id", "value"),
      bits = 8, numFiles = 2)
    assert(graft.operators.Layout.readMarker(spark, dir,
      "_graft_centroids").isEmpty,
      "foreign marker must not survive a rebuild")
    assert(Zorder.clusteringOf(spark, dir).isDefined,
      "the rebuilding family's own marker must be stamped")
  }

  test("compaction rolls back a crashed unledgered append; the replay then redoes it once") {
    // the double-count window: an append crashed AFTER publishing its
    // b<id>- files but BEFORE the ledger entry. A compaction that
    // folded those files in would strand the replay's sweep — the
    // redo re-appends rows the fold already absorbed. compactClustered
    // must roll the crashed append BACK first, so the fold excludes it
    // and the replay applies exactly once.
    val e = sources.Tables.load(spark, sfDir, "events")
    val fs = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("graft_zorder_rb_").toString
    val base = e.filter(col("event_id") % 3 =!= 0)
    val b1 = e.filter(col("event_id") % 3 === 0)
    Zorder.writeZordered(base, dir, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    assert(Zorder.appendClustered(b1, dir, batchId = 1))
    // fabricate the crash window on disk: ledger gone, staging present
    // (idempotentAppend's publish-before-ledger state)
    assert(fs.delete(new org.apache.hadoop.fs.Path(dir, "_graft_batches/1"), false))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "_graft_staging/1"))
    Zorder.compactClustered(spark, dir)
    // the fold must NOT contain the unledgered batch
    assert(rawLayout(dir).count() == base.count(),
      "compaction must roll back, not absorb, a crashed unledgered append")
    // the stream's replay then applies it exactly once
    assert(Zorder.appendClustered(b1, dir, batchId = 1),
      "rolled-back batch must be redoable")
    assert(rawLayout(dir).count() == base.count() + b1.count(),
      "replay after rollback must land the batch exactly once")
  }

  test("compactClustered recovers every crash window deterministically") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val fsP = new org.apache.hadoop.fs.Path("/")
    val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // window 1: staging exists, NO record (pre-commit crash) — the
    // stale staging is discarded, the layout is untouched, and the
    // fresh compact then runs normally
    val d1 = Files.createTempDirectory("graft_zorder_c1_").toString
    Zorder.writeZordered(e, d1, Seq("user_id", "value"), bits = 8, numFiles = 4)
    Zorder.appendClustered(e.limit(50), d1, batchId = 1)
    e.limit(3).write.parquet(staging(d1, "c"))
    Zorder.compactClustered(spark, d1)
    val n1 = rawLayout(d1).count()
    assert(n1 == e.count() + 50,
      s"pre-commit staging must be discarded, not published (got $n1)")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(d1, Zorder.stagingDir)))

    // window 2: record present, staging fully written, data files
    // partially swept — recovery must finish the OLD generation
    // (publish the staged files under the recorded token), then the
    // fresh compact runs; rows end exactly = the staged generation's
    val d2 = Files.createTempDirectory("graft_zorder_c2_").toString
    Zorder.writeZordered(e, d2, Seq("user_id", "value"), bits = 8, numFiles = 4)
    val cl2 = Zorder.clusteringOf(spark, d2).get
    // fabricate the staged rewrite of a DIFFERENT row set (base minus a
    // marked slice), so "which generation won" is detectable by rows
    val gen = e.filter(col("event_id") % 7 =!= 0)
    graft.operators.Zorder.curveValues(gen, cl2, "__z")
      .repartitionByRange(4, col("__z")).sortWithinPartitions(col("__z"))
      .drop("__z").write.parquet(staging(d2, "c"))
    val old2 = fs.listStatus(new org.apache.hadoop.fs.Path(d2))
      .filter(st => !st.isDirectory &&
        !graft.operators.Layout.isHidden(st.getPath.getName)).map(_.getPath)
    recordCrash(d2, "whole", "tokx", "c", "ctokx-", old2.map(_.getName).toSeq,
      base = true)
    // partial sweep: delete ONE old data file, as step 5 would
    fs.delete(old2.head, false)
    Zorder.compactClustered(spark, d2)
    val back2 = rawLayout(d2)
    assert(back2.count() == gen.count(),
      "recovery must complete the staged generation, then compact it")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(d2, Zorder.commitFile)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(d2, Zorder.stagingDir)))
    assert(disjoint(zRanges(d2)), "recovered layout must end fully clustered")

    // window 3 (the publish-before-delete order): record + staging
    // + SOME c<token>- files already published — a mid-publish crash.
    // Both generations coexist on disk, the manifest still points at
    // the OLD one: a reader resolving BEFORE recovery must get the
    // complete old row set (a directory read would double-count);
    // recovery completes the publish, flips the manifest, sweeps —
    // and the reader then resolves exactly the staged generation.
    val d3 = Files.createTempDirectory("graft_zorder_c3_").toString
    Zorder.writeZordered(e, d3, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    val cl3 = Zorder.clusteringOf(spark, d3).get
    val gen3 = e.filter(col("event_id") % 3 =!= 0)
    graft.operators.Zorder.curveValues(gen3, cl3, "__z")
      .repartitionByRange(4, col("__z")).sortWithinPartitions(col("__z"))
      .drop("__z").write.parquet(staging(d3, "c"))
    recordCrash(d3, "whole", "toky", "c", "ctoky-",
      fs.listStatus(new org.apache.hadoop.fs.Path(d3))
        .filter(st => !st.isDirectory &&
          !graft.operators.Layout.isHidden(st.getPath.getName))
        .map(_.getPath.getName).toSeq, base = true)
    val staged3 = fs.listStatus(new org.apache.hadoop.fs.Path(staging(d3, "c")))
      .filter(st => !st.isDirectory &&
        !graft.operators.Layout.isHidden(st.getPath.getName))
    assert(staged3.length >= 2, "window needs >= 2 staged files")
    // hand-publish ONE staged file, exactly as step 3's rename would
    val one = staged3.head.getPath
    assert(fs.rename(one,
      new org.apache.hadoop.fs.Path(d3, s"ctoky-${one.getName}")))
    assert(Zorder.readClustered(spark, d3).count() == e.count(),
      "mid-publish crash: a manifest reader must resolve the complete " +
        "OLD generation (directory coexistence must be invisible)")
    Zorder.compactClustered(spark, d3)
    assert(Zorder.readClustered(spark, d3).count() == gen3.count(),
      "after recovery the reader must resolve the staged generation")
    assert(rawLayout(d3).count() == gen3.count(),
      "recovery must sweep the old generation from disk")
    assert(disjoint(zRanges(d3)))
  }

  test("writeBest picks hilbert at every d and clamps bits to the long budget") {
    // the anti-footgun pin: ZorderProbe measured hilbert dominating
    // morton on identical boxes in BOTH 2-D and 3-D — writeBest must
    // never hand a caller the dominated curve, and a high-d request at
    // the default bit width must clamp rather than throw
    val e = sources.Tables.load(spark, sfDir, "events")
    val d2 = Files.createTempDirectory("graft_best2_").toString
    val d3 = Files.createTempDirectory("graft_best3_").toString
    val cl2 = Zorder.writeBest(e, d2, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    val cl3 = Zorder.writeBest(e, d3, Seq("user_id", "value", "event_id"),
      numFiles = 4) // default bits=16: 3×16 = 48 fits, no clamp
    assert(cl2.curve == "hilbert" && cl2.bits == 8)
    assert(cl3.curve == "hilbert" && cl3.bits == 16)
    // the clamp point: 4 dims at the default 16 would need 64 bits —
    // writeBest must clamp to ⌊63/4⌋ = 15 instead of throwing
    val d4 = Files.createTempDirectory("graft_best4_").toString
    val cl4 = Zorder.writeBest(e.limit(100), d4,
      Seq("user_id", "value", "event_id", "ts"), numFiles = 2)
    assert(cl4.curve == "hilbert" && cl4.bits == 15,
      s"expected bits clamped to 15, got ${cl4.bits}")
    assert(Zorder.clusteringOf(spark, d3).get.curve == "hilbert")
    // both layouts hold the rows exactly, and the 3-D layout is
    // genuinely clustered (disjoint z-ranges across its files)
    Seq(d2, d3).foreach { d =>
      assert(rawLayout(d).count() == e.count())
    }
    assert(disjoint(zRanges(d3)), "3-D hilbert layout must be clustered")
  }

  test("rank-quantized HILBERT rewrite: round-trip, dense-region pruning, appendable") {
    // the skew-robust buckets on the measured-better curve — and the
    // full incremental story through the parsed marker (kind=r +
    // curve=hilbert is a combination only the marker round-trip
    // exercises: the append re-derives the staged decision tree from
    // the serialized boundaries)
    val e = sources.Tables.load(spark, sfDir, "events")
      .withColumn("heat", col("value") * col("value"))
    val dir = Files.createTempDirectory("graft_hilbert_rank_").toString
    val base = e.filter(col("event_id") % 4 =!= 0)
    val b1 = e.filter(col("event_id") % 4 === 0)
    val cl = Zorder.writeHilbertByRank(base, dir, Seq("user_id", "heat"),
      bits = 6, numFiles = 8)
    assert(cl.curve == "hilbert" && cl.cols.forall(_.kind == "r"))
    assert(Zorder.clusteringOf(spark, dir).contains(cl))
    assert(Zorder.appendClustered(b1, dir, batchId = 1, batchFiles = 2))
    Zorder.compactClustered(spark, dir)
    val back = rawLayout(dir)
    assert(back.columns.sorted.sameElements(e.columns.sorted))
    val (a, b) = (fp(e.select(back.columns.map(col): _*)), fp(back))
    assert(a.getLong(0) == b.getLong(0) && a.getDecimal(1) == b.getDecimal(1),
      "rank-hilbert lifecycle must hold exactly the source rows")
    assert(disjoint(zRanges(dir)), "compacted rank-hilbert grid must be clustered")
    // dense-region pruning, where uniform quantization has no resolution
    val boxes = Zorder.boundingBoxes(spark, dir, Seq("user_id", "heat"))
      .collect()
    val touched = boxes.count { r =>
      r.getLong(1) <= 8L && r.getLong(2) >= 2L &&
        r.getDouble(3) <= 2500.0 && r.getDouble(4) >= 100.0
    }
    assert(touched > 0 && touched < boxes.length,
      s"dense-region box touched $touched of ${boxes.length} files")
  }

  test("rank-z-ordered rewrite round-trips and prunes the dense region") {
    val e = sources.Tables.load(spark, sfDir, "events")
      .withColumn("heat", col("value") * col("value"))
    val dir = Files.createTempDirectory("graft_zorder_rank_").toString
    Zorder.writeZorderedByRank(e, dir, Seq("user_id", "heat"), bits = 6,
      numFiles = 8)
    val back = rawLayout(dir)
    // content fingerprint, not just count — equal-count corruption
    // (dropped+duplicated rows, mangled values, a leaked __graft_zb_*
    // stage column) must fail
    assert(back.columns.sorted.sameElements(e.columns.sorted),
      s"schema changed through the rank rewrite: ${back.columns.mkString(",")}")
    val (a, b) = (fp(e.select(back.columns.map(col): _*)), fp(back))
    assert(a.getLong(0) == b.getLong(0) && a.getDecimal(1) == b.getDecimal(1),
      "rank layout must hold exactly the source rows")
    val boxes = Zorder.boundingBoxes(spark, dir, Seq("user_id", "heat"))
      .collect()
    // a box in the DENSE low-heat region, where uniform quantization
    // has no resolution at all: rank clustering must still prune
    val touched = boxes.count { r =>
      r.getLong(1) <= 8L && r.getLong(2) >= 2L &&
        r.getDouble(3) <= 2500.0 && r.getDouble(4) >= 100.0
    }
    assert(touched > 0 && touched < boxes.length,
      s"dense-region box touched $touched of ${boxes.length} files")
  }

  test("manifest readers resolve one COMPLETE generation at every protocol step") {
    // the reader-torn-window fix: compaction swaps files in place, so
    // a directory listing mid-swap sees a torn generation (rows
    // missing under delete-then-publish, duplicated under
    // publish-then-delete). readClustered resolves the generation
    // MANIFEST instead; the writer orders every swap publish-new →
    // flip-manifest → delete-old. This test interleaves a real
    // readClustered at EVERY protocol step of the REAL code path (the
    // onProtocolStep seam) across append → tail-compact → append →
    // whole-compact, asserting the resolved row set is always exactly
    // a committed generation — never torn. Compaction preserves rows,
    // so any deviation from the expected fingerprint IS a torn read.
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_gen_").toString
    val base = e.filter(col("event_id") % 3 === 0)
    val b1 = e.filter(col("event_id") % 3 === 1)
    val b2 = e.filter(col("event_id") % 3 === 2)
    Zorder.writeHilbert(base, dir, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    val cols = Zorder.readClustered(spark, dir).columns.toSeq
    def key(df: org.apache.spark.sql.DataFrame): (Long, java.math.BigDecimal) = {
      val r = fp(df.select(cols.map(col): _*))
      (r.getLong(0), r.getDecimal(1))
    }
    val kBase = key(base)
    val kB1 = key(base.unionByName(b1))
    val kAll = key(e)
    assert(key(Zorder.readClustered(spark, dir)) == kBase,
      "reader must see the bootstrap generation")
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    var valid: Set[(Long, java.math.BigDecimal)] = Set.empty
    Zorder.onProtocolStep = { label =>
      seen += label
      val got = key(Zorder.readClustered(spark, dir))
      assert(valid.contains(got),
        s"TORN generation at step '$label': reader resolved $got, " +
          s"committed generations are $valid")
    }
    try {
      // append: the manifest-refresh step may show pre or post
      valid = Set(kBase, kB1)
      assert(Zorder.appendClustered(b1, dir, batchId = 1))
      assert(key(Zorder.readClustered(spark, dir)) == kB1)
      // tail compact: rows constant through every step — record,
      // publish (both generations on disk), manifest flip, fold-file
      // sweep, cleanup
      valid = Set(kB1)
      assert(Zorder.compactTail(spark, dir))
      Seq("tail-sentinel", "tail-published", "tail-manifest",
        "tail-swept", "tail-done").foreach(s =>
        assert(seen.contains(s), s"protocol step '$s' never fired"))
      valid = Set(kB1, kAll)
      assert(Zorder.appendClustered(b2, dir, batchId = 2))
      // whole compact: same invariant through the full-generation swap
      valid = Set(kAll)
      Zorder.compactClustered(spark, dir)
      Seq("whole-sentinel", "whole-published", "whole-manifest",
        "whole-swept", "whole-done").foreach(s =>
        assert(seen.contains(s), s"protocol step '$s' never fired"))
    } finally Zorder.onProtocolStep = _ => ()
    // post-lifecycle: manifest read == directory read == all rows
    assert(key(Zorder.readClustered(spark, dir)) == kAll)
    assert(key(rawLayout(dir)) == kAll)
    // plan parity: the explicit-file-list scan still pushes predicates
    // down to parquet (PushedFilters) and prunes columns (ReadSchema) —
    // the properties every pruning contract rides on; a manifest
    // reader that built its relation differently would silently lose
    // row-group pruning while staying row-correct
    val planStr = Zorder.readClustered(spark, dir)
      .filter(col("user_id").between(2, 8)).select(col("value"))
      .queryExecution.executedPlan.toString
    assert(planStr.contains("GreaterThanOrEqual(user_id,2)"),
      s"manifest read lost filter pushdown:\n$planStr")

    // a CRASHED tail fold (record + staged + nothing deleted — the
    // window the old delete-then-publish order left torn) is readable-
    // consistent BEFORE anyone recovers it: the manifest still points
    // at the complete pre-fold generation
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b3 = e.filter(col("event_id") % 7 === 0)
    assert(Zorder.appendClustered(b3, dir, batchId = 3))
    val cl = Zorder.clusteringOf(spark, dir).get
    val tails = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => !st.isDirectory && st.getPath.getName.matches("b3-.*"))
      .map(_.getPath).toSeq
    assert(tails.nonEmpty)
    graft.operators.Zorder
      .curveValues(rawLayout(tails.map(_.toString): _*), cl, "__z")
      .repartitionByRange(2, col("__z")).sortWithinPartitions(col("__z"))
      .drop("__z").write.parquet(staging(dir, "t"))
    recordCrash(dir, "tail", "tokrd", "t", "ttokrd-", tails.map(_.getName),
      base = false)
    val kWith3 = key(e.unionByName(b3))
    assert(key(Zorder.readClustered(spark, dir)) == kWith3,
      "a crashed-mid-fold layout must still resolve the complete " +
        "pre-fold generation")
    assert(Zorder.compactTail(spark, dir) ||
      !fs.exists(new org.apache.hadoop.fs.Path(dir, Zorder.commitFile)),
      "recovery must clear the crashed fold")
    assert(key(Zorder.readClustered(spark, dir)) == kWith3,
      "recovery must preserve the row set exactly")

    // legacy fallback: a pre-manifest layout (no pointer files) reads
    // via the directory listing it always had — the WHOLE family goes
    // (bases and deltas; a delta-only remnant is damage, not legacy)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir)).foreach { st =>
      if (!st.isDirectory &&
          st.getPath.getName.startsWith("_graft_manifest"))
        fs.delete(st.getPath, false)
    }
    assert(key(Zorder.readClustered(spark, dir)) == kWith3,
      "legacy (manifest-less) layouts must read via the directory")
    // and a marker-less path refuses loudly (rebuild in flight/crashed)
    val bare = Files.createTempDirectory("graft_zorder_rd_").toString
    e.limit(5).write.mode("overwrite").parquet(bare)
    val err = intercept[IllegalArgumentException](
      Zorder.readClustered(spark, bare))
    assert(err.getMessage.contains("marker"), err.getMessage)
  }

  test("retention: a resolved generation keeps reading through the swap until vacuum") {
    // the snapshot-grace upgrade over per-resolve atomicity: with
    // retainMs > 0 the compact forms RETIRE replaced files (ledgered,
    // left at their paths) instead of deleting them, so a reader that
    // resolved the OLD generation before the swap still reads it
    // mid-job; vacuumClustered deletes them once past the caller's
    // grace window and self-heals unledgered garbage. Manifest-is-
    // truth throughout: new resolves see exactly the new generation,
    // retired rows never fold back in, and the trigger policy does
    // not count retired tails.
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_ret_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    val base = e.filter(col("event_id") % 4 =!= 0)
    val b1 = e.filter(col("event_id") % 4 === 0)
    Zorder.writeHilbert(base, dir, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    assert(Zorder.appendClustered(b1, dir, batchId = 1))
    // an in-flight reader: resolve the current generation to explicit
    // paths NOW, read it AFTER the swap
    val oldGen = Zorder.currentManifest(spark, fs, root).get._2
      .map(n => new org.apache.hadoop.fs.Path(root, n).toString)
    val preCount = rawLayout(oldGen: _*).count()
    assert(preCount == e.count())
    val hour = 3600L * 1000
    assert(Zorder.compactTail(spark, dir, retainMs = hour))
    // grace: the resolved old generation still reads, byte-complete
    assert(rawLayout(oldGen: _*).count() == preCount,
      "a retention fold must leave the old generation readable")
    // new resolves see exactly the new generation (rows identical)
    assert(Zorder.readClustered(spark, dir).count() == e.count())
    // retired tails are not a foldable tail: not due, nothing to fold
    assert(!Zorder.tailCompactDue(spark, dir))
    assert(!Zorder.compactTail(spark, dir))
    // the at-least-once REPLAY of the folded batch (its b1- files are
    // retired but still on disk) must stay a no-op all the way into
    // the manifest: an unfiltered heal would stamp the retired files
    // back in and double-count every batch-1 row
    assert(!Zorder.appendClustered(b1, dir, batchId = 1))
    assert(Zorder.readClustered(spark, dir).count() == e.count(),
      "a replay after a retention fold must not resurrect retired " +
        "batch files into the manifest")
    // vacuum REFUSES under a commit record: a crashed swap's
    // published-but-unflipped replacements are unmanifested, and
    // stamping them as garbage would lose their rows after recovery
    graft.operators.Layout.writeMarker(spark, dir, Zorder.commitFile,
      "v1 tail tokvv 0 -1 delta 0 0 0")
    val vErr = intercept[IllegalArgumentException](
      Zorder.vacuumClustered(spark, dir, olderThanMs = 0L))
    assert(vErr.getMessage.contains("compact"), vErr.getMessage)
    fs.delete(new org.apache.hadoop.fs.Path(dir, Zorder.commitFile), false)
    // a live grace window vacuums nothing
    assert(Zorder.vacuumClustered(spark, dir, olderThanMs = hour) == 0)
    assert(rawLayout(oldGen: _*).count() == preCount)
    // expired grace: retired files deleted; directory == manifest
    assert(Zorder.vacuumClustered(spark, dir, olderThanMs = 0L) > 0)
    assert(rawLayout(dir).count() == e.count(),
      "post-vacuum the directory holds exactly the live generation")
    assert(Zorder.readClustered(spark, dir).count() == e.count())
    assert(disjoint(zRanges(dir)), "retention fold must stay clustered")

    // whole-compact retention: append again, compact with grace —
    // the pre-compact generation survives until vacuumed
    assert(Zorder.appendClustered(e.filter(col("event_id") % 9 === 0),
      dir, batchId = 2))
    val gen2 = Zorder.currentManifest(spark, fs, root).get._2
      .map(n => new org.apache.hadoop.fs.Path(root, n).toString)
    val expect2 = e.count() + e.filter(col("event_id") % 9 === 0).count()
    Zorder.compactClustered(spark, dir, retainMs = hour)
    assert(rawLayout(gen2: _*).count() == expect2,
      "whole-compact retention must leave the old generation readable")
    assert(Zorder.readClustered(spark, dir).count() == expect2)
    // a SECOND retention compact while the first's grace stands must
    // not fold or re-retire the retired files (they are out of the
    // fold universe) — rows stay exact
    Zorder.compactClustered(spark, dir, retainMs = hour)
    assert(Zorder.readClustered(spark, dir).count() == expect2,
      "re-compacting under grace must not duplicate retired rows")
    assert(Zorder.vacuumClustered(spark, dir, olderThanMs = 0L) > 0)
    assert(rawLayout(dir).count() == expect2)
    assert(disjoint(zRanges(dir)))

    // self-heal: an unmanifested foreign file is STAMPED (not deleted)
    // on first sight, and ages out on the next vacuum
    val foreignSrc =
      Files.createTempDirectory("graft_zorder_retf_").toString + "/src"
    e.limit(10).write.parquet(foreignSrc)
    val fFile = fs.listStatus(new org.apache.hadoop.fs.Path(foreignSrc))
      .filter(st => !st.isDirectory &&
        !graft.operators.Layout.isHidden(st.getPath.getName)).head.getPath
    val fDest = new org.apache.hadoop.fs.Path(root, "foreign0.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, fFile, fs, fDest, false,
      spark.sparkContext.hadoopConfiguration)
    assert(Zorder.vacuumClustered(spark, dir, olderThanMs = hour) == 0,
      "first sight: stamp into the ledger, never delete inside grace")
    assert(fs.exists(fDest))
    assert(Zorder.vacuumClustered(spark, dir, olderThanMs = 0L) == 1,
      "aged out: the stamped foreign file is garbage after the grace")
    assert(!fs.exists(fDest))
    assert(Zorder.readClustered(spark, dir).count() == expect2)

    // a damaged VERSIONED ledger line fails LOUDLY per line instead of
    // lenient-parsing the whole ledger to empty — empty would let the
    // next compact fold every still-on-disk retired file back in and
    // silently duplicate their rows (this round's hardening; the
    // legacy dot-less in-place ledger stays lenient per line, its
    // writer could tear)
    graft.operators.Layout.writeMarkerAtomic(spark, dir,
      "_graft_retired.00000000000000ff.deadbeef",
      "ok%2Eparquet=123\nno-equals-sign-line")
    val exLedger = intercept[RuntimeException] {
      Zorder.vacuumClustered(spark, dir, olderThanMs = 0L)
    }
    assert(exLedger.getMessage.contains("resolve manually"),
      s"damaged ledger must fail loudly, got: ${exLedger.getMessage}")
    fs.delete(new org.apache.hadoop.fs.Path(root,
      "_graft_retired.00000000000000ff.deadbeef"), false)
  }

  test("deletion vectors: keyed delete rewrites nothing; reads, pins, folds and compacts all honor the tombstones") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_dv_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    def dataNames: Set[String] = fs.listStatus(root).toSeq
      .filter(st => !st.isDirectory &&
        !graft.operators.Layout.isHidden(st.getPath.getName) &&
        !st.getPath.getName.startsWith("dv-"))
      .map(_.getPath.getName).toSet
    Zorder.writeHilbert(e.filter(col("event_id") % 4 =!= 0), dir,
      Seq("user_id", "value"), bits = 8, numFiles = 8)
    // tail left UNfolded: deletes must hunt b<id>- files too
    assert(Zorder.appendClustered(e.filter(col("event_id") % 4 === 0),
      dir, batchId = 1))
    val preNames = dataNames
    val preEpoch = Zorder.currentEpoch(spark, dir).get
    val delKeys = e.filter(col("event_id") % 6 === 0)
      .select(col("event_id"), col("user_id"), col("value"))
    val remain = e.filter(col("event_id") % 6 =!= 0)
    val n = Zorder.deleteClustered(spark, dir, delKeys, Seq("event_id"))
    assert(n == e.count() - remain.count(),
      s"every keyed row tombstones exactly once, got $n")
    // the DV promise: not one data file rewritten — only dv- files
    // and manifest state changed
    assert(dataNames == preNames,
      "a deletion-vector delete must not touch a data file")
    assert(Zorder.currentManifest(spark, fs, root).get._2
      .exists(_.startsWith("dv-")), "the tombstones are manifest entries")
    // all three read arms apply the DVs
    assert(fp(Zorder.readClustered(spark, dir)) == fp(remain),
      "the manifest read must serve exactly the undeleted rows")
    val boxGot = Zorder.readClustered(spark, dir,
      Seq(("user_id", 2: Any, 8: Any)))
      .filter(col("user_id").between(2, 8)).count()
    assert(boxGot == remain.filter(col("user_id").between(2, 8)).count(),
      "the box read must apply DVs to the pruned subset")
    assert(Zorder.readClustered(spark, dir, preEpoch).count() == e.count(),
      "a pre-delete pinned epoch serves the undeleted rows — the " +
        "delete is a later epoch's entry")
    assert(Zorder.readClustered(spark, dir,
      Zorder.currentEpoch(spark, dir).get).count() == remain.count())
    // idempotent by construction: a replay tombstones nothing and an
    // absent-keys batch burns no epoch
    assert(Zorder.deleteClustered(spark, dir, delKeys,
      Seq("event_id")) == 0L, "replayed delete must be a no-op")
    val ep0 = Zorder.currentEpoch(spark, dir).get
    assert(Zorder.deleteClustered(spark, dir,
      delKeys.withColumn("event_id", col("event_id") + lit(2000000000L)),
      Seq("event_id")) == 0L)
    assert(Zorder.currentEpoch(spark, dir).get == ep0,
      "an all-absent delete must not burn a manifest epoch")
    // NULL keys refuse loudly (the semi-join is null-unsafe)
    val exNull = intercept[IllegalArgumentException](
      Zorder.deleteClustered(spark, dir,
        e.limit(1).select(lit(null).cast("long").as("event_id"),
          col("user_id"), col("value")), Seq("event_id")))
    assert(exNull.getMessage.contains("NULL"), exNull.getMessage)
    // a tail fold MATERIALIZES the tombstones it touches and must not
    // resurrect a deleted row
    assert(Zorder.compactTail(spark, dir))
    assert(fp(Zorder.readClustered(spark, dir)) == fp(remain),
      "the fold must materialize, not resurrect")
    // the whole compact clears the DV set entirely: fresh base, no
    // dv- entries, superseded dv files swept from disk
    Zorder.compactClustered(spark, dir)
    assert(fp(Zorder.readClustered(spark, dir)) == fp(remain))
    assert(!Zorder.currentManifest(spark, fs, root).get._2
      .exists(_.startsWith("dv-")),
      "a whole compact's fresh base carries no deletion vectors")
    assert(!fs.listStatus(root).exists(st =>
      st.getPath.getName.startsWith("dv-")),
      "superseded DV files are swept with the old generation")
    assert(disjoint(zRanges(dir)))
    // a hand-deleted manifest family over a STANDING DV set must
    // refuse the legacy directory fallback — it can neither apply
    // the tombstones nor even skip the dv- files as data
    assert(Zorder.deleteClustered(spark, dir,
      e.filter(col("event_id") % 6 === 1)
        .select(col("event_id"), col("user_id"), col("value")),
      Seq("event_id")) > 0)
    fs.listStatus(root).foreach { st =>
      if (!st.isDirectory &&
          st.getPath.getName.startsWith("_graft_manifest"))
        fs.delete(st.getPath, false)
    }
    val exDv = intercept[IllegalArgumentException](
      Zorder.readClustered(spark, dir))
    assert(exDv.getMessage.contains("deletion-vector"), exDv.getMessage)
  }

  test("deletion vectors: crash debris is swept and an orphan DV never deletes a row") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_dvc_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    Zorder.writeHilbert(e, dir, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    val count0 = Zorder.readClustered(spark, dir).count()
    // a pre-commit crash window: a dv- file published into the root
    // but never committed — address rows 0..4 of a LIVE file, so
    // wrongly applying it would visibly drop rows
    val victim = Zorder.currentManifest(spark, fs, root).get._2.head
    val s = spark
    import s.implicits._
    (0L until 5L).map(p => (victim, p)).toDF("file", "pos")
      .repartition(1).write.parquet(dir + "/orphan_src")
    val src = fs.listStatus(new org.apache.hadoop.fs.Path(dir,
      "orphan_src")).filter(st => !st.isDirectory &&
      !graft.operators.Layout.isHidden(st.getPath.getName)).head.getPath
    val orphan = new org.apache.hadoop.fs.Path(root,
      "dv-deadbeef-orphan.parquet")
    assert(fs.rename(src, orphan))
    fs.delete(new org.apache.hadoop.fs.Path(dir, "orphan_src"), true)
    assert(Zorder.readClustered(spark, dir).count() == count0,
      "an uncommitted (orphan) DV must never be applied — deletes " +
        "live in the manifest, not the directory")
    // a stale staging dir from a pre-publish crash
    fs.mkdirs(new org.apache.hadoop.fs.Path(staging(dir, "dv")))
    // the next delete call sweeps both debris forms, even when it
    // itself commits nothing
    assert(Zorder.deleteClustered(spark, dir,
      e.limit(3).select((col("event_id") + lit(3000000000L))
        .as("event_id"), col("user_id"), col("value")),
      Seq("event_id")) == 0L)
    assert(!fs.exists(orphan), "the orphan DV is crash debris — swept")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root,
      Zorder.stagingDir)), "stale DV staging is swept")
    assert(Zorder.readClustered(spark, dir).count() == count0)
  }

  test("deletion vectors: retention grace and reader pins govern DV files like data files") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_dvr_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    val hour = 3600L * 1000
    Zorder.writeHilbert(e, dir, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    val remain = e.filter(col("event_id") % 6 =!= 0)
    assert(Zorder.deleteClustered(spark, dir,
      e.filter(col("event_id") % 6 === 0)
        .select(col("event_id"), col("user_id"), col("value")),
      Seq("event_id")) > 0)
    val (pinnedEpoch, pinId) = Zorder.pinRead(spark, dir, ttlMs = hour)
    // whole compact under grace: the old generation's data AND dv
    // files are retired together, so the pinned epoch still resolves
    // AND still applies its tombstones
    Zorder.compactClustered(spark, dir, retainMs = hour)
    assert(Zorder.readClustered(spark, dir, pinnedEpoch).count() ==
      remain.count(),
      "a pinned pre-compact epoch must keep applying its DV set " +
        "from the retired files")
    assert(!Zorder.currentManifest(spark, fs, root).get._2
      .exists(_.startsWith("dv-")))
    // the pin floor protects the retired dv file from an aggressive
    // vacuum exactly like a data file
    assert(Zorder.vacuumClustered(spark, dir, olderThanMs = 0L) == 0,
      "an unexpired pin must hold the retired generation, DVs included")
    assert(fs.listStatus(root).exists(st =>
      st.getPath.getName.startsWith("dv-")))
    Zorder.unpin(spark, dir, pinId)
    assert(Zorder.vacuumClustered(spark, dir, olderThanMs = 0L) > 0)
    assert(!fs.listStatus(root).exists(st =>
      st.getPath.getName.startsWith("dv-")),
      "past the grace the DV files vacuum with their generation")
    assert(Zorder.readClustered(spark, dir).count() == remain.count())
  }

  test("mergeOnRead: mergeClustered semantics at deleteClustered cost — one commit, no rewrites, replay-safe") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dirA = Files.createTempDirectory("graft_zorder_morA_").toString
    val dirB = Files.createTempDirectory("graft_zorder_morB_").toString
    val fsA = new org.apache.hadoop.fs.Path(dirA)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootA = fsA.makeQualified(new org.apache.hadoop.fs.Path(dirA))
    def namesA: Set[String] = fsA.listStatus(rootA).toSeq
      .filter(st => !st.isDirectory &&
        !graft.operators.Layout.isHidden(st.getPath.getName))
      .map(_.getPath.getName).toSet
    Seq(dirA, dirB).foreach { d =>
      Zorder.writeHilbert(e.filter(col("event_id") % 7 =!= 0), d,
        Seq("user_id", "ts"), bits = 12, numFiles = 8)
      assert(Zorder.appendClustered(e.filter(col("event_id") % 7 === 0),
        d, batchId = 1))
    }
    // the q184 change shape: updates (non-clustering columns only —
    // the immutability contract), deletes, inserts
    val changes = e.filter(col("event_id") % 10 === 0)
      .withColumn("value", col("value") * 2)
      .withColumn("event_type", lit("merged"))
      .withColumn("__del", lit(false))
      .unionByName(e.filter(col("event_id") % 10 === 5)
        .withColumn("__del", lit(true)))
      .unionByName(e.filter(col("event_id") % 10 === 7)
        .withColumn("event_id", col("event_id") + lit(1000000000L))
        .withColumn("value", col("value") + 1.5)
        .withColumn("__del", lit(false)))
    val preNames = namesA
    val nT = Zorder.mergeOnRead(spark, dirA, changes, Seq("event_id"),
      batchId = 2, deleteCol = Some("__del"))
    assert(nT > 0, "updates and deletes must tombstone resident copies")
    Zorder.mergeClustered(spark, dirB, changes, Seq("event_id"),
      deleteCol = Some("__del"))
    assert(fp(Zorder.readClustered(spark, dirA)) ==
      fp(Zorder.readClustered(spark, dirB)),
      "merge-on-read must produce mergeClustered's exact row set")
    // the cost claim: nothing rewritten — every pre-merge file still
    // present, additions are only the insert batch and tombstones
    val after = namesA
    assert(preNames.subsetOf(after),
      "mergeOnRead must not delete or rewrite any data file")
    assert((after -- preNames).forall(n =>
      n.startsWith("b2-") || n.startsWith("dv-")),
      s"unexpected additions: ${(after -- preNames).take(4)}")
    // replay: ledger no-op + zero fresh tombstones + no epoch burn
    val ep = Zorder.currentEpoch(spark, dirA).get
    assert(Zorder.mergeOnRead(spark, dirA, changes, Seq("event_id"),
      batchId = 2, deleteCol = Some("__del")) == 0L)
    assert(Zorder.currentEpoch(spark, dirA).get == ep,
      "a replayed merge-on-read must not burn a manifest epoch")
    assert(fp(Zorder.readClustered(spark, dirA)) ==
      fp(Zorder.readClustered(spark, dirB)))
    // folds materialize both debts without changing a visible row
    assert(Zorder.compactTail(spark, dirA))
    assert(fp(Zorder.readClustered(spark, dirA)) ==
      fp(Zorder.readClustered(spark, dirB)),
      "the fold after a merge-on-read changes bytes, not rows")
    // versionCol arbitration rides through unchanged (the
    // mergeClustered last-write rule): a dup-key batch where v=2
    // must beat v=1 through BOTH merge disciplines identically
    val dup = e.filter(col("event_id") % 11 === 3)
      .withColumn("event_type", lit("v1")).withColumn("__v", lit(1))
      .unionByName(e.filter(col("event_id") % 11 === 3)
        .withColumn("event_type", lit("v2")).withColumn("__v", lit(2)))
    assert(Zorder.mergeOnRead(spark, dirA, dup, Seq("event_id"),
      batchId = 3, versionCol = Some("__v")) > 0L)
    Zorder.mergeClustered(spark, dirB, dup, Seq("event_id"),
      versionCol = Some("__v"))
    assert(fp(Zorder.readClustered(spark, dirA)) ==
      fp(Zorder.readClustered(spark, dirB)),
      "versionCol last-write arbitration must agree across disciplines")
    assert(Zorder.readClustered(spark, dirA)
      .filter(col("event_type") === "v1").count() == 0,
      "the losing version must not survive")
    // a PURE-DELETE batch (the common CDC delete shape) publishes NO
    // insert file: Spark writes a footer-only file even for zero
    // rows, and committing one per delete batch would inflate the
    // tail count for nothing
    val bBefore = namesA.count(_.matches("b\\d+-.*"))
    assert(Zorder.mergeOnRead(spark, dirA,
      e.filter(col("event_id") % 11 === 5).withColumn("__del", lit(true)),
      Seq("event_id"), batchId = 4, deleteCol = Some("__del")) > 0L)
    assert(namesA.count(_.matches("b\\d+-.*")) == bBefore,
      "a pure-delete merge-on-read must publish no insert file")
    // negative batchId refuses BEFORE anything durable: it would
    // escape the b\d+- tail classification and brick record
    // recovery (\d{1,18} header check)
    val exNeg = intercept[IllegalArgumentException](
      Zorder.mergeOnRead(spark, dirA,
        e.limit(2).withColumn("__del", lit(false)),
        Seq("event_id"), batchId = -1, deleteCol = Some("__del")))
    assert(exNeg.getMessage.contains("batchId"), exNeg.getMessage)
    // the targeted z-range scan the delete paid is PERSISTED (a
    // bootstrapped layout must not re-scan the grid per CDC batch)
    assert(fsA.exists(new org.apache.hadoop.fs.Path(rootA,
      "_graft_zranges")),
      "residentIvs must persist what its targeted scan computed")
  }

  test("mergeOnRead: every crash window serves a consistent state and recovery completes the batch exactly once") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_morc_").toString
    Zorder.writeHilbert(e.filter(col("event_id") % 7 =!= 0), dir,
      Seq("user_id", "ts"), bits = 12, numFiles = 8)
    assert(Zorder.appendClustered(e.filter(col("event_id") % 7 === 0),
      dir, batchId = 1))
    val changes = e.filter(col("event_id") % 10 === 0)
      .withColumn("event_type", lit("merged"))
      .withColumn("__del", lit(false))
      .unionByName(e.filter(col("event_id") % 10 === 5)
        .withColumn("__del", lit(true)))
    val expected = e.filter(col("event_id") % 10 =!= 0 &&
        col("event_id") % 10 =!= 5)
      .unionByName(e.filter(col("event_id") % 10 === 0)
        .withColumn("event_type", lit("merged")))
      .select(e.columns.map(col): _*)
    val before = fp(Zorder.readClustered(spark, dir))
    case class Crash() extends RuntimeException("simulated crash")
    def crashAt(label: String, batch: Long): Unit = {
      Zorder.onProtocolStep = l => if (l == label) throw Crash()
      try intercept[Crash](Zorder.mergeOnRead(spark, dir, changes,
        Seq("event_id"), batchId = batch, deleteCol = Some("__del")))
      finally Zorder.onProtocolStep = _ => ()
    }
    // window 1: both sides staged, NO record — nothing durable;
    // readers see the old state and the replay redoes the batch
    crashAt("mor-staged", 2)
    assert(fp(Zorder.readClustered(spark, dir)) == before,
      "a pre-record crash must leave the exact old state visible")
    assert(Zorder.mergeOnRead(spark, dir, changes, Seq("event_id"),
      batchId = 2, deleteCol = Some("__del")) > 0L,
      "the replay after a pre-record crash redoes the batch")
    assert(fp(Zorder.readClustered(spark, dir)) == fp(expected))
    // reset to a fresh layout for the post-record windows
    val dir2 = Files.createTempDirectory("graft_zorder_morc2_").toString
    Zorder.writeHilbert(e.filter(col("event_id") % 7 =!= 0), dir2,
      Seq("user_id", "ts"), bits = 12, numFiles = 8)
    assert(Zorder.appendClustered(e.filter(col("event_id") % 7 === 0),
      dir2, batchId = 1))
    def crashAt2(label: String): Unit = {
      Zorder.onProtocolStep = l => if (l == label) throw Crash()
      try intercept[Crash](Zorder.mergeOnRead(spark, dir2, changes,
        Seq("event_id"), batchId = 2, deleteCol = Some("__del")))
      finally Zorder.onProtocolStep = _ => ()
    }
    // window 2: record written, nothing published — readers still
    // resolve the old generation; appends REFUSE under the record;
    // any fold-family entry completes the batch
    crashAt2("mor-sentinel")
    assert(fp(Zorder.readClustered(spark, dir2)) == before,
      "a post-record pre-publish crash still serves the old state")
    val exApp = intercept[IllegalArgumentException](
      Zorder.appendClustered(e.limit(3), dir2, batchId = 9))
    assert(exApp.getMessage.contains("merge-on-read"), exApp.getMessage)
    assert(Zorder.deleteClustered(spark, dir2,
      e.limit(3).select((col("event_id") + lit(3000000000L))
        .as("event_id"), col("user_id"), col("ts")),
      Seq("event_id")) == 0L) // any fold-family entry recovers first
    assert(fp(Zorder.readClustered(spark, dir2)) == fp(expected),
      "recovery must complete the crashed batch from the record")
    // the batch is ledgered by recovery: a replay is a pure no-op
    assert(Zorder.mergeOnRead(spark, dir2, changes, Seq("event_id"),
      batchId = 2, deleteCol = Some("__del")) == 0L,
      "a recovered batch must never re-run (its tombstones would " +
        "address its own inserts)")
    assert(fp(Zorder.readClustered(spark, dir2)) == fp(expected))
    // window 3 (fresh layout): published + ledgered, manifest commit
    // never ran — the commit is the one reader-visible atom
    val dir3 = Files.createTempDirectory("graft_zorder_morc3_").toString
    Zorder.writeHilbert(e.filter(col("event_id") % 7 =!= 0), dir3,
      Seq("user_id", "ts"), bits = 12, numFiles = 8)
    assert(Zorder.appendClustered(e.filter(col("event_id") % 7 === 0),
      dir3, batchId = 1))
    Zorder.onProtocolStep = l => if (l == "mor-ledger") throw Crash()
    try intercept[Crash](Zorder.mergeOnRead(spark, dir3, changes,
      Seq("event_id"), batchId = 2, deleteCol = Some("__del")))
    finally Zorder.onProtocolStep = _ => ()
    assert(fp(Zorder.readClustered(spark, dir3)) == before,
      "published-but-uncommitted: readers still resolve the old " +
        "generation exactly")
    assert(Zorder.compactTail(spark, dir3),
      "the fold entry recovers the crashed commit, then folds")
    assert(fp(Zorder.readClustered(spark, dir3)) == fp(expected),
      "recovery + fold must converge to the merged row set")
  }

  test("dvDebt: footer-exact tombstone fraction drives the materialization trigger") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_dvd_").toString
    Zorder.writeHilbert(e, dir, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    assert(Zorder.dvDebt(spark, dir) == 0.0, "a DV-less layout owes nothing")
    val total = e.count()
    val nDel = Zorder.deleteClustered(spark, dir,
      e.filter(col("event_id") % 6 === 0)
        .select(col("event_id"), col("user_id"), col("value")),
      Seq("event_id"))
    assert(nDel > 0)
    // footer row counts are exact: debt == tombstones / PHYSICAL rows
    // (deleted rows still occupy their files until a fold)
    val debt = Zorder.dvDebt(spark, dir)
    assert(math.abs(debt - nDel.toDouble / total) < 1e-12,
      s"debt $debt != $nDel/$total")
    assert(Zorder.dvCompactDue(spark, dir, maxDebt = debt / 2),
      "debt past the threshold must advise a materializing compact")
    assert(!Zorder.dvCompactDue(spark, dir, maxDebt = debt * 2))
    Zorder.compactClustered(spark, dir)
    assert(Zorder.dvDebt(spark, dir) == 0.0,
      "the whole compact clears the debt entirely")
  }

  test("data skipping on NON-clustering columns: layout-correlated stats prune, scattered ones keep all") {
    // the Delta add-file stats discipline: the manifest records
    // min/max for every top-level primitive column (capped), so a box
    // on a column that merely CORRELATES with the layout (a date
    // derived from the clustered timestamp) prunes files even though
    // it is not a clustering column — and a box on a scattered column
    // degrades to conservative keep-all, never a wrong prune.
    val e = sources.Tables.load(spark, sfDir, "events")
      .withColumn("d", to_date(col("ts")))
    val dir = Files.createTempDirectory("graft_zorder_skip_").toString
    Zorder.writeHilbert(e, dir, Seq("user_id", "ts"), bits = 16,
      numFiles = 16)
    // d is NOT a clustering column, but tracks ts exactly
    val lo = java.time.LocalDate.parse("2024-01-10")
    val hi = java.time.LocalDate.parse("2024-01-11")
    val (kept, all) = Zorder.pruneFiles(spark, dir,
      Seq(("d", lo: Any, hi: Any)))
    assert(all.size == 16, s"expected the 16-grid, got ${all.size}")
    assert(kept.nonEmpty && kept.size < all.size,
      s"a layout-correlated non-clustering box must skip files, " +
        s"kept ${kept.size}/${all.size}")
    val expect = e.filter(col("d") >= lit(lo) && col("d") <= lit(hi))
      .count()
    assert(expect > 0)
    assert(Zorder.readClustered(spark, dir, Seq(("d", lo: Any, hi: Any)))
      .filter(col("d") >= lit(lo) && col("d") <= lit(hi)).count() ==
      expect, "non-clustering skipping must stay row-exact")
    // a column with no layout correlation keeps everything — pruning
    // is CONSERVATIVE, the caller's predicate stays authoritative.
    // (event_id would be a WRONG probe here: sequential ids track ts,
    // so they inherit the layout and legitimately prune — measured.)
    val (keptScatter, _) = Zorder.pruneFiles(spark, dir,
      Seq(("value", 100.0: Any, 110.0: Any)))
    assert(keptScatter.size == all.size,
      "scattered-column stats span every file: nothing prunes, " +
        "nothing is lost")
  }

  test("DECIMAL clustering columns: footer stats descale, box pruning stays row-exact") {
    // DECIMAL(p<=18) footers hold the UNSCALED integer (12.34 at scale
    // 2 is 1234) — without descaling, recorded bounds sit 10^scale too
    // high and a true-scale box prunes every matching file (rows
    // silently vanish). The sharp assertion is the above-max box: with
    // unscaled (100x) stats it would intersect everything; with
    // descaled stats it keeps zero files.
    val e = sources.Tables.load(spark, sfDir, "events")
      .withColumn("amount", col("value").cast("decimal(10,2)"))
    val dir = Files.createTempDirectory("graft_zorder_dec_").toString
    Zorder.writeHilbert(e, dir, Seq("user_id", "amount"), bits = 12,
      numFiles = 4)
    val lo = new java.math.BigDecimal("10.00")
    val hi = new java.math.BigDecimal("200.00")
    val expect = e.filter(col("amount") >= lo && col("amount") <= hi)
      .count()
    assert(expect > 0, "fixture must have rows in the decimal box")
    val boxed = Zorder.readClustered(spark, dir,
        Seq(("amount", lo: Any, hi: Any)))
      .filter(col("amount") >= lo && col("amount") <= hi)
    assert(boxed.count() == expect,
      "descaled decimal stats must not prune matching rows")
    val mx = e.agg(max(col("amount"))).collect()(0).getDecimal(0)
    val (keptHigh, all) = Zorder.pruneFiles(spark, dir, Seq(
      ("amount", mx.add(new java.math.BigDecimal(1000)): Any,
        mx.add(new java.math.BigDecimal(2000)): Any)))
    assert(all.nonEmpty)
    assert(keptHigh.isEmpty,
      "an above-max box must keep zero files — unscaled (10^scale " +
        "too high) stats would cover it and keep everything")
  }

  test("reader pins floor the vacuum: pinned generations survive any grace until unpin or TTL") {
    // epoch-pinned reads gave a long job a snapshot; the pin makes
    // vacuum RESPECT it — a cron'd vacuum with an aggressive window
    // cannot reclaim files a registered reader still scans. TTL bounds
    // a crashed reader's hold; expired pins are GC'd by vacuum.
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_pin_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Zorder.writeHilbert(e.filter(col("event_id") % 4 =!= 0), dir,
      Seq("user_id", "ts"), bits = 16, numFiles = 4)
    assert(Zorder.appendClustered(e.filter(col("event_id") % 4 === 0),
      dir, batchId = 1))
    // a long reader registers BEFORE the swap
    val (ep, pinId) = Zorder.pinRead(spark, dir, ttlMs = 3600L * 1000)
    assert(ep == Zorder.currentEpoch(spark, dir).get)
    assert(Zorder.compactTail(spark, dir, retainMs = 1L))
    Thread.sleep(5)
    // the grace EXPIRED, but the pin floors it: nothing deletes, the
    // pinned read stays byte-complete
    assert(Zorder.vacuumClustered(spark, dir, olderThanMs = 0L) == 0,
      "an unexpired pin must block the vacuum regardless of grace")
    assert(Zorder.readClustered(spark, dir, asOfEpoch = ep).count() ==
      e.count(), "the pinned generation must survive the vacuum")
    // release → the same vacuum reclaims
    Zorder.unpin(spark, dir, pinId)
    assert(Zorder.vacuumClustered(spark, dir, olderThanMs = 0L) > 0)
    assert(Zorder.readClustered(spark, dir).count() == e.count())
    // an EXPIRED pin holds nothing and is GC'd by the vacuum that
    // notices it
    assert(Zorder.appendClustered(
      e.filter(col("event_id") % 9 === 0)
        .withColumn("event_id", col("event_id") + 300000000L),
      dir, batchId = 2))
    val (_, stale) = Zorder.pinRead(spark, dir, ttlMs = 1L)
    Thread.sleep(10)
    assert(Zorder.compactTail(spark, dir, retainMs = 1L))
    Thread.sleep(5)
    assert(Zorder.vacuumClustered(spark, dir, olderThanMs = 0L) > 0,
      "an expired pin must not block the vacuum")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir), stale)),
      "vacuum must GC the expired pin file")
    // pins protect against UNGRACEFUL sweeps too: a retainMs=0 whole
    // compact (fresh base + immediate history GC + outright delete)
    // under a pin upgrades its sweep to a retire AND keeps the pinned
    // epoch's manifest chain resolvable — the pinned read survives
    // both the file sweep and the history cut
    val preCnt = Zorder.readClustered(spark, dir).count()
    val (ep3, pin3) = Zorder.pinRead(spark, dir, ttlMs = 3600L * 1000)
    Zorder.compactClustered(spark, dir) // no grace asked; pin implies one
    assert(Zorder.readClustered(spark, dir, asOfEpoch = ep3).count() ==
      preCnt, "an ungraceful compact must not break a pinned read")
    assert(Zorder.readRetired(spark, dir).nonEmpty,
      "a pinned sweep must retire, never delete")
    Zorder.unpin(spark, dir, pin3)
    assert(Zorder.vacuumClustered(spark, dir, olderThanMs = 0L) > 0,
      "after release the upgraded retire reclaims on the next vacuum")

    // a damaged pin file refuses LOUDLY (ignoring it could reclaim a
    // live reader's generation)
    graft.operators.Layout.writeMarkerAtomic(spark, dir,
      "_graft_pin.00000000000000aa.deadbeef", "not a pin")
    val pinErr = intercept[IllegalArgumentException](
      Zorder.vacuumClustered(spark, dir, olderThanMs = 0L))
    assert(pinErr.getMessage.contains("pin"), pinErr.getMessage)
    fs.delete(new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(
      dir), "_graft_pin.00000000000000aa.deadbeef"), false)
    // pre-manifest layouts have no epochs to pin — refuse loudly
    val bare = Files.createTempDirectory("graft_zorder_pinb_").toString
    e.limit(5).write.mode("overwrite").parquet(bare)
    val bareErr = intercept[RuntimeException](
      Zorder.pinRead(spark, bare, ttlMs = 1000L))
    assert(bareErr.getMessage.contains("manifest"), bareErr.getMessage)
  }

  test("mergeClustered: update/delete/insert land exactly; untouched files survive; crash recovers") {
    // the keyed MERGE over the clustered table format: changes locate
    // their victim files by clustering-value containment (the
    // compactTail discipline), so a narrow change batch rewrites a
    // narrow file set; all tail files fold in as a side effect; the
    // whole thing rides the tail-fold record protocol, so a crash
    // at the commit point recovers into the SAME merged state.
    val e = sources.Tables.load(spark, sfDir, "events")
    val cols = e.columns.toSeq
    def dataFiles(d: String): Set[String] = {
      val root = new org.apache.hadoop.fs.Path(d)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).filter(st => !st.isDirectory &&
        !graft.operators.Layout.isHidden(st.getPath.getName))
        .map(_.getPath.getName).toSet
    }
    val dir = Files.createTempDirectory("graft_zorder_mrg_").toString
    Zorder.writeHilbert(e.filter(col("event_id") % 7 =!= 0), dir,
      Seq("user_id", "ts"), bits = 16, numFiles = 8)
    Zorder.appendClustered(e.filter(col("event_id") % 7 === 0), dir,
      batchId = 1)
    // fold to the steady state FIRST: a standing tail spans the whole
    // z-domain, so merging over one folds everything (the documented
    // combined fold+merge); locality is the COMPACTED-table property,
    // which is the state the trigger policy maintains
    assert(Zorder.compactTail(spark, dir))
    val before = dataFiles(dir)
    // a NARROW change batch: only user 1's rows (clustering values
    // immutable per key — the documented contract), so only the files
    // whose z-interval holds user 1 can be touched
    val updKeys = col("user_id") === 1 && col("event_id") % 2 === 0
    val delKeys = col("user_id") === 1 && col("event_id") % 2 === 1
    val upd = e.filter(updKeys)
      .withColumn("value", col("value") + 100.0)
    val ins = e.filter(updKeys)
      .withColumn("event_id", col("event_id") + 100000000L)
    assert(upd.count() > 0 && e.filter(delKeys).count() > 0,
      "fixture must have user-1 rows on both key parities")
    val changes = upd.withColumn("__del", lit(false))
      .unionByName(e.filter(delKeys).withColumn("__del", lit(true)))
      .unionByName(ins.withColumn("__del", lit(false)))
    Zorder.mergeClustered(spark, dir, changes, Seq("event_id"),
      deleteCol = Some("__del"))
    val expected = e.filter(!updKeys && !delKeys)
      .unionByName(upd).unionByName(ins)
    val got = Zorder.readClustered(spark, dir)
    assert(got.count() == expected.count())
    assert(fp(got.select(cols.map(col): _*)) ==
      fp(expected.select(cols.map(col): _*)),
      "merged rows must equal the set-algebra merge exactly")
    assert(disjoint(zRanges(dir)), "merge output must stay clustered")
    val after = dataFiles(dir)
    val untouched = before & after
    assert(untouched.size >= 4,
      s"a narrow merge must leave most of the 8-file grid untouched, " +
        s"survivors: ${untouched.size}")
    // a merge over a STANDING tail folds it in as a side effect (any
    // tail file could hold a touched key): no b-files survive, rows
    // stay exact
    val b2 = e.filter(col("event_id") % 11 === 3)
      .withColumn("event_id", col("event_id") + 200000000L)
    val preTailCnt = Zorder.readClustered(spark, dir).count()
    val k1 = e.agg(max(col("event_id"))).collect()(0).getLong(0)
    val k1Present = Zorder.readClustered(spark, dir)
      .filter(col("event_id") === k1).count() > 0
    assert(Zorder.appendClustered(b2, dir, batchId = 2))
    Zorder.mergeClustered(spark, dir,
      e.filter(col("event_id") === k1).withColumn("value", lit(7.5)),
      Seq("event_id"))
    assert(!dataFiles(dir).exists(_.matches("b\\d+-.*")),
      "a merge over a standing tail folds it in")
    assert(Zorder.readClustered(spark, dir).count() ==
      preTailCnt + b2.count() + (if (k1Present) 0 else 1))

    // duplicate keys refuse without a versionCol; with one, the
    // highest version wins (last-write survivor rule)
    val k0 = e.agg(min(col("event_id"))).collect()(0).getLong(0)
    val oneKey = e.filter(col("event_id") === k0)
    val dupErr = intercept[IllegalArgumentException](
      Zorder.mergeClustered(spark, dir,
        oneKey.unionByName(oneKey), Seq("event_id")))
    assert(dupErr.getMessage.contains("duplicate"), dupErr.getMessage)
    Zorder.mergeClustered(spark, dir,
      oneKey.withColumn("value", lit(111.0)).withColumn("__v", lit(1L))
        .unionByName(oneKey.withColumn("value", lit(222.0))
          .withColumn("__v", lit(2L))),
      Seq("event_id"), versionCol = Some("__v"))
    val vRows = Zorder.readClustered(spark, dir)
      .filter(col("event_id") === k0).select(col("value")).collect()
    assert(vRows.map(_.getDouble(0)).toSeq == Seq(222.0),
      s"last-write must win, got ${vRows.mkString(",")}")
    // a narrower/retyped batch refuses on the schema gate
    val schemaErr = intercept[IllegalArgumentException](
      Zorder.mergeClustered(spark, dir, oneKey.drop("props"),
        Seq("event_id")))
    assert(schemaErr.getMessage.contains("schema"), schemaErr.getMessage)

    // a merge that deletes EVERY row still publishes a READABLE
    // zero-row generation (a dynamic-partition write emits no file
    // for zero rows; the restage arm writes one schema-bearing file)
    val dir3 = Files.createTempDirectory("graft_zorder_mrgd_").toString
    Zorder.writeHilbert(e.filter(col("user_id") === 1), dir3,
      Seq("user_id", "ts"), bits = 8, numFiles = 2)
    Zorder.mergeClustered(spark, dir3,
      e.filter(col("user_id") === 1).withColumn("__del", lit(true)),
      Seq("event_id"), deleteCol = Some("__del"))
    val emptied = Zorder.readClustered(spark, dir3)
    assert(emptied.count() == 0, "a full delete means zero rows")
    assert(emptied.columns.toSet == e.columns.toSet,
      "the emptied generation must keep its schema readable")

    // crash at the record commit: the merge is committed — recovery
    // (via any tail-protocol entry) completes it into the same state
    val dir2 = Files.createTempDirectory("graft_zorder_mrgc_").toString
    Zorder.writeHilbert(e.filter(col("event_id") % 7 =!= 0), dir2,
      Seq("user_id", "ts"), bits = 16, numFiles = 8)
    Zorder.appendClustered(e.filter(col("event_id") % 7 === 0), dir2,
      batchId = 1)
    case class Crash() extends RuntimeException("simulated crash")
    Zorder.onProtocolStep = l => if (l == "tail-sentinel") throw Crash()
    try intercept[Crash](Zorder.mergeClustered(spark, dir2, changes,
      Seq("event_id"), deleteCol = Some("__del")))
    finally Zorder.onProtocolStep = _ => ()
    assert(!Zorder.compactTail(spark, dir2),
      "recovery leaves no tail (the crashed merge had folded it)")
    val recovered = Zorder.readClustered(spark, dir2)
    assert(recovered.count() == expected.count())
    assert(fp(recovered.select(cols.map(col): _*)) ==
      fp(expected.select(cols.map(col): _*)),
      "a recovered crashed merge must equal the uncrashed merge")
  }

  test("schema widening is a metadata migration: NULL backfill, gate flips, folds keep the column") {
    // migrateSchemaWiden adds columns by writing TWO markers (the
    // versioned DDL read-schema + the append gate) and zero data
    // files: pre-migration files backfill the new column with NULL at
    // read time via the declared schema; post-migration appends must
    // carry it (the gate refuses old-schema batches — migration IS
    // the producer flip); compaction folds mixed pre/post files into
    // a physically-unified layout.
    import org.apache.spark.sql.types.{StructType, StructField,
      StringType, LongType}
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_mig_").toString
    val old = e.filter(col("event_id") % 3 =!= 0)
    val nw = e.filter(col("event_id") % 3 === 0)
    Zorder.writeHilbert(old, dir, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    Zorder.migrateSchemaWiden(spark, dir,
      StructType(Seq(StructField("tag", StringType))))
    // metadata-only: the declared column reads NULL from every
    // pre-migration file, rows and clustering untouched
    val widened = Zorder.readClustered(spark, dir)
    assert(widened.columns.contains("tag"))
    assert(widened.count() == old.count())
    assert(widened.filter(col("tag").isNotNull).count() == 0,
      "pre-migration rows must backfill NULL")
    // the gate flips: widened batches land, old-schema batches refuse
    assert(Zorder.appendClustered(nw.withColumn("tag", lit("b1")), dir,
      batchId = 1))
    val gateErr = intercept[IllegalArgumentException](
      Zorder.appendClustered(nw, dir, batchId = 2))
    assert(gateErr.getMessage.contains("schema"), gateErr.getMessage)
    val mixed = Zorder.readClustered(spark, dir)
    assert(mixed.count() == e.count())
    assert(mixed.filter(col("tag") === "b1").count() == nw.count(),
      "widened batch rows must carry their column through the read")
    // the box read serves the declared schema too
    val boxed = Zorder.readClustered(spark, dir,
      Seq(("user_id", 0: Any, Long.MaxValue: Any)))
    assert(boxed.columns.contains("tag"))
    assert(boxed.count() == e.count())
    // a fold over MIXED pre/post files unifies physically (mergeSchema
    // inputs): rows exact, tag values survive, layout stays clustered
    assert(Zorder.compactTail(spark, dir))
    val folded = Zorder.readClustered(spark, dir)
    assert(folded.count() == e.count())
    assert(folded.filter(col("tag") === "b1").count() == nw.count(),
      "the fold must not drop the widened column's values")
    assert(disjoint(zRanges(dir)), "fold after widening stays clustered")
    // replay heals (same name, same type — the crash-window arm);
    // retype and partial-replay refuse loudly
    Zorder.migrateSchemaWiden(spark, dir,
      StructType(Seq(StructField("tag", StringType))))
    assert(Zorder.readClustered(spark, dir).count() == e.count())
    val retype = intercept[IllegalArgumentException](
      Zorder.migrateSchemaWiden(spark, dir,
        StructType(Seq(StructField("tag", LongType)))))
    assert(retype.getMessage.contains("DIFFERENT"), retype.getMessage)
    val partial = intercept[IllegalArgumentException](
      Zorder.migrateSchemaWiden(spark, dir, StructType(Seq(
        StructField("tag", StringType), StructField("tag2", StringType)))))
    assert(partial.getMessage.contains("partial"), partial.getMessage)
    // second widening stacks on the first (repeat migrations read the
    // standing DDL marker, not the footers)
    Zorder.migrateSchemaWiden(spark, dir,
      StructType(Seq(StructField("score", LongType))))
    val twice = Zorder.readClustered(spark, dir)
    assert(twice.columns.contains("tag") && twice.columns.contains("score"))
    assert(twice.filter(col("score").isNotNull).count() == 0)
    // a REBUILD sheds the declared schema with every other marker
    Zorder.writeHilbert(old, dir, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    assert(!Zorder.readClustered(spark, dir).columns.contains("tag"),
      "a rebuild must not inherit the old declared schema")
  }

  test("a crashed retention fold keeps its grace: recovery retires, never deletes") {
    // the commit record carries the crashed call's retainMs, so the
    // grace window is crash-proof: recovery retires the fold victims
    // under the SAME grace the live path would have given them.
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_gcr_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    val base = e.filter(col("event_id") % 4 =!= 0)
    val b1 = e.filter(col("event_id") % 4 === 0)
    Zorder.writeHilbert(base, dir, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    assert(Zorder.appendClustered(b1, dir, batchId = 1))
    val preEpoch = Zorder.currentEpoch(spark, dir).get
    val oldGen = Zorder.currentManifest(spark, fs, root).get._2
      .map(n => new org.apache.hadoop.fs.Path(root, n).toString)
    val preCount = rawLayout(oldGen: _*).count()
    assert(preCount == e.count())
    // crash the REAL code path right after the record commit: the
    // widest recovery window (publish + manifest flip + sweep all
    // happen in recovery, where the grace used to be lost)
    val hour = 3600L * 1000
    case class Crash() extends RuntimeException("simulated crash")
    Zorder.onProtocolStep = l => if (l == "tail-sentinel") throw Crash()
    try intercept[Crash](Zorder.compactTail(spark, dir, retainMs = hour))
    finally Zorder.onProtocolStep = _ => ()
    // the record must carry the caller's grace
    val rec = Zorder.readCommit(spark, root)
    assert(rec.exists(_.retainMs == hour),
      s"the commit record must record retainMs, got $rec")
    // recovery (via a fresh compact, itself WITHOUT grace — the
    // record's recorded retainMs governs) retires the victims
    assert(!Zorder.compactTail(spark, dir),
      "after recovery there is no tail left to fold")
    val retired = Zorder.readRetired(spark, dir)
    assert(retired.nonEmpty,
      "recovery of the record must RETIRE the fold victims")
    retired.keys.foreach(n => assert(
      fs.exists(new org.apache.hadoop.fs.Path(root, n)),
      s"retired victim $n must survive on disk through the grace"))
    // grace holds: the pre-fold generation stays readable, by explicit
    // paths and by epoch pin; the live read is exact (no duplication)
    assert(rawLayout(oldGen: _*).count() == preCount,
      "the crashed fold's grace must survive recovery")
    assert(Zorder.readClustered(spark, dir, asOfEpoch = preEpoch)
      .count() == preCount,
      "an epoch-pinned read must reach the pre-crash generation")
    assert(Zorder.readClustered(spark, dir).count() == e.count())
    // and the grace ends the normal way: vacuum past it deletes the
    // retired set exactly, leaving directory == manifest
    assert(Zorder.vacuumClustered(spark, dir, olderThanMs = hour) == 0)
    assert(Zorder.vacuumClustered(spark, dir, olderThanMs = 0L) ==
      retired.size)
    assert(rawLayout(dir).count() == e.count())
  }

  /** (bases, deltas) of the manifest family at `dir`, by file name. */
  private def familyCounts(dir: String): (Int, Int) = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith("_graft_manifest") && !n.contains(".tmp."))
    (names.count(_.startsWith("_graft_manifest.")),
      names.count(_.startsWith("_graft_manifestd.")))
  }

  test("manifest commits are DELTAS ∝ batch; the chain rebases and whole-compact re-bases") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_delta_").toString
    Zorder.writeHilbert(e.filter(col("event_id") % 11 === 0), dir,
      Seq("user_id", "value"), bits = 8, numFiles = 4)
    assert(familyCounts(dir) == ((1, 0)),
      "bootstrap must stamp exactly one BASE manifest, no deltas")
    // appends commit deltas (serialization ∝ batch, the r15 full-list
    // residual) until the rebase trigger folds the chain into a fresh
    // base whose stamp GCs the superseded files (no grace here)
    var sawDelta = false
    var sawRebase = false
    var id = 1L
    while (id <= 10 && !sawRebase) {
      assert(Zorder.appendClustered(
        e.filter(col("event_id") % 11 === id), dir, batchId = id))
      val (b, d) = familyCounts(dir)
      assert(b == 1, s"exactly one base must stand after append $id, got $b")
      if (d > 0) sawDelta = true
      if (d == 0) sawRebase = true
      id += 1
    }
    assert(sawDelta, "appends must commit manifest DELTAS, not full lists")
    assert(sawRebase,
      "the delta chain must REBASE once its lines cross the trigger " +
        "(and the rebase must GC the superseded chain — no grace here)")
    // a replayed append must not burn an epoch (no-op commit)
    val famBefore = familyCounts(dir)
    assert(!Zorder.appendClustered(
      e.filter(col("event_id") % 11 === 1), dir, batchId = 1))
    assert(familyCounts(dir) == famBefore,
      "an at-least-once replay must not write a new manifest commit")
    // rows stay exact through the mixed base/delta chain: slices
    // 0..id-1 of the %11 split landed, each exactly once
    val want = fp(e.filter(col("event_id") % 11 < lit(id))
      .select(e.columns.map(col): _*))
    val got = fp(Zorder.readClustered(spark, dir)
      .select(e.columns.map(col): _*))
    assert(got == want,
      "delta-chain reads must hold exactly the appended union")
    // whole-compact is a natural rebase: one base, zero deltas
    Zorder.compactClustered(spark, dir)
    assert(familyCounts(dir) == ((1, 0)),
      "whole-compact must leave exactly one base manifest")
  }

  test("manifest stats prune the file list; box reads stay row-exact") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_stats_").toString
    Zorder.writeZordered(e, dir, Seq("user_id", "ts"), bits = 12,
      numFiles = 16)
    val lo = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-14 23:59:59")
    val box = Seq(("user_id", 2: Any, 8: Any), ("ts", lo: Any, hi: Any))
    val pred = col("user_id").between(2, 8) &&
      col("ts") >= lit(lo) && col("ts") <= lit(hi)
    val (kept, all) = Zorder.pruneFiles(spark, dir, box)
    assert(all.length == 16, s"expected the 16-file grid, got ${all.length}")
    assert(kept.nonEmpty && kept.length < all.length,
      s"the box must prune files at the MANIFEST level " +
        s"(kept ${kept.length} of ${all.length})")
    val want = fp(Zorder.readClustered(spark, dir).filter(pred))
    assert(fp(Zorder.readClustered(spark, dir, box).filter(pred)) == want,
      "box read + residual predicate must equal the unpruned read")
    // conservative arms: a column without stats prunes nothing; an
    // out-of-domain box reads empty with the layout's schema
    assert(Zorder.pruneFiles(spark, dir,
      Seq(("event_type", "a": Any, "zzzz": Any)))._1.length == all.length,
      "a non-clustered column has no stats — no pruning")
    val none = Zorder.readClustered(spark, dir,
      Seq(("user_id", 1000000: Any, 2000000: Any)))
    assert(none.count() == 0 && none.columns.toSet == e.columns.toSet,
      "an out-of-domain box reads empty with the layout's schema")
    // stats survive the append (delta) and fold (replacement) commits
    Zorder.appendClustered(e.limit(500), dir, batchId = 1)
    assert(Zorder.compactTail(spark, dir))
    val want2 = fp(Zorder.readClustered(spark, dir).filter(pred))
    assert(fp(Zorder.readClustered(spark, dir, box).filter(pred)) == want2,
      "box read must stay exact through append + tail fold")
    val (kept2, all2) = Zorder.pruneFiles(spark, dir, box)
    assert(kept2.length < all2.length,
      "replacement files must carry stats (fold commits re-stat)")
    // kind-s string boundaries: stats prune a string-equality box too
    val sdir = Files.createTempDirectory("graft_zorder_sstats_").toString
    Zorder.writeHilbertByRank(e, sdir, Seq("user_id", "event_type"),
      bits = 4, numFiles = 16)
    val sbox = Seq(("event_type", "click": Any, "click": Any))
    val (skept, sall) = Zorder.pruneFiles(spark, sdir, sbox)
    assert(skept.nonEmpty && skept.length < sall.length,
      s"string stats must prune the equality box " +
        s"(kept ${skept.length} of ${sall.length})")
    val spred = col("event_type") === "click"
    assert(fp(Zorder.readClustered(spark, sdir, sbox).filter(spred)) ==
      fp(Zorder.readClustered(spark, sdir).filter(spred)),
      "string box read must stay row-exact")
    // DATE stats: epoch-day spelling agrees between footer and bound
    val ddir = Files.createTempDirectory("graft_zorder_dstats_").toString
    val ed = e.withColumn("d", to_date(col("ts")))
    Zorder.writeHilbert(ed, ddir, Seq("user_id", "d"), bits = 8,
      numFiles = 16)
    val dbox = Seq(("d", java.sql.Date.valueOf("2024-01-10"): Any,
      java.sql.Date.valueOf("2024-01-14"): Any))
    val dpred = col("d").between(lit("2024-01-10"), lit("2024-01-14"))
    val (dkept, dall) = Zorder.pruneFiles(spark, ddir, dbox)
    assert(dkept.nonEmpty && dkept.length < dall.length,
      s"date stats must prune (kept ${dkept.length} of ${dall.length})")
    assert(fp(Zorder.readClustered(spark, ddir, dbox).filter(dpred)) ==
      fp(Zorder.readClustered(spark, ddir).filter(dpred)),
      "date box read must stay row-exact")
  }

  test("epoch-pinned reads serve the retained generation; vacuum cuts them off loudly") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_pin_").toString
    val base = e.filter(col("event_id") % 3 === 0)
    val b1 = e.filter(col("event_id") % 3 === 1)
    val b2 = e.filter(col("event_id") % 3 === 2)
    val hour = 3600L * 1000
    Zorder.writeHilbert(base, dir, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    assert(Zorder.currentEpoch(spark, dir).contains(0L))
    assert(Zorder.appendClustered(b1, dir, batchId = 1))
    val pin = Zorder.currentEpoch(spark, dir).get
    assert(pin == 1L, s"append must commit epoch 1, got $pin")
    val cols = base.columns.toSeq
    def k(df: org.apache.spark.sql.DataFrame) = fp(df.select(cols.map(col): _*))
    val kPin = k(base.unionByName(b1))
    // retention fold + another append: the pinned epoch keeps serving
    // the PRE-fold generation (its files are retired, not deleted)
    assert(Zorder.compactTail(spark, dir, retainMs = hour))
    assert(Zorder.appendClustered(b2, dir, batchId = 2))
    assert(k(Zorder.readClustered(spark, dir, asOfEpoch = pin)) == kPin,
      "the pinned epoch must serve the pre-fold generation mid-grace")
    assert(k(Zorder.readClustered(spark, dir)) == k(e),
      "the current read must serve the post-fold generation")
    // an unexpired vacuum changes nothing for the pinned reader
    assert(Zorder.vacuumClustered(spark, dir, olderThanMs = hour) == 0)
    assert(k(Zorder.readClustered(spark, dir, asOfEpoch = pin)) == kPin)
    // a FUTURE epoch refuses loudly
    val exF = intercept[IllegalArgumentException](
      Zorder.readClustered(spark, dir, asOfEpoch = 999L))
    assert(exF.getMessage.contains("future"), exF.getMessage)
    // expired grace: vacuum reclaims the files AND cuts the manifest
    // history with a fresh base — the pinned epoch now refuses at
    // RESOLVE time, never silently serving a different generation
    assert(Zorder.vacuumClustered(spark, dir, olderThanMs = 0L) > 0)
    val exV = intercept[Exception](
      Zorder.readClustered(spark, dir, asOfEpoch = pin).count())
    assert(exV.getMessage.contains("predates the oldest retained base"),
      s"a vacuumed pin must refuse at resolve time, got: ${exV.getMessage}")
    assert(k(Zorder.readClustered(spark, dir)) == k(e),
      "the current read must survive the history cut")
  }

  test("a layout mixing files with and without the curve column reads through a deletion vector") {
    // a bootstrap rewritten without the materialized curve column (the
    // pre-curve-column file vintage), one batch appended with it, and
    // a delete whose keys live only in that batch: the read splits into
    // a clean branch (no curve column) and a tombstoned branch (with
    // it), which must union by name without the column
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_mixz_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = e.filter(col("user_id") >= 5)
    val batch = e.filter(col("user_id") < 5)
    Zorder.writeHilbert(base, dir, Seq("user_id", "value"), bits = 8,
      numFiles = 4)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => !st.isDirectory &&
        !graft.operators.Layout.isHidden(st.getPath.getName))
      .foreach { st =>
        val tmp = Files.createTempDirectory("graft_zorder_mixz_f_").toString
        spark.read.parquet(st.getPath.toString).drop(Zorder.zColName)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .filter(_.getPath.getName.startsWith("part-")).head.getPath
        assert(fs.delete(st.getPath, false) && fs.rename(part, st.getPath))
      }
    assert(Zorder.appendClustered(batch, dir, batchId = 1))
    val gone = batch.filter(col("event_id") % 2 === 0)
    assert(Zorder.deleteClustered(spark, dir,
      gone.select("event_id", "user_id", "value"), Seq("event_id")) ==
      gone.count())
    val back = Zorder.readClustered(spark, dir)
    assert(!back.columns.contains(Zorder.zColName))
    val expect = base.unionByName(batch.filter(col("event_id") % 2 =!= 0))
    assert(fp(back.select(e.columns.map(col): _*)) == fp(expect),
      "the mixed layout must read exactly its live rows")
  }

  test("generation manifests carry no curve-column stats") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_mstat_").toString
    Zorder.writeHilbert(e.filter(col("user_id") >= 5), dir,
      Seq("user_id", "value"), bits = 8, numFiles = 4)
    assert(Zorder.appendClustered(e.filter(col("user_id") < 5), dir,
      batchId = 1))
    val manifests = new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.startsWith("_graft_manifest"))
    assert(manifests.nonEmpty)
    manifests.foreach { f =>
      val body = new String(Files.readAllBytes(f.toPath), "UTF-8")
      assert(body.contains("user_id"), s"${f.getName} lists no stats")
      assert(!body.contains(Zorder.zColName),
        s"${f.getName} leaks ${Zorder.zColName} stats into a manifest")
    }
  }

  test("a fold refuses transform output carrying the reserved curve column") {
    val e = sources.Tables.load(spark, sfDir, "events")
    val dir = Files.createTempDirectory("graft_zorder_foldz_").toString
    Zorder.writeHilbert(e.filter(col("user_id") >= 5), dir,
      Seq("user_id", "value"), bits = 8, numFiles = 4)
    assert(Zorder.appendClustered(e.filter(col("user_id") < 5), dir,
      batchId = 1))
    val (fs, root, cl, retiredM, tails, mains) =
      Zorder.tailFoldPreamble(spark, dir, "test", 0L)
    val err = intercept[IllegalArgumentException](
      Zorder.foldAndPublish(spark, dir, fs, root, cl, 0L, retiredM, tails,
        mains, extraProbe = None,
        transform = _.get.withColumn("__GRAFT_Z", lit(1L))))
    assert(err.getMessage.contains(Zorder.zColName), err.getMessage)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, Zorder.commitFile)),
      "the gate must refuse before the commit point")
    assert(Zorder.readClustered(spark, dir).count() == e.count())
  }
}
