package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.Zorder

/** Crash sweep over the clustered-layout commit protocol: every
  * file-system mutation a rewrite verb makes is a crash point. For each
  * verb, on a tiny layout that carries deletion vectors and a standing
  * retention grace, the sweep fails the k-th mutating call ([[FaultFs]])
  * for every k the verb reaches, then asserts:
  *   - a reader sees exactly the old row multiset or exactly the new
  *     one, never a mixture;
  *   - re-running the verb once ends at the new multiset (a committed
  *     crash rolls forward, an uncommitted one is discarded and redone);
  *   - no staging dir or commit record is left behind;
  *   - the layout-internal curve column never reaches a reader.
  * The expected multisets come from an in-memory model of each verb, so
  * the clean run is checked too. */
class CrashSweepSpec extends SparkSpec {

  private type Rows = Seq[(Long, Long, Long, String)]
  private val hour = 3600L * 1000

  private def rowsOf(lo: Long, hi: Long, tag: String): Rows =
    (lo until hi).map(i => (i, (i * 37) % 64, (i * 11) % 64, s"$tag$i"))

  private def frame(rows: Rows): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "x", "y", "v").repartition(1)
  }

  private def multiset(df: DataFrame): Seq[String] =
    df.select("id", "x", "y", "v").collect().toSeq.map(_.mkString("|")).sorted

  private def model(rows: Rows): Seq[String] =
    rows.map(r => Row(r._1, r._2, r._3, r._4).mkString("|")).sorted

  /** Names the protocol leaves only while a commit is in flight: hidden
    * staging dirs (every hidden dir but the batch ledger and the append
    * protocol's emptied staging root) and commit records with their
    * atomic-write temps. */
  private def debris(dir: JPath): Seq[String] =
    Files.list(dir).toArray.toSeq.map(_.asInstanceOf[JPath]).filter { p =>
      val n = p.getFileName.toString
      def nonEmpty = Files.list(p).findAny().isPresent
      n.startsWith("_") && (
        (Files.isDirectory(p) && n != "_graft_batches" &&
          (n != "_graft_staging" || nonEmpty)) ||
          n.startsWith("_graft_commit") || n.contains("compacting") ||
          n.contains("committing"))
    }.map(_.getFileName.toString)

  private def copyTree(src: JPath, dst: JPath): Unit =
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }

  private def uri(p: JPath): String = s"${FaultFs.scheme}://${p.toAbsolutePath}"

  /** The shared starting layout: bootstrap, one batch folded under a
    * retention grace (a standing retire ledger), a second batch left as
    * a tail, and a deletion vector over both. Returns its rows. */
  private def seed(dir: JPath): Rows = {
    val path = uri(dir)
    Zorder.writeHilbert(frame(rowsOf(0, 120, "r")), path, Seq("x", "y"),
      bits = 6, numFiles = 4)
    assert(Zorder.appendClustered(frame(rowsOf(120, 150, "a")), path,
      batchId = 1, batchFiles = 2))
    assert(Zorder.compactTail(spark, path, retainMs = hour))
    assert(Zorder.appendClustered(frame(rowsOf(150, 180, "b")), path,
      batchId = 2, batchFiles = 2))
    val rows = rowsOf(0, 120, "r") ++ rowsOf(120, 150, "a") ++
      rowsOf(150, 180, "b")
    val dead = rows.filter(_._1 % 10 == 3)
    assert(Zorder.deleteClustered(spark, path,
      frame(dead).select("id", "x", "y"), Seq("id")) == dead.size)
    assert(Zorder.readRetired(spark, path).nonEmpty,
      "the seed layout must carry a retention grace")
    rows.filterNot(_._1 % 10 == 3)
  }

  /** Changes for the two merge verbs: updates, deletes and inserts. */
  private def changeRows(live: Rows): (DataFrame, Rows) = {
    val upd = live.filter(_._1 % 7 == 0).map(r => r.copy(_4 = s"u${r._1}"))
    val del = live.filter(r => r._1 % 11 == 1 && r._1 % 7 != 0)
    val ins = rowsOf(500, 506, "n")
    val df = frame(upd ++ ins).withColumn("del", lit(false))
      .unionByName(frame(del).withColumn("del", lit(true)))
    val keep = live.filterNot(r => r._1 % 7 == 0 || r._1 % 11 == 1)
    (df, keep ++ upd ++ ins)
  }

  /** Each verb as (name, run over a layout holding `live`, model of the
    * rows it leaves). */
  private def verbs(live: Rows): Seq[(String, String => Unit, Rows)] = {
    val (changes, merged) = changeRows(live)
    Seq(
      ("compactClustered",
        p => Zorder.compactClustered(spark, p, retainMs = hour), live),
      ("compactTail",
        p => { Zorder.compactTail(spark, p, retainMs = hour); () }, live),
      ("mergeClustered",
        p => Zorder.mergeClustered(spark, p, changes, Seq("id"),
          deleteCol = Some("del"), retainMs = hour), merged),
      ("mergeOnRead",
        p => { Zorder.mergeOnRead(spark, p, changes, Seq("id"), batchId = 9,
          deleteCol = Some("del"), batchFiles = 2); () }, merged),
      ("deleteClustered",
        p => { Zorder.deleteClustered(spark, p,
          frame(live.filter(_._1 % 4 == 0)).select("id", "x", "y"),
          Seq("id")); () },
        live.filterNot(_._1 % 4 == 0)))
  }

  private def read(p: String): DataFrame = {
    val df = Zorder.readClustered(spark, p)
    assert(!df.columns.exists(_.equalsIgnoreCase(Zorder.zColName)),
      s"${Zorder.zColName} reached a reader: ${df.columns.mkString(",")}")
    df
  }

  private def clearLease(dir: JPath): Unit =
    // a crashed holder's lease would expire by TTL; the sweep does not
    // wait it out
    Files.deleteIfExists(dir.resolve("_graft_lease"))

  test("every mutating call of every clustered rewrite verb is a safe crash point") {
    FaultFs.register(spark.sparkContext.hadoopConfiguration)
    val work = Files.createTempDirectory("graft_crash_sweep_")
    val seedDir = work.resolve("seed")
    val live = seed(seedDir)
    assert(multiset(read(uri(seedDir))) == model(live),
      "the seed layout must read back its model rows")
    val t0 = System.nanoTime()
    // every finding is collected, so one run reports them all
    val found = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: => String): Unit = if (!ok) found += what
    val report = verbs(live).map { case (name, run, after) =>
      val oldRows = model(live)
      val newRows = model(after)
      var k = 1L
      var reached = true
      while (reached) {
        val dir = work.resolve(s"${name}_$k")
        copyTree(seedDir, dir)
        val p = uri(dir)
        FaultFs.armAt(k)
        val outcome = try { run(p); None }
          catch { case scala.util.control.NonFatal(e) => Some(e) }
        reached = FaultFs.disarm()
        clearLease(dir)
        try {
          if (reached) {
            val seen = multiset(read(p))
            check(seen == oldRows || seen == newRows,
              s"$name: crash at mutating call $k (${outcome.map(_.getMessage)
                .getOrElse("swallowed")}) left a reader on a mixed state")
            run(p)
          } else check(outcome.isEmpty,
            s"$name: the unfaulted run failed: $outcome")
          check(multiset(read(p)) == newRows,
            s"$name: crash at mutating call $k, then one re-run, did not " +
              "end at the new row multiset")
          check(debris(dir).isEmpty,
            s"$name: crash at mutating call $k left ${debris(dir).mkString(", ")}")
        } catch {
          case scala.util.control.NonFatal(e) =>
            found += s"$name: crash at mutating call $k, then: $e"
        }
        org.apache.hadoop.fs.FileUtil.fullyDelete(dir.toFile)
        k += 1
      }
      name -> (k - 2)
    }
    info(s"crash points per verb: ${report.map { case (n, c) => s"$n=$c" }
      .mkString(", ")}; ${(System.nanoTime() - t0) / 1000000} ms")
    org.apache.hadoop.fs.FileUtil.fullyDelete(work.toFile)
    assert(found.isEmpty, found.mkString("\n"))
  }
}
