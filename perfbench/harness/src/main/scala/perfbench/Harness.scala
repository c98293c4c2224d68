package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop benchmark client for the graft engine.
  *
  * One client runs the given queries one after another in this JVM,
  * pass after pass; a pass builds every query through `QueryDef.fn` and
  * consumes it:
  *   1. warm-up: a check pass that writes each result as parquet under
  *      `--out` for the runner to digest, then [[WarmupPasses]] passes
  *      through the `noop` sink;
  *   2. timed passes through the `noop` sink until `--seconds` of them
  *      have run (at least one).
  *
  * Every job, stage and task is recorded by [[Recorder]]; with
  * `--trace 1` each query also gets a span with synchronous counter
  * snapshots and its SQL executions are walked. Everything is written
  * as one JSON document to `--result` after the session has stopped
  * (the stop drains the listener bus, so no event is lost).
  *
  * Usage: perfbench.Harness --sf DIR --queries q1,q2,... --seconds N
  *          --trace 0|1 --out DIR --result FILE
  */
object Harness {

  /** Untimed noop passes after the check pass. The JIT keeps speeding
    * passes up for several passes after a cold start, but a run's time
    * (a cold JVM's first pass alone takes ~20 s) leaves room for only
    * two untimed passes in all. */
  val WarmupPasses = 1

  /** The same consume as the engine's own bench: full materialisation
    * through the noop sink, so every operator executes. */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val sf = need("sf")
    val names = need("queries").split(",").toSeq.filter(_.nonEmpty)
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val outDir = need("out")
    val byName = graft.SparkEntry.all.map(q => q.name -> q).toMap
    val defs = names.map(n => byName.getOrElse(n, sys.error(s"unknown query $n")))

    Heap.install()
    val builder = graft.Session.builder("perfbench")
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = builder.getOrCreate()
    val sessionEpoch = epochSeconds()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    if (trace) {
      spark.listenerManager.register(rec.execListener)
      Counters.installFallbackCounter()
    }

    val spans = ArrayBuffer.empty[Map[String, Any]]
    val errors = ArrayBuffer.empty[Map[String, Any]]
    val checked = ArrayBuffer.empty[String]

    /** One query of one pass; returns its wall seconds or None on error. */
    def runQuery(pass: Int, q: graft.QueryDef)(sink: DataFrame => Unit): Option[Double] = {
      sc.setLocalProperty(Recorder.TagKey, s"$pass/${q.name}")
      sc.setLocalProperty(Recorder.PhaseKey, "build")
      val c0 = if (trace) Counters.snapshot() else null
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      var c1: Array[Long] = null
      var analysisMs = 0L
      val ok = try {
        val df = q.fn(spark, sf)
        t1 = System.nanoTime()
        if (trace) {
          c1 = Counters.snapshot()
          // the returned DataFrame was analysed eagerly inside fn; its
          // consume re-analyses only the sink on top
          analysisMs = df.queryExecution.tracker.phases.get("analysis")
            .map(_.durationMs).getOrElse(0L)
        }
        sc.setLocalProperty(Recorder.PhaseKey, "exec")
        sink(df)
        true
      } catch {
        case NonFatal(e) =>
          errors += Map("pass" -> pass, "query" -> q.name,
            "error" -> String.valueOf(e.getMessage).take(300))
          false
      }
      val t2 = System.nanoTime()
      val ms2 = System.currentTimeMillis()
      sc.setLocalProperty(Recorder.TagKey, null)
      sc.setLocalProperty(Recorder.PhaseKey, null)
      if (trace) {
        val c2 = Counters.snapshot()
        if (c1 == null) c1 = c2
        spans += Map("pass" -> pass, "query" -> q.name, "start_ms" -> ms0,
          "end_ms" -> ms2, "build_s" -> (t1 - t0) / 1e9, "wall_s" -> (t2 - t0) / 1e9,
          "analysis_ms" -> analysisMs,
          "build_counters" -> Counters.names.zipWithIndex.map { case (n, i) =>
            n -> (c1(i) - c0(i)) }.toMap,
          "exec_counters" -> Counters.names.zipWithIndex.map { case (n, i) =>
            n -> (c2(i) - c1(i)) }.toMap)
      }
      if (ok) Some((t2 - t0) / 1e9) else None
    }

    // warm-up: first the check pass (each result written as parquet for
    // the runner to digest), then the untimed noop passes, so the
    // timed passes do not pay the JVM's cold start
    defs.foreach { q =>
      runQuery(-1, q)(_.write.mode("overwrite").parquet(s"$outDir/${q.name}"))
        .foreach(_ => checked += q.name)
    }
    for (_ <- 1 to WarmupPasses) defs.foreach(q => runQuery(0, q)(consume))

    val setupEndEpoch = epochSeconds()
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val loop0 = System.nanoTime()
    var pass = 1
    while (passes.isEmpty || (System.nanoTime() - loop0) / 1e9 < seconds) {
      val fs0 = Counters.fsBytes()
      val cpu0 = cpuBean.getProcessCpuTime
      val alloc0 = Heap.allocatedBytes
      val w0 = System.nanoTime()
      val times = defs.flatMap(q => runQuery(pass, q)(consume).map(q.name -> _))
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val alloc = Heap.allocatedBytes - alloc0
      val fs1 = Counters.fsBytes()
      passes += Map("pass" -> pass, "wall_s" -> wall, "cpu_s" -> cpu,
        "alloc_bytes" -> alloc, "fs_bytes_written" -> (fs1(1) - fs0(1)),
        "queries" -> times.toMap)
      pass += 1
    }

    val peakRssKb = procStatusKb("VmHWM")
    spark.stop()

    val doc = Map[String, Any](
      "session_epoch_s" -> sessionEpoch,
      "setup_end_epoch_s" -> setupEndEpoch,
      "checked" -> checked.toSeq,
      "errors" -> errors.toSeq,
      "passes" -> passes.toSeq,
      "peak_rss_kb" -> peakRssKb,
      "heap_peak_after_gc_bytes" -> Heap.peakAfterGcBytes,
      "cores" -> graft.Session.defaultParallelism,
      "spans" -> spans.toSeq) ++ rec.dump()
    Files.writeString(Paths.get(need("result")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(doc))
  }

  private def epochSeconds(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  private def procStatusKb(key: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}
