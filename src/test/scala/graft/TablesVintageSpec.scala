package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** The events table has shipped in two generator vintages: parquet
  * TIMESTAMP(NANOS) (read as long nanos under
  * spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS)
  * isAdjustedToUTC=false (read as TIMESTAMP_NTZ). [[sources.Tables.load]]
  * must normalize BOTH to the session-zone TimestampType the query
  * surface was written against, with identical field values — pinned
  * here so a future vintage change fails one focused test instead of
  * five downstream suites.
  */
class TablesVintageSpec extends SparkSpec {

  test("long-nanos and NTZ-micros events vintages load identically") {
    val s = spark
    import s.implicits._

    // One instant with sub-microsecond detail: 2024-03-01 12:34:56.789012345
    // The nanos vintage must truncate (not round) to micros — the same
    // truncation DuckDB applies casting TIMESTAMP_NS down.
    val micros = 1709296496789012L
    val nanos  = micros * 1000L + 345L

    val nanosDir = Files.createTempDirectory("graft_vintage_nanos_").toString
    Seq((1L, nanos)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$nanosDir/events.parquet")

    val ntzDir = Files.createTempDirectory("graft_vintage_ntz_").toString
    Seq((1L, micros)).toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")
    // Precondition: the NTZ fixture really reads back as NTZ (otherwise
    // this test would not exercise the dispatch arm it claims to).
    assert(spark.read.parquet(s"$ntzDir/events.parquet")
      .schema("ts").dataType == TimestampNTZType)

    val fromNanos = sources.Tables.load(spark, nanosDir, "events")
    val fromNtz   = sources.Tables.load(spark, ntzDir, "events")

    assert(fromNanos.schema("ts").dataType == TimestampType)
    assert(fromNtz.schema("ts").dataType == TimestampType)

    val a = fromNanos.select(unix_micros(col("ts"))).as[Long].head()
    val b = fromNtz.select(unix_micros(col("ts"))).as[Long].head()
    assert(a == micros, s"nanos vintage must truncate to $micros, got $a")
    assert(b == micros, s"NTZ vintage must preserve $micros, got $b")
  }

  test("the schema cache follows the session's nanosAsLong conf") {
    // a real parquet TIMESTAMP(NANOS) column: it infers as a long only
    // under spark.sql.legacy.parquet.nanosAsLong, and is an illegal
    // type otherwise — a schema cached under one setting must not be
    // served under the other
    val nanos = 1709296496789012345L
    val dir = Files.createTempDirectory("graft_vintage_conf_").toString
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(
      schema).newGroup().append("event_id", 1L).append("ts", nanos))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      val asLong = sources.Tables.load(spark, dir, "events")
      assert(asLong.schema("ts").dataType == TimestampType)
      val s = spark
      import s.implicits._
      assert(asLong.select(unix_micros(col("ts"))).as[Long].head() ==
        nanos / 1000)
      spark.conf.set(key, "false")
      intercept[org.apache.spark.sql.AnalysisException](
        sources.Tables.load(spark, dir, "events"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
