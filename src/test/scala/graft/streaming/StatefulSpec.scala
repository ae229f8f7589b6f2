package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}

class StatefulSpec extends SparkSpec {

  private lazy val raw = Tables.eventsRawSchema(Tables.eventsRawTsType(spark, sfDir))

  test("transformWithState running agg converges to the batch groupBy answer") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val got = Stateful.runningUserAggOverParquet(
      spark, s"$sfDir/events.parq*", raw,
      centsExpr = "cast(cast(value as decimal(18,4)) * 10000 as long)",
      name = "stateful_spec_sink")
    val want = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(cast(value as decimal(18,4)) * 10000 as long)")).as("cents"))
    assert(got.count() === want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("timer sessionization: exact ms boundary — timer fires when deadline == watermark") {
    // user 7's open session deadline lands EXACTLY on the final watermark
    // (all values ms-aligned by construction): deadline = 85s + 5s gap = 90s;
    // watermark = 100s − 10s delay = 90s. This pins Spark's non-strict
    // (deadline <= watermark) expiry, which the q156 oracle mirrors with `<=`.
    import spark.implicits._
    val dir = SparkSpec.scratchDir("timer_edge")
    Seq(
      (1L, 100_000_000L), // user 1: defines max event time = 100s
      (7L, 80_000_000L), (7L, 85_000_000L) // user 7: one session, ends 85s
    ).toDF("user_id", "ts_us")
      .select(col("user_id"), col("ts_us"), timestamp_micros(col("ts_us")).as("ts"))
      .write.mode("overwrite").parquet(dir)
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts_us", LongType),
      StructField("ts", TimestampType)))
    val out = Stateful.timerSessionsOverParquet(
      spark, s"$dir/*.parquet", schema, tsUsExpr = "ts_us",
      gapUs = 5_000_000L, delay = "10 seconds", name = "timer_edge_sink")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out.contains((7L, 80_000_000L, 85_000_000L, 2L)),
      s"boundary timer (deadline == watermark) must fire; got $out")
    // user 1's own session (deadline 105s > wm 90s) must stay open
    assert(!out.exists(_._1 == 1L), s"user 1 session must stay open: $out")
  }

  test("a late within-watermark event in a LATER batch lowers the restored session's start") {
    // two micro-batches (maxFilesPerTrigger=1): batch A opens user 1's
    // session at t=100s; batch B delivers a LATE event t=95s (watermark
    // after A is 80s, so it is admitted) that merges INTO the restored
    // session — session_start must become 95s, the math.min rule the
    // batch sessionizer applies (without it the start stays 100s)
    import spark.implicits._
    val dir = SparkSpec.scratchDir("timer_late")
    def writeFile(sub: String, rows: Seq[(Long, Long)], mtime: Long): Unit = {
      val p = s"$dir/$sub"
      rows.toDF("user_id", "ts_us")
        .select(col("user_id"), col("ts_us"), timestamp_micros(col("ts_us")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(p)
      // file-source batch order follows modification time: pin it
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(mtime))
    }
    writeFile("a", Seq((1L, 100_000_000L)), mtime = 1000000L)
    writeFile("b", Seq((1L, 95_000_000L), (2L, 200_000_000L)), mtime = 2000000L)
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts_us", LongType),
      StructField("ts", TimestampType)))
    val out = Stateful.timerSessionsOverParquet(
      spark, s"$dir/*/*.parquet", schema, tsUsExpr = "ts_us",
      gapUs = 10_000_000L, delay = "20 seconds", name = "timer_late_sink",
      maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // final watermark = 200s − 20s = 180s > deadline 110s → session closed
    assert(out.contains((1L, 95_000_000L, 100_000_000L, 2L)),
      s"late event must LOWER session start to 95s; got $out")
    assert(!out.exists(_._1 == 2L), s"user 2 session must stay open: $out")
  }

  test("state is cumulative across batches: a second drain of the same files is a no-op") {
    // AvailableNow + checkpoint-free memory sink: the helper builds a fresh
    // query each call, so this just re-derives the same converged answer —
    // determinism guard for the processor itself
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val a = Stateful.runningUserAggOverParquet(
      spark, s"$sfDir/events.parq*", raw,
      centsExpr = "cast(cast(value as decimal(18,4)) * 10000 as long)",
      name = "stateful_spec_sink_a").collect().toSet
    val b = Stateful.runningUserAggOverParquet(
      spark, s"$sfDir/events.parq*", raw,
      centsExpr = "cast(cast(value as decimal(18,4)) * 10000 as long)",
      name = "stateful_spec_sink_b").collect().toSet
    assert(a === b)
  }
}
