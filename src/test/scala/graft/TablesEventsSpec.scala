package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The events loader must adapt to WHATEVER physical ts type the testdata
  * generator shipped — it has flipped between parquet TIMESTAMP(NANOS)
  * (loads as raw Long under the legacy nanosAsLong flag) and
  * TIMESTAMP(MICROS) (loads as TIMESTAMP_NTZ) across regenerations, and the
  * r5 round lost 30 queries to a loader that hard-coded one of them. This
  * suite pins the contract: identical rows out of [[Tables.events]] for the
  * same instants stored either way, batch and streaming decode agreeing on
  * the real driver file, so the next regen cannot silently break anything.
  */
class TablesEventsSpec extends SparkSpec {
  import spark.implicits._

  // same five logical events, µs precision
  private val baseUs = 1700000000000000L // 2023-11-14T22:13:20 UTC, µs
  private val rowsUs = Seq(
    (1L, baseUs + 1L, 10L, "click", 1.5, "{}"),
    (2L, baseUs + 999999L, 11L, "view", 2.0, "{}"),
    (3L, baseUs + 3600L * 1000000L, 10L, "purchase", 9.99, "{}"),
    (4L, baseUs, 12L, "click", 0.0, "{}"),
    (5L, baseUs + 7L * 86400L * 1000000L, 13L, "view", 4.25, "{}"))

  private def writeNanosFixture(): String = {
    val dir = SparkSpec.scratchDir("events_nanos")
    rowsUs.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), (col("ts_us") * 1000L).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def writeMicrosFixture(): String = {
    val dir = SparkSpec.scratchDir("events_micros")
    rowsUs.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"),
        expr("cast(timestamp_micros(ts_us) as timestamp_ntz)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def writeInstantFixture(): String = {
    // the third physical shape a regen could ship: isAdjustedToUTC=true
    // (plain TIMESTAMP) — loads as TimestampType and takes the cast branch
    val dir = SparkSpec.scratchDir("events_instant")
    rowsUs.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("Tables.events: the UTC-instant (TimestampType) branch matches the other two") {
    val instantDir = writeInstantFixture()
    assert(Tables.eventsRawTsType(spark, instantDir) === TimestampType)
    val a = Tables.events(spark, instantDir)
    assert(a.schema("ts").dataType === TimestampNTZType)
    val got  = a.orderBy("event_id").collect().map(_.toSeq).toSeq
    val want = Tables.events(spark, writeMicrosFixture())
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(got === want)
    // streaming decode exprs agree too
    val raw = spark.read.schema(Tables.eventsRawSchema(TimestampType))
      .parquet(s"$instantDir/events.parquet")
    val us = raw.withColumn("us", expr(Tables.eventsTsMicrosExpr(TimestampType)))
      .orderBy("event_id").select("us").as[Long].collect().toSeq
    assert(us === rowsUs.map(_._2))
  }

  test("loading a non-NANOS events file leaves the caller's session conf untouched") {
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    // run in a FRESH session so flag state left by other suites/tests (the
    // NANOS fixtures legitimately set it) can't mask a regression
    val s2 = spark.newSession()
    val before = s2.conf.getOption(flag) // the conf default surfaces as Some("false")
    assert(!before.contains("true"), "precondition: flag not already forced on")
    for (dir <- Seq(writeMicrosFixture(), writeInstantFixture())) {
      Tables.events(s2, dir).collect()
      assert(s2.conf.getOption(flag) === before,
        s"loader mutated $flag for a non-NANOS file at $dir")
    }
    // and the NANOS shape is the documented exception: the reader needs the
    // flag at execution time, so the probe sets it persistently
    Tables.events(s2, writeNanosFixture()).collect()
    assert(s2.conf.getOption(flag).contains("true"))
  }

  test("Tables.events: NANOS-as-long and MICROS fixtures decode to identical rows") {
    val nanosDir  = writeNanosFixture()
    val microsDir = writeMicrosFixture()
    assert(Tables.eventsRawTsType(spark, nanosDir) === LongType)
    assert(Tables.eventsRawTsType(spark, microsDir) === TimestampNTZType)
    val a = Tables.events(spark, nanosDir)
    val b = Tables.events(spark, microsDir)
    assert(a.schema("ts").dataType === TimestampNTZType)
    assert(b.schema("ts").dataType === TimestampNTZType)
    val got  = a.orderBy("event_id").collect().map(_.toSeq).toSeq
    val want = b.orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(got === want)
  }

  test("streaming decode exprs agree with the batch loader on both fixtures") {
    for (dir <- Seq(writeNanosFixture(), writeMicrosFixture())) {
      val tsType = Tables.eventsRawTsType(spark, dir)
      val raw = spark.read.schema(Tables.eventsRawSchema(tsType))
        .parquet(s"$dir/events.parquet")
      // instant expr: wall-clock equals the batch NTZ value (session TZ UTC)
      val streamed = raw
        .withColumn("ts_i", expr(Tables.eventsTsInstantExpr(tsType)))
        .select(col("event_id"), col("ts_i").cast(TimestampNTZType).as("ts"))
      val batch = Tables.events(spark, dir).select("event_id", "ts")
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
        s"instant decode mismatch for tsType=$tsType")
      // integer-µs expr: exact epoch micros
      val us = raw.withColumn("us", expr(Tables.eventsTsMicrosExpr(tsType)))
        .orderBy("event_id").select("us").as[Long].collect().toSeq
      assert(us === rowsUs.map(_._2), s"epoch-µs decode mismatch for tsType=$tsType")
    }
  }

  test("the REAL driver events file: batch loads, and streaming schema decode matches") {
    val tsType = Tables.eventsRawTsType(spark, sfDir)
    val batch = Tables.events(spark, sfDir)
    assert(batch.schema("ts").dataType === TimestampNTZType)
    val (bMin, bMax, bCnt) = batch
      .agg(min("ts"), max("ts"), count(lit(1)))
      .as[(java.time.LocalDateTime, java.time.LocalDateTime, Long)].head()
    assert(bCnt > 0)
    val raw = spark.read.schema(Tables.eventsRawSchema(tsType))
      .parquet(s"$sfDir/events.parquet")
      .withColumn("ts_i", expr(Tables.eventsTsInstantExpr(tsType)))
    val (sMin, sMax) = raw
      .agg(min(col("ts_i").cast(TimestampNTZType)), max(col("ts_i").cast(TimestampNTZType)))
      .as[(java.time.LocalDateTime, java.time.LocalDateTime)].head()
    assert(sMin === bMin && sMax === bMax,
      s"streaming decode [$sMin, $sMax] != batch [$bMin, $bMax] — the r5 regression shape")
  }

  test("footerRowCount: exact from parquet metadata, no Spark job, cached") {
    for (t <- Seq("documents", "embeddings", "lineitem"))
      assert(Tables.rowCount(spark, sfDir, t) === Tables.load(spark, sfDir, t).count(),
        s"footer count mismatch for $t")
    // a multi-file DIRECTORY sums per-file footers (the lake layout)
    val tmp = SparkSpec.scratchDir("graft_frc")
    Tables.load(spark, sfDir, "documents").repartition(3)
      .write.mode("overwrite").parquet(tmp)
    assert(Tables.footerRowCount(spark, tmp) ===
      Tables.rowCount(spark, sfDir, "documents"))
  }

  test("footerRowCount: hive-partitioned (nested) layout counts fully; rewrite invalidates the cache") {
    import spark.implicits._
    val tmp = SparkSpec.scratchDir("graft_frc_part")
    (1 to 100).map(i => (i.toLong, s"p${i % 4}")).toDF("id", "part")
      .write.mode("overwrite").partitionBy("part").parquet(tmp)
    // data files live under part=*/ subdirectories — a flat listing sees zero
    assert(Tables.footerRowCount(spark, tmp) === 100L,
      "nested partition dirs must be walked, not skipped")
    // rewrite in place with a different count: the listing-signature cache
    // key must not serve the stale 100. No sleep — the key digests every
    // file's (path, mtime, length), so it changes even when the rewrite
    // lands within the filesystem's mtime granularity (r9 advisor: the old
    // root-mtime key + Thread.sleep(20) flaked on coarse-mtime fs).
    (1 to 37).map(i => (i.toLong, s"p${i % 2}")).toDF("id", "part")
      .write.mode("overwrite").partitionBy("part").parquet(tmp)
    assert(Tables.footerRowCount(spark, tmp) === 37L,
      "a rewritten path must re-count, not hit the stale cache entry")
    // rewrite confined to ONE nested partition dir (root untouched): the
    // r9 advisor's stale-root-mtime scenario — must still invalidate
    val subRows = (1 to 11).map(i => Tuple1(i.toLong)).toDF("id")
    subRows.write.mode("overwrite").parquet(s"$tmp/part=p0")
    val expected = 11L + spark.read.parquet(s"$tmp/part=p1").count()
    assert(Tables.footerRowCount(spark, tmp) === expected,
      "a rewrite inside a nested subdir (root mtime unchanged) must re-count")
    // repeated lookups stay cached (idempotent) and stale keys are evicted,
    // not accumulated across the three rewrites above
    assert(Tables.footerRowCount(spark, tmp) === expected)
    assert(Tables.rowCountCacheKeysForTest(tmp) === 1,
      "rewrites must evict superseded cache keys for the same root")
  }
}
