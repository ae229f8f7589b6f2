package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EventIngestSpec extends SparkSpec {

  private def tmp(name: String): String =
    SparkSpec.scratchDir(name)

  private def writeEvents(dir: String, lines: Seq[String], file: String = "e1.json"): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, file),
      lines.mkString("\n").getBytes("UTF-8"))

  private val events = Seq(
    """{"extract_type":"mmd","bucket":"lake","object":"mmd/x.parquet","uploaded_at":"2024-06-01T04:00:00"}""",
    """{"extract_type":"hts","bucket":"lake","object":"hts/y.parquet","uploaded_at":"2024-06-01T04:01:00"}""")

  test("ST1/ST3: bounded drain appends one metadata row per event") {
    val in = tmp("events_in_"); val out = tmp("meta_out_") + "/meta"
    writeEvents(in, events)
    EventIngest.ingestAvailable(spark, in, out)
    val meta = spark.read.parquet(out)
    assert(meta.count() === 2)
    assert(meta.columns.contains("ingested_at"))
    assert(meta.filter(col("extract_type") === "mmd").count() === 1)

    // new event arrives; a second drain picks up ONLY the new file
    writeEvents(in, Seq("""{"extract_type":"vls","bucket":"lake","object":"z","uploaded_at":"t"}"""), "e2.json")
    EventIngest.ingestAvailable(spark, in, out)
    assert(spark.read.parquet(out).count() === 3)
  }

  test("ST2: republish forwards messages to the downstream topic dir") {
    val in = tmp("events_in2_"); val topic = tmp("topic_") + "/t"
    writeEvents(in, events)
    EventIngest.republishAvailable(spark, in, topic)
    assert(spark.read.json(topic).count() === 2)
  }

  test("connector seam: the bus envelope pack/decode round-trips typed event rows") {
    // A real Kafka source can't run in this sandbox; the seam's own logic —
    // to_json(struct(*)) → binary value → from_json(value, schema) — is
    // engine code, not connector code, so pin it batch-side with the exact
    // expressions eventSource/republishAvailable apply.
    val schema = graft.schema.Schemas.eventMetadata
    val in = tmp("events_seam_")
    writeEvents(in, events)
    val typed = spark.read.schema(schema).json(in)
    val packed = typed.select(to_json(struct(col("*"))).cast("binary").as("value"))
    val decoded = packed
      .select(from_json(col("value").cast("string"), schema).as("__e"))
      .select(col("__e.*"))
    assert(decoded.exceptAll(typed).isEmpty && typed.exceptAll(decoded).isEmpty)
  }

  test("connector seam: eventSource drains a NON-FILE DSv2 bus source end-to-end") {
    // The r5/r6 gap: the Kafka-shaped seam had never executed against a
    // non-file source. graft-bus is a real DataSource-V2 micro-batch
    // connector with the Kafka envelope (binary value, topic/partition/
    // offset), so this drain runs the full bus branch — format resolution
    // by shortName, DSv2 scan planning, offset checkpointing, and the
    // from_json(value) payload decode — with zero file-source involvement.
    val topic = "extract-arrivals"
    BusSource.clear(topic)
    BusSource.publish(topic, events, timestampMicros = 1717214400000000L)
    val out = tmp("bus_meta_") + "/meta"
    val kafkaShaped = Map("subscribe" -> topic, "startingOffsets" -> "earliest")
    EventIngest.ingestAvailable(spark, topic, out,
      sourceFormat = BusSource.ShortName, sourceOptions = kafkaShaped)
    val meta = spark.read.parquet(out)
    assert(meta.count() === 2)
    assert(meta.filter(col("extract_type") === "mmd").select(col("object"))
      .head().getString(0) === "mmd/x.parquet")

    // publish one more message; the checkpointed second drain reads ONLY it
    BusSource.publish(topic,
      Seq("""{"extract_type":"vls","bucket":"lake","object":"vls/z.parquet","uploaded_at":"2024-06-01T05:00:00"}"""),
      timestampMicros = 1717218000000000L)
    EventIngest.ingestAvailable(spark, topic, out,
      sourceFormat = BusSource.ShortName, sourceOptions = kafkaShaped)
    assert(spark.read.parquet(out).count() === 3)
    assert(spark.read.parquet(out).filter(col("extract_type") === "vls").count() === 1)
    BusSource.clear(topic)
  }

  test("bus crash recovery: a drain killed mid-batch restarts to exactly-once table contents") {
    // The guarantee the reference's ack-after-buffer path lacks
    // (receiver.py:19-21 acks BEFORE the buffer is durable — a crash there
    // LOSES messages): Structured Streaming writes the planned offsets to
    // the checkpoint WAL before executing, and the parquet streaming sink
    // commits files transactionally in _spark_metadata — so a query killed
    // MID-BATCH (tasks failed after source reads, before sink commit)
    // restarts, replays the same offset range, and the table holds every
    // message exactly once. Deterministic kill: an armed UDF throws on a
    // marked payload during the first attempt; disarmed before restart.
    val topic = "crash-recovery"
    BusSource.clear(topic)
    BusSource.publish(topic, events :+
      """{"extract_type":"poison","bucket":"lake","object":"p/k.parquet","uploaded_at":"2024-06-01T04:02:00"}""",
      timestampMicros = 1717214400000000L)
    val out = tmp("bus_crash_") + "/meta"
    EventIngestSpec.armed.set(true)
    val boom = udf { (et: String) =>
      if (EventIngestSpec.armed.get() && et == "poison")
        throw new RuntimeException("injected mid-batch failure")
      et
    }
    def drain(): Unit = {
      val q = EventIngest.eventSource(spark, topic,
          sourceFormat = BusSource.ShortName,
          sourceOptions = Map("subscribe" -> topic, "startingOffsets" -> "earliest"))
        .withColumn("extract_type", boom(col("extract_type")))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", s"${out}__chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain())
    assert(e.getMessage.contains("injected") ||
      Option(e.getCause).exists(_.getMessage.contains("injected")) ||
      e.toString.contains("injected"))
    // the failed attempt must not have surfaced ANY rows — the sink never
    // committed (an unreadable/absent dir counts as zero)
    assert(scala.util.Try(spark.read.parquet(out).count()).getOrElse(0L) === 0L)
    // restart: same checkpoint, failure disarmed — the WAL'd batch replays
    EventIngestSpec.armed.set(false)
    drain()
    val meta = spark.read.parquet(out)
    assert(meta.count() === 3, "every published message exactly once after recovery")
    assert(meta.select(col("object")).collect().map(_.getString(0)).sorted.toSeq ===
      Seq("hts/y.parquet", "mmd/x.parquet", "p/k.parquet"))
    // and the recovered checkpoint keeps advancing: one more publish, one
    // more drain, exactly one new row
    BusSource.publish(topic,
      Seq("""{"extract_type":"vls","bucket":"lake","object":"vls/q.parquet","uploaded_at":"2024-06-01T05:00:00"}"""),
      timestampMicros = 1717218000000000L)
    drain()
    assert(spark.read.parquet(out).count() === 4)
    BusSource.clear(topic)
  }

  test("streaming upsert: drains merge by key, idempotent across re-runs") {
    import org.apache.spark.sql.types._
    val in = tmp("merge_in_"); val cp = tmp("merge_cp_")
    val wh = new graft.io.Warehouse(spark, tmp("merge_wh_"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def drain(): Unit = EventIngest.streamMergeIntoWarehouse(
      spark, in, schema, wh, "live", Seq("id"), cp, format = "json")

    writeEvents(in, Seq("""{"id":1,"v":"a"}""", """{"id":2,"v":"b"}""",
      """{"id":2,"v":"b"}"""), "b1.json") // in-batch duplicate key collapses
    drain()
    assert(wh.read("live").count() === 2)

    // second drain: one update (id=2) and one insert (id=3); absorbed files
    // are NOT re-read (checkpoint), and the update wins over the old row
    writeEvents(in, Seq("""{"id":2,"v":"B2"}""", """{"id":3,"v":"c"}"""), "b2.json")
    drain()
    val got = wh.read("live").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a", 2L -> "B2", 3L -> "c"))

    // re-running with nothing new is a no-op (idempotence)
    drain()
    assert(wh.read("live").count() === 3)
  }

  test("ST4: foreachBatch callback fires with the event batch (pipeline trigger analog)") {
    val in = tmp("events_in3_")
    writeEvents(in, events)
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    EventIngest.onEvents(spark, in, tmp("chk_")) { (batch, _) =>
      seen ++= batch.select("extract_type").collect().map(_.getString(0))
    }
    assert(seen.toSet === Set("mmd", "hts"))
  }

  test("ST4: StreamingQueryListener progress trigger fires for ingesting batches") {
    val in = tmp("events_in4_")
    writeEvents(in, events)
    val fired = new java.util.concurrent.CopyOnWriteArrayList[(String, Long)]()
    val listener = EventIngest.onProgressTrigger(spark) { (name, _, rows) =>
      fired.add(name -> rows)
    }
    try {
      EventIngest.ingestAvailable(spark, in, tmp("meta_out4_") + "/meta")
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + 10e9.toLong
      while (fired.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!fired.isEmpty)
      assert(fired.get(0)._2 === 2L)
    } finally spark.streams.removeListener(listener)
  }

  test("windowed counts with watermark (streaming headroom beyond reference)") {
    import spark.implicits._
    val df = Seq(
      ("2024-06-01 00:00:10", "click", 1.0),
      ("2024-06-01 00:00:50", "click", 2.0),
      ("2024-06-01 00:01:10", "view", 3.0))
      .toDF("ts", "event_type", "value")
      .select(to_timestamp($"ts").as("ts"), $"event_type", $"value")
    val out = EventIngest.windowedCounts(df, "ts", "10 minutes", "1 minute")
    val rows = out.select($"event_type", $"n").as[(String, Long)].collect().toSet
    assert(rows === Set(("click", 2L), ("view", 1L)))
  }
}

/** Static kill switch for the crash-recovery test: executor tasks (same JVM
  * in local mode) read it at row-evaluation time, so the first drain fails
  * mid-batch and the restarted drain — after disarm — replays cleanly. */
object EventIngestSpec {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}
