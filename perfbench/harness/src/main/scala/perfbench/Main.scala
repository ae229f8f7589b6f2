package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.io.{Lake, Warehouse}
import graft.pipelines._

/** Benchmark process: one workload, one seed, one JVM at local[4].
  *
  *   Main --workload idr_dag|ops_floor --inputs DIR --work DIR
  *        --seconds S --trace 0|1 --out FILE [--queries q1,q2,...] [--seed N]
  *
  * Pass 0 is the cold pass (first in a fresh process); warm passes follow
  * until `--seconds` have been spent on them. With `--trace 1` every pass is
  * traced; the tracing overhead is this run's warm wall against that of a
  * `--trace 0` run of the same seed.
  * Raw timings, observed outputs and layer counters go to FILE as JSON; the
  * Python entry point (`run.py`) turns them into the reported metrics and
  * checks the outputs.
  */
object Main {
  final case class Op(name: String, pass: Int, seconds: Double, ok: Boolean)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val inputs = args("inputs")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = 4
    Files.createDirectories(Paths.get(work))

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2fs")
    mark("main")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // an untraced run registers no listener of its own
    val collector = new Collector
    if (traced) {
      spark.sparkContext.addSparkListener(collector)
      spark.listenerManager.register(collector)
    }
    Jvm.watchHeap()
    mark("session")

    val w: Workload = workload match {
      case "idr_dag" => new IdrDag(spark, inputs, s"$work/warehouse")
      case "ops_floor" =>
        new OpsPass(spark, inputs, args("queries").split(",").toSeq, args.getOrElse("seed", "1").toLong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up: the workload opens its inputs and reads their schemas, then a
    // fixed warm-up none of its ops use
    w.prepare()
    mark("prepared")
    warmUp(spark)
    mark("warmed up")
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val ops = mutable.ArrayBuffer.empty[Op]
    val walls = mutable.ArrayBuffer.empty[(Int, Double)]
    val layers = mutable.ArrayBuffer.empty[(Int, Boolean, Map[String, Double])]
    val keptSpans = mutable.ArrayBuffer.empty[Span]
    Jvm.resetPeak()
    var pass = 0
    var warmSpent = 0.0
    while (pass == 0 || warmSpent < seconds) {
      if (traced) {
        // events of the previous pass's output check must not be counted
        org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
        collector.enabled = true
      }
      val gc0 = Jvm.gcMs
      val cg0 = Jvm.codegen
      val (passOps, wall) = timed(w.runPass(pass, traced))
      ops ++= passOps
      walls += ((pass, wall))
      val passSpans = w.spans.drain()
      if (traced) {
        keptSpans ++= passSpans
        org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
        collector.enabled = false
        val cg1 = Jvm.codegen
        layers += ((pass, pass == 0, Layers.summarize(collector.take(), passSpans, wall, cores) ++ Map(
          "jvm.gc_s" -> (Jvm.gcMs - gc0) / 1e3,
          "codegen.compile_ms" -> (cg1._1 - cg0._1),
          "codegen.classes" -> (cg1._2 - cg0._2).toDouble,
          "blocks.persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
          "blocks.mem_used_mb" -> spark.sparkContext.getExecutorMemoryStatus.values
            .map { case (max, free) => max - free }.sum / 1048576.0) ++ w.passLayers(passSpans)))
      }
      w.check(pass)
      // every pass starts from a collected heap, so GC debt of one pass
      // does not land in the next; what the pass left live is noted
      val live = Jvm.fullGc()
      mark(f"pass $pass ($wall%.2fs, live heap after it $live%.1f MB) done")
      if (pass > 0) warmSpent += wall
      pass += 1
    }
    val peakHeap = Jvm.peakHeapMb
    val (whBytes, inBytes) = w.footprint()

    val out = Json.obj(
      "workload" -> workload,
      "setup_s" -> setupS,
      "walls" -> walls.map { case (p, s) => Json.obj("pass" -> p, "seconds" -> s) },
      "ops" -> ops.map(o => Json.arr(o.name, o.pass, o.seconds, o.ok)),
      "errors" -> w.errors.take(20),
      "peak_heap_mb" -> peakHeap,
      "wh_bytes" -> whBytes,
      "input_bytes" -> inBytes,
      "observed" -> w.observed,
      "layers" -> layers.map { case (p, cold, m) => Json.obj("pass" -> p, "cold" -> cold, "metrics" -> m) },
      "spans" -> keptSpans.map(s => Json.arr(s.name, s.parent, s.layer, s.seconds)))
    Files.writeString(Paths.get(args("out")), out.json)
    spark.stop()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Fixed warm-up on generated rows: scan, hash aggregate, broadcast join
    * and a window, so the first timed op does not pay the one-time class
    * loading of those operators. Touches none of the workload's inputs. */
  private def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    val a = spark.range(20000).select((col("id") % 97).as("k"), col("id").as("v"))
    val b = spark.range(97).select(col("id").as("k"), (col("id") * 3).as("w"))
    a.join(broadcast(b), "k").groupBy("k").agg(sum("v").as("s"), max("w").as("m"))
      .withColumn("r", row_number().over(Window.orderBy(col("s"))))
      .count()
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum
  }

  def dirFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(f =>
      Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")).toLong
  }
}

/** One benchmark workload: its inputs, one pass of ops, and output checks. */
trait Workload {
  val spans = new Spans
  val errors = mutable.ArrayBuffer.empty[String]
  /** pass -> name -> observed output facts, checked by `run.py`. */
  val observed = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Any]]

  /** Opens every input and reads its schema (footers only, no job). */
  def prepare(): Unit
  def runPass(pass: Int, traced: Boolean): Seq[Main.Op]
  def check(pass: Int): Unit
  def footprint(): (Long, Long)
  /** Workload-specific layer counters of a traced pass, given its spans. */
  def passLayers(passSpans: Seq[Span]): Map[String, Double] = Map.empty

  def fail(what: String, e: Throwable): Unit =
    errors += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
  def observe(pass: Int, name: String, value: Any): Unit =
    observed.getOrElseUpdate(pass.toString, mutable.LinkedHashMap.empty)(name) = value
}

/** The reference's daily job: lake load, then covid/hts/mmd, then vls, run
  * through `Runner.runAllParallel` into a warehouse that every warm pass
  * rebuilds in place (the `__old` swap path of `Warehouse.write`). */
final class IdrDag(spark: SparkSession, inputs: String, root: String) extends Workload {
  private val lake = s"$inputs/lake"
  private val extracts = Seq("covid", "hts", "mmd", "vls", "MFL_Codes", "hub_details")
  private val asOf = lit(jsonString(s"$inputs/expected.json", "as_of")).cast("date")
  private val wh = new TimedWarehouse(spark, root)
  private val starts = new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()
  private val attempts = new java.util.concurrent.atomic.AtomicLong()
  private val completed = new java.util.concurrent.atomic.AtomicLong()
  private val retries = new java.util.concurrent.atomic.AtomicLong()
  private val checked = Seq("covid", "hts", "hts_summary", "hts_summary_counts", "art_mmd", "vls", "art_mmd_vls")

  private def jsonString(file: String, key: String): String = {
    val m = ("\"" + key + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(Files.readString(Paths.get(file)))
    m.map(_.group(1)).getOrElse(throw new IllegalArgumentException(s"$key missing in $file"))
  }

  def prepare(): Unit = extracts.foreach(e => Lake.readParquet(spark, s"$lake/$e").schema)

  /** Each stage copied with a `run` that opens its span; the span closes in
    * Runner's metrics callback, which fires after the stage's write. */
  private def dag: Seq[Pipeline] = {
    val load = LoadPipeline.pipeline(extracts.take(4).map(e => e -> s"$lake/$e").toMap)
    val dims = Seq("MFL_Codes", "hub_details").map(d =>
      Stage(s"load_$d", d, (s, _) => Lake.readParquet(s, s"$lake/$d")))
    Seq(load.copy(stages = load.stages ++ dims), CovidPipeline.pipeline, HtsPipeline.pipeline,
        MmdPipeline.pipeline(asOf), VlsPipeline.pipeline(asOf))
      .map(p => p.copy(stages = p.stages.map(st => st.copy(run = (s, w) => {
        attempts.incrementAndGet()
        val key = (p.name, st.name)
        if (starts.putIfAbsent(key, System.nanoTime()) != null) retries.incrementAndGet()
        s.sparkContext.setLocalProperty(Spans.Key, s"${p.name}/${st.name}")
        st.run(s, w)
      }))))
  }

  def runPass(pass: Int, traced: Boolean): Seq[Main.Op] = {
    wh.tracing = traced
    retries.set(0)
    starts.clear()
    val ops = mutable.ArrayBuffer.empty[Main.Op]
    val onMetrics: StageMetrics => Unit = m => ops.synchronized {
      val t1 = System.nanoTime()
      val t0: Long = starts.get((m.pipeline, m.stage))
      spans.add(Span(s"${m.pipeline}/${m.stage}", m.pipeline, "runner.stage", t0, t1))
      ops += Main.Op(s"${m.pipeline}/${m.stage}", pass, (t1 - t0) / 1e9, ok = true)
      completed.incrementAndGet()
    }
    val a0 = attempts.get(); val c0 = completed.get()
    try new Runner(spark, wh, onMetrics = onMetrics).runAllParallel(dag)
    catch { case e: Throwable => fail(s"pass $pass", e) }
    spark.sparkContext.setLocalProperty(Spans.Key, null)
    wh.tracing = false
    // attempts that never completed (failed, or retried) count as failed ops
    val lost = (attempts.get() - a0) - (completed.get() - c0)
    ops ++= Seq.fill(lost.toInt)(Main.Op("stage attempt", pass, 0.0, ok = false))
    ops.toSeq
  }

  def check(pass: Int): Unit = checked.foreach { t =>
    try {
      val df = wh.read(t)
      val h = df.select(count(lit(1)), sum(xxhash64(df.columns.map(df(_)): _*).cast("decimal(38,0)")))
        .head()
      val facts = mutable.LinkedHashMap[String, Any]("rows" -> h.getLong(0),
        "hash" -> Option(h.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
      if (t == "hts_summary_counts") facts("values") = df.head().toSeq.map(v => if (v == null) -1L else v)
      observe(pass, t, facts)
    } catch { case e: Throwable => fail(s"check $t", e); observe(pass, t, "error") }
  }

  def footprint(): (Long, Long) = (Main.dirBytes(root), Main.dirBytes(lake))

  override def passLayers(passSpans: Seq[Span]): Map[String, Double] = {
    val stages = passSpans.filter(_.layer == "runner.stage")
    Layers.runner(stages, dag.map(p => p.name -> p.dependsOn).toMap, retries.get.toDouble) ++
      wh.take() ++ Map("lake.read_s" -> stages.filter(_.parent == "idr_load").map(_.seconds).sum)
  }
}

/** `Warehouse` that times its reads and writes and, when tracing, measures
  * what each write left on disk. */
final class TimedWarehouse(spark: SparkSession, root: String) extends Warehouse(spark, root) {
  @volatile var tracing = false
  private var writeNs, readNs, writes, bytes, files = 0L

  override def write(table: String, df: DataFrame): Unit = {
    val t0 = System.nanoTime()
    super.write(table, df)
    val dt = System.nanoTime() - t0
    if (tracing) synchronized {
      writeNs += dt; writes += 1
      bytes += Main.dirBytes(path(table)); files += Main.dirFiles(path(table))
    }
  }

  override def read(table: String): DataFrame = {
    val t0 = System.nanoTime()
    val df = super.read(table)
    if (tracing) synchronized { readNs += System.nanoTime() - t0 }
    df
  }

  def take(): Map[String, Double] = synchronized {
    val m = Map("warehouse.write_s" -> writeNs / 1e9, "warehouse.read_s" -> readNs / 1e9,
      "warehouse.write_calls" -> writes.toDouble, "warehouse.bytes_written" -> bytes.toDouble,
      "warehouse.files_written" -> files.toDouble)
    writeNs = 0; readNs = 0; writes = 0; bytes = 0; files = 0
    m
  }
}

/** Named operator queries: one op is `queries(name)(spark, dir)` followed by
  * `.count()`. Each pass runs the list in a seeded shuffled order. */
final class OpsPass(spark: SparkSession, dir: String, names: Seq[String], seed: Long) extends Workload {
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  private val before = Main.dirBytes(dir)

  def prepare(): Unit = tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)

  def runPass(pass: Int, traced: Boolean): Seq[Main.Op] =
    new scala.util.Random(seed * 1000 + pass).shuffle(names).map { name =>
      val t0 = System.nanoTime()
      val n = try {
        val df = spans.time(spark, s"$name/build", name, "catalog.build")(SparkEntry.queries(name)(spark, dir))
        spans.time(spark, s"$name/action", name, "catalog.action")(df.count())
      } catch { case e: Throwable => fail(name, e); -1L }
      val t1 = System.nanoTime()
      spans.add(Span(name, "", "op", t0, t1))
      observe(pass, name, n)
      Main.Op(name, pass, (t1 - t0) / 1e9, ok = n >= 0)
    }

  def check(pass: Int): Unit = ()

  def footprint(): (Long, Long) = (Main.dirBytes(dir), before)
}
