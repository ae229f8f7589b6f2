package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The materialization-boundary mode switch (r14, from the r13 advisor's
  * durability finding): every mode must return the SAME ROWS from an
  * operator that routes its multi-consumer boundary through Replay — only
  * the recompute/durability trade-off may move. Exercised through real
  * boundary users: LangModel.trainKneserNey feeding scoreKnQ16 (the
  * four-consumer sufficient statistic), the connectedComponents round loop
  * (`loopStable`), CorpusIngest's snapshot boundaries, the k-core and BFS
  * round loops (`stable` + `loopStable`), q146's PageRank (`stable` +
  * `loopStable`) and q292's calibration chain (an eager boundary). */
class ReplaySpec extends SparkSpec {

  private def knRows(): Seq[String] = {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat the cat sat again and again"),
      (2L, "the dog sat on the log the dog sat again and again"),
      (3L, "the cat and the dog sat on the mat again"),
      (4L, "a completely different sentence with rare words only"))
      .toDF("doc_id", "text")
    val lm = graft.text.LangModel.trainKneserNey(docs, "doc_id", "text", minCount = 2L)
    sortedRows(graft.text.LangModel.scoreKnQ16(docs, "doc_id", "text", lm))
  }

  private def ccRows(): Seq[String] = {
    import spark.implicits._
    // a 13-vertex path graph, forced through the round loop
    val vertices = (0L to 12L).toDF("id")
    val edges = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    sortedRows(graft.dedup.Clusters.connectedComponents(vertices, "id", edges, "src", "dst",
      driverCollectMax = 0L))
  }

  /** Two CorpusIngest drains through the near-dup gate (eager boundaries
    * that snapshot rows before appending to the tables they anti-join). */
  private def ingestRows(): Seq[String] = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_replay_ingest").toString
    val wh = new graft.io.Warehouse(spark, s"$root/wh")
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog while the rain falls softly on the quiet village roofs tonight",
      "the quick brown fox jumps over the lazy cat while the rain falls softly on the quiet village roofs tonight",
      "entirely different subject matter describing galaxies planets comets meteors asteroids orbits telescopes and astronomers mapping them")
    def drain(batch: String, ids: Seq[Int]): (Long, Long) = {
      val df = ids.map(i => (i.toLong, texts(i), "en", "web", texts(i).length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      df.coalesce(1).write.parquet(s"$root/in/$batch")
      graft.streaming.CorpusIngest.run(spark, s"$root/in/$batch", df.schema, wh,
        "corpus", "rejects", s"$root/ck_$batch", nearDupThresh10 = 8)
    }
    Seq(drain("b1", Seq(0)), drain("b2", Seq(1, 2))).map(_.toString) ++
      sortedRows(wh.read("corpus").select("doc_id")) ++
      sortedRows(wh.read("rejects").select("doc_id", "reject_reason"))
  }

  /** A 4-clique {1,2,3,4} with the path tail 4-5-6. */
  private lazy val graph = {
    import spark.implicits._
    Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
  }

  private def bfsRows(): Seq[String] = {
    import spark.implicits._
    sortedRows(graft.graph.Graphs.bfsLayers(graph, Seq(6L).toDF("s"), "s", rounds = 3))
  }

  private def queryRows(name: String): Seq[String] =
    sortedRows(graft.SparkEntry.queries(name)(spark, sfDir))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val inputs: Seq[(String, () => Seq[String])] = Seq(
    "LangModel KN" -> (() => knRows()),
    "connectedComponents loop" -> (() => ccRows()),
    "CorpusIngest drains" -> (() => ingestRows()),
    "kcorePeel" -> (() => sortedRows(graft.graph.Graphs.kcorePeel(graph, k = 3, rounds = 3))),
    "bfsLayers" -> (() => bfsRows()),
    "q146_pagerank" -> (() => queryRows("q146_pagerank")),
    "q292_calibration_ece" -> (() => queryRows("q292_calibration_ece")))

  private def withConf[T](key: String, value: Option[String])(body: => T): T = {
    val saved = spark.conf.getOption(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def withMode[T](mode: Option[String])(body: => T): T =
    withConf(Replay.ModeKey, mode)(body)

  private def withDir[T](dir: String)(body: => T): T =
    withConf(Replay.DirKey, Some(dir))(body)

  test("local (default) / persist / none modes produce identical rows") {
    for ((name, rows) <- inputs) {
      val base = withMode(None)(rows())
      assert(base.nonEmpty, name)
      for (m <- Seq("local", "persist", "none"))
        assert(withMode(Some(m))(rows()) === base, s"$name: mode=$m diverged")
    }
  }

  test("reliable mode checkpoints to the configured dir and matches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_ck").toString
    withDir(dir) {
      for ((name, rows) <- inputs) {
        val base = withMode(None)(rows())
        assert(withMode(Some("reliable"))(rows()) === base, name)
      }
    }
  }

  test("reliable mode reuses one checkpoint subdirectory under an unqualified dir") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_one").toString
    withDir(dir)(withMode(Some("reliable")) {
      for (i <- 1 to 2) assert(Replay.stable(Seq(i.toLong).toDF("k")).count() === 1L)
    })
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
    assert(subdirs.length === 1, subdirs.mkString(", "))
  }

  test("reliable mode without a dir fails loudly; unknown modes fail loudly") {
    // run on a FRESH frame so the failure happens at the boundary call
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "v")
    withConf(Replay.DirKey, None) {
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        assertThrows[IllegalArgumentException](
          withMode(Some("reliable"))(Replay.stable(df)))
      assertThrows[IllegalArgumentException](
        withMode(Some("bogus"))(Replay.stable(df)))
    }
  }

  test("no lineage cut outside Replay: src/main calls no raw localCheckpoint/checkpoint") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
    val cut = """localCheckpoint\(|\.checkpoint\(|\.persist\(|\.cache\(\)""".r
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(java.nio.file.Paths.get("ops", "Replay.scala")))
      .toSeq
    val hits = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if !line.trim.startsWith("*") && !line.trim.startsWith("//")
      if cut.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(files.nonEmpty)
    assert(hits.isEmpty, "route these through graft.ops.Replay:\n" + hits.mkString("\n"))
  }

  test("loopStable truncates the plan even under persist/none (the q177 lesson)") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("a", "b")
    for (m <- Seq("persist", "none")) withMode(Some(m)) {
      val out = Replay.loopStable(df.select(col("a") + col("b") as "s"))
      // a local checkpoint rewrites the plan to a LogicalRDD leaf
      assert(out.queryExecution.logical.collectFirst {
        case _: org.apache.spark.sql.execution.LogicalRDD => ()
      }.isDefined, s"mode=$m must still checkpoint inside loops")
      assert(out.collect().map(_.getLong(0)).toSeq === Seq(3L))
    }
  }

  test("a boundary read by two actions evaluates its subtree once under local and reliable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_evals").toString
    withDir(dir) {
      for (m <- Seq("local", "reliable")) withMode(Some(m)) {
        val evals = spark.sparkContext.longAccumulator(s"replay_evals_$m")
        val tick = udf { (x: Long) => evals.add(1L); x }.asNondeterministic()
        val b = Replay.stable(spark.range(1000).select(tick(col("id")).as("id")))
        assert(b.count() === 1000L)
        assert(b.agg(sum("id")).head().getLong(0) === 499500L)
        assert(evals.value === 1000L, s"mode=$m")
      }
    }
  }

  test("no converted operator leaves a frame in the session cache for its next build") {
    import spark.implicits._
    import graft.graph.Graphs
    val vecs = (1L to 12L).map(i => (i, Seq(i.toFloat, (i % 5).toFloat, (i % 3).toFloat - 1f)))
      .toDF("vec_id", "embedding")
    val docs = Seq((1L, "b a b a"), (2L, "a b a c")).toDF("doc_id", "text")
    val builds: Seq[(String, () => DataFrame)] = Seq(
      "triangleCount" -> (() => Graphs.triangleCount(graph)),
      "pagerankInt" -> (() => Graphs.pagerankInt(graph)),
      "kcorePeel" -> (() => Graphs.kcorePeel(graph, k = 3, rounds = 3)),
      "bfsLayers" -> (() => Graphs.bfsLayers(graph, Seq(6L).toDF("s"), "s", rounds = 3)),
      "labelPropagate" -> (() => Graphs.labelPropagate(graph, rounds = 2)),
      "connectedComponents" -> (() => graft.dedup.Clusters.connectedComponents(
        (1L to 6L).toDF("id"), "id", graph, "src", "dst", driverCollectMax = 0L)),
      "mmrRerankQuantized" -> (() => graft.sim.Similarity.mmrRerankQuantized(
        vecs.filter(col("vec_id") <= 3L), vecs, "vec_id", "embedding", "vec_id", "embedding", c = 4, k = 2)),
      "pca2ProjectQuantized" -> (() =>
        graft.sim.LinAlg.pca2ProjectQuantized(vecs, "vec_id", "embedding", iters = 2)),
      "suffixRanks" -> (() => graft.dedup.SuffixRanks.suffixRanks(docs, "doc_id", "text", depth = 2)))
    spark.catalog.clearCache()
    for ((name, build) <- builds) withMode(None) {
      assert(build().collect().nonEmpty, name)
      val pinned = build().queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(pinned.isEmpty, s"$name: the second build reads ${pinned.size} cached frame(s)")
    }
  }
}
