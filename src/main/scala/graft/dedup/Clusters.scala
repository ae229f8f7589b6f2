package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster canonicalization: turn pairwise near-duplicate matches
  * (the output of MinHash-LSH / exact-Jaccard verification — `Dedup`'s pair
  * producers) into connected components, so each group of mutual near-dups
  * collapses to ONE canonical representative (the minimum id).
  *
  * The reference dedups row-identical records only (`SELECT DISTINCT *`,
  * e.g. reference covid_transforms.py:43-47); clustering TRANSITIVE
  * near-duplicates is the corpus-level generalization a training-data
  * pipeline needs — A≈B and B≈C must collapse to one keeper even when A and
  * C don't match directly.
  */
object Clusters {

  /** Connected components by min-label propagation WITH POINTER JUMPING.
    *
    * Each vertex starts labeled with its own id; every round each vertex
    * takes the minimum among its own label, its neighbors' labels, AND its
    * label's label (the shortcutting step — label(label(x)) is always a
    * node of the same component, so the candidate set stays sound while
    * effective propagation distance DOUBLES per round). Fixpoint =
    * components in O(log diameter) rounds, the same asymptotic as the
    * alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014) with less
    * machinery: one extra equi-join per round.
    *
    * Why it matters: near-dup graphs are dense little cliques (diameter
    * 2–3, where plain propagation already converges in 2 rounds and the
    * extra join is ~free), but RECORD-LINKAGE graphs chain — A~B~C~… — and
    * plain min-propagation walks them one hop per round (measured: 21
    * rounds on the sf1 ER graph, each a join + agg + checkpoint; with
    * shortcutting the same graph closes in 8 — the number the in-loop
    * comment, DESIGN.md and the r6 bench all agree on).
    *
    * Scale notes for the 100 TB regime:
    *  - the per-round shuffle is keyed on vertex id both in the neighbor
    *    join and the min-aggregation, so AQE reuses one exchange layout;
    *  - checkpointing after each round truncates the lineage — without it
    *    round k replays rounds 1..k-1 and the job goes quadratic;
    *  - DURABILITY: each round cuts lineage through `Replay.loopStable`;
    *    run production CC under `spark.graft.replay.mode=reliable`;
    *  - the edge set is symmetrized once behind a `Replay.stable`
    *    boundary: it is reused every round and never grows;
    *  - convergence rides inside the round: a `__changed` flag, read by the
    *    one aggregate that also materializes the round's checkpoint.
    *
    * @param vertices      one row per vertex (extra columns ignored)
    * @param edges         undirected pair list (extra columns ignored)
    * @return (`idCol`, cluster_id) — cluster_id = min vertex id reachable
    */
  def connectedComponents(vertices: DataFrame, idCol: String,
                          edges: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 25,
                          driverCollectMax: Long = 1L << 20): DataFrame = {
    // ONE pass emitting both orientations (explode, not union-of-selects —
    // the latter evaluated the caller's pair-producer twice), materialized
    // PARTITIONED BY dst: the per-round neighbor join keys sym on dst, so
    // the edge side's exchange is paid once here, not once per round
    // (r13, guide §2.4; the Graphs.pagerankInt layout).
    val sym = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .repartition(col("dst"))
      .transform(graft.ops.Replay.stable(_))
    // DRIVER UNION-FIND FAST PATH (r14; the q257 trainInMemory precedent —
    // an adaptive algorithm choice, like broadcast-vs-shuffle join
    // selection, with identical output): when the symmetrized edge table
    // and the vertex table both fit one bounded collect and ids are
    // integral, path-compressed union-find on the driver replaces the
    // per-round job train (a chain-graph CC at sf0.1 was ~8 rounds × join
    // + agg + checkpoint ≈ dozens of jobs for milliseconds of actual
    // work). The edge producer is still evaluated EXACTLY ONCE — the probe
    // counts the symmetrized boundary, which the distributed loop's first
    // round would have materialized anyway. Corpus-scale
    // graphs (count above the gate, or string ids) take the loop
    // unchanged; pass driverCollectMax = 0 to force it.
    if (driverCollectMax > 0 &&
        isIntegral(vertices.schema(idCol).dataType) &&
        isIntegral(edges.schema(srcCol).dataType) &&
        isIntegral(edges.schema(dstCol).dataType)) {
      val m = sym.count() // materializes the boundary the loop needs anyway
      if (m <= driverCollectMax) {
        val vRows = vertices.select(col(idCol).cast("long").as("id"))
          .limit(driverCollectMax.toInt + 1).collect()
        if (vRows.length <= driverCollectMax && vRows.forall(!_.isNullAt(0))) {
          val eRows = sym.select(col("src").cast("long"), col("dst").cast("long")).collect()
          graft.ops.Replay.release(sym)
          return driverUnionFind(vertices.sparkSession, idCol,
            vertices.schema(idCol).dataType, vRows.map(_.getLong(0)),
            eRows)
        }
      }
    }
    var labels = vertices.select(col(idCol).as("id"), col(idCol).as("cluster_id"))
    var iter = 0
    var converged = false
    // the superseded round's boundary — released as soon as the NEXT round
    // has materialized (r13 advisor: without this the block manager holds
    // O(rounds × |labels|) generations across up to 25 rounds). The final
    // round is never released: the caller consumes it.
    var prev: Option[DataFrame] = None
    while (iter < maxIters && !converged) {
      val viaNeighbors = sym.join(labels, sym("dst") === labels("id"))
        .select(col("src").as("id"), col("cluster_id"))
      // pointer jumping: x also considers label(label(x)) — shuffles the
      // label table once on cluster_id; halves the remaining diameter every
      // round, which is what turns a 21-round chain graph into 8. Skipped
      // in round 1, where labels are still the identity and the jump is a
      // no-op by construction (keeps the clique-graph fast path at exactly
      // the old per-round cost until a second round is even needed).
      val withParent =
        if (iter == 0) labels.union(viaNeighbors)
        else labels.union(viaNeighbors).union(
          labels.select(col("id"), col("cluster_id").as("__p"))
            .join(labels.select(col("id").as("__p"), col("cluster_id").as("__pp")), "__p")
            .select(col("id"), col("__pp").as("cluster_id")))
      // The changed flag rides along INSIDE the materialized round — the
      // convergence probe never needs a second pass over the join.
      // (groupBy(id) and the prior round's materialization share the id
      // hash-partitioning, so the old-label join below adds no exchange.)
      val roundPlan = withParent
        .groupBy("id").agg(min("cluster_id").as("new_cid"))
        .join(labels.select(col("id"), col("cluster_id").as("old_cid")), "id")
        .select(col("id"), col("new_cid").as("cluster_id"),
          (col("new_cid") =!= col("old_cid")).as("__changed"))
      // ONE job per round (r13): the LAZY checkpoint truncates the logical
      // plan immediately (each round references `labels` three times, so
      // without truncation the plan TREE grows 3^rounds and analysis itself
      // OOMs on chain graphs), and the convergence AGGREGATE is the
      // materializing action (a full scan, so every partition checkpoints —
      // a limit-probe would short-circuit and leave partitions uncomputed).
      val next = graft.ops.Replay.loopStable(roundPlan)
      val anyChanged = next.agg(coalesce(max(col("__changed")), lit(false)))
        .head().getBoolean(0)
      // this round is fully materialized (the aggregate scans every
      // partition) and checkpoints are self-contained — the previous
      // round's blocks can never be needed again
      prev.foreach(graft.ops.Replay.release)
      prev = Some(next)
      converged = !anyChanged
      labels = next.select("id", "cluster_id")
      iter += 1
    }
    graft.ops.Replay.release(sym)
    // operational breadcrumb: iteration count IS the diameter bound — a
    // jump here after a corpus change explains a wall-clock regression
    // before any profiler does (each round = 1 join + 1 agg + 1 checkpoint).
    // info-level, not stderr: a library entry point must not print
    // unconditionally.
    org.slf4j.LoggerFactory.getLogger("graft.dedup.Clusters")
      .info(s"connectedComponents: rounds=$iter converged=$converged")
    labels.select(col("id").as(idCol), col("cluster_id"))
  }

  private def isIntegral(t: org.apache.spark.sql.types.DataType): Boolean = t match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
    case _ => false
  }

  /** The collected form: path-halving union-find, then min-id per root —
    * exactly the distributed loop's fixpoint (cluster_id = min vertex id
    * reachable; one row per DISTINCT vertex id; edges touching ids outside
    * the vertex set never propagate, matching the loop's inner join on the
    * label table). */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
                              idCol: String,
                              idType: org.apache.spark.sql.types.DataType,
                              vIds: Array[Long],
                              eRows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val index = new java.util.HashMap[java.lang.Long, Integer](vIds.length * 2)
    val distinct = new scala.collection.mutable.ArrayBuffer[Long](vIds.length)
    for (v <- vIds) if (index.putIfAbsent(v, index.size()) == null) distinct += v
    val n = distinct.length
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (r <- eRows) if (!r.isNullAt(0) && !r.isNullAt(1)) {
      val a = index.get(r.getLong(0)); val b = index.get(r.getLong(1))
      if (a != null && b != null) {
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(ra) = rb
      }
    }
    val minOfRoot = Array.fill(n)(Long.MaxValue)
    var i = 0
    while (i < n) { val r = find(i); if (distinct(i) < minOfRoot(r)) minOfRoot(r) = distinct(i); i += 1 }
    def back(v: Long): Any = idType match {
      case org.apache.spark.sql.types.LongType => v
      case org.apache.spark.sql.types.IntegerType => v.toInt
      case org.apache.spark.sql.types.ShortType => v.toShort
      case _ => v.toByte
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](n)
    i = 0
    while (i < n) {
      rows.add(org.apache.spark.sql.Row(back(distinct(i)), back(minOfRoot(find(i)))))
      i += 1
    }
    org.slf4j.LoggerFactory.getLogger("graft.dedup.Clusters")
      .info(s"connectedComponents: driver union-find fast path n=$n m=${eRows.length}")
    spark.createDataFrame(rows, StructType(Seq(
      StructField(idCol, idType, nullable = false),
      StructField("cluster_id", idType, nullable = false))))
  }
}
