package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The library's MULTI-CONSUMER MATERIALIZATION BOUNDARY (r14, from the
  * r13 advisor's durability finding): operators that are consumed by
  * several downstream plans (a trained model's sufficient statistic, a
  * shingle pass feeding index + verify joins, a graph operator's edge
  * list, the suffix-ranks doubling chain) mark the boundary with
  * [[stable]] instead of calling `localCheckpoint`, `persist` or `cache`
  * directly, and free it with [[release]].
  *
  * `localCheckpoint` truncates lineage and keeps the blocks ONLY on
  * executors — fast in local mode and the right bench default, but on a
  * real cluster an executor loss or a dynamic-allocation scale-down makes
  * the query FAIL unrecoverably instead of recomputing. The mode is a
  * session conf so a cluster deployment picks its durability posture
  * without code changes; this object is the only code that cuts lineage
  * or pins a frame:
  *
  *   - `spark.graft.replay.mode = local` (default): lazy
  *     `localCheckpoint` — lineage truncated, executor-local blocks, no
  *     DFS write. Single-node / local[n] / bench.
  *   - `reliable`: EAGER `Dataset.checkpoint` to the directory named by
  *     `spark.graft.replay.dir` (or a checkpoint dir already set on the
  *     SparkContext) — survives executor loss; the production posture for
  *     1000-executor runs. Always eager: a lazy reliable checkpoint runs
  *     the first action's job and then Spark's separate checkpoint-write
  *     job, which computes the subtree a second time.
  *   - `persist`: `MEMORY_AND_DISK` persist — replicated recompute-safe
  *     reuse WITHOUT lineage truncation. NOT for iterative loops (a plan
  *     referenced k times per round grows the logical tree k^rounds —
  *     the r13 q177 analysis-OOM lesson); fine for the one-shot operator
  *     boundaries that call this.
  *   - `none`: no boundary — every consumer recomputes the subtree.
  *
  * No mode leaves a frame in the session's CacheManager except `persist`,
  * which asks for exactly that: a checkpoint is a fresh `LogicalRDD` leaf
  * that no later plan matches, so a second build of the same operator runs
  * the operator instead of silently reading the first build's cache.
  * [[release]] frees a boundary once its last consumer has run.
  *
  * An EAGER boundary (`stable(df, eager = true)`) is a snapshot the caller
  * relies on: CorpusIngest counts and appends rows that anti-join against
  * the very tables it appends to. No boundary is no snapshot, and neither
  * is a persisted plan: Spark re-caches every plan that reads a path it
  * writes, re-deriving the rows against the grown table. So under
  * `persist`/`none` an eager boundary stays an eager local checkpoint.
  *
  * All four modes return the same rows; the choice only moves the
  * recompute/durability/write-cost trade-off. */
object Replay {
  private[graft] val ModeKey = "spark.graft.replay.mode"
  private[graft] val DirKey = "spark.graft.replay.dir"

  private def mode(df: DataFrame): String = df.sparkSession.conf.get(ModeKey, "local")

  /** `eager` materializes the boundary now (Spark's own eager flag) —
    * for callers that snapshot a frame before writing what it reads, or
    * that narrow it afterwards. */
  def stable(df: DataFrame, eager: Boolean = false): DataFrame =
    mode(df) match {
      case "persist" if !eager => df.persist(StorageLevel.MEMORY_AND_DISK)
      case "none" if !eager => df
      case "local" | "persist" | "none" => df.localCheckpoint(eager)
      case "reliable" =>
        val sc = df.sparkSession.sparkContext
        val dir = df.sparkSession.conf.get(DirKey, "")
        require(dir.nonEmpty || sc.getCheckpointDir.isDefined,
          s"$ModeKey=reliable needs $DirKey (or an already-set SparkContext checkpoint dir)")
        // setCheckpointDir mints <qualified dir>/<uuid>: compare against
        // the QUALIFIED root so repeated boundaries share one subdirectory
        if (dir.nonEmpty) {
          val root = new Path(dir)
          val qualified = root.getFileSystem(sc.hadoopConfiguration).makeQualified(root)
          if (!sc.getCheckpointDir.exists(d => new Path(d).getParent == qualified))
            sc.setCheckpointDir(dir)
        }
        df.checkpoint(eager = true)
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be one of local|reliable|persist|none, got '$other'")
    }

  /** The boundary INSIDE an iterative loop (BPE merge rounds, MMR steps,
    * the suffix-ranks densification, k-core and BFS rounds): here plan
    * truncation is mandatory — each round references the previous frame
    * k ≥ 2 times, so without a checkpoint the logical tree grows k^rounds
    * and ANALYSIS itself OOMs (the r13 q177 lesson). `persist`/`none`
    * therefore degrade to the local checkpoint instead of honoring the
    * weaker mode; `reliable` still gives the durable form. */
  def loopStable(df: DataFrame): DataFrame =
    mode(df) match {
      case "reliable" => stable(df)
      case _ => df.localCheckpoint(eager = false)
    }

  /** Frees a boundary returned by [[stable]] or [[loopStable]] once no
    * consumer will read it again: a local checkpoint drops its blocks and
    * a persisted frame leaves the cache. A reliable checkpoint (files the
    * checkpoint dir owns) and a `none` frame hold nothing to free. */
  def release(df: DataFrame): Unit = mode(df) match {
    case "reliable" =>
    case m =>
      df.queryExecution.logical match {
        case l: LogicalRDD => l.rdd.unpersist(blocking = false)
        case _ =>
      }
      if (m == "persist") df.unpersist(blocking = false)
  }
}
