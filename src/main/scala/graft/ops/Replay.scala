package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The library's MULTI-CONSUMER MATERIALIZATION BOUNDARY (r14, from the
  * r13 advisor's durability finding): operators that are consumed by
  * several downstream plans (a trained model's sufficient statistic, a
  * shingle pass feeding index + verify joins, the suffix-ranks doubling
  * chain) mark the boundary with [[stable]] instead of calling
  * `localCheckpoint` directly.
  *
  * `localCheckpoint` truncates lineage and keeps the blocks ONLY on
  * executors — fast in local mode and the right bench default, but on a
  * real cluster an executor loss or a dynamic-allocation scale-down makes
  * the query FAIL unrecoverably instead of recomputing. The mode is a
  * session conf so a cluster deployment picks its durability posture
  * without code changes; this object is the only code that cuts lineage:
  *
  *   - `spark.graft.replay.mode = local` (default): lazy
  *     `localCheckpoint` — lineage truncated, executor-local blocks, no
  *     DFS write. Single-node / local[n] / bench.
  *   - `reliable`: lazy `Dataset.checkpoint` to the directory named by
  *     `spark.graft.replay.dir` (or a checkpoint dir already set on the
  *     SparkContext) — survives executor loss; the production posture for
  *     1000-executor runs.
  *   - `persist`: `MEMORY_AND_DISK` persist — replicated recompute-safe
  *     reuse WITHOUT lineage truncation. NOT for iterative loops (a plan
  *     referenced k times per round grows the logical tree k^rounds —
  *     the r13 q177 analysis-OOM lesson); fine for the one-shot operator
  *     boundaries that call this.
  *   - `none`: no boundary — every consumer recomputes the subtree.
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

  /** `eager` materializes the boundary now (Spark's own eager flag) —
    * for callers that snapshot a frame before writing what it reads, or
    * that narrow it afterwards. */
  def stable(df: DataFrame, eager: Boolean = false): DataFrame = {
    val s = df.sparkSession
    s.conf.get(ModeKey, "local") match {
      case "persist" if !eager => df.persist(StorageLevel.MEMORY_AND_DISK)
      case "none" if !eager => df
      case "local" | "persist" | "none" => df.localCheckpoint(eager)
      case "reliable" =>
        val sc = s.sparkContext
        val dir = s.conf.get(DirKey, "")
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
        df.checkpoint(eager)
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be one of local|reliable|persist|none, got '$other'")
    }
  }

  /** The boundary INSIDE an iterative loop (BPE merge rounds, MMR steps,
    * the suffix-ranks densification): here plan truncation is mandatory —
    * each round references the previous frame k ≥ 2 times, so without a
    * checkpoint the logical tree grows k^rounds and ANALYSIS itself OOMs
    * (the r13 q177 lesson). `persist`/`none` therefore degrade to the
    * local checkpoint instead of honoring the weaker mode; `reliable`
    * still gives the durable form. */
  def loopStable(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    s.conf.get(ModeKey, "local") match {
      case "reliable" => stable(df)
      case _ => df.localCheckpoint(eager = false)
    }
  }
}
