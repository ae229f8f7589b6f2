package graft.io

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Named-table catalog over a directory of parquet tables — the engine's
  * analog of the reference's BigQuery datasets (every stage materializes its
  * output to a named table the next stage reads,
  * covid_transforms.py:48-50 `destination_dataset_table` + WRITE_TRUNCATE).
  *
  * Handles the reference's self-overwrite pattern (read table T, write result
  * back to T — mmd_transforms.py:64-66 staging→staging, Tx_Curr→Tx_Curr ×3,
  * hts entrypoints ×2): Spark refuses to overwrite a path it is reading, so
  * [[write]] always materializes to `<table>__tmp` first, then swaps
  * directories. The extra rename is metadata-only; the write itself is the
  * same single pass.
  */
class Warehouse(val spark: SparkSession, val root: String) {

  def path(table: String): String = s"$root/$table"

  private def fs(p: Path) = p.getFileSystem(spark.sessionState.newHadoopConf())

  // schema of each table as [[write]] last swapped it in: a read that passes
  // it skips the parquet footer-inference job a schema-less read launches.
  // Every other writer drops the table's entry.
  private val schemas = new ConcurrentHashMap[String, StructType]()

  private lazy val rootPath = {
    val p = new Path(root)
    fs(p).makeQualified(p).toUri.getPath.stripSuffix("/") + "/"
  }

  /** The table a file or directory under the root belongs to (an `__old`
    * snapshot belongs to its table); None outside the root. */
  def tableOf(file: String): Option[String] = {
    val p = new Path(file).toUri.getPath
    if (!p.startsWith(rootPath)) None
    else Some(p.substring(rootPath.length).takeWhile(_ != '/').stripSuffix("__old")).filter(_.nonEmpty)
  }

  /** Reads fall back to the `__old` snapshot if a crash mid-[[write]] left the
    * destination missing — so a Runner retry of a self-overwrite stage (S8)
    * can still read its input instead of failing permanently. */
  def read(table: String): DataFrame = {
    val dest = new Path(path(table))
    val old = new Path(path(table + "__old"))
    val f = fs(dest)
    if (!f.exists(dest) && f.exists(old)) spark.read.parquet(old.toString)
    else Option(schemas.get(table)).fold(spark.read)(spark.read.schema).parquet(dest.toString)
  }

  def exists(table: String): Boolean = {
    val p = new Path(path(table))
    fs(p).exists(p) || fs(p).exists(new Path(path(table + "__old")))
  }

  /** WRITE_TRUNCATE semantics (snapshot rebuild, S6/S8). Safe when `df` reads
    * from `table` itself, and crash-safe: the current snapshot is renamed
    * aside (`<table>__old`) before the new one is renamed into place, so no
    * instant exists at which the only copy is deleted — matching the
    * atomicity of the reference's BigQuery WRITE_TRUNCATE
    * (covid_transforms.py:48-50). A failure between the renames leaves
    * `__old` recoverable (see [[read]]); the old snapshot is dropped only
    * after the new one is live.
    */
  def write(table: String, df: DataFrame): Unit = {
    val dest = new Path(path(table))
    val tmp = new Path(path(table + "__tmp"))
    val old = new Path(path(table + "__old"))
    val f = fs(dest)
    schemas.remove(table)
    df.write.mode("overwrite").parquet(tmp.toString)
    f.delete(old, true) // leftover from a previous crashed swap
    val hadDest = f.exists(dest)
    if (hadDest && !f.rename(dest, old))
      throw new java.io.IOException(s"Warehouse swap failed for $table: could not retire old snapshot")
    if (!f.rename(tmp, dest)) {
      if (hadDest) f.rename(old, dest) // roll back to the retired snapshot
      throw new java.io.IOException(s"Warehouse swap failed for $table")
    }
    if (hadDest) f.delete(old, true)
    schemas.put(table, df.schema)
  }

  /** MERGE / upsert (the BigQuery MERGE analog the reference never needed
    * because it truncate-rebuilds daily): rows of `updates` replace current
    * rows sharing the same key; unmatched current rows survive; new keys
    * insert. Implemented as `updates ∪ (current ⟻anti updates-keys)` through
    * the crash-safe swap — the anti join ships only key columns of the
    * updates side (broadcast when small), so at 100 TB the current table
    * streams through one pass. When history accretes, pair with
    * [[writePartitioned]] so only partitions containing touched keys
    * rewrite (O(delta), not O(history)).
    */
  def merge(table: String, updates: DataFrame, keys: Seq[String]): Unit = {
    if (!exists(table)) write(table, updates)
    else {
      val kept = read(table).join(
        org.apache.spark.sql.functions.broadcast(
          updates.select(keys.map(updates.col): _*).distinct()),
        keys, "left_anti")
      write(table, updates.unionByName(kept))
    }
  }

  /** Append (streaming metadata sink, S7). */
  def append(table: String, df: DataFrame): Unit = {
    schemas.remove(table)
    df.write.mode("append").parquet(path(table))
  }

  /** Partitioned table with DYNAMIC partition overwrite: only the partitions
    * present in `df` are replaced; the rest of the table is untouched. This
    * is the 100 TB answer to the reference's whole-table snapshot rebuild
    * (WRITE_TRUNCATE everywhere): a daily run rewrites yesterday's
    * date/SiteCode partitions, not the full history — write cost goes from
    * O(history) to O(delta). Reads with a partition predicate scan only the
    * matching directories (partition pruning — asserted in tests).
    */
  def writePartitioned(table: String, df: DataFrame, partitionCols: Seq[String]): Unit = {
    schemas.remove(table)
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path(table))
  }

  /** Bucketed catalog table: co-locates future joins/aggregations on
    * `bucketCols` — two tables bucketed the same way join with NO shuffle
    * (the exchange is elided because output partitioning already satisfies
    * the join's distribution). This is the 100 TB answer to repeated
    * fact-fact joins on the same key (e.g. nightly art_mmd ⟕ vls): pay the
    * clustering once at write, never at read.
    * Registered in the session catalog (bucketing metadata lives there, not
    * in parquet), so reads go through `spark.table(name)`.
    *
    * Buckets are also SORTED on the key and written one-file-per-bucket, so
    * with `spark.sql.legacy.bucketedTableScan.outputOrdering=true` a merge
    * join additionally skips its per-partition Sort (the flag is off by
    * default because its one-file-per-bucket precondition is the writer's
    * responsibility — which the pre-repartition here guarantees; asserted
    * in ScaleOpsSpec).
    */
  def writeBucketed(table: String, df: DataFrame, buckets: Int, bucketCols: Seq[String]): Unit = {
    schemas.remove(table)
    // repartition on the bucket key first so each bucket lands as ONE file:
    // the scan only advertises the buckets' sort order (outputOrdering) when
    // a bucket is a single file, and only then can a downstream merge join
    // skip its Sort as well as its Exchange. Also caps file count at
    // `buckets` instead of tasks×buckets — the small-files guard at scale.
    df.repartition(buckets, bucketCols.map(df.col): _*)
      .write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", path(table))
      .saveAsTable(table)
  }

  def readTable(table: String): DataFrame = spark.table(table)

  /** Small-file COMPACTION: rewrite a table into `targetFiles` parquet
    * files through the same crash-safe swap as [[write]] — the maintenance
    * pass a long-lived warehouse needs after many incremental
    * merges/appends (each append lands its own files; thousands of tiny
    * files turn every scan's task-scheduling overhead into the bottleneck
    * and break the one-split=one-file locality assumption). Values are
    * untouched: compaction is observable only in the file listing.
    */
  def compact(table: String, targetFiles: Int): Unit =
    write(table, read(table).repartition(targetFiles))

  /** GLOBALLY-ORDERED export: range-partition on the key then sort within
    * each partition, so the output is `files` shards covering disjoint,
    * ascending key ranges, each internally sorted — the layout downstream
    * consumers (external loaders, merge readers, binary-searchable archives)
    * want, produced WITHOUT a single-reducer global sort: `repartitionByRange`
    * samples the key distribution and gives every task an equal slice, so
    * the sort is n/files per task at any scale. Asserted file-level in
    * ScaleOpsSpec (disjoint ranges + internal order).
    */
  def writeSorted(table: String, df: DataFrame, sortCols: Seq[String], files: Int): Unit = {
    schemas.remove(table)
    val cols = sortCols.map(df.col)
    df.repartitionByRange(files, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(path(table))
  }
}
