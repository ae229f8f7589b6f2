package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.RelOps

/** Data-lake readers — the engine's analog of the reference's GCS→BQ load
  * paths (idr_load.py:83-114 whole-bucket parquet loads;
  * dags/dependencies/parquet_solution.py per-blob pandas path).
  *
  * A "bucket" is a directory (or glob) of parquet files; Spark's
  * DataFrameReader subsumes the reference's list-blobs → fetch-bytes →
  * per-file read loop (parquet_solution.py:13-65) with a single distributed
  * scan — at 100 TB each file split becomes a task, no driver-side loop.
  */
object Lake {

  /** S1 — schema-preserving bulk load of every parquet file under `dir`.
    * (The reference's `skip_leading_rows`/`allow_quoted_newlines` at
    * idr_load.py:90-91 are CSV-only no-ops for parquet — not replicated.) */
  def readParquet(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** S1 variant with a declared schema (schema-on-read contract pinned in
    * code rather than inferred — FIXTURES.md). */
  def readParquet(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(dir)

  /** S4 — the MMD stringify-concat ingest (parquet_solution.py:67-84):
    * every column cast to string, files bag-unioned, whole-row dedup, literal
    * "None" strings renormalized to real nulls. One distributed pass: the
    * union is the multi-file read itself; dedup is one hash shuffle.
    */
  def readAllAsString(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    val dfs = dirs.map(d => RelOps.stringifyAll(spark.read.parquet(d)))
    RelOps.dedupAll(dfs.reduce(_.unionByName(_)))
  }
}
