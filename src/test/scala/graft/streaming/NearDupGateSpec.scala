package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.types._

/** The streaming near-dup gate's INCREMENTAL property: a stable checkpoint
  * carries the bucket index across drains, so batch N's documents are gated
  * against everything batches 1..N−1 indexed — without re-reading them. */
class NearDupGateSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def writeDocs(dir: String, file: String, docs: Seq[(Long, String)]): Unit =
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(dir) // append = new file per batch

  test("two drains: batch 2 gated against batch 1's index; smaller id takes the bucket") {
    val in = SparkSpec.scratchDir("gate_in_")
    val cp = SparkSpec.scratchDir("gate_cp_")
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "a completely different document about spark shuffles and joins"
    writeDocs(in, "b1", Seq(10L -> textA, 11L -> textB))
    val d1 = NearDupGate.gateOverParquet(spark, in, schema, "gate_d1",
      checkpoint = Some(cp))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // first sighting of each text: nothing flagged
    assert(d1 === Map(10L -> false, 11L -> false))

    // batch 2: doc 20 duplicates textA (flagged against batch 1's keeper
    // 10); doc 1 ALSO duplicates textA but with a SMALLER id — min-keeper
    // folds it in, so doc 1 becomes its own keeper and is NOT flagged
    writeDocs(in, "b2", Seq(20L -> textA, 1L -> textA, 30L -> "yet another unrelated text entirely here"))
    val d2 = NearDupGate.gateOverParquet(spark, in, schema, "gate_d2",
      checkpoint = Some(cp))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // only batch-2 docs are in drain 2's output (offsets skip batch 1)
    assert(d2.keySet === Set(20L, 1L, 30L))
    assert(d2(20L), "doc 20 must be flagged against batch 1's index")
    assert(!d2(1L), "a smaller id takes over the bucket, unflagged")
    assert(!d2(30L), "fresh content passes the gate")
  }

  test("order-free within a batch: keeper is the min id regardless of arrival") {
    val in = SparkSpec.scratchDir("gate_of_")
    val text = "one two three four five six seven eight nine ten eleven twelve"
    // ids deliberately written descending — min-keeper must still win
    writeDocs(in, "b1", Seq(99L -> text, 50L -> text, 7L -> text))
    val out = NearDupGate.gateOverParquet(spark, in, schema, "gate_of")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val m = out.map(t => t._1 -> t._3).toMap
    assert(m === Map(7L -> false, 50L -> true, 99L -> true))
    // exact dups share every band: n_dup_bands = 8 for the flagged docs
    assert(out.filter(_._3).forall(_._2 === 8L))
  }
}
