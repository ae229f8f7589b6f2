package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the incremental view-maintenance algebra on hand-built change sets:
  * group-migrating updates hit both sides, groups vanish at count zero,
  * brand-new groups appear, and the end-to-end feed from
  * [[graft.io.Versioned.changesWithImages]] refreshes a view to exactly the
  * recomputed aggregate.
  */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("applyCountSumDeltas: migration, vanishing and appearing groups") {
    val snapshot = Seq((1L, 2L, 100L), (2L, 1L, 50L))
      .toDF("grp", "n_rows", "sum_val")
    val changes = Seq(
      // update migrating grp 1 -> 3 (new group), value 60 -> 61
      ("update", Some(1L), Some(3L), Some(60L), Some(61L)),
      // delete the only grp-2 row: group must vanish
      ("delete", Some(2L), None, Some(50L), None),
      // in-place update within grp 1
      ("update", Some(1L), Some(1L), Some(40L), Some(45L)),
      // insert into grp 3
      ("insert", None, Some(3L), None, Some(7L))
    ).toDF("change_type", "grp_before", "grp_after", "cents_before", "cents_after")
    val got = Incremental.applyCountSumDeltas(snapshot, changes, "grp", "cents")
      .as[(Long, Long, Long)].collect().toSet
    // grp1: was (2,100); -60 (migrated out) +45-40 = (1, 45)
    // grp2: vanished; grp3: 61 + 7 = (2, 68)
    assert(got === Set((1L, 1L, 45L), (3L, 2L, 68L)))
  }

  test("changesWithImages feed refreshes a view to the recomputed truth") {
    val dir = SparkSpec.scratchDir("graft_ivm_spec")
    val vt = new graft.io.Versioned(spark, dir)
    val v1 = Seq((1L, 10L, 5L), (2L, 10L, 6L), (3L, 20L, 7L), (4L, 20L, 8L))
      .toDF("k", "grp", "cents")
    val v2 = Seq((1L, 10L, 5L),   // unchanged
                 (2L, 20L, 6L),   // migrated 10 -> 20
                 (3L, 20L, 9L),   // updated in place
                 (5L, 30L, 1L))   // inserted (and 4 deleted)
      .toDF("k", "grp", "cents")
    vt.commit("t", v1)
    vt.commit("t", v2)
    val view1 = vt.readVersion("t", 1L).groupBy("grp")
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_val"))
    val refreshed = Incremental.applyCountSumDeltas(
        view1, vt.changesWithImages("t", 1L, 2L, "k"), "grp", "cents")
      .as[(Long, Long, Long)].collect().toSet
    val truth = v2.groupBy("grp")
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_val"))
      .as[(Long, Long, Long)].collect().toSet
    assert(refreshed === truth)
  }

  test("changesWithImages emits both images with correct null arms") {
    val dir = SparkSpec.scratchDir("graft_cwi_spec")
    val vt = new graft.io.Versioned(spark, dir)
    vt.commit("t", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    vt.commit("t", Seq((2L, 21L), (3L, 30L)).toDF("k", "v"))
    val got = vt.changesWithImages("t", 1L, 2L, "k")
      .select("k", "change_type", "v_before", "v_after")
      .as[(Long, String, Option[Long], Option[Long])].collect().toSet
    assert(got === Set(
      (1L, "delete", Some(10L), None),
      (2L, "update", Some(20L), Some(21L)),
      (3L, "insert", None, Some(30L))))
  }
}
