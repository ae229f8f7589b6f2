package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Deletion vectors (merge-on-read deletes): the contracts the q201 oracle
  * cannot see — metadata-only cost shape, interaction with merge / compact /
  * checkpoint / vacuum / readDelta, and physical purge. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    SparkSpec.scratchDir("graft-dv")

  private def keys(vt: Versioned, t: String): Set[Long] =
    vt.read(t).select("k").as[Long].collect().toSet

  test("deleteWhere is metadata-only, version-addressed, and convergent") {
    val vt = new Versioned(spark, tmpRoot())
    vt.commit("t", (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"))
    val dataFiles = vt.snapshotFiles("t", 1L).toSet

    assert(vt.deleteWhere("t", col("k") % 2 === 0) === Some(2L))
    assert(keys(vt, "t") === Set(1L, 3L, 5L, 7L, 9L))
    // merge-on-read: the DATA file set is untouched — only a sidecar landed
    assert(vt.snapshotFiles("t", 2L).toSet === dataFiles,
      "a delete must not rewrite data files")
    // time travel: the pre-delete image is intact
    assert(vt.readVersion("t", 1L).count() === 10L)
    // convergence: re-deleting the same predicate finds nothing — no-op,
    // no version published
    assert(vt.deleteWhere("t", col("k") % 2 === 0) === None)
    assert(vt.latestVersion("t") === Some(2L))
    // overlapping second delete records only the NOT-yet-deleted positions
    assert(vt.deleteWhere("t", col("k") >= 4) === Some(3L))
    assert(keys(vt, "t") === Set(1L, 3L))
  }

  test("purge on a CLONE rewrites the dirty source files — deleted rows stay deleted") {
    // clones carry ABSOLUTE entry paths while DV __dv_file values are
    // two-segment rels; the dirty-file match must go through the canonical
    // relKey or it comes up empty and the purge drops the #dv lines
    // WITHOUT rewriting anything — resurrecting the deleted rows
    val vt = new Versioned(spark, tmpRoot())
    vt.commit("src", (1L to 8L).map(k => (k, s"v$k")).toDF("k", "v"))
    vt.deleteWhere("src", col("k") <= 3L)
    vt.cloneTable("src", "dst")
    assert(keys(vt, "dst") === (4L to 8L).toSet)
    val Some((_, rewritten)) = vt.purgeDeletes("dst"): @unchecked
    assert(rewritten >= 1, "the dirty cloned file must actually be rewritten")
    assert(keys(vt, "dst") === (4L to 8L).toSet,
      "purge of a clone must NOT resurrect source-deleted rows")
    // (clean cloned entries still zero-copy-reference SOURCE files — the
    // standard shallow-clone caveat: vacuuming the source invalidates
    // clones; only the dirty files were localized by the rewrite)

    // a DV landed on the clone's OWN timeline purges the same way
    vt.deleteWhere("dst", col("k") === 4L)
    val Some((_, r2)) = vt.purgeDeletes("dst"): @unchecked
    assert(r2 >= 1 && keys(vt, "dst") === (5L to 8L).toSet)
  }

  test("readDelta strict boundary on a clone: in-window DVs are accepted, not spuriously refused") {
    val vt = new Versioned(spark, tmpRoot())
    vt.commit("src", (1L to 5L).map(k => (k, s"v$k")).toDF("k", "v"))
    vt.cloneTable("src", "dst") // dst v1: absolute entries
    // window (1, 3]: append (new rel entries) then delete within them only
    vt.commitAppend("dst", Seq((10L, "n"), (11L, "n")).toDF("k", "v")) // v2
    vt.deleteWhere("dst", col("k") === 10L)                            // v3
    // the new DV hits only a file ADDED in the window → strict must pass
    val delta = vt.readDelta("dst", 1L, 3L)
    assert(delta.select("k").as[Long].collect().toSet === Set(11L))
    // a DV on the PRE-window (cloned, absolute-entry) files must still
    // refuse strictly — the rel/abs mismatch must not mask a real breach
    vt.deleteWhere("dst", col("k") === 1L) // v4: hits a cloned file
    intercept[IllegalStateException](vt.readDelta("dst", 3L, 4L))
  }

  test("deletes compose with appends; pruned and point reads subtract vectors") {
    val vt = new Versioned(spark, tmpRoot())
    vt.commit("t", (1L to 100L).map(k => (k, k * 10L)).toDF("k", "p"),
      statsCol = Some("k"))
    vt.deleteWhere("t", col("k").between(40L, 60L))
    vt.commitAppend("t", Seq((200L, 2000L)).toDF("k", "p"), statsCol = Some("k"))
    assert(vt.read("t").count() === (100L - 21L) + 1L)
    // the skipping read paths apply the vectors too (same rows as a full
    // read + filter — the readPruned/readPoint equality contract)
    assert(vt.readPruned("t", "k", 30L, 70L).select("k").as[Long].collect().toSet
      === ((30L to 39L) ++ (61L to 70L)).toSet)
    assert(vt.readPoint("t", "k", 50L).count() === 0L)
    assert(vt.readPoint("t", "k", 61L).count() === 1L)
  }

  test("mergeByKey and compact apply vectors on rewrite — deleted rows never resurrect") {
    val vt = new Versioned(spark, tmpRoot())
    // two files with disjoint key ranges so the merge prunes to one
    vt.commit("t", (1L to 50L).map(k => (k, 0L)).toDF("k", "p").coalesce(1),
      statsCol = Some("k"))
    vt.commitAppend("t", (100L to 150L).map(k => (k, 0L)).toDF("k", "p").coalesce(1),
      statsCol = Some("k"))
    // deletions land in BOTH files
    vt.deleteWhere("t", col("k").isin(10L, 110L))
    // merge touches only the low file (keys 1-50): its deleted row must not
    // resurrect from the rewrite, and the untouched file's vector must
    // carry forward
    vt.mergeByKey("t", Seq((20L, 99L)).toDF("k", "p"), "k")
    val after = vt.read("t")
    assert(after.filter(col("k") === 10L).count() === 0L, "rewrite resurrected a deleted row")
    assert(after.filter(col("k") === 110L).count() === 0L, "carried vector was dropped")
    assert(after.filter(col("k") === 20L).select("p").as[Long].head() === 99L)

    // compact: everything here is a small file — the packed rewrite must
    // also subtract the vectors
    vt.deleteWhere("t", col("k") === 30L)
    val Some((_, before, afterN)) = vt.compact("t"): @unchecked
    assert(afterN < before)
    val packed = vt.read("t")
    assert(packed.filter(col("k").isin(10L, 30L, 110L)).count() === 0L)
    assert(packed.count() === 101L - 3L)
  }

  test("purgeDeletes rewrites only dirty files and drops the vectors") {
    val vt = new Versioned(spark, tmpRoot())
    vt.commit("t", (1L to 50L).map(k => (k, 0L)).toDF("k", "p").coalesce(1),
      statsCol = Some("k"))
    vt.commitAppend("t", (100L to 150L).map(k => (k, 0L)).toDF("k", "p").coalesce(1),
      statsCol = Some("k"))
    assert(vt.purgeDeletes("t") === None, "no vectors: purge is a no-op")
    vt.deleteWhere("t", col("k").between(1L, 5L)) // dirties only the low file
    val cleanFile = vt.snapshotFiles("t", 2L).filterNot(vt.snapshotFiles("t", 1L).contains).head
    val Some((v, rewritten)) = vt.purgeDeletes("t", statsCol = Some("k")): @unchecked
    assert(rewritten === 1, "only the file carrying deletions is rewritten")
    assert(vt.snapshotFiles("t", v).contains(cleanFile), "clean file carried over untouched")
    assert(vt.read("t").count() === 96L)
    assert(vt.resolve("t", v).dvs.isEmpty, "purge must drop the #dv lines")
    // purged layout keeps skipping stats
    assert(vt.readPruned("t", "k", 100L, 150L).count() === 51L)
  }

  test("vacuum keeps referenced sidecars; reclaims them after purge") {
    val vt = new Versioned(spark, tmpRoot())
    vt.commit("t", (1L to 10L).map(k => (k, 0L)).toDF("k", "p"))
    vt.deleteWhere("t", col("k") <= 3L)
    vt.vacuum("t", keepLast = 1, retentionMs = 0L)
    assert(keys(vt, "t") === (4L to 10L).toSet, "vacuum deleted a live sidecar")
    val sidecars = vt.resolve("t", vt.latestVersion("t").get).dvs
    assert(sidecars.nonEmpty)
    vt.purgeDeletes("t")
    vt.vacuum("t", keepLast = 1, retentionMs = 0L)
    val f = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    sidecars.foreach { rel =>
      assert(!f.exists(new org.apache.hadoop.fs.Path(s"${vt.root}/t/data/$rel")),
        s"sidecar $rel should be reclaimed after purge + vacuum")
    }
    assert(keys(vt, "t") === (4L to 10L).toSet)
  }

  test("checkpoint manifests materialize the vectors; txn watermarks ride the delta chain") {
    val vt = new Versioned(spark, tmpRoot(), checkpointInterval = 4)
    vt.commit("t", (1L to 10L).map(k => (k, 0L)).toDF("k", "p"))   // v1
    assert(vt.commitAppendTxn("t", Seq((11L, 0L)).toDF("k", "p"), "app", 7L).isDefined) // v2
    vt.deleteWhere("t", col("k") <= 2L)                             // v3 (delta)
    vt.commitAppend("t", Seq((12L, 0L)).toDF("k", "p"))             // v4 = checkpoint
    assert(vt.chainDepth("t", 4L) === 1, "v4 must be a full (checkpoint) manifest")
    // the full manifest carried both the vectors and the watermark
    assert(keys(vt, "t") === ((3L to 12L)).toSet)
    assert(vt.lastTxn("t", "app") === Some(7L))
    // replay after the checkpoint is still absorbed
    assert(vt.commitAppendTxn("t", Seq((99L, 0L)).toDF("k", "p"), "app", 7L) === None)
  }

  test("readDelta: a delete on already-delivered files raises; in-window deletes net out") {
    val vt = new Versioned(spark, tmpRoot())
    vt.commit("t", (1L to 10L).map(k => (k, 0L)).toDF("k", "p"))    // v1
    vt.commitAppend("t", (100L to 110L).map(k => (k, 0L)).toDF("k", "p")) // v2
    // in-window: the delete hits only v2's rows → delta(1→3) is the exact net
    vt.deleteWhere("t", col("k") >= 105L)                           // v3
    assert(vt.readDelta("t", 1L, 3L).select("k").as[Long].collect().toSet
      === (100L to 104L).toSet)
    // already-delivered: a consumer at v3 has seen k<=10; deleting one of
    // those cannot be expressed as added rows → strict refuses
    vt.deleteWhere("t", col("k") === 1L)                            // v4
    val e = intercept[IllegalStateException] { vt.readDelta("t", 3L, 4L) }
    assert(e.getMessage.contains("deletion vector"))
    // non-strict opts into ignoring it (documented over-delivery)
    assert(vt.readDelta("t", 3L, 4L, strict = false).count() === 0L)
  }

  test("updateWhere: one atomic commit pairs old-position vectors with rewritten rows") {
    val vt = new Versioned(spark, tmpRoot())
    vt.commit("t", (1L to 10L).map(k => (k, k)).toDF("k", "p"))
    assert(vt.updateWhere("t", col("k") <= 3L, Map("p" -> (col("p") * 100L))) === Some(2L))
    val rows = vt.read("t").select("k", "p").as[(Long, Long)].collect().toMap
    assert(rows === (1L to 10L).map(k => k -> (if (k <= 3) k * 100 else k)).toMap)
    assert(vt.read("t").count() === 10L, "update must not change cardinality")
    // time travel: pre-update image intact
    assert(vt.readVersion("t", 1L).filter(col("p") === col("k")).count() === 10L)
    // nothing matches → no-op, no version
    assert(vt.updateWhere("t", col("k") > 100L, Map("p" -> lit(0L))) === None)
    assert(vt.latestVersion("t") === Some(2L))
    // a SET that retypes the column is refused loudly
    val e = intercept[IllegalArgumentException] {
      vt.updateWhere("t", col("k") === 1L, Map("p" -> lit("oops")))
    }
    assert(e.getMessage.contains("retypes"))
  }

  test("updateWhere preserves schema-evolved columns of the rewritten rows") {
    // the rewritten rows must carry EVERY merged column: deriving the
    // column list from the oldest file (or one sampled footer) silently
    // nulls out columns that arrived via mergeSchema appends
    val vt = new Versioned(spark, tmpRoot())
    vt.commit("t", Seq((1L, 10L), (2L, 20L)).toDF("k", "p"))
    vt.commitAppend("t", Seq((3L, 30L, "x3"), (4L, 40L, "x4")).toDF("k", "p", "extra"))
    assert(vt.updateWhere("t", col("k") === 3L, Map("p" -> (col("p") + 1L))).isDefined)
    val rows = vt.read("t", mergeSchema = true)
      .select("k", "p", "extra").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.getString(2))))).toMap
    assert(rows(3L) === ((31L, Some("x3"))),
      "the updated row must keep its schema-evolved column")
    assert(rows(4L) === ((40L, Some("x4"))) && rows(1L) === ((10L, None)))
    // SET on an evolved column works too (requires the merged column list)
    assert(vt.updateWhere("t", col("k") === 4L, Map("extra" -> lit("x4b"))).isDefined)
    assert(vt.read("t", mergeSchema = true).filter(col("k") === 4L)
      .select("extra").as[String].head() === "x4b")
  }

  test("updateWhere skips deleted rows; purge folds updates into a clean layout") {
    val vt = new Versioned(spark, tmpRoot())
    vt.commit("t", (1L to 10L).map(k => (k, 0L)).toDF("k", "p"))
    vt.deleteWhere("t", col("k") === 2L)
    vt.updateWhere("t", col("k") <= 4L, Map("p" -> lit(7L)))
    val afterUpdate = vt.read("t")
    assert(afterUpdate.filter(col("k") === 2L).count() === 0L,
      "update must not resurrect a deleted row")
    assert(afterUpdate.filter(col("p") === 7L).select("k").as[Long].collect().toSet
      === Set(1L, 3L, 4L))
    val Some((v, _)) = vt.purgeDeletes("t"): @unchecked
    assert(vt.resolve("t", v).dvs.isEmpty)
    assert(vt.read("t").filter(col("p") === 7L).count() === 3L)
    assert(vt.read("t").count() === 9L)
  }

  test("delete/update-heavy histories stay bounded through checkpoint manifests") {
    val vt = new Versioned(spark, tmpRoot(), checkpointInterval = 3)
    vt.commit("t", (1L to 30L).map(k => (k, 0L)).toDF("k", "p"))
    for (i <- 1 to 7)
      if (i % 2 == 0) vt.deleteWhere("t", col("k") === i.toLong)
      else vt.updateWhere("t", col("k") === (10L + i), Map("p" -> lit(i.toLong)))
    val latest = vt.latestVersion("t").get
    assert(vt.chainDepth("t", latest) <= 3,
      s"chain depth ${vt.chainDepth("t", latest)} exceeds the checkpoint interval")
    assert(vt.read("t").count() === 27L)
    assert(vt.read("t").filter(col("p") > 0L).count() === 4L)
  }

  test("change feed sees merge-on-read deletes as row-level deletes") {
    val vt = new Versioned(spark, tmpRoot())
    vt.commit("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    vt.deleteWhere("t", col("k") === 2L)
    val ch = vt.changesBetween("t", 1L, 2L, "k").collect()
    assert(ch.length === 1)
    assert(ch.head.getAs[String]("change_type") === "delete")
    assert(ch.head.getAs[Long]("k") === 2L)
  }

  test("scan-fused DV predicate equals the anti-join path, joins nothing, and caches") {
    val root = tmpRoot()
    val fast = new Versioned(spark, root) // default cap → predicate path
    val anti = new Versioned(spark, root, dvPredicateMax = 0L) // force anti-join
    fast.commit("t", (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"))
    fast.deleteWhere("t", col("k") % 3 === 0)
    fast.deleteWhere("t", col("k") > 90) // overlapping second vector
    val a = fast.read("t").select("k", "v").as[(Long, String)].collect().sortBy(_._1)
    val b = anti.read("t").select("k", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(a.toSeq === b.toSeq)
    assert(a.map(_._1).toSet === (1L to 90L).filter(_ % 3 != 0).toSet)
    // plan shape: DV application is a scan-fused predicate — no join node
    val plan = fast.read("t").queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(anti.read("t").queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // resolved vectors cache per immutable sidecar set: re-reads don't grow it
    val n = fast.dvCacheSize
    fast.read("t").count(); fast.read("t").count()
    assert(fast.dvCacheSize === n)
    // time travel below the vectors still bypasses everything
    assert(fast.readVersion("t", 1L).count() === 100L)
  }

  test("DV resolve cache is bounded by total cached positions, not entry count (r10 advisor)") {
    // dvPredicateMax = 8 -> position budget 4x8 = 32 longs. Eight tables
    // with 6 deleted rows each would retain 48 positions under an
    // entries-only bound; the budget must evict eldest-first while reads
    // stay correct (evicted versions simply re-resolve).
    val vt = new Versioned(spark, tmpRoot(), dvPredicateMax = 8L)
    for (i <- 1 to 8) {
      val t = s"t$i"
      vt.commit(t, (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"))
      assert(vt.deleteWhere(t, col("k") <= 6L) === Some(2L)) // publishes version 2
      assert(keys(vt, t) === Set(7L, 8L, 9L, 10L))
    }
    assert(vt.dvCachePositionCount <= 32L,
      s"cache retains ${vt.dvCachePositionCount} positions, budget is 32")
    assert(vt.dvCacheSize < 8, "some eldest entries must have been evicted")
    // the newest resolve is still cached; an evicted one re-resolves correctly
    assert(keys(vt, "t8") === Set(7L, 8L, 9L, 10L))
    assert(keys(vt, "t1") === Set(7L, 8L, 9L, 10L))
    // an oversized single resolve (6 > would-be-zero budget headroom) still
    // serves its read: the just-inserted entry is never evicted
    assert(vt.dvCacheSize >= 1)
  }
}
