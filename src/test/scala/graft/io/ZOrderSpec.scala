package graft.io

import graft.SparkSpec
import graft.functions.ZOrder
import org.apache.spark.sql.functions._

/** Z-order clustering + multi-column data skipping: exact bit-level checks
  * of the Morton expression, manifest round-trip of multi-column stats
  * (incl. the legacy single-triple form), content-preservation of the
  * clustered commit, and the datum that matters — a 2-D box over a
  * z-ordered layout opens ~√-fewer files than either 1-D layout.
  */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot = SparkSpec.scratchDir("graft_zo")

  test("interleaveBits: exact Morton values on known bit patterns") {
    // x=0b11, y=0b01, 2 bits: z bits are (y1 x1 y0 x0) = (0 1 1 1) = 7
    val got = Seq((3L, 1L)).toDF("x", "y")
      .select(ZOrder.interleaveBits(Seq(col("x"), col("y")), 2).as("z"))
      .as[Long].head()
    assert(got == 7L)
    // identity at k=1: interleave of one column is the column
    val id = Seq((0xABCL, 0L)).toDF("x", "y")
      .select(ZOrder.interleaveBits(Seq(col("x")), 12).as("z")).as[Long].head()
    assert(id == 0xABCL)
    // 3 columns × 1 bit: z = x | y<<1 | w<<2
    val tri = Seq((1L, 0L, 1L)).toDF("x", "y", "w")
      .select(ZOrder.interleaveBits(Seq(col("x"), col("y"), col("w")), 1).as("z"))
      .as[Long].head()
    assert(tri == 5L)
  }

  test("linearBucket: equal-width bins, clamped, null-safe") {
    val df = Seq(Some(0L), Some(5L), Some(9L), Some(10L), Some(-4L), None)
      .toDF("x")
    val got = df.select(ZOrder.linearBucket(col("x"), 0L, 9L, 2).as("b"))
      .as[Long].collect().toSeq
    // width 10 over 4 bins of 2.5: 0→0, 5→2, 9→3; 10 clamps to 3, -4 to 0; null→0
    assert(got == Seq(0L, 2L, 3L, 3L, 0L, 0L))
  }

  test("multi-column stats round-trip the manifest; legacy lines still parse") {
    val vt = new Versioned(spark, tmpRoot)
    val df = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "t", "v")
    vt.commit("m", df, statsCols = Seq("k", "t"))
    val lines = vt.stage("legacy", Seq((5L, "x")).toDF("k", "v"), Seq("k"))
    // multi-stats entries carry both triples
    val entry = vt.snapshotFiles("m", 1L)
    assert(entry.nonEmpty)
    // prunedFilesBox sees both columns' stats
    assert(vt.prunedFilesBox("m", 1L, Seq(("k", 100L, 200L))).isEmpty)
    assert(vt.prunedFilesBox("m", 1L, Seq(("t", 100L, 200L))).isEmpty)
    assert(vt.prunedFilesBox("m", 1L, Seq(("k", 1L, 2L), ("t", 10L, 20L))).nonEmpty)
    // a box on an unknown column cannot skip
    assert(vt.prunedFilesBox("m", 1L, Seq(("zzz", -1L, -1L))).nonEmpty)
    // legacy single-triple lines parse (same grammar, one group)
    assert(lines.exists(l => l.split('|').length == 4))
  }

  test("commitZOrdered preserves content exactly and records stats for every z-col") {
    val vt = new Versioned(spark, tmpRoot)
    val df = (0L until 2000L).map(i => (i % 50L, (i * 7L) % 40L, i)).toDF("a", "b", "id")
    vt.commitZOrdered("z", df, Seq("a", "b"), numFiles = 16)
    val back = vt.read("z")
    assert(back.count() == 2000L)
    assert(back.select("a", "b", "id").as[(Long, Long, Long)].collect().toSet ==
      df.as[(Long, Long, Long)].collect().toSet)
    // box read returns exactly the filtered rows
    val box = vt.readPrunedBox("z", Seq(("a", 10L, 19L), ("b", 0L, 9L)))
      .select("id").as[Long].collect().toSet
    val want = df.filter($"a".between(10, 19) && $"b".between(0, 9))
      .select("id").as[Long].collect().toSet
    assert(box == want && want.nonEmpty)
  }

  test("the multiplicative-pruning datum: 2-D box on z-order beats both 1-D sorts") {
    val vt = new Versioned(spark, tmpRoot)
    val n = 40000L
    // two independent uniform dims — the adversarial case for 1-D layouts
    val df = (0L until n).map { i =>
      val a = (i * 2654435761L) % 1024L
      val b = (i * 0x9E3779B97F4A7C15L & Long.MaxValue) % 1024L
      (a, b, i)
    }.toDF("a", "b", "id")
    val files = 64
    vt.commitZOrdered("zo", df, Seq("a", "b"), numFiles = files)
    vt.commit("sa", df.repartitionByRange(files, $"a"), statsCols = Seq("a", "b"))
    vt.commit("sb", df.repartitionByRange(files, $"b"), statsCols = Seq("a", "b"))
    val box = Seq(("a", 0L, 127L), ("b", 0L, 127L)) // a 1/8 × 1/8 box
    def opened(t: String) =
      vt.prunedFilesBox(t, vt.latestVersion(t).get, box).size
    val (zo, sa, sb) = (opened("zo"), opened("sa"), opened("sb"))
    info(s"files opened for the 1/64-volume box: zorder=$zo sortA=$sa sortB=$sb of $files")
    // a 1-D sort prunes only its own dim: ~files/8. The z-order layout
    // prunes BOTH dims: strictly better than either, and well under half.
    assert(zo < sa && zo < sb, s"z-order ($zo) must beat 1-D layouts ($sa, $sb)")
    assert(zo <= files / 8, s"z-order opened $zo of $files for a 1/64 box")
    // correctness unaffected
    val want = df.filter($"a" <= 127 && $"b" <= 127).count()
    assert(vt.readPrunedBox("zo", box).count() == want)
  }
}
