package graft

class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // pair-finding queries can legitimately be empty at the tiny sf0.001 scale;
  // q230: the 80-core of the sf0.001 co-purchase graph is empty (max degree
  // 138, the peel cascades to nothing — the documented ER-collapse property;
  // non-empty at sf0.01/sf0.1 where the driver's gates run)
  private val mayBeEmptyAtTinySf =
    Set("q35_jaccard_pairs", "q36_minhash_lsh", "q37_simhash_neardup", "q41_embed_neardup",
      "q42_ngram_jaccard", "q230_kcore",
      "q254_containment_pairs", "q255_containment_indexed")

  test("every declared query runs on sf0.001; non-pair queries return rows") {
    val empties = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      if (n == 0 && !mayBeEmptyAtTinySf(name)) Some(name) else None
    }
    assert(empties.isEmpty, s"queries with zero rows: $empties")
  }

  test("the may-be-empty allowlist only names real queries (no stale entries)") {
    val stale = mayBeEmptyAtTinySf -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"stale allowlist entries: $stale")
  }

  // the O(n²) correctness baselines and oracle-bridge forms the bench skips
  private val unbenched = Set("q35_jaccard_pairs", "q41_embed_neardup",
    "q137_semantic_dedup", "q140_record_linkage", "q153_label_agreement",
    "q212_minhash_det", "q213_simhash_det", "q254_containment_pairs")

  test("the catalog declares 292 queries: 287 oracled, 5 rows-only, 284 benched") {
    val names = SparkEntry.queries.keySet
    assert(names.size == 292)
    assert(SparkEntry.oracleSql.size == 287)
    assert(SparkEntry.rowsOnlyByDesign.keySet == Set("q36_minhash_lsh",
      "q37_simhash_neardup", "q39_ann_lsh", "q43_ann_ivf", "q199_ann_ivfpq"))
    assert(SparkEntry.oracleSql.keySet ++ SparkEntry.rowsOnlyByDesign.keySet == names)
    assert(unbenched.subsetOf(names))
    assert(SparkEntry.headlineQueries == (names -- unbenched).toSeq.sorted)
  }

  test("the catalog derivation rejects two entries with one name") {
    import SparkEntry.{QuerySpec, RowsOnly, Oracle}
    val build = SparkEntry.queries("q01_scan_project")
    val specs = Seq(
      QuerySpec("q_a", build, Oracle("SELECT 1")),
      QuerySpec("q_b", build, RowsOnly("b")),
      QuerySpec("q_a", build, RowsOnly("a again")))
    val e = intercept[IllegalArgumentException](SparkEntry.byName(specs))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"))
    assert(SparkEntry.byName(specs.take(2)).keySet == Set("q_a", "q_b"))
  }
}
