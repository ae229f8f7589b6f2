package graft.dedup

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.text.TextOps

/** Depth-bounded suffix ranks by DISTRIBUTED PREFIX DOUBLING — the
  * construction behind exact-substring dedup (Lee et al. 2021 build a
  * suffix array of the concatenated corpus to find every duplicated span;
  * a span of length ≥ L duplicates iff two suffixes share an L-prefix, so
  * suffix ORDER BEYOND DEPTH L is irrelevant and the doubling loop stops
  * at ⌈log₂ L⌉ rounds).
  *
  * Round 0 ranks single tokens against the sorted distinct vocabulary;
  * round j orders each position by the pair (key_k(p), key_k(p+k)) with
  * k = 2^j — the Manber–Myers recurrence — never materializing the
  * depth-L token windows themselves. That is the point at 100 TB: the
  * direct form ships an L-token string per corpus position (L× write
  * amplification before the sort); the doubling form ships two longs per
  * position per round. Suffixes stay INSIDE documents (the ExactSubstr
  * separator discipline), so document boundaries never create phantom
  * duplicates.
  *
  * INTERMEDIATE keys only need to be ORDER-ISOMORPHIC to the prefix
  * order, not dense — so each round first tries the shuffle-free combine
  * key = a·(B+2) + (b+1) (exact lexicographic order embedding while the
  * key bound B stays below 2^31.5), and falls back to a re-densification
  * (global sort + zipWithIndex over the distinct key table — the
  * deterministic stable-id pattern, NOT monotonically_increasing_id)
  * only when the bound would overflow a long. Small vocabularies never
  * densify mid-loop; a 10^6-token vocabulary densifies once per two
  * rounds — each densification is the one sort the classic algorithm
  * pays every round. Only the FINAL rank is made dense (1-based, ties =
  * identical windows), fused with the duplicate-multiplicity count in a
  * single pass over the distinct-key table.
  *
  * Missing right halves (suffix shorter than the window) key as -1, so
  * shorter suffixes sort before their extensions — the order an engine
  * gives lexicographic comparison of the truncated token lists, which is
  * exactly how the oracle recomputes it.
  */
object SuffixRanks {

  /** Largest safe bound: combining needs (B+1)·(B+2) ≤ Long.MaxValue. */
  private val MaxCombineBound = 3000000000L

  /** Per-token-position suffix ranks truncated at `depth` tokens, plus
    * the duplicated-window flag: `(docId, wi, rank, is_dup)` where `wi`
    * is the 1-based token position, `rank` the dense 1-based rank of the
    * ≤ depth-token window starting there (ties = identical windows), and
    * `is_dup` marks windows occurring more than once corpus-wide — the
    * positions an ExactSubstr pass strips. `depth` must be a power of
    * two (the doubling schedule). */
  def suffixRanks(docs: DataFrame, docId: String, textCol: String,
                  depth: Int): DataFrame = {
    val (spark, ranked0) = windowKeys(docs, docId, textCol, depth)
    // ranked feeds the rank-table derivation AND the decorate join — the
    // lazy checkpoint runs the doubling chain once (r13, the replay rule).
    // Scoped HERE, not in windowKeys: the strip consumers' outputs are
    // column-prunable and a checkpoint there defeats the pruning (measured
    // 2× slower on q276/q282 — the bench's count() legitimately skips
    // their clean_text rebuild).
    val ranked = graft.ops.Replay.stable(ranked0)
    // final densification fused with the duplicate count: one aggregate
    // gives the distinct-key table WITH multiplicities; sort +
    // zipWithIndex ranks it; one join decorates every position
    val finals = ranked.groupBy("__r").agg(count(lit(1)).as("__n"))
      .orderBy("__r").rdd
      .map(r => (r.getLong(0), r.getLong(1))).zipWithIndex()
      .map { case ((key, n), i) => Row(key, n, i + 1L) }
    val rankTable = spark.createDataFrame(finals, StructType(Seq(
      StructField("__key", LongType, nullable = false),
      StructField("__n", LongType, nullable = false),
      StructField("__rank", LongType, nullable = false))))
    ranked.join(rankTable, ranked("__r") === rankTable("__key"))
      .select(col("__doc").as(docId), col("wi"),
        col("__rank").as("rank"), (col("__n") > 1L).as("is_dup"))
  }

  /** Duplicated-window statistics WITHOUT the dense ranks: per doc, total
    * window positions and how many are duplicated corpus-wide —
    * `(docId, n_pos, n_dup)`. Consumers that only strip/score duplication
    * (the ExactSubstr pass itself) skip the final global rank sort, which
    * the full [[suffixRanks]] pays only for its canonical output. Same
    * is_dup semantics (multiplicity of the depth-window key > 1). */
  def dupWindowStats(docs: DataFrame, docId: String, textCol: String,
                     depth: Int): DataFrame = {
    val (_, ranked0) = windowKeys(docs, docId, textCol, depth)
    // two consumers (multiplicity agg + decorate join) — doubling chain once
    val ranked = graft.ops.Replay.stable(ranked0)
    val counts = ranked.groupBy("__r").agg(count(lit(1)).as("__n"))
    ranked.join(counts, "__r")
      .groupBy(col("__doc").as(docId))
      .agg(count(lit(1)).as("n_pos"),
        count(when(col("__n") > 1L, 1)).as("n_dup"))
  }

  /** EXACTSUBSTR SPAN STRIP — what the operator actually IS in Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): remove the duplicated spans THEMSELVES, keep the first
    * occurrence, emit cleaned text. Every occurrence after the FIRST (in
    * (doc, position) order) of any full `depth`-token window duplicated
    * corpus-wide is a removal span; a token survives iff no removal span
    * covers it. Output per input doc: `(docId, n_tokens, n_kept,
    * clean_text)` with clean_text = surviving tokens joined by ' '
    * (whitespace-normalized, the q268 convention — md5-pinnable).
    *
    * Scale shape: the window keys come from the same ⌈log₂ depth⌉
    * doubling rounds (two longs per position per round — never the
    * windows); multiplicity+first is one aggregate on the key; coverage
    * explodes only depth × removal rows; the rebuild is a per-document
    * sort-aggregate, bounded by document length. Tail windows shorter
    * than `depth` are never removal spans (the paper strips ≥ L-token
    * duplicates only). */
  def stripDuplicatedSpans(docs: DataFrame, docId: String, textCol: String,
                           depth: Int): DataFrame = {
    val (_, ranked) = windowKeys(docs, docId, textCol, depth)
    val toks = docs
      .select(col(docId).as("__doc"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("__wi0", "__tok")))
      .select(col("__doc"), (col("__wi0") + 1).cast("long").as("__wi"), col("__tok"))
    val nTok = toks.groupBy("__doc").agg(max("__wi").as("__n"))
    val win = ranked.select(col("__doc"), col("wi").as("__wi"), col("__r"))
      .join(nTok, "__doc")
      .filter(col("__wi") + lit(depth - 1) <= col("__n"))
      .select("__doc", "__wi", "__r")
    val firsts = win.groupBy("__r").agg(count(lit(1)).as("__m"),
      min(struct(col("__doc"), col("__wi"))).as("__f"))
    val removals = win.join(firsts, "__r")
      .filter(col("__m") > 1L &&
        !(col("__doc") === col("__f.__doc") && col("__wi") === col("__f.__wi")))
    stripRebuild(docs.select(col(docId).as("__doc")), toks, nTok, removals,
      docId, depth)
  }

  /** CROSS-CORPUS DECONTAMINATION STRIP — the ExactSubstr operator in its
    * decontamination role (the Lee et al. 2022 technique applied the way
    * FineWeb-era pipelines actually deploy it against benchmark sets):
    * remove from `train` EVERY span whose full `depth`-token window also
    * occurs in `bench` — no first-occurrence survivor; contaminated text
    * has no right of residence — and emit the cleaned training text.
    * Bench tail fragments shorter than `depth` never contaminate (the
    * ≥ L-token rule, same as the self-strip). Output per train doc:
    * `(docId, n_tokens, n_kept, clean_text)`.
    *
    * Scale shape: ONE doubling pass over the tagged union (train ids → 2k,
    * bench → 2k+1 — window keys are shared, so a train/bench match is key
    * equality, never a string comparison); the contaminated-key set is a
    * distinct projection of the bench side; removals are one left-semi
    * join. Bench corpora are typically tiny next to train — the key-set
    * side of that join broadcasts. */
  def stripContaminatedSpans(train: DataFrame, bench: DataFrame, docId: String,
                             textCol: String, depth: Int): DataFrame = {
    // The 2k / 2k+1 tag encoding is arithmetic — ids outside [0, 2^62)
    // would wrap or collide SILENTLY (and negative ids break the % 2
    // side split). Enforce the envelope loudly: ONE unioned id-column
    // agg job covering both inputs (column-pruned scan, per-side rows).
    val ranges = train.select(col(docId).cast("long").as("__id"), lit("train").as("__side"))
      .unionByName(bench.select(col(docId).cast("long").as("__id"), lit("bench").as("__side")))
      .groupBy("__side").agg(min("__id").as("lo"), max("__id").as("hi"))
      .collect()
    for (r <- ranges if !r.isNullAt(1))
      require(r.getLong(1) >= 0L && r.getLong(2) < (1L << 62),
        s"stripContaminatedSpans: ${r.getString(0)} $docId range " +
          s"[${r.getLong(1)}, ${r.getLong(2)}] outside [0, 2^62) — " +
          "the 2k/2k+1 tag encoding would wrap or collide")
    val t2 = train.select((col(docId).cast("long") * 2).as(docId), col(textCol))
    val b2 = bench.select((col(docId).cast("long") * 2 + 1).as(docId), col(textCol))
    val both = t2.unionByName(b2)
    val (_, ranked) = windowKeys(both, docId, textCol, depth)
    val toksAll = both
      .select(col(docId).as("__doc"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("__wi0", "__tok")))
      .select(col("__doc"), (col("__wi0") + 1).cast("long").as("__wi"), col("__tok"))
    val nTok = toksAll.groupBy("__doc").agg(max("__wi").as("__n"))
    val win = ranked.select(col("__doc"), col("wi").as("__wi"), col("__r"))
      .join(nTok, "__doc")
      .filter(col("__wi") + lit(depth - 1) <= col("__n"))
      .select("__doc", "__wi", "__r")
    val benchKeys = win.filter(col("__doc") % 2 === 1).select("__r").distinct()
    val removals = win.filter(col("__doc") % 2 === 0)
      .join(benchKeys, Seq("__r"), "left_semi")
    val trainToks = toksAll.filter(col("__doc") % 2 === 0)
    val trainN = nTok.filter(col("__doc") % 2 === 0)
    stripRebuild(t2.select(col(docId).as("__doc")), trainToks, trainN, removals,
      docId, depth)
      .withColumn(docId, shiftright(col(docId), 1))
  }

  /** Shared strip tail: positional coverage union of the removal windows,
    * anti-join survivors, per-document order-preserving rebuild —
    * left-joined onto `docIds` so empty/stripped-to-nothing docs still
    * emit a row. */
  private def stripRebuild(docIds: DataFrame, toks: DataFrame, nTok: DataFrame,
                           removals: DataFrame, docId: String, depth: Int): DataFrame = {
    val covered = removals.select(col("__doc"),
      explode(sequence(col("__wi"), col("__wi") + lit(depth - 1))).as("__wi"))
      .distinct()
    val kept = toks.join(covered, Seq("__doc", "__wi"), "left_anti")
    // field extraction via GetArrayStructFields (codegen'd), not a
    // transform lambda (interpreted per surviving token — r14, the
    // q247-class per-element hazard in the rebuild's hottest expression)
    val rebuilt = kept.groupBy("__doc")
      .agg(count(lit(1)).as("__nk"),
        array_join(array_sort(collect_list(struct(col("__wi"), col("__tok"))))
          .getField("__tok"), " ").as("__ct"))
    docIds.join(nTok, Seq("__doc"), "left")
      .join(rebuilt, Seq("__doc"), "left")
      .select(col("__doc").as(docId),
        coalesce(col("__n"), lit(0L)).as("n_tokens"),
        coalesce(col("__nk"), lit(0L)).as("n_kept"),
        coalesce(col("__ct"), lit("")).as("clean_text"))
  }

  /** The doubling loop: per-position keys ORDER-ISOMORPHIC to the
    * ≤ depth-token window order (equal keys ⟺ identical windows), as
    * `(__doc, wi, __r)`. */
  private def windowKeys(docs: DataFrame, docId: String, textCol: String,
                         depth: Int): (org.apache.spark.sql.SparkSession, DataFrame) = {
    require(depth >= 1 && (depth & (depth - 1)) == 0 && depth <= 1024,
      s"suffixRanks: depth=$depth must be a power of two in [1, 1024]")
    val spark = docs.sparkSession

    val toks = docs
      .select(col(docId).as("__doc"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("__wi0", "__tok")))
      .select(col("__doc"), (col("__wi0") + 1).cast("long").as("__wi"), col("__tok"))

    // round 0: vocabulary ranks — sorted distinct tokens (Heaps-bounded).
    // DF orderBy sorts by UTF8String BYTE order, the binary collation an
    // external engine's varchar sort gives; zipWithIndex then follows the
    // total sort order deterministically.
    // one boundary: both the size probe (the combine bound) and the join
    // consume this table — without it the distinct+sort+zipWithIndex
    // lineage would execute twice
    val vocab = spark.createDataFrame(
      toks.select("__tok").distinct().orderBy("__tok").rdd
        .map(_.getString(0)).zipWithIndex()
        .map { case (t, i) => Row(t, i + 1L) },
      StructType(Seq(StructField("__tok", StringType, nullable = false),
        StructField("__r", LongType, nullable = false))))
      .transform(graft.ops.Replay.stable(_))
    // one aggregate measures BOTH gate inputs: row count and total token
    // bytes (the same job the plain count() was)
    val sizes = vocab.agg(count(lit(1)), coalesce(sum(octet_length(col("__tok"))), lit(0L))).head()
    val (vocabSize, vocabBytes) = (sizes.getLong(0), sizes.getLong(1))
    // r13 (guide §3.1): the rank table is RDD-backed — no size statistics —
    // so the planner defaulted this join to sort-merge, exchanging + sorting
    // the WHOLE per-position token table against a vocabulary-sized side.
    // The vocab row count is already measured above: broadcast when it is
    // small. Gate on BYTES as well as rows (r13 advisor): a 2^20-row table
    // of long tokens can be far more than "tens of MB" built on the driver
    // and replicated per executor — 64 MB of raw token bytes (before the
    // ~3-4× hash-relation framing) is the ceiling; bigger vocabs keep the
    // shuffle join, which was always safe.
    val vr = if (vocabSize <= (1L << 20) && vocabBytes <= (64L << 20))
      broadcast(vocab) else vocab
    var ranked = toks.join(vr, "__tok")
      .select(col("__doc"), col("__wi"), col("__r"))
    var bound = vocabSize

    // Each round's right half is lead(__r, k) over the per-document
    // position order — ONE exchange + sort for the whole loop (every
    // subsequent window reuses the doc partitioning and wi order), and a
    // combine round is then a pure projection: no self-join, no extra
    // shuffle, linear lineage.
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy("__doc").orderBy("__wi")
    var k = 1
    while (k < depth) {
      val paired = ranked.withColumn("__r2",
        coalesce(lead(col("__r"), k).over(byPos), lit(-1L)))
      if (bound <= MaxCombineBound) {
        // order-isomorphic combine: (a, b) → a·(B+2) + (b+1); b ∈ [-1, B]
        // keeps the second component inside one "digit" of base B+2
        ranked = paired.select(col("__doc"), col("__wi"),
          (col("__r") * (bound + 2) + col("__r2") + 1L).as("__r"))
        bound = bound * (bound + 2) + bound + 1L
      } else {
        // re-densify: global sort + deterministic zipWithIndex over the
        // distinct pair table, joined back (the classic rank round)
        val pairs = paired.select("__r", "__r2").distinct()
          .orderBy("__r", "__r2").rdd
          .map(r => (r.getLong(0), r.getLong(1))).zipWithIndex()
          .map { case ((a, b), i) => Row(a, b, i + 1L) }
        val pairRanks = spark.createDataFrame(pairs, StructType(Seq(
          StructField("__ra", LongType, nullable = false),
          StructField("__rb", LongType, nullable = false),
          StructField("__nr", LongType, nullable = false))))
        ranked = graft.ops.Replay.loopStable(paired.join(pairRanks,
            paired("__r") === pairRanks("__ra") && paired("__r2") === pairRanks("__rb"))
          .select(col("__doc"), col("__wi"), col("__nr").as("__r")))
        bound = pairRanks.count()
      }
      k *= 2
    }
    (spark, ranked.select(col("__doc"), col("__wi").as("wi"), col("__r")))
  }
}
