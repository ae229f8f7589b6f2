package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Deduplication operators for training-data pipelines, from exact to
  * similarity-based. Design target is a 100 TB corpus on a 1000-executor
  * cluster:
  *
  *  - exact dedup is a single hash-keyed shuffle (group on a 128-bit digest,
  *    never on the full text — the shuffle carries 16-byte keys, not documents)
  *  - MinHash+LSH turns the O(n²) near-dup problem into an equi-join on
  *    (band, bandHash) buckets — the only all-pairs work happens inside
  *    buckets, which are tiny when the threshold is meaningful
  *  - SimHash reduces each doc to 64 bits; near-dup = Hamming ≤ d, found by
  *    pigeonhole banding (d+1 bands, exact-match join per band)
  *
  * Everything below is builtin-function + higher-order-function expressions —
  * no UDFs, so signature computation pipelines inside the scan stage.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact duplicate groups: md5(text) → group. Returns one row per distinct
    * content hash with its cardinality; callers keep `min(id)` as the
    * canonical representative (deterministic).
    */
  def exactDupGroups(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(TextOps.fingerprintMd5(text).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(id).as("keep_id"))

  /** Exact dedup: keep one representative row (min id) per content hash.
    * One shuffle keyed on the digest; the window never sees more rows per key
    * than the duplicate count.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol).asc)
    docs.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ---------------------------------------------------------------- jaccard

  /** Exact word-set Jaccard similarity as integer-safe components: returns
    * (intersection size, union size). Comparing `10*inter >= thresh10*union`
    * keeps threshold tests in integer arithmetic — bit-identical across
    * engines, which is what makes the oracle hashable.
    */
  def tokenSet(text: Column): Column = array_distinct(TextOps.tokens(text))

  def setIntersectionSize(a: Column, b: Column): Column = size(array_intersect(a, b)).cast("long")

  def setUnionSize(a: Column, b: Column): Column =
    (size(a) + size(b) - size(array_intersect(a, b))).cast("long")

  /** Brute-force n-gram/word-set Jaccard near-dup pairs (a.id < b.id, Jaccard
    * >= thresh10/10). CORRECTNESS BASELINE ONLY — O(n²) pairs; the scale path
    * is [[minhashCandidatePairs]] feeding the same exact verifier. The
    * `sizeRatio` prefilter (|A| ≥ t·|B| is implied by J ≥ t) prunes pairs
    * before any array work without losing a single true pair.
    */
  def jaccardPairsExact(docs: DataFrame, idCol: String, textCol: String, thresh10: Int): DataFrame = {
    val a = docs.select(col(idCol).as("id_a"), tokenSet(col(textCol)).as("ws_a"), size(tokenSet(col(textCol))).as("n_a"))
    val b = docs.select(col(idCol).as("id_b"), tokenSet(col(textCol)).as("ws_b"), size(tokenSet(col(textCol))).as("n_b"))
    a.join(b,
        col("id_a") < col("id_b") &&
        col("n_a") * 10 >= col("n_b") * thresh10 &&
        col("n_b") * 10 >= col("n_a") * thresh10)
      .withColumn("inter", setIntersectionSize(col("ws_a"), col("ws_b")))
      .withColumn("uni", (col("n_a") + col("n_b") - col("inter")).cast("long"))
      .filter(col("inter") * 10 >= col("uni") * thresh10)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"))
  }

  /** The distinct n-gram (shingle) set of a text — the containment
    * domain: word-window shingles carry local ORDER (a bag-of-words subset
    * is meaningless when the vocabulary is small; a shingle subset means
    * the same phrases occur), the same unit the MinHash pipeline hashes.
    * Backed by the codegen'd [[graft.functions.HashExprs.ShingleSet]]
    * kernel: the HOF form below evaluates its slice+array_join lambda
    * INTERPRETED per token (~10 µs/element — it was most of q255's 9.4 s,
    * recomputed once per reference to the shingle table in the plan).
    * DedupSpec pins the two bit-identical. */
  def shingleSet(text: Column, n: Int): Column =
    graft.functions.HashExprs.shingle_set(text, n)

  /** The retired HOF form of [[shingleSet]] — kept as the kernel's
    * differential oracle (pure builtins, engine-independent semantics). */
  private[graft] def shingleSetHof(text: Column, n: Int): Column = {
    val ts = TextOps.tokens(text)
    array_distinct(filter(
      transform(ts, (_, i) => when(i + n <= size(ts), array_join(slice(ts, i + lit(1), lit(n)), " "))),
      s => s.isNotNull))
  }

  /** EXACT shingle-set CONTAINMENT pairs — the ASYMMETRIC dup relation
    * C(A,B) = |A∩B|/|A| ≥ τ ("A's phrases are inside B"): catches
    * templated pages, quote-plus-commentary, and boilerplate-wrapped
    * copies that symmetric Jaccard structurally misses (J ≤ |A|/|B| → 0 as
    * the containing doc grows, while C stays 1 — a fully quoted short doc
    * inside a long commentary is invisible to q35/q42 at any threshold).
    * Directed output (id_a contained in id_b; both directions possible for
    * mutual near-copies) with integer-exact evidence columns (inter, n_a).
    *
    * CORRECTNESS BASELINE — O(n²) candidate pairs pruned by the size
    * prefilter (|A∩B| ≤ min(|A|,|B|) ⟹ (C ≥ τ ⟹ 10·|B| ≥ τ10·|A|)), which
    * loses no true pair. The scale path is [[containmentPairsIndexed]]
    * (identical output, candidates from a rare-shingle index join).
    */
  def containmentPairsExact(docs: DataFrame, idCol: String, textCol: String,
                            thresh10: Int, shingleN: Int = 3): DataFrame = {
    require(thresh10 >= 1 && thresh10 <= 10, s"containment: thresh10=$thresh10")
    val sets = docs.select(col(idCol).as("id"), shingleSet(col(textCol), shingleN).as("sh"))
      .withColumn("n", size(col("sh")).cast("long")).filter(col("n") > 0)
    val a = sets.select(col("id").as("id_a"), col("sh").as("sh_a"), col("n").as("n_a"))
    val b = sets.select(col("id").as("id_b"), col("sh").as("sh_b"), col("n").as("n_b"))
    a.join(b,
        col("id_a") =!= col("id_b") &&
        col("n_b") * 10 >= col("n_a") * thresh10)
      .withColumn("inter", setIntersectionSize(col("sh_a"), col("sh_b")))
      .filter(col("inter") * 10 >= col("n_a") * thresh10)
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"))
  }

  /** [[containmentPairsExact]] AT SCALE — identical output (exact, not
    * approximate), candidates from a RARE-SHINGLE INVERTED-INDEX join
    * instead of the n² size-filtered cross product.
    *
    * Pigeonhole: if C(A,B) ≥ τ then B misses ≤ (1−τ)·|A| of A's shingles,
    * so among ANY ⌊(1−τ)·|A|⌋+1 shingles of A at least one is in B. Order
    * every set by ascending corpus document frequency (ties by shingle)
    * and take A's first ⌊(1−τ)|A|⌋+1 — its RAREST shingles — as the probe
    * prefix; join it against the full inverted index on the shingle. Rare
    * shingles keep candidate lists short (a df-1 shingle finds only its
    * own document), which is the entire trick: the index is O(corpus
    * tokens) rows — the same cost class as [[graft.dedup.SpanDedup]]'s
    * gram table — but the JOIN fan-out follows the prefix shingles'
    * document frequencies, never a hot token's corpus-wide posting list.
    * Exact verification re-checks every candidate, so the prefix filter
    * loses no true pair and admits no false one.
    *
    * 100 TB shape: df pass = one partial-agg groupBy on shingles; index +
    * prefixes = two exploded projections; candidates = equi-join on
    * (shingle), SIZE-FILTERED before the dedup shuffle; verify counts
    * |A∩B| from a (shingle, id) equi-join with a map-side-combined
    * groupBy — after candidate generation only fixed-width (id, id,
    * count) rows and single shingles ever shuffle. The r9 plan re-joined
    * both FULL shingle arrays per candidate pair (≈5 KB/row through two
    * shuffles — measured 9.4 s at sf0.1, the slowest query on the board);
    * this plan carries no arrays past the explode, which is what survives
    * a low-entropy corpus where candidates are dense. No cross join
    * anywhere; document text never shuffles.
    */
  def containmentPairsIndexed(docs: DataFrame, idCol: String, textCol: String,
                              thresh10: Int, shingleN: Int = 3,
                              prefixSlack: Int = 4): DataFrame = {
    require(thresh10 >= 1 && thresh10 <= 10, s"containment: thresh10=$thresh10")
    require(prefixSlack >= 1, s"containment: prefixSlack=$prefixSlack")
    // `occ` below is consumed FIVE times (df pass, prefix, index, both
    // verify joins) — each deref re-ran the shingle kernel over the full
    // corpus. Materialize the doc-level shingle arrays once at the replay
    // boundary (the shingleJaccardPairsPrefix r13 pattern); consumers then
    // pay only the explode over cached arrays. One kernel pass instead of
    // five at any scale (guide §1.2 "don't compute things you throw away").
    val sets = docs.select(col(idCol).as("id"), shingleSet(col(textCol), shingleN).as("sh"))
      .withColumn("n", size(col("sh")).cast("long")).filter(col("n") > 0)
      .transform(graft.ops.Replay.stable(_))
    val occ = sets.select(col("id"), col("n"), explode(col("sh")).as("g"))
    val df = occ.groupBy("g").agg(count(lit(1)).as("df"))
    // A-side probe prefix, GENERALIZED pigeonhole (slack t = prefixSlack):
    // B missing ≤ ⌊(1−τ)|A|⌋ =: d of A's shingles means any
    // min(|A|, d + t) of them contain ≥ (len − d) ≥ t members of B — so
    // probing the (d + t) RAREST (df-ascending, shingle tiebreak) and
    // demanding ≥ (len − d) index matches cuts the one-common-rare-shingle
    // false candidates t=1 admits (measured: 216 756 candidates for 512
    // true pairs at sf0.1) for a ~t/d-proportional bump in probe fan-out.
    // t=1 degenerates to the classic prefix filter; both are EXACT.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("df").asc, col("g").asc)
    val dec = (col("n") * (10 - thresh10)).cast("long") / 10
    val prefix = occ.join(df, "g")
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= least(col("n"), dec + prefixSlack))
      .select(col("id").as("id_a"), col("n").as("n_a"), dec.as("dec_a"), col("g"))
    val index = occ.select(col("id").as("id_b"), col("n").as("n_b"), col("g"))
    // the size prefilter (10·|B| ≥ τ10·|A|) applies AT candidate birth —
    // before the match-count shuffle, not after two array joins (r9
    // advisor); the groupBy count IS the old distinct's shuffle, with the
    // pigeonhole match floor applied map-side-combined on top of it
    val cands = prefix.join(index, "g")
      .filter(col("id_a") =!= col("id_b") &&
        col("n_b") * 10 >= col("n_a") * thresh10)
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("dec_a"))
      .agg(count(lit(1)).as("pm"))
      .filter(col("pm") >= least(col("n_a"), col("dec_a") + prefixSlack) - col("dec_a"))
      .select("id_a", "id_b")
    // |A∩B| per candidate from the exploded index itself: attach A's
    // shingles (one row per (pair, shingle-of-A)), keep rows whose shingle
    // is also in B via the (id_b, g) equi-join, count. Long/short-string
    // rows only — the arrays from `sets` are never re-shuffled.
    cands
      .join(occ.select(col("id").as("id_a"), col("n").as("n_a"), col("g")), "id_a")
      .join(occ.select(col("id").as("id_b"), col("g")), Seq("id_b", "g"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") * 10 >= col("n_a") * thresh10)
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"))
  }

  /** The CONTAINMENT GATE's reference model: (ref ids, shingle → posting
    * indexes) collected from a reference corpus — the model-like artifact
    * ([[graft.functions.ContainmentExprs]]) an online/streaming gate
    * ships to executors, like a tokenizer vocabulary. LOUDLY bounded:
    * the gate is for reference sets that are genuinely model-sized
    * (decontamination benchmarks, boilerplate banks — MBs); checking a
    * corpus against a corpus-scale reference is
    * [[containmentPairsIndexed]]'s inverted-index join, not a broadcast.
    * Ref ids sort ascending so the model bytes are deterministic (the
    * gate's tie-break is (inter, refId) — order-free regardless). */
  def containmentIndex(reference: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3,
                       maxPostings: Int = 1 << 22): (Seq[Long], Seq[(String, Seq[Int])]) = {
    val rows = reference
      .select(col(idCol).cast("long"), shingleSet(col(textCol), shingleN))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
      .sortBy(_._1)
    val ids = rows.map(_._1)
    require(ids.distinct.length == ids.length, "containmentIndex: duplicate reference ids")
    val total = rows.iterator.map(_._2.length.toLong).sum
    require(total <= maxPostings,
      s"containmentIndex: $total postings exceed maxPostings=$maxPostings — a reference " +
        "this large is a corpus, not a model; use containmentPairsIndexed")
    val postings = scala.collection.mutable.Map[String, List[Int]]().withDefaultValue(Nil)
    for (((_, sh), i) <- rows.zipWithIndex; g <- sh) postings(g) = i :: postings(g)
    (ids.toSeq, postings.iterator.map { case (g, refs) => (g, refs.toSeq) }.toSeq)
  }

  /** Apply the gate: a ZERO-SHUFFLE projection over `incoming` — works
    * identically on a batch DataFrame and a streaming source (stateless,
    * so an AvailableNow drain is row-identical to batch by construction).
    * Output per incoming doc: (id, n_sh, best_ref, best_inter, gated) —
    * see [[graft.functions.ContainmentExprs.ContainmentGate]]. */
  def containmentGate(incoming: DataFrame, idCol: String, textCol: String,
                      index: (Seq[Long], Seq[(String, Seq[Int])]),
                      thresh10: Int, shingleN: Int = 3): DataFrame =
    incoming.select(col(idCol),
        graft.functions.ContainmentExprs.containment_gate(
          col(textCol), index._1, index._2, shingleN, thresh10).as("__g"))
      .select(col(idCol), col("__g.n_sh").as("n_sh"), col("__g.best_ref").as("best_ref"),
        col("__g.best_inter").as("best_inter"), col("__g.gated").as("gated"))

  /** EXACT n-gram(shingle)-set Jaccard near-dup pairs at scale, via prefix
    * filtering (AllPairs / Chaudhuri et al.): under any global total order
    * (here: the shingle hash value), two sets with J ≥ τ must share their
    * smallest common element within each set's first `|S| - ⌈τ|S|⌉ + 1`
    * elements — so candidates come from an equi-join on exploded PREFIXES,
    * never a cross join, and the result is still exact (prefix filtering
    * loses no true pair; the verifier re-checks the full sets).
    *
    * Shuffle payload: (prefixHash, id, setSize) — documents never move until
    * the (sparse) candidate verification join.
    */
  /** `dfOrderedPrefixes` picks the global order the prefix filter slices
    * under — EITHER is exact (any consistent total order is; tested):
    *
    *  - `false` (default): the shingle hash value. Prefix extraction is a
    *    zero-shuffle `slice` of the already-sorted array — the right choice
    *    until candidate VERIFICATION dominates the runtime.
    *  - `true`: ascending document frequency (canonical AllPairs ordering) —
    *    rare shingles land in the prefix, so prefix collisions track shared
    *    rare content rather than shared boilerplate, cutting the candidate
    *    count. Costs a df pass (partial-agg groupBy, kept only for REPEATED
    *    shingles — df=1 is implicit — then a rank window per doc). Flip this
    *    on when the corpus is large and boilerplate-heavy enough that the
    *    verification join, not candidate generation, is the bottleneck —
    *    the 100 TB regime; at bench scale the df pass costs more than it
    *    saves (measured).
    */
  def shingleJaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                                thresh10: Int, shingleN: Int = 3,
                                dfOrderedPrefixes: Boolean = false): DataFrame = {
    import graft.functions.HashExprs._
    import org.apache.spark.sql.expressions.Window
    // sets feeds the prefix explode AND both verify joins (3 consumers) —
    // the lazy checkpoint runs the shingle-hash scan once instead of three
    // times (r13, guide §1.2; the replay rule)
    val sets = docs.select(
        col(idCol).as("id"),
        array_sort(array_distinct(shingle_hashes(col(textCol), shingleN))).as("sh"))
      .withColumn("n", size(col("sh")).cast("long"))
      .withColumn("plen",
        (col("n") - floor((col("n") * thresh10 + lit(9)) / 10).cast("long") + 1))
      .transform(graft.ops.Replay.stable(_))
    // `sh` itself stays VALUE-sorted for the O(n+m) merge-scan verifier.
    val prefixes =
      if (!dfOrderedPrefixes)
        sets.select(col("id"), col("n"),
          explode(slice(col("sh"), lit(1), col("plen").cast("int"))).as("ph"))
      else {
        val exploded = sets.select(col("id"), col("n"), col("plen"), explode(col("sh")).as("h"))
        val repeatedDf = exploded.groupBy(col("h"))
          .agg(count(lit(1)).as("df")).filter(col("df") > 1)
        exploded
          .join(broadcast(repeatedDf), Seq("h"), "left")
          .withColumn("df", coalesce(col("df"), lit(1L)))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("id")).orderBy(col("df").asc, col("h").asc)))
          .filter(col("rn") <= col("plen"))
          .select(col("id"), col("n"), col("h").as("ph"))
      }
    val cands = prefixes.as("a").join(prefixes.as("b"),
        col("a.ph") === col("b.ph") && col("a.id") < col("b.id") &&
        col("a.n") * 10 >= col("b.n") * thresh10 &&
        col("b.n") * 10 >= col("a.n") * thresh10)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"), col("n").as("n_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"), col("n").as("n_b")), "id_b")
      // arrays are already sorted -> O(n+m) merge-scan kernel, not a hash set
      .withColumn("inter", sorted_intersect_size(col("sh_a"), col("sh_b")))
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .filter(col("inter") * 10 >= col("uni") * thresh10)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"))
  }

  // ---------------------------------------------------------------- minhash

  /** MinHash signature over an already-materialized SHINGLE-HASH array column
    * (the `array<long>` that [[graft.functions.HashExprs.shingle_hashes]]
    * produces): k independent hash functions simulated as
    * `xxhash64(h, seed)` for seed = 0..k-1; the signature entry is the min
    * over shingles. BIT-IDENTICAL to the codegen'd kernel
    * ([[graft.functions.HashAlgs.minhashSignature]]) — same builtin-xxhash64
    * chain, asserted by a differential test (DedupSpec) — so HOF-built and
    * kernel-built signatures/LSH buckets can be mixed. Seeds are generated as
    * longs because xxhash64 hashes INT and BIGINT children differently.
    * Docs with no shingles (< n tokens) yield `array(null, …)` here (array_min
    * of empty) vs the kernel's null signature — filter empties upstream.
    *
    * This is the reference form, kept for differential testing; it is ~10µs
    * per element (interpreted lambdas). `sh` MUST be an attribute reference
    * (staged via withColumn): lambda bodies re-evaluate nested subexpressions
    * per element, so an inline shingle expression here would be recomputed k
    * times per row (measured 100x slowdown at sf0.1).
    * [[withMinhashSignature]] does the staging on the kernel path.
    */
  def minhashSignature(sh: Column, k: Int): Column =
    transform(sequence(lit(0L), lit((k - 1).toLong)), seed => array_min(transform(sh, s => xxhash64(s, seed))))

  /** Attach a MinHash signature column via the codegen'd
    * [[graft.functions.HashExprs.ShingleHashes]] +
    * [[graft.functions.HashExprs.MinHashSignature]] kernels (single pass over
    * the text, no per-element lambda interpretation). Rows with fewer than
    * `shingleN` tokens (null signature) are dropped.
    */
  def withMinhashSignature(df: DataFrame, textCol: String, sigCol: String,
                           shingleN: Int, k: Int): DataFrame = {
    import graft.functions.HashExprs._
    df.withColumn(sigCol, minhash_signature(shingle_hashes(col(textCol), shingleN), k))
      .filter(col(sigCol).isNotNull)
  }

  /** LSH banding: signature of k = bands*rows entries → one 64-bit bucket hash
    * per band. Two docs land in the same (band, bucket) iff their signature
    * rows agree on that whole band.
    */
  def lshBands(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b => xxhash64(slice(sig, b * lit(rows) + 1, lit(rows)), b))

  /** MinHash+LSH candidate pairs: explode bands → equi-join on (band, bucket).
    * This is THE scale path: the shuffle key is (band, bucketHash), documents
    * never cross the wire, and bucket sizes stay small for real thresholds.
    * Returns distinct (id_a < id_b) candidates — feed to an exact verifier.
    */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                            shingleN: Int = 3, bands: Int = 16, rows: Int = 4): DataFrame = {
    val sigs = withMinhashSignature(docs, textCol, "sig", shingleN, bands * rows)
      .select(col(idCol).as("id"), col("sig"))
    val buckets = sigs
      .select(col("id"), posexplode(lshBands(col("sig"), bands, rows)).as(Seq("band", "bucket")))
    val bl = buckets.select(col("band"), col("bucket"), col("id").as("id_a"))
    val br = buckets.select(col("band"), col("bucket"), col("id").as("id_b"))
    bl.join(br, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Full MinHash near-dup pipeline: LSH candidates → exact Jaccard verify at
    * thresh10/10. Verification joins the (small) candidate set back to token
    * sets — two broadcast-able joins when candidates are sparse.
    */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String, thresh10: Int,
                          shingleN: Int = 3, bands: Int = 16, rows: Int = 4): DataFrame = {
    val cands = minhashCandidatePairs(docs, idCol, textCol, shingleN, bands, rows)
    val sets = docs.select(col(idCol).as("id"), tokenSet(col(textCol)).as("ws"))
    cands
      .join(sets.select(col("id").as("id_a"), col("ws").as("ws_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("ws").as("ws_b")), "id_b")
      .withColumn("inter", setIntersectionSize(col("ws_a"), col("ws_b")))
      .withColumn("uni", (size(col("ws_a")) + size(col("ws_b")) - col("inter")).cast("long"))
      .filter(col("inter") * 10 >= col("uni") * thresh10)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"))
  }

  // ---------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens: per-token xxhash64 (seed 42 —
    * identical to the builtin xxhash64 on the token); each bit position
    * accumulates +1/-1 across tokens; fingerprint bit = sign. Codegen'd
    * single-pass kernel ([[graft.functions.HashExprs.SimHash64]]) —
    * shuffle-free, pipelines inside the scan stage.
    */
  def simhash(text: Column): Column = graft.functions.HashExprs.simhash64(text)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("long")

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, via pigeonhole
    * banding: split 64 bits into maxDist+1 bands — any pair within distance d
    * agrees exactly on ≥1 band, so candidates come from an equi-join on
    * (band, bandBits), never a cross join.
    */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String, maxDist: Int = 3): DataFrame = {
    val nBands = maxDist + 1
    val width = 64 / nBands
    val fp = docs.select(col(idCol).as("id"), simhash(col(textCol)).as("fp"))
    val banded = fp.select(col("id"), col("fp"),
      posexplode(transform(sequence(lit(0), lit(nBands - 1)), b => {
        call_function("shiftright", col("fp"), b * lit(width)).bitwiseAND(lit((1L << width) - 1))
      })).as(Seq("band", "bits")))
    val l = banded.select(col("band"), col("bits"), col("id").as("id_a"), col("fp").as("fp_a"))
    val r = banded.select(col("band"), col("bits"), col("id").as("id_b"), col("fp").as("fp_b"))
    l.join(r, Seq("band", "bits")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("fp_a"), col("fp_b")).as("dist")).distinct()
      .filter(col("dist") <= maxDist)
  }

  // ------------------------------------------- deterministic (oracle) forms

  /** Engine-portable 28-bit token hash: the first 7 hex chars of md5(token)
    * parsed as an integer. md5 is bit-identical in every engine (unlike the
    * xxhash64 fast path above), so every operator built on this hash can be
    * mirrored verbatim in ANSI-ish SQL and hash-checked against an
    * independent engine. 28 bits keeps every affine-permutation product
    * `a*h` (a < 2^28) inside a signed 64-bit long — no modular-multiply
    * gymnastics on either engine.
    */
  def detTokenHash(w: Column): Column =
    conv(substring(md5(w), 1, 7), 16, 10).cast("long")

  /** 56-bit variant (first 14 hex chars) — for the SimHash fingerprint,
    * where more bits = better separation and no products are ever formed. */
  def detTokenHash56(w: Column): Column =
    conv(substring(md5(w), 1, 14), 16, 10).cast("long")

  /** Distinct word 3-gram shingles as STRINGS ("w1 w2 w3") from `text` —
    * the engine-portable analog of the xxhash64 shingle_hashes kernel.
    * Shingle-set (not word-set) similarity is what makes near-dup detection
    * selective on template-heavy corpora: word sets of two documents built
    * from the same template are nearly identical, their shingle sequences
    * are not (measured on the bench corpus: word-set J≥0.8 yields ~3M
    * pairs at 5k docs; shingle J≥0.8 yields tens). Docs with < 3 tokens
    * have no shingles — filter on size > 0 downstream.
    */
  def detShingleSet(text: Column): Column = {
    val ts = TextOps.tokens(text)
    // guard: Spark's sequence(1, n) REVERSES when n < 1 — empty-out instead
    when(size(ts) >= 3,
      array_distinct(transform(sequence(lit(1), size(ts) - 2),
        i => concat_ws(" ", element_at(ts, i), element_at(ts, i + 1), element_at(ts, i + 2)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Largest prime below 2^28 — modulus of the affine MinHash family. */
  val DetHashP = 268435399L

  /** Deterministic affine permutation i of a 28-bit hash: (a_i·h + b_i) mod P
    * with a_i = (2i+1)·65537 (odd, nonzero mod the prime P) and
    * b_i = 40503·i + 7 — both derivable from `i` inline in SQL, so the
    * oracle needs no constant tables. a_i·h ≤ 2^22·2^28 = 2^50: no overflow.
    */
  def detPerm(i: Column, h: Column): Column =
    ((i * 2 + 1) * lit(65537L) * h + i * lit(40503L) + lit(7L)) % lit(DetHashP)

  /** ORDER-SENSITIVE deterministic document fingerprint — the
    * engine-portable twin of TextOps.fingerprintRolling (whose xxhash64
    * fold no ANSI engine reproduces): a polynomial rolling hash
    * `acc ← (acc·B + h(token)) mod P` folded left-to-right over the token
    * stream, B = 1000003, P = 2³¹−1, h = [[detTokenHash]]. The fold equals
    * Σ hₜ·B^(n−1−t) mod P, which a SQL oracle computes from a recursive
    * power table — so token ORDER sensitivity itself is cross-engine
    * checked (bag-of-words permutations change the value; md5 of the whole
    * text — q33 — can't distinguish "order matters" from "content
    * matters"). All products stay < 2⁵¹: no overflow on either engine.
    * Codegen'd HOF aggregate — shuffle-free, pipelines in the scan.
    */
  def fingerprintRollingDet(text: Column): Column =
    aggregate(TextOps.tokens(text), lit(0L),
      (acc, t) => (acc * lit(1000003L) + detTokenHash(t)) % lit(2147483647L))

  /** MinHash+LSH near-dup pairs over the DETERMINISTIC hash family — the
    * correctness bridge for the LSH pipeline: same shape as
    * [[minhashNearDupPairs]] (signature → banding → bucket equi-join →
    * exact integer-Jaccard verify) but with md5-affine hashes an external
    * SQL engine reproduces bit-for-bit, so the WHOLE pipeline — including
    * which candidate pairs the banding surfaces — is hash-provable, not just
    * the verified survivors. Signatures are 3-gram SHINGLE-set MinHash
    * (q36's semantics — see [[detShingleSet]] on why shingles, not word
    * sets, keep output linear on template corpora). Keep the xxhash64
    * kernel form as the 100 TB fast path; this form costs
    * interpreted-lambda evaluation and exists to pin the algorithm.
    *
    * Output: (id_a, id_b, n_bands shared, inter, uni) for verified pairs.
    */
  /** The deterministic MinHash BAND/BUCKET table — (id, band, bucket), one
    * row per band per doc with a non-empty shingle set. Shared by
    * [[minhashDetNearDupPairs]] (batch candidate join, q212) and the
    * STREAMING near-dup ingest gate ([[graft.streaming.NearDupGate]], q247):
    * the bucket string is a pure function of the text, so batch and stream
    * index the same key space. */
  def detMinhashBuckets(docs: DataFrame, idCol: String, textCol: String,
                        bands: Int = 8, rows: Int = 4): DataFrame = {
    val k = bands * rows
    // the all-native path: det_shingle_hashes (md5 28-bit prefixes, same
    // tokenizer kernel as the xxhash64 family) into det_minhash_signature
    // (the detPerm fold as ONE tight k·n loop). Bit-identical to the
    // string-materializing HOF pipeline it replaced — DedupSpec pins the
    // equivalence; undeduped shingles are inert under the min fold —
    // and ~25× its throughput on md5-banded streams like the q247 gate.
    import graft.functions.HashExprs.{det_minhash_signature, det_shingle_hashes}
    val base = docs
      .select(col(idCol).as("id"), det_shingle_hashes(col(textCol), 3).as("hs"))
      .filter(size(col("hs")) > 0)
    val sigs = base.withColumn("sig", det_minhash_signature(col("hs"), k))
    sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws(",", transform(slice(col("sig"), b * rows + 1, lit(rows)),
          x => x.cast("string"))))).as(Seq("band", "bucket")))
  }

  def minhashDetNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                             thresh10: Int, bands: Int = 8, rows: Int = 4): DataFrame = {
    val base = docs
      .select(col(idCol).as("id"), detShingleSet(col(textCol)).as("ws"))
      .filter(size(col("ws")) > 0)
    val buckets = detMinhashBuckets(docs, idCol, textCol, bands, rows)
    val bl = buckets.select(col("band"), col("bucket"), col("id").as("id_a"))
    val br = buckets.select(col("band"), col("bucket"), col("id").as("id_b"))
    val cands = bl.join(br, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_bands"))
    val sets = base.select(col("id"), col("ws"))
    cands
      .join(sets.select(col("id").as("id_a"), col("ws").as("ws_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("ws").as("ws_b")), "id_b")
      .withColumn("inter", setIntersectionSize(col("ws_a"), col("ws_b")))
      .withColumn("uni", (size(col("ws_a")) + size(col("ws_b")) - col("inter")).cast("long"))
      .filter(col("inter") * 10 >= col("uni") * thresh10)
      .select(col("id_a"), col("id_b"), col("n_bands"), col("inter"), col("uni"))
  }

  /** Deterministic 56-bit SimHash near-dup pairs — the oracle-provable twin
    * of [[simhashNearDupPairs]]: per-distinct-SHINGLE md5 hash
    * ([[detTokenHash56]]; shingles for selectivity, 56 bits for
    * separation), each bit position accumulates ±1 across shingles (bit =
    * 1 iff the sum is ≥ 0), pigeonhole banding into `maxDist+1` 14-bit
    * bands (any pair within Hamming distance `maxDist` agrees on ≥ 1 whole
    * band), exact Hamming verify. Every step is integer arithmetic on
    * md5-derived values — reproducible in SQL bit-for-bit.
    *
    * Output: (id_a, id_b, dist) with dist ≤ maxDist.
    */
  def simhashDetNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                             maxDist: Int = 3): DataFrame = {
    require(maxDist == 3, "56-bit det SimHash bands as 4x14 bits (maxDist 3)")
    val nBands = maxDist + 1
    val width = 56 / nBands
    val base = docs
      .select(col(idCol).as("id"), detShingleSet(col(textCol)).as("ws"))
      .filter(size(col("ws")) > 0)
      .withColumn("hs", transform(col("ws"), detTokenHash56(_)))
    val fpExpr = (0 until 56).map { j =>
      when(aggregate(col("hs"), lit(0L),
        (acc, h) => acc + shiftright(h, j).bitwiseAND(lit(1L)) * 2 - 1) >= 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val fp = base.select(col("id"), fpExpr.as("fp"))
    val banded = fp.select(col("id"), col("fp"),
      posexplode(transform(sequence(lit(0), lit(nBands - 1)),
        b => call_function("shiftright", col("fp"), b * lit(width)).bitwiseAND(lit((1L << width) - 1))))
        .as(Seq("band", "bits")))
    val l = banded.select(col("band"), col("bits"), col("id").as("id_a"), col("fp").as("fp_a"))
    val r = banded.select(col("band"), col("bits"), col("id").as("id_b"), col("fp").as("fp_b"))
    l.join(r, Seq("band", "bits")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("fp_a"), col("fp_b")).as("dist")).distinct()
      .filter(col("dist") <= maxDist)
  }

  /** WINNOWING fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
    * MOSS selection scheme) over the deterministic 28-bit hash family:
    * hash every word `k`-gram ([[detTokenHash]] of the joined words), then
    * in every window of `w` consecutive k-gram hashes select the MINIMUM,
    * ties broken by the RIGHTMOST position (robust winnowing, §2.3 of the
    * paper). The guarantee that makes this the standard plagiarism /
    * near-dup fingerprint: any substring match of length ≥ w + k − 1
    * tokens produces at least one IDENTICAL (local-position-independent)
    * selected hash in both documents, while only ~2/(w+1) of all k-grams
    * are retained — a fixed-rate sample that is position-robust, unlike
    * fixed-stride sampling. rho's q40/q215 fingerprints digest the WHOLE
    * document; winnowing fingerprints localized overlap.
    *
    * Fully deterministic and integer-only → the DuckDB oracle reproduces
    * hash, window minimum and rightmost tie-break bit-for-bit. Per-row HOF
    * pipeline: zero shuffle besides the final distinct-free explode (the
    * selection set is de-duplicated per document with array_distinct
    * before exploding). At 100 TB the same shape runs with the xxhash64
    * kernel hash — one expression swap, nothing else changes.
    *
    * Output: one row per selected fingerprint — (id, pos, fp) where `pos`
    * is the 1-based k-gram index of the selected hash.
    */
  def winnowFingerprintsDet(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 2, s"winnowFingerprintsDet: k=$k w=$w")
    // det_shingle_hashes IS the ordered, undeduped k-gram hash array this
    // needed (positions implicit by index, 1-based via element_at
    // convention); winnow_select replaces the O(n·w) interpreted
    // min/tie/dedup lambdas with one O(n) monotone-deque kernel pass —
    // DedupSpec pins bit-equality of pos AND fp against the HOF form
    import graft.functions.HashExprs.{det_shingle_hashes, winnow_select}
    docs
      .select(col(idCol).as("id"), det_shingle_hashes(col(textCol), k).as("hs"))
      // need at least one full window of k-grams: |hs| = n−k+1 ≥ w
      .filter(size(col("hs")) >= w)
      .select(col("id"), explode(winnow_select(col("hs"), w)).as("sel"))
      .select(col("id"), col("sel.pos").as("pos"), col("sel.fp").as("fp"))
  }
}
