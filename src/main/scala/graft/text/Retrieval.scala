package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 retrieval scoring at corpus scale — the ranking function behind
  * Lucene/Elasticsearch and the lexical half of every RAG hybrid-retrieval
  * stack (Robertson & Zaragoza, "The Probabilistic Relevance Framework:
  * BM25 and Beyond", FnTIR 2009). Complements the TF-IDF operator (q139):
  * TF-IDF describes a document's own salient terms; BM25 ranks documents
  * against a QUERY with saturation (k1) and length normalization (b).
  *
  * Plan shape (the 100 TB posture):
  *   - one tokenize pass feeds tf, dl, df, and the corpus totals;
  *   - the tf fact table is pruned to query terms FIRST via a broadcast
  *     semi-shape join (query sets are human-sized), so everything past
  *     the prune is O(matched postings), not O(corpus);
  *   - df restricted to query terms and the 1-row corpus totals ride as
  *     broadcasts; the only big shuffles are the tf/dl groupBys on
  *     (doc, term)/(doc) — ordinary partial-aggregated equi-shuffles;
  *   - the final per-query top-k is a WindowGroupLimit window: each task
  *     keeps its local top-k before the |queries|-partition shuffle, so
  *     the window never sees more than tasks × k rows per query.
  */
object Retrieval {

  /** How the inverse document frequency is computed. */
  sealed trait IdfMode

  /** Canonical BM25 idf `ln((N - df + 0.5)/(df + 0.5) + 1)` (the
    * Lucene/ATIRE non-negative form), double-typed score. The production
    * mode. */
  case object LnIdf extends IdfMode

  /** Engine-portable EXACT mode: idf is the integer-scaled rational
    * `(2N - 2df + 1)·10⁶ ÷ (2df + 1)` (the ln's argument, un-logged —
    * same per-term monotonicity, different cross-term weighting) and the
    * whole score is computed in long arithmetic with floor division, so
    * any ANSI SQL engine reproduces it BIT-IDENTICALLY — no libm in the
    * result. Fixed k1 = 1.2, b = 0.75 (the rational form hardwires them:
    * tf·(k1+1)/(tf + k1(1−b+b·dl·N/S)) = 22·tf·S / (10·tf·S + 3·S +
    * 9·dl·N) exactly). Bounds: terms ≤ 2⁶³ needs 22·tf·S·10⁶ < 2⁶³,
    * i.e. Σdl·max-tf below ~4·10¹¹ — fine for correctness gates; use
    * [[LnIdf]] beyond that. */
  case object RationalIdf extends IdfMode

  /** Score every document against every query and keep the top `k` docs
    * per query.
    *
    * @param docs       corpus; `docId` must be unique
    * @param textCol    whitespace-tokenized via [[TextOps.tokens]]
    * @param queryTerms (queryId, termCol) rows — the bag of terms per
    *                   query (duplicates ignored); assumed human-sized
    *                   (broadcast)
    * @param k          docs kept per query
    * @param k1, b      BM25 saturation / length-norm (LnIdf only;
    *                   RationalIdf hardwires 1.2/0.75)
    * @return (queryId, docId, score, n_terms, rank) — rank 1..k by score
    *         desc with docId asc tie-break; docs matching no term are
    *         absent (score 0 in BM25)
    */
  def bm25TopK(docs: DataFrame, docId: String, textCol: String,
               queryTerms: DataFrame, queryId: String, termCol: String,
               k: Int, mode: IdfMode = LnIdf,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, "bm25TopK: k must be positive")
    if (mode == RationalIdf)
      require(k1 == 1.2 && b == 0.75,
        "RationalIdf hardwires k1=1.2, b=0.75 (the exact rational form)")
    val tok = docs.select(col(docId).as("__doc"),
      explode(TextOps.tokens(col(textCol))).as("__t"))
    // ONE pass over the corpus (r13, guide §1.2): the posting table tf is
    // the sufficient statistic — dl = Σ tf per doc, df = row count per term,
    // N = |dl|, S = Σ dl — so the scan+tokenize+explode runs once (it used
    // to re-execute for each of tf/dl/dft/tot, 4×). Every identity is
    // exact integer algebra, so scores and ranks are unchanged.
    //
    // OVERLAP (r14): the query-term derivation is often its own
    // corpus-scale chain (q197 derives queries from the corpus) and it is
    // independent of the posting build until the prune join — both
    // boundaries materialize as [[graft.ops.Overlap]] arms instead of
    // paying the two chains' latencies in sequence.
    val (q, tf) = graft.ops.Overlap.both(docs.sparkSession, "bm25")(
      "bm25: query terms" -> { () =>
        val d = graft.ops.Replay.stable(queryTerms
          .select(col(queryId).as("__q"), col(termCol).as("__t")).distinct())
        d.count()
        d
      },
      "bm25: posting table" -> { () =>
        val t = graft.ops.Replay.stable(
          tok.groupBy("__doc", "__t").agg(count(lit(1)).as("__tf")))
        t.count()
        t
      })
    val dl = tf.groupBy("__doc").agg(sum(col("__tf")).as("__dl"))
    val dft = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
    val tot = dl.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__s"))
    val matched = tf
      .join(broadcast(q), "__t") // prune the posting fact to query terms
      .join(broadcast(dft.join(q.select("__t").distinct(), "__t")), "__t")
      .join(dl, "__doc")
      .crossJoin(broadcast(tot))
    val contrib = mode match {
      case RationalIdf =>
        // all-positive longs: div/floor-div agree across engines
        expr("""((2*__n - 2*__df + 1) * 1000000 div (2*__df + 1)) *
                ((22*__tf*__s) * 1000000 div (10*__tf*__s + 3*__s + 9*__dl*__n))
                div 1000000""")
      case LnIdf =>
        val idf = log((col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0)
        val tfp = (col("__tf") * (k1 + 1.0)) /
          (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") * col("__n") / col("__s")))
        idf * tfp
    }
    val scored = matched
      .select(col("__q"), col("__doc"), contrib.as("__c"))
      .groupBy("__q", "__doc")
      .agg(sum(col("__c")).as("score"), count(lit(1)).as("n_terms"))
    val w = Window.partitionBy(col("__q"))
      .orderBy(col("score").desc, col("__doc").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__q").as(queryId), col("__doc").as(docId),
        col("score"), col("n_terms"), col("rank").cast("long").as("rank"))
  }
}
