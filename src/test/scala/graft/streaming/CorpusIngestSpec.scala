package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}
import graft.io.Warehouse

class CorpusIngestSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  test("composed ingestion: quality gate + dedup + quarantine, idempotent across drains") {
    val root = SparkSpec.scratchDir("corpus_ingest")
    val wh = new Warehouse(spark, s"$root/wh")
    val ck1 = s"$root/ck1"

    val (acc1, rej1) = CorpusIngest.run(spark, s"$sfDir/documents.parq*", docSchema,
      wh, "corpus", "rejects", ck1)
    assert(acc1 > 0, "some documents must pass the gate")

    val corpus = wh.read("corpus")
    // fingerprints unique (dedup held) and only 'ok'-quality rows landed
    assert(corpus.count() === corpus.select("fp").distinct().count())
    assert(acc1 === corpus.count())
    assert(rej1 === wh.read("rejects").count())

    // reject counts agree with the batch-computed ground truth
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val truthRejects = Tables.documents(spark, sfDir)
      .withColumn("q", graft.text.TextOps.qualityBucket(norm))
      .filter(col("q") =!= "ok").count()
    assert(rej1 === truthRejects)

    // same checkpoint, second drain: files already absorbed — nothing moves
    val (acc2, rej2) = CorpusIngest.run(spark, s"$sfDir/documents.parq*", docSchema,
      wh, "corpus", "rejects", ck1)
    assert(acc2 === 0L && rej2 === 0L)
    assert(wh.read("corpus").count() === acc1)

    // FRESH checkpoint (simulated re-delivery): the fingerprint anti-join
    // absorbs every duplicate — corpus unchanged, rejects re-append (they
    // carry no key; dedup them downstream by fp if needed)
    val (acc3, _) = CorpusIngest.run(spark, s"$sfDir/documents.parq*", docSchema,
      wh, "corpus", "rejects", s"$root/ck2")
    assert(acc3 === 0L)
    assert(wh.read("corpus").count() === acc1)
  }

  test("near-dup gate: a paraphrased re-delivery is quarantined, a fresh doc passes") {
    import spark.implicits._
    val root = SparkSpec.scratchDir("corpus_neardup")
    val wh = new Warehouse(spark, s"$root/wh")
    def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit =
      docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(dir)

    val original =
      "the quick brown fox jumps over the lazy dog while the rain falls softly on the quiet village roofs tonight"
    // one word changed out of 20 — token-set Jaccard well above 0.8, fp differs
    val paraphrase =
      "the quick brown fox jumps over the lazy cat while the rain falls softly on the quiet village roofs tonight"
    val unrelated =
      "entirely different subject matter describing galaxies planets comets meteors asteroids orbits telescopes and astronomers mapping them"

    writeDocs(s"$root/in/batch1", Seq((1L, original)))
    val (a1, r1) = CorpusIngest.run(spark, s"$root/in/batch1", docSchema,
      wh, "corpus2", "rejects2", s"$root/ck1", nearDupThresh10 = 8)
    assert(a1 === 1L && r1 === 0L)
    assert(wh.exists("corpus2_bands") && wh.read("corpus2_bands").count() > 0,
      "accepted doc must leave band keys behind")

    writeDocs(s"$root/in/batch2", Seq((2L, paraphrase), (3L, unrelated)))
    val (a2, r2) = CorpusIngest.run(spark, s"$root/in/batch2", docSchema,
      wh, "corpus2", "rejects2", s"$root/ck2", nearDupThresh10 = 8)
    assert(a2 === 1L, "the unrelated doc must pass")
    assert(r2 === 1L, "the paraphrase must be quarantined")
    val rejects = wh.read("rejects2").collect()
    assert(rejects.length === 1 && rejects.head.getAs[String]("reject_reason") === "near_dup")
    assert(rejects.head.getAs[Long]("doc_id") === 2L)
    val corpusIds = wh.read("corpus2").select("doc_id").as[Long].collect().toSet
    assert(corpusIds === Set(1L, 3L))
    // the fresh accept extended the band table too (gate stays armed)
    assert(wh.read("corpus2_bands").select("fp").distinct().count() === 2L)
  }

  test("in-batch near-dups: two paraphrases arriving TOGETHER — one accepted, one quarantined") {
    import spark.implicits._
    val root = SparkSpec.scratchDir("corpus_inbatch")
    val wh = new Warehouse(spark, s"$root/wh")
    def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit =
      docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(dir)

    val original =
      "the quick brown fox jumps over the lazy dog while the rain falls softly on the quiet village roofs tonight"
    val paraphrase =
      "the quick brown fox jumps over the lazy cat while the rain falls softly on the quiet village roofs tonight"
    val unrelated =
      "entirely different subject matter describing galaxies planets comets meteors asteroids orbits telescopes and astronomers mapping them"

    // ALL THREE in one micro-batch: the corpus is empty, so only the
    // in-batch screen can catch the paraphrase pair (the r4 gap)
    writeDocs(s"$root/in/batch1", Seq((1L, original), (2L, paraphrase), (3L, unrelated)))
    val (a1, r1) = CorpusIngest.run(spark, s"$root/in/batch1", docSchema,
      wh, "corpus3", "rejects3", s"$root/ck1", nearDupThresh10 = 8)
    assert(a1 === 2L, "one of the paraphrase pair + the unrelated doc must land")
    assert(r1 === 1L, "the other paraphrase must be quarantined")
    val rejects = wh.read("rejects3").collect()
    assert(rejects.length === 1 &&
      rejects.head.getAs[String]("reject_reason") === "near_dup_in_batch")
    val corpusIds = wh.read("corpus3").select("doc_id").as[Long].collect().toSet
    assert(corpusIds.contains(3L) && corpusIds.size === 2,
      s"exactly one paraphrase survives alongside the unrelated doc, got $corpusIds")
    // the survivor's bands are armed: a LATER re-delivery of the quarantined
    // text still gates as a corpus near-dup
    val quarantinedText = if (corpusIds.contains(1L)) paraphrase else original
    writeDocs(s"$root/in/batch2", Seq((9L, quarantinedText + " extra")))
    val (_, r2) = CorpusIngest.run(spark, s"$root/in/batch2", docSchema,
      wh, "corpus3", "rejects3", s"$root/ck2", nearDupThresh10 = 8)
    assert(r2 === 1L, "paraphrase of the surviving twin must quarantine against the corpus")
  }

  test("quarantine: a NEW doc sharing fp+reason with an earlier reject still lands; replays don't") {
    import spark.implicits._
    val root = SparkSpec.scratchDir("corpus_rejkey")
    val wh = new Warehouse(spark, s"$root/wh")
    def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit =
      docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(dir)

    val junk = "xx" // fails the quality gate, deterministically
    writeDocs(s"$root/in/batch1", Seq((1L, junk)))
    val (a1, r1) = CorpusIngest.run(spark, s"$root/in/batch1", docSchema,
      wh, "corpus4", "rejects4", s"$root/ck1")
    assert(a1 === 0L && r1 === 1L)

    // a VERBATIM COPY with a new doc_id in a later batch: same fp, same
    // reject_reason — the (fp, reason)-keyed anti-join used to swallow it
    // (in neither corpus nor quarantine); the doc_id-keyed join must not
    writeDocs(s"$root/in/batch2", Seq((2L, junk)))
    val (_, r2) = CorpusIngest.run(spark, s"$root/in/batch2", docSchema,
      wh, "corpus4", "rejects4", s"$root/ck2")
    assert(r2 === 1L, "a genuinely new document must be accounted, not vanish")
    assert(wh.read("rejects4").select("doc_id").as[Long].collect().toSet === Set(1L, 2L))

    // replay of batch2 (fresh checkpoint = simulated re-delivery): the same
    // doc_id+fp+reason row is suppressed — quarantine stays duplicate-free
    val (_, r3) = CorpusIngest.run(spark, s"$root/in/batch2", docSchema,
      wh, "corpus4", "rejects4", s"$root/ck3")
    assert(r3 === 0L, "a replayed reject must not duplicate")
    assert(wh.read("rejects4").count() === 2L)
  }
}
