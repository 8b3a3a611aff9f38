package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._

/** Degenerate-input hardening: at corpus scale, EMPTY slices (a filter
  * that matches nothing, an empty partition, a source with no new
  * data) and NULL text are routine inputs, not errors. Every operator
  * must return an empty/align-typed frame instead of throwing — a
  * driver-side crash on an empty slice would kill a 100 TB job that
  * was 99% done.
  */
class DegenerateInputsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emptyDocs: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType))))

  private lazy val nullTextDocs: DataFrame =
    Seq((1L, null: String), (2L, ""), (3L, "   "), (4L, "real content here with words"))
      .toDF("doc_id", "text")

  private lazy val emptyEmb: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))

  test("dedup family: empty corpus in, empty (not crashed) out") {
    assert(Dedup.exactDedup(emptyDocs, "doc_id", "text").count() == 0L)
    assert(Dedup.minHashNearDupPairs(emptyDocs, "doc_id", "text").count() == 0L)
    assert(Dedup.simHashNearDupPairs(emptyDocs, "doc_id", "text").count() == 0L)
    assert(Dedup.ngramJaccardPairs(emptyDocs, "doc_id", "text").count() == 0L)
    assert(Dedup.spanDedup(emptyDocs, "doc_id", "text").count() == 0L)
    assert(Dedup.lineDedup(emptyDocs, "doc_id", "text").count() == 0L)
    assert(Dedup.winnowingNearDupPairs(emptyDocs, "doc_id", "text").count() == 0L)
    assert(Dedup.cleanCorpus(emptyDocs, "doc_id", "text").count() == 0L)
  }

  test("dedup family: null/blank text rows survive or drop, never throw") {
    // exact dedup: null and blank are distinct contents; all rows surface
    assert(Dedup.exactDedup(nullTextDocs, "doc_id", "text").count() == 4L)
    // signature-based operators skip sub-shingle docs; no pairs, no crash
    assert(Dedup.minHashNearDupPairs(nullTextDocs, "doc_id", "text").count() == 0L)
    assert(Dedup.ngramJaccardPairs(nullTextDocs, "doc_id", "text").count() == 0L)
    val spans = Dedup.spanDedup(nullTextDocs, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(spans(1L) == "" && spans(4L) == "real content here with words")
    val lines = Dedup.lineDedup(nullTextDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lines(1L) == "" && lines(4L) == "real content here with words")
  }

  test("similarity family: empty corpus trains degenerate models and searches empty") {
    val ivf = Similarity.trainIvf(emptyEmb, "embedding", nlist = 4)
    val pq = Similarity.trainPq(emptyEmb, "embedding", m = 2, ksub = 4)
    assert(Similarity.bruteForceTopK(emptyEmb, emptyEmb, "vec_id", "embedding", k = 5)
      .count() == 0L)
    assert(Similarity.ivfTopK(emptyEmb, emptyEmb, "vec_id", "embedding", k = 5, ivf)
      .count() == 0L)
    assert(Similarity.pqTopK(emptyEmb, emptyEmb, "vec_id", "embedding", k = 5, pq)
      .count() == 0L)
    assert(Similarity.semanticDedup(emptyEmb, "vec_id", "embedding", nlist = 4).count() == 0L)
  }

  test("filtered store faces: an EMPTY allowed set searches empty, never crashes") {
    // a metadata predicate that matches nothing is routine (wrong
    // license tag, empty language slice) — every filtered face must
    // return zero rows, not throw
    val rng = new scala.util.Random(5)
    val df = (0L until 40L)
      .map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 4, seed = 1L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 1L)
    val dir = java.nio.file.Files.createTempDirectory("graft-degenerate-filt").toString
    VectorStore.write(df, "vec_id", "embedding", dir, "dg_filt", ivf, pq, numBuckets = 2)
    val store = VectorStore.read(spark, dir, "dg_filt")
    val queries = df.where($"vec_id" < 3)
    val noneAllowed = Some(Similarity.AllowedIds(df.select($"vec_id").where(lit(false)),
      "vec_id"))
    assert(Similarity.ivfPqTopKFromStore(store, queries, "vec_id",
      "embedding", k = 3, allowed = noneAllowed).count() == 0L)
    assert(Similarity.ivfHammingTopKFromStore(store, queries, "vec_id",
      "embedding", k = 3, allowed = noneAllowed).count() == 0L)
    assert(Similarity.pqTopKFromStore(store, queries, "vec_id",
      "embedding", k = 3, allowed = noneAllowed).count() == 0L)
    assert(Similarity.mmrTopKFromStore(store, queries, "vec_id",
      "embedding", k = 3, allowed = noneAllowed).count() == 0L)
    assert(Similarity.semanticDedupFromStore(store, allowed = noneAllowed)
      .count() == 0L)
    // the same faces drive the rotated-store path through the same empty set
    val (ivfO, opqO) = Similarity.trainIvfOpq(df, "embedding", nlist = 4, m = 4,
      ksub = 16, seed = 1L)
    val dirO = java.nio.file.Files.createTempDirectory("graft-degenerate-filt-o").toString
    VectorStore.writeOpq(df, "vec_id", "embedding", dirO, "dg_filt_o", ivfO, opqO,
      numBuckets = 2)
    val storeO = VectorStore.read(spark, dirO, "dg_filt_o")
    assert(Similarity.ivfPqTopKFromStore(storeO, queries, "vec_id",
      "embedding", k = 3, allowed = noneAllowed).count() == 0L)
    assert(Similarity.pqTopKFromStore(storeO, queries, "vec_id",
      "embedding", k = 3, allowed = noneAllowed).count() == 0L)
  }

  test("text analysis family: empty and null-text inputs pass through typed") {
    assert(TextAnalysis.qualityScore(emptyDocs, "text").count() == 0L)
    assert(TextAnalysis.tokenQuantiles(emptyDocs, "text", Seq("doc_id")).count() == 0L)
    assert(TextAnalysis.commonNgramStats(emptyDocs, "doc_id", "text").count() == 0L)
    val q = TextAnalysis.qualityScore(nullTextDocs, "text")
    assert(q.count() == 4L, "null text scores as empty, not as a crash")
    assert(Lexical.termStats(emptyDocs, "doc_id", "text", Seq("spark")).count() == 0L)
    assert(Lexical.bm25TopK(emptyDocs, "doc_id", "text", Seq("spark")).count() == 0L)
  }

  test("round-9 faces: empty corpora and empty pools come back empty, never crash") {
    // binary ANN: empty corpus / empty queries both give empty results
    assert(Similarity.hammingTopK(emptyEmb, emptyEmb, "vec_id", "embedding", k = 5)
      .count() == 0L)
    val someEmb = Seq((1L, Seq(1f, -1f)), (2L, Seq(-1f, 1f))).toDF("vec_id", "embedding")
    assert(Similarity.hammingTopK(someEmb, emptyEmb, "vec_id", "embedding", k = 5)
      .count() == 0L)
    assert(Similarity.hammingTopK(emptyEmb, someEmb, "vec_id", "embedding", k = 5)
      .count() == 0L)
    val emptyIvf = Similarity.trainIvf(emptyEmb, "embedding", nlist = 4)
    assert(Similarity.ivfHammingTopK(emptyEmb, emptyEmb, "vec_id", "embedding", k = 5, emptyIvf)
      .count() == 0L)
    // canonicalize: null text stays null; empty corpus stays empty
    val canon = nullTextDocs
      .select(TextAnalysis.canonicalize(col("text")).as("c"))
      .collect()
      .map(r => Option(r.getString(0)))
    assert(canon.count(_.isEmpty) == 1 && canon.flatten.contains(""))
    assert(emptyDocs.select(TextAnalysis.canonicalize(col("text"))).count() == 0L)
    // hybrid retrieval: terms that match nothing → semantic-only results;
    // empty corpus → empty result
    val corpus = Seq(
      (1L, "alpha beta", Seq(1f, 0f)),
      (2L, "gamma delta", Seq(0f, 1f)),
    ).toDF("doc_id", "text", "embedding")
    val semOnly = Lexical
      .hybridTopK(corpus, "doc_id", "text", "embedding",
        Seq("nosuchterm"), Array(1f, 0f), k = 2, poolSize = 2)
      .collect()
    assert(semOnly.length == 2 && semOnly.forall(_.isNullAt(1)), "lexical ranks must be null")
    val emptyCorpus = corpus.where(lit(false))
    assert(Lexical.hybridTopK(emptyCorpus, "doc_id", "text", "embedding",
      Seq("alpha"), Array(1f, 0f), k = 2, poolSize = 2).count() == 0L)
  }

  test("sampling/packing family: empty inputs produce empty outputs") {
    val emptyToks = emptyDocs.select(col("doc_id"), lit(1L).as("n_tokens"))
      .where(lit(false))
    assert(Sampling.tokenBudgetSelect(emptyToks, "doc_id", "n_tokens",
      Seq(col("n_tokens").desc), 100L).count() == 0L)
    assert(Packing.sequencePackingByCount(emptyToks, "doc_id", "n_tokens", 512).count() == 0L)
    assert(Sketches.heavyHitters(emptyDocs.select(col("text").as("k")), "k", 8, topN = 5)
      .count() == 0L)
  }

  /** At 100 TB a handful of NULL / empty / all-zero embedding rows is
    * a certainty, not a corner: every similarity face must exclude
    * them from scoring (cosine is undefined — 0/0) without crashing
    * the job, and no NaN may enter a bounded top-k heap (NaN compares
    * "greater" under Ordering[Double] and would squat in a result
    * slot forever).
    */
  test("similarity family: null/empty/zero-norm embedding ROWS degrade per policy") {
    val mixed = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0f, 0f)),
      (3L, null: Seq[Float]),
      (4L, Seq.empty[Float]),
      (5L, Seq(0f, 0f, 0f, 0f)), // zero-norm, non-empty
      (6L, Seq(0f, 1f, 0f, 0f)),
      (7L, Seq(0.1f, 0.95f, 0f, 0f)),
    ).toDF("vec_id", "embedding")
    val deg = Set(3L, 4L, 5L)

    val bf = Similarity.bruteForceTopK(mixed, mixed, "vec_id", "embedding", k = 3).collect()
    assert(bf.nonEmpty)
    assert(bf.forall(r => !r.getDouble(3).isNaN), "no NaN cosine may surface")
    assert(!bf.exists(r => deg(r.getLong(0)) || deg(r.getLong(1))),
      "degenerate rows are neither queries nor neighbors")

    val pairs = Similarity
      .bruteForceNearDupPairs(mixed, "vec_id", "embedding", threshold = 0.5)
      .collect()
    assert(pairs.nonEmpty, "the well-formed near-pair (1,2) must still verify")
    assert(!pairs.exists(r => deg(r.getLong(0)) || deg(r.getLong(1))))

    val ivf = Similarity.trainIvf(mixed, "embedding", nlist = 2)
    val annIvf = Similarity
      .ivfTopK(mixed, mixed, "vec_id", "embedding", k = 3, ivf, nprobe = 2)
      .collect()
    assert(annIvf.nonEmpty && annIvf.forall(r => !r.getDouble(3).isNaN))
    assert(!annIvf.exists(r => deg(r.getLong(0)) || deg(r.getLong(1))))

    val pq = Similarity.trainPq(mixed, "embedding", m = 2, ksub = 4)
    val annPq = Similarity
      .pqTopK(mixed, mixed, "vec_id", "embedding", k = 3, pq, refine = 4)
      .collect()
    assert(annPq.nonEmpty && annPq.forall(r => !r.getDouble(3).isNaN))
    assert(!annPq.exists(r => deg(r.getLong(0)) || deg(r.getLong(1))))

    val annHam = Similarity
      .hammingTopK(mixed, mixed, "vec_id", "embedding", k = 3)
      .collect()
    assert(annHam.nonEmpty && annHam.forall(r => !r.getDouble(3).isNaN))
    assert(!annHam.exists(r => deg(r.getLong(0)) || deg(r.getLong(1))))

    val annIvfHam = Similarity
      .ivfHammingTopK(mixed, mixed, "vec_id", "embedding", k = 3, ivf, nprobe = 2)
      .collect()
    assert(annIvfHam.nonEmpty && annIvfHam.forall(r => !r.getDouble(3).isNaN))
    assert(!annIvfHam.exists(r => deg(r.getLong(0)) || deg(r.getLong(1))))

    val mmr = Similarity
      .mmrTopK(mixed, mixed.where(col("vec_id") === 1L), "vec_id", "embedding", k = 3)
      .collect()
    assert(mmr.nonEmpty && !mmr.exists(r => deg(r.getLong(1))))

    // semanticDedup: NULL/empty rows SURVIVE the dedup as their own
    // singleton components on sentinel cell -1 (they were dropped by
    // the whole operator before this hardening — a silent corpus leak)
    val sd = Similarity
      .semanticDedup(mixed, "vec_id", "embedding", nlist = 2, eps = 0.9)
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(4)))
      .toMap
    assert(sd.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L), "every input row surfaces")
    assert(sd(3L) == (-1, true) && sd(4L) == (-1, true),
      "null/empty rows keep on sentinel cell -1")

    // SRP-LSH pair scan: null/empty dropped before signatures
    val lsh = Dedup
      .embeddingNearDupPairs(mixed, "vec_id", "embedding", dim = 4, threshold = 0.5)
      .collect()
    assert(!lsh.exists(r => deg(r.getLong(0)) || deg(r.getLong(1))))
  }

  test("pq/opq faces: a vector NARROWER than the model dim is a NAMED error") {
    val good = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1f, 0f)),
    ).toDF("vec_id", "embedding")
    val pq = Similarity.trainPq(good, "embedding", m = 2, ksub = 4)
    val short = Seq((9L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val e = intercept[org.apache.spark.SparkException] {
      Similarity.pqTopK(good.union(short), good, "vec_id", "embedding", k = 2, pq).collect()
    }
    assert(e.getMessage.contains("pq encode") || Option(e.getCause).exists(
      _.getMessage.contains("pq encode")), s"unexpected: ${e.getMessage}")
  }
}
