package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, VectorStore}
import graft.streaming.{StreamingDedup, StreamingVectorStore}

/** Top-level (not nested in the suite): MemoryStream needs a product
  * encoder, and inner case classes capture the suite's outer pointer.
  */
final case class SvsVecEvent(doc_id: Long, ts: java.sql.Timestamp, embedding: Array[Float])

/** The vector store's streaming lambda lifecycle: stream-vs-standing
  * semantic hits (stateless stream-static), increment sink →
  * compaction fold (threshold-dedup inside the turn), retention, and
  * the crash-window behaviors shared with the signature compaction.
  */
class StreamingVectorStoreSpec extends SparkTestBase {
  import spark.implicits._

  private val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00").getTime

  /** 8 clusters × 25 members in 32 dims (the ingestDedup fixture
    * recipe — at 32 dims spurious cosines stay ≈0.6, far from the
    * 0.9 threshold).
    */
  private def corpus(seed: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    (0 until 8).flatMap { c =>
      val center = Array.fill(32)(rng.nextGaussian().toFloat)
      (0 until 25).map(m =>
        (c * 25L + m, center.map(x => x + 0.1f * rng.nextGaussian().toFloat).toSeq))
    }.toDF("vec_id", "embedding").repartition(5)
  }

  private def copiesOf(df: DataFrame, ids: Seq[Long], offset: Long): DataFrame =
    df.where($"vec_id".isin(ids: _*))
      .select(($"vec_id" + offset).as("vec_id"),
        transform($"embedding",
          (x, i) => when(i === 0, (x + lit(0.01f)).cast("float")).otherwise(x))
          .as("embedding"))

  private def freshRows(df: DataFrame, ids: Seq[Long], offset: Long): DataFrame =
    df.where($"vec_id".isin(ids: _*))
      .select(($"vec_id" + offset).as("vec_id"),
        transform($"embedding",
          (x, i) => when(pmod(hash($"vec_id" + offset, i), lit(2)) === 0, lit(1.0f))
            .otherwise(lit(-1.0f))).as("embedding"))

  private def withTs(df: DataFrame): DataFrame =
    df.withColumn("ts", lit(new java.sql.Timestamp(t0)).cast("timestamp"))

  test("corpusSemanticHitsFiltered: hits only among the allowed slice, stream ≡ batch, contrast vs unfiltered") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val df = corpus(53)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 8, ksub = 16, seed = 3L)
    val dir = java.nio.file.Files.createTempDirectory("graft-svs-filt").toString
    VectorStore.write(df, "vec_id", "embedding", dir, "svs_filt", ivf, pq, numBuckets = 2)
    val store = VectorStore.read(spark, dir, "svs_filt")
    // cluster 0 (ids 0-24) is DISALLOWED entirely: a copy of id 0 has
    // its whole near-neighborhood in the disallowed slice (siblings
    // are near-dups too in this fixture), so it must come back clean;
    // a copy of id 25 (cluster 1, allowed) must still flag its
    // original, and every hit must be allowed
    val incoming = withTs(copiesOf(df, Seq(0L, 25L), 1000L))
    val allowed = df.where($"vec_id" >= 25L).select($"vec_id")
    def run(in: DataFrame, bc: Boolean = true) = StreamingVectorStore
      .corpusSemanticHitsFiltered(in, "vec_id", "ts", "embedding", store,
        threshold = 0.9, allowed, "vec_id", nprobe = 8, broadcastAllowed = bc)
    val batch = run(incoming).toDF()
      .select($"id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(batch.contains(1025L -> 25L),
      s"the allowed copy must flag its original: $batch")
    assert(batch.forall(_._2 >= 25L),
      s"no disallowed standing id may surface as a hit: $batch")
    assert(!batch.exists(_._1 == 1000L),
      s"a copy whose whole neighborhood is disallowed stays clean: $batch")
    // the unfiltered face DOES flag the disallowed original — the
    // contrast proving the filter (not recall) produced the clean row
    val unfiltered = StreamingVectorStore
      .corpusSemanticHits(incoming, "vec_id", "ts", "embedding", store,
        threshold = 0.9, nprobe = 8)
      .toDF().select($"id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(unfiltered.contains(1000L -> 0L),
      s"unfiltered must flag the disallowed original: $unfiltered")
    // merge-join (corpus-scale filter) path agrees with broadcast
    assert(run(incoming, bc = false).toDF()
      .select($"id", $"corpus_id").as[(Long, Long)].collect().toSet == batch)
    // stream ≡ batch: the filter is static-static, the plan stays
    // stream-static and stateless
    val rows = incoming.collect().map(r =>
      SvsVecEvent(r.getLong(0), r.getTimestamp(2), r.getSeq[Float](1).toArray))
    val in = MemoryStream[SvsVecEvent](spark)
    val q = run(in.toDS().toDF().withColumnRenamed("doc_id", "vec_id"))
      .writeStream.format("memory").queryName("svs_filt_q").outputMode("append").start()
    val stream =
      try {
        in.addData(rows.toSeq)
        q.processAllAvailable()
        spark.table("svs_filt_q")
          .select($"id", $"corpus_id").as[(Long, Long)].collect().toSet
      } finally q.stop()
    assert(stream == batch, s"filtered stream ≡ batch: $stream vs $batch")
    // merge-join twin INSIDE a streaming plan (broadcastAllowed=false,
    // the corpus-scale-filter path): the allow ⋈ coded semi-join is
    // static-static so the plan must stay stream-legal (append mode
    // started, zero state operators), reach the coded table as a
    // merge SEMI join — not a BroadcastExchange smuggled in by the
    // planner — and return the broadcast leg's exact hit set
    val inM = MemoryStream[SvsVecEvent](spark)
    val qM = run(inM.toDS().toDF().withColumnRenamed("doc_id", "vec_id"), bc = false)
      .writeStream.format("memory").queryName("svs_filt_qm")
      .outputMode("append").start()
    val streamM =
      try {
        inM.addData(rows.toSeq)
        qM.processAllAvailable()
        assert(qM.lastProgress.stateOperators.isEmpty,
          "merge-hinted filtered hits must stay stateless")
        val planM = qM
          .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .explainInternal(false)
        assert(planM.contains("SortMergeJoin") && planM.contains("LeftSemi"),
          s"the allow slice must reach the coded table as a merge semi-join:\n$planM")
        spark.table("svs_filt_qm")
          .select($"id", $"corpus_id").as[(Long, Long)].collect().toSet
      } finally qM.stop()
    assert(streamM == batch, s"merge-join filtered stream ≡ batch: $streamM vs $batch")
  }

  test("corpusSemanticHits: stream ≡ batch, planted copies flag their originals, fresh rows stay clean, stateless") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val df = corpus(53)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    val dir = java.nio.file.Files.createTempDirectory("graft-svs-hits").toString
    VectorStore.write(df, "vec_id", "embedding", dir, "svs_hits", ivf, pq, numBuckets = 4)
    val store = VectorStore.read(spark, dir, "svs_hits")
    val incoming = withTs(
      copiesOf(df, Seq(0L, 25L, 50L), 1000L)
        .unionByName(freshRows(df, Seq(75L, 100L), 2000L)))
    // default hammingMargin: the SRP-calibrated prefilter must keep
    // a true 0.999 pair (hamming ~ 0) without any extra slack
    def run(in: DataFrame) = StreamingVectorStore
      .corpusSemanticHits(in, "vec_id", "ts", "embedding", store,
        threshold = 0.9, nprobe = 8)
    val rows = incoming.collect().map(r =>
      SvsVecEvent(r.getLong(0), r.getTimestamp(2), r.getSeq[Float](1).toArray))
    val in = MemoryStream[SvsVecEvent](spark)
    val q = run(in.toDS().toDF().withColumnRenamed("doc_id", "vec_id"))
      .writeStream.format("memory").queryName("svs_hits_q").outputMode("append").start()
    val stream =
      try {
        in.addData(rows.toSeq)
        q.processAllAvailable()
        assert(q.lastProgress.stateOperators.isEmpty,
          "stream-static hits must be stateless")
        spark.table("svs_hits_q")
          .select($"id", $"corpus_id").as[(Long, Long)].collect().toSet
      } finally q.stop()
    val batch = run(incoming)
      .toDF().select($"id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(stream == batch, s"stream ≡ batch: $stream vs $batch")
    assert(Seq(1000L -> 0L, 1025L -> 25L, 1050L -> 50L).forall(batch.contains),
      s"each copy must flag its original: $batch")
    assert(!batch.exists(_._1 >= 2000L), s"fresh rows must not flag anything: $batch")
    // the OPQ branch rotates the query side into the store's space:
    // same flags against an OPQ-coded store of the same corpus
    val (ivfO, opqO) = Similarity.trainIvfOpq(df, "embedding", nlist = 8, m = 4,
      ksub = 16, seed = 3L)
    val dirO = java.nio.file.Files.createTempDirectory("graft-svs-hits-opq").toString
    VectorStore.writeOpq(df, "vec_id", "embedding", dirO, "svs_hits_opq", ivfO, opqO,
      numBuckets = 4)
    val storeO = VectorStore.read(spark, dirO, "svs_hits_opq")
    val batchO = StreamingVectorStore
      .corpusSemanticHits(incoming, "vec_id", "ts", "embedding", storeO,
        threshold = 0.9, nprobe = 8)
      .toDF().select($"id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(Seq(1000L -> 0L, 1025L -> 25L, 1050L -> 50L).forall(batchO.contains),
      s"OPQ store: each copy must flag its original: $batchO")
    assert(!batchO.exists(_._1 >= 2000L),
      s"OPQ store: fresh rows must not flag anything: $batchO")
    // narrower-than-store queries fail with the NAMED width error,
    // not a silent truncated probe (plain-store path)
    val narrow = spark.createDataFrame(Seq(
      (9999L, new java.sql.Timestamp(t0), Seq(1.0f, 2.0f))))
      .toDF("vec_id", "ts", "embedding")
    val err = intercept[org.apache.spark.SparkException] {
      StreamingVectorStore.corpusSemanticHits(narrow, "vec_id", "ts", "embedding",
        store, threshold = 0.9).count()
    }
    assert(err.getMessage.contains("vector width") ||
      Option(err.getCause).exists(_.getMessage.contains("vector width")),
      s"expected the named width error: ${err.getMessage}")
    // ... and so do WIDER-than-store queries: hammingDist would
    // truncate to the store's code words while `bits` came from the
    // query's own length (loosening the SRP cut), and the exact
    // cosine verify would truncate too — silently wrong, so the same
    // named error must fire
    val wide = spark.createDataFrame(Seq(
      (9998L, new java.sql.Timestamp(t0), Seq.fill(40)(1.0f))))
      .toDF("vec_id", "ts", "embedding")
    val errW = intercept[org.apache.spark.SparkException] {
      StreamingVectorStore.corpusSemanticHits(wide, "vec_id", "ts", "embedding",
        store, threshold = 0.9).count()
    }
    assert(errW.getMessage.contains("vector width") ||
      Option(errW.getCause).exists(_.getMessage.contains("vector width")),
      s"expected the named width error for an over-wide query: ${errW.getMessage}")
  }

  test("corpusSemanticHits: wide store (≥ QvecRejoinMinDim) — bounded cut-then-rejoin ≡ streaming carry-through") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // dim 512 crosses the rejoin gate, so the bounded twin runs the
    // deferred-qvec plan while the stream keeps carry-through — this
    // equality is the cross-SHAPE pin (the dim-32 test above compares
    // carry against carry)
    val dim = StreamingVectorStore.QvecRejoinMinDim
    val rng = new scala.util.Random(7)
    val df = (0 until 4).flatMap { c =>
      val center = Array.fill(dim)(rng.nextGaussian().toFloat)
      (0 until 10).map(m =>
        (c * 10L + m, center.map(x => x + 0.05f * rng.nextGaussian().toFloat)))
    }.toDF("vec_id", "embedding").repartition(3)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 4, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 8, ksub = 16, seed = 3L)
    val dir = java.nio.file.Files.createTempDirectory("graft-svs-wide").toString
    VectorStore.write(df, "vec_id", "embedding", dir, "svs_wide", ivf, pq, numBuckets = 2)
    val store = VectorStore.read(spark, dir, "svs_wide")
    val incoming = withTs(
      copiesOf(df, Seq(0L, 10L), 1000L)
        .unionByName(freshRows(df, Seq(20L, 30L), 2000L)))
    def run(in: DataFrame) = StreamingVectorStore
      .corpusSemanticHits(in, "vec_id", "ts", "embedding", store,
        threshold = 0.9, nprobe = 4)
    val rows = incoming.collect().map(r =>
      SvsVecEvent(r.getLong(0), r.getTimestamp(2), r.getSeq[Float](1).toArray))
    val in = MemoryStream[SvsVecEvent](spark)
    val q = run(in.toDS().toDF().withColumnRenamed("doc_id", "vec_id"))
      .writeStream.format("memory").queryName("svs_wide_q").outputMode("append").start()
    val stream =
      try {
        in.addData(rows.toSeq)
        q.processAllAvailable()
        spark.table("svs_wide_q")
          .select($"id", $"corpus_id", $"cosine").as[(Long, Long, Double)].collect().toSet
      } finally q.stop()
    val batchDf = run(incoming).toDF()
    // the bounded plan must actually BE the rejoin shape: qvec joins
    // back by id, so the physical plan carries one more join than the
    // streaming twin's 2 (coded + vecs)
    val planStr = batchDf.queryExecution.executedPlan.toString
    val joins =
      "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r.findAllIn(planStr).size
    assert(joins == 3,
      s"wide bounded plan must rejoin qvec (3 joins), got $joins:\n$planStr")
    val batch = batchDf.select($"id", $"corpus_id", $"cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(stream == batch, s"wide stream ≡ batch (incl. exact cosine): $stream vs $batch")
    assert(Seq(1000L -> 0L, 1010L -> 10L).forall(p => batch.exists(h => (h._1, h._2) == p)),
      s"each copy must flag its original: $batch")
    assert(!batch.exists(_._1 >= 2000L), s"fresh rows must not flag anything: $batch")
  }

  test("text → hashEmbed → corpusSemanticHits composes in one stateless streaming query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextAnalysis
    // standing corpus: 20 hashed docs; stream: a near-copy of doc 7
    // and a fresh token-soup doc — the LIVE text-dedup front door
    def base(id: Int) = (0 until 27)
      .map(k => Seq("the", "and", "that", "this", "have")(k % 5) + s" item${id}x$k")
      .mkString(" ")
    val texts = (1 to 20).map(i => (i.toLong, base(i))).toDF("doc_id", "text")
    val emb = TextAnalysis.hashEmbed(texts, "text", dim = 256, ngrams = 2)
      .select($"doc_id".as("vec_id"), $"embedding")
    val ivf = Similarity.trainIvf(emb, "embedding", nlist = 4, seed = 3L)
    val pq = Similarity.trainPq(emb, "embedding", m = 4, ksub = 16, seed = 3L)
    val dir = java.nio.file.Files.createTempDirectory("graft-svs-text").toString
    VectorStore.write(emb, "vec_id", "embedding", dir, "svs_text", ivf, pq, numBuckets = 4)
    val store = VectorStore.read(spark, dir, "svs_text")
    val in = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val streamDocs = in.toDS().toDF("doc_id", "ts", "text")
    val q = StreamingVectorStore
      .corpusSemanticHits(
        TextAnalysis.hashEmbed(streamDocs, "text", dim = 256, ngrams = 2),
        "doc_id", "ts", "embedding", store, threshold = 0.8, nprobe = 4)
      .writeStream.format("memory").queryName("svs_text_q").outputMode("append").start()
    try {
      in.addData(
        (107L, new java.sql.Timestamp(t0), base(7) + " zz extra trailing marker"),
        (200L, new java.sql.Timestamp(t0),
          (0 until 30).map(k => s"u200x$k").mkString(" ")))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty,
        "hashEmbed + semantic hits must stay stateless in-stream")
      val hits = spark.table("svs_text_q")
        .select($"id", $"corpus_id").as[(Long, Long)].collect().toSet
      assert(hits.contains(107L -> 7L),
        s"the near-copy TEXT must flag its standing original: $hits")
      assert(!hits.exists(_._1 == 200L), s"fresh text must not flag anything: $hits")
    } finally q.stop()
  }

  test("frozen-IDF text hits in-stream: boilerplate-only texts stay clean where the unweighted face false-hits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextAnalysis
    // every standing doc shares a 40-token boilerplate; the q172
    // mis-rank inside the SERVING path: a streamed text sharing ONLY
    // the boilerplate false-hits under unweighted hashing and stays
    // clean under the frozen-IDF embedding (bp buckets df = N → 0)
    val bp = (0 until 40).map(k => s"cmn$k").mkString(" ")
    def doc(i: Int) = bp + " " + (0 until 8).map(k => s"d${i}x$k").mkString(" ")
    val texts = (1 to 20).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val model = TextAnalysis.fitHashIdf(texts, "text", dim = 1024, ngrams = 2)
    def buildStore(emb: DataFrame, name: String): VectorStore.CodedVectorStore = {
      val ivf = Similarity.trainIvf(emb, "embedding", nlist = 4, seed = 3L)
      val pq = Similarity.trainPq(emb, "embedding", m = 4, ksub = 16, seed = 3L)
      val dir = java.nio.file.Files.createTempDirectory(s"graft-svs-$name").toString
      VectorStore.write(emb, "vec_id", "embedding", dir, name, ivf, pq, numBuckets = 4)
      VectorStore.read(spark, dir, name)
    }
    val storeW = buildStore(
      TextAnalysis.applyHashIdf(texts, "text", model)
        .select($"doc_id".as("vec_id"), $"embedding"), "svs_idf_w")
    val storeU = buildStore(
      TextAnalysis.hashEmbed(texts, "text", dim = 1024, ngrams = 2)
        .select($"doc_id".as("vec_id"), $"embedding"), "svs_idf_u")
    // streamed rows: 107 = near-copy of doc 7 (must hit under BOTH),
    // 300 = boilerplate + a new tail (must hit ONLY unweighted)
    val rows = Seq(
      (107L, new java.sql.Timestamp(t0), doc(7) + " zz"),
      (300L, new java.sql.Timestamp(t0),
        bp + " " + (0 until 8).map(k => s"n300x$k").mkString(" ")))
    def run(weighted: Boolean, store: VectorStore.CodedVectorStore,
        sink: String): Set[(Long, Long)] = {
      val in = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
      val streamDocs = in.toDS().toDF("doc_id", "ts", "text")
      val embedded =
        if (weighted) TextAnalysis.applyHashIdf(streamDocs, "text", model)
        else TextAnalysis.hashEmbed(streamDocs, "text", dim = 1024, ngrams = 2)
      val q = StreamingVectorStore
        .corpusSemanticHits(embedded, "doc_id", "ts", "embedding", store,
          threshold = 0.8, nprobe = 4)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        in.addData(rows: _*)
        q.processAllAvailable()
        assert(q.lastProgress.stateOperators.isEmpty,
          "applyHashIdf + semantic hits must stay stateless in-stream")
        spark.table(sink).select($"id", $"corpus_id").as[(Long, Long)].collect().toSet
      } finally q.stop()
    }
    val weightedHits = run(weighted = true, storeW, "svs_idf_w_q")
    assert(weightedHits.contains(107L -> 7L),
      s"near-copy must hit its original under frozen IDF: $weightedHits")
    assert(!weightedHits.exists(_._1 == 300L),
      s"boilerplate-only text must stay clean under frozen IDF: $weightedHits")
    val unweightedHits = run(weighted = false, storeU, "svs_idf_u_q")
    assert(unweightedHits.exists(_._1 == 300L),
      s"the unweighted face false-hits on shared boilerplate (the contrast " +
        s"this spec pins): $unweightedHits")
  }

  test("lifecycle: sink increments → compact folds with threshold-dedup → retention; re-run and stale turns behave") {
    val df = corpus(59)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    val root = java.nio.file.Files.createTempDirectory("graft-svs-life").toString
    val incDir = s"$root/inc"
    VectorStore.write(df, "vec_id", "embedding", s"$root/epoch0", "svsl_e0",
      ivf, pq, numBuckets = 4)
    // two committed microbatches: batch 0 = one near-dup + one fresh,
    // batch 1 = two fresh (the sink is the exactly-once foreachBatch
    // body — calling it directly IS what the engine does per batch)
    val sink = StreamingVectorStore.vectorIncrementSink(incDir, "vec_id", "embedding")
    sink(copiesOf(df, Seq(0L), 1000L).unionByName(freshRows(df, Seq(75L), 2000L)), 0L)
    sink(freshRows(df, Seq(100L, 125L), 3000L), 1L)
    assert(StreamingVectorStore.readVectorIncrements(spark, incDir).count() == 4L)
    val (e1, victims) = StreamingVectorStore.compactVectorStore(
      spark, root, "svsl", srcEpoch = 0, incDir = incDir,
      threshold = 0.9, searchK = 4, nprobe = 8, refine = 8)
    val vmap = victims.select($"id", $"dup_of").as[(Long, Long)].collect().toMap
    assert(vmap == Map(1000L -> 0L), s"fold must drop the near-dup with a ledger: $vmap")
    val ids = e1.vecs.select($"id").as[Long].collect().toSet
    assert(Seq(2075L, 3100L, 3125L).forall(ids.contains) && !ids.contains(1000L),
      s"epoch 1 holds corpus + fresh survivors: ${ids.size}")
    assert(e1.vecs.count() == df.count() + 3)
    // folded increments are pruned; a re-run of the SAME turn is the
    // documented recovery no-op returning the live epoch-1 store
    assert(StreamingVectorStore.readVectorIncrements(spark, incDir).isEmpty)
    val (again, ledger2) = StreamingVectorStore.compactVectorStore(
      spark, root, "svsl", srcEpoch = 0, incDir = incDir, threshold = 0.9)
    assert(again.vecs.count() == e1.vecs.count() && ledger2.isEmpty,
      "re-running the turn must return the live store without a copy epoch")
    // a NEW increment landing while the caller still believes in
    // epoch 0 → the stale-srcEpoch guard fires actionably
    sink(freshRows(df, Seq(150L), 4000L), 2L)
    val stale = intercept[IllegalArgumentException] {
      StreamingVectorStore.compactVectorStore(
        spark, root, "svsl", srcEpoch = 0, incDir = incDir, threshold = 0.9)
    }
    assert(stale.getMessage.contains("stale"), stale.getMessage)
    // the advised re-run with the CURRENT epoch succeeds and retires
    // epoch 0 (dir pruned at keepEpochs=1) plus its catalog entries
    val (e2, _) = StreamingVectorStore.compactVectorStore(
      spark, root, "svsl", srcEpoch = 1, incDir = incDir,
      threshold = 0.9, keepEpochs = 1)
    assert(e2.vecs.count() == df.count() + 4)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/epoch0")))
    assert(!spark.catalog.tableExists("svsl_e0_coded") &&
      !spark.catalog.tableExists("svsl_e0_vecs"),
      "retired epoch's catalog registrations must drop")
    assert(spark.catalog.tableExists("svsl_e2_coded"))
  }

  test("crash windows: an empty meta dir is NOT a complete epoch; zero-row increments still run retirement") {
    val df = corpus(61)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    val root = java.nio.file.Files.createTempDirectory("graft-svs-crash").toString
    val incDir = s"$root/inc"
    VectorStore.write(df, "vec_id", "embedding", s"$root/epoch0", "svsc_e0",
      ivf, pq, numBuckets = 4)
    val sink = StreamingVectorStore.vectorIncrementSink(incDir, "vec_id", "embedding")
    sink(freshRows(df, Seq(75L), 2000L), 0L)
    // simulate a turn that crashed DURING the next epoch's meta write:
    // Spark creates the output directory at job setup, so the dir
    // exists but holds no committed files — completeness is gated on
    // meta/_SUCCESS, so this turn must treat epoch 1 as INCOMPLETE and
    // run a normal fold (a bare-existence gate would instead prune the
    // increments and wedge the next read on the empty meta)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/epoch1/meta"))
    val (e1, _) = StreamingVectorStore.compactVectorStore(
      spark, root, "svsc", srcEpoch = 0, incDir = incDir, threshold = 0.9)
    assert(e1.vecs.count() == df.count() + 1,
      "the fold must run despite the crash-stranded empty meta dir")
    // zero-row increment turn (a batch with no survivors): no fold, no
    // copy epoch — but the turn COMPLETES, so retirement runs exactly
    // as on the other no-op branches (symmetric no-op turns): at
    // keepEpochs=1 the now-stale epoch 0 dir AND its catalog pair
    // retire on THIS turn, not on the next non-empty fold
    sink(df.where(lit(false)).select($"vec_id", $"embedding"), 1L)
    val (still, ledger) = StreamingVectorStore.compactVectorStore(
      spark, root, "svsc", srcEpoch = 1, incDir = incDir,
      threshold = 0.9, keepEpochs = 1)
    assert(still.vecs.count() == e1.vecs.count() && ledger.isEmpty,
      "zero-row increments fold nothing and write no copy epoch")
    assert(StreamingVectorStore.readVectorIncrements(spark, incDir).isEmpty,
      "the empty increment must still prune")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/epoch0")),
      "retirement must run on the zero-row no-op turn")
    assert(!spark.catalog.tableExists("svsc_e0_coded") &&
      !spark.catalog.tableExists("svsc_e0_vecs"),
      "catalog retirement must run on the zero-row no-op turn")
  }

  test("compactVectorStore: every crash window resumes to the live epoch; a stale srcEpoch cannot clobber it") {
    // the signature turn's gauntlet (StreamingSpec) run against the
    // vector store: windows A/B/C, the stale caller, and the
    // already-folded-plus-fresh increment that must not deadlock
    val df = corpus(67)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    val root = java.nio.file.Files.createTempDirectory("graft-svsg-root").toString
    val incDir = java.nio.file.Files.createTempDirectory("graft-svsg-inc").toString
    val n0 = df.count()
    def fresh(id: Long) = freshRows(df, Seq(id), 5000L)
    def epochDirs = new java.io.File(root).listFiles().map(_.getName).toSet
    def incs = new java.io.File(incDir).listFiles().count(_.getName.startsWith("inc_"))
    // the turn's fold step by hand: foldmark FIRST, then the fold
    def crashedFold(src: Int, batchId: Long): Unit = {
      StreamingDedup.writeFoldmark(spark, s"$root/epoch${src + 1}", batchId)
      VectorStore.ingestDedup(spark, s"$root/epoch$src", s"svsg_e$src",
        spark.read.parquet(s"$incDir/inc_$batchId"), "id", "vec",
        s"$root/epoch${src + 1}", s"svsg_e${src + 1}", threshold = 0.9)
    }
    def turn(src: Int) = StreamingVectorStore.compactVectorStore(
      spark, root, "svsg", srcEpoch = src, incDir = incDir, threshold = 0.9,
      keepEpochs = 1)._1
    VectorStore.write(df, "vec_id", "embedding", s"$root/epoch0", "svsg_e0",
      ivf, pq, numBuckets = 4)
    val sink = StreamingVectorStore.vectorIncrementSink(incDir, "vec_id", "embedding")
    // CRASH WINDOW A — fold landed, increment prune did not
    sink(fresh(11L), 0L)
    crashedFold(0, 0L)
    assert(turn(0).vecs.count() == n0 + 1, "resume must hand back the folded epoch 1")
    assert(incs == 0, "resume must prune the already-folded increment")
    assert(epochDirs == Set("epoch1"), "resume must finish epoch retirement")
    // CRASH WINDOW B — fold + increment prune landed, retirement did
    // not: epoch0 re-created stands for the unretired dir
    VectorStore.write(df, "vec_id", "embedding", s"$root/epoch0", "svsg_e0",
      ivf, pq, numBuckets = 4)
    assert(turn(0).vecs.count() == n0 + 1,
      "no-increment re-run with a complete next epoch must return the LIVE epoch 1")
    assert(epochDirs == Set("epoch1"))
    // STALE CALLER — a new increment and a re-run from epoch 0
    sink(fresh(12L), 1L)
    val stale = intercept[IllegalArgumentException](turn(0))
    assert(stale.getMessage.contains("stale"), stale.getMessage)
    assert(turn(1).vecs.count() == n0 + 2)
    // DEADLOCK SCENARIO — a crashed turn folded inc_2 into epoch 3 and
    // inc_3 landed before the re-run: srcEpoch=2 is stale, and the
    // re-run from epoch 3 folds ONLY inc_3
    sink(fresh(13L), 2L)
    crashedFold(2, 2L)
    sink(fresh(14L), 3L)
    val stale2 = intercept[IllegalArgumentException](turn(2))
    assert(stale2.getMessage.contains("stale"), stale2.getMessage)
    val live = turn(3)
    assert(live.vecs.count() == n0 + 4, "standing + 11, 12, 13 (crashed fold) + 14 (fresh)")
    assert(live.vecs.where($"id" === 5013L).count() == 1L,
      "the already-folded increment's row must appear exactly once")
    assert(incs == 0)
    assert(epochDirs == Set("epoch4"))
    val regs = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("svsg_e")).toSet
    assert(regs == Set("svsg_e4_coded", "svsg_e4_vecs"), s"catalog: $regs")
    // CRASH WINDOW C — foldmark landed, the fold did not: the
    // incomplete epoch's foldmark must not suppress the fold
    sink(fresh(15L), 4L)
    StreamingDedup.writeFoldmark(spark, s"$root/epoch5", 4L)
    assert(turn(4).vecs.count() == n0 + 5)
    assert(epochDirs == Set("epoch5"))
  }
}
