package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, LmQuality, QualityClassifier, Similarity, TextAnalysis}

/** Plan-SHAPE regression tests: the 100 TB properties SCALE.md claims
  * (shuffle-free per-row operators, single-exchange dedup, broadcast
  * star joins, parquet pushdown) asserted against the actual physical
  * plans, so a future edit that silently adds an exchange or defeats
  * pushdown fails here rather than in production.
  */
class PlanShapeSpec extends SparkTestBase {
  import spark.implicits._

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def shuffles(p: String): Int =
    "Exchange (hash|range)partitioning".r.findAllIn(p).size

  private lazy val docs = graft.sources.Tables.load(spark, Sf0001, "documents")

  test("per-row text operators stay shuffle-free") {
    val reps = TextAnalysis.withNgramRepetition(docs, "text")
    assert(shuffles(plan(reps)) == 0, s"repetition stats must not shuffle:\n${plan(reps)}")
    val quality = TextAnalysis.qualityScore(docs, "text")
    assert(shuffles(plan(quality)) == 0, "quality score must not shuffle")
    val redacted = TextAnalysis.redactPii(docs, "text")
    assert(shuffles(plan(redacted)) == 0, "PII redaction must not shuffle")
    // span-excision decontamination: broadcast pool + per-row kernel —
    // zero exchanges on the corpus side at any size (unlike spanDedup,
    // whose within-corpus matching must shuffle; the pool side is bounded)
    val bench = Seq(Tuple1("alpha beta gamma delta epsilon")).toDF("text")
    val excised = Dedup.decontaminateSpans(docs, bench, "text", "text", n = 5)
    assert(shuffles(plan(excised)) == 0, s"decontaminateSpans must not shuffle:\n${plan(excised)}")
  }

  test("hashEmbed / applyHashIdf are pure projections; fitHashIdf is the only pass that aggregates") {
    val emb = TextAnalysis.hashEmbed(docs, "text", dim = 64, ngrams = 2)
    assert(shuffles(plan(emb)) == 0, "hashEmbed must not shuffle")
    val model = TextAnalysis.fitHashIdf(docs.limit(50), "text", dim = 64)
    // the frozen-model apply is one scan-bound map — NO landing, no
    // aggregate, no exchange (the refitting hashEmbedIdf face pays a
    // landing + treeAggregate by construction; freezing removes both)
    val applied = TextAnalysis.applyHashIdf(docs, "text", model)
    assert(shuffles(plan(applied)) == 0, s"applyHashIdf must not shuffle:\n${plan(applied)}")
  }

  test("model scoring is a pure map (broadcast model, no shuffle)") {
    QualityClassifier.train(
      docs.withColumn("label", lit(1)).limit(50), "text", "label", "plan_q", dim = 32,
      hidden = 4, configJson = """{"epochs":1}""")
    val scored = QualityClassifier.score(docs, "text", "plan_q", dim = 32)
    assert(shuffles(plan(scored)) == 0, "classifier scoring must not shuffle")
    val lm = LmQuality.train(docs.limit(50), "text", vocabSize = 100)
    val lmScored = LmQuality.score(docs, "text", lm)
    assert(shuffles(plan(lmScored)) == 0, "LM scoring must not shuffle")
  }

  test("exact dedup costs exactly one exchange (the window)") {
    val p = plan(Dedup.exactDedup(docs, "doc_id", "text"))
    assert(shuffles(p) == 1, s"exactDedup must shuffle exactly once:\n$p")
  }

  test("star joins broadcast the dimensions — no sort-merge join") {
    val region = graft.sources.Tables.load(spark, Sf0001, "region")
    val nation = graft.sources.Tables.load(spark, Sf0001, "nation")
    val customer = graft.sources.Tables.load(spark, Sf0001, "customer")
    val star = customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .select(col("c_custkey"), col("r_name"))
    val p = plan(star)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dims must not sort-merge:\n$p")
    assert(shuffles(p) == 0, "broadcast star join must not shuffle rows")
  }

  test("filters and projections reach the parquet scan") {
    val li = graft.sources.Tables.load(spark, Sf0001, "lineitem")
    val q = li.where(col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    val p = plan(q)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,"),
      s"filter must push to the scan:\n$p")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment"),
      s"projection must prune unread columns: $readSchema")
  }

  test("token-budget selection never funnels the corpus through one window task") {
    import graft.operators.{Packing, Sampling}
    val toks = docs.select(col("doc_id"), col("n_chars").cast("long").as("n_tokens"))
    // probe the pre-persist plan: the operator itself materializes, so
    // inspect withPrefixSumOrdered's output frame directly
    val (prefixed, handle) = Packing.withPrefixSumOrdered(
      toks, Seq(col("n_tokens").desc, col("doc_id").asc), col("n_tokens"), "__before")
    val p = plan(prefixed)
    // the ONLY single-partition exchange allowed is the #partitions-row
    // offsets summary; the corpus itself moves through a range exchange
    // and a window PARTITIONED by __part
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1,
      s"at most the tiny offsets summary may single-partition:\n$p")
    assert(p.contains("Exchange rangepartitioning"),
      s"prefix sum must range-partition the corpus:\n$p")
    assert(p.contains("Window") && p.contains("__part"),
      s"running sum must be partitioned by __part:\n$p")
    handle.unpersist(blocking = false)
    // end-to-end: the public operator returns the same rows as a
    // global-window reference on this small fixture
    val got = Sampling
      .tokenBudgetSelect(toks, "doc_id", "n_tokens", Seq(col("n_tokens").desc), 5000L)
      .select("doc_id", "cum_tokens")
    val ref = toks
      .withColumn(
        "cum_tokens",
        sum(col("n_tokens")).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n_tokens").desc, col("doc_id").asc)
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
      .where(col("cum_tokens") <= 5000L)
      .select("doc_id", "cum_tokens")
    assert(got.except(ref).isEmpty && ref.except(got).isEmpty,
      "distributed prefix sum must be bit-identical to the global window")
    // tokenBudgetSelect returns a localCheckpoint-backed frame (no
    // CacheManager entry) — nothing to unpersist here; blocks are
    // reference-tracked and freed when `got` is collected by GC.
  }

  test("asofNearest plans exactly one exchange (both directions share the partitioning)") {
    val e = graft.sources.Tables.load(spark, Sf0001, "events")
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = e.where(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val p = plan(graft.operators.AsofJoin.asofNearest(
      purchases, views, Seq("user_id"), "ts", "ts", Seq("event_id", "value")))
    assert(shuffles(p) == 1,
      s"nearest as-of must hash-partition the union exactly once:\n$p")
  }

  test("ivfTopK broadcastQueries=false never broadcasts the query side") {
    val rng = new scala.util.Random(7)
    val vecs = (0L until 50L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat).toSeq))
    val df = vecs.toDF("vec_id", "embedding")
    val model = Similarity.trainIvf(df, "embedding", nlist = 4, seed = 1L)
    val q = df.where(col("vec_id") < 5)
    val bcast = plan(Similarity.ivfTopK(df, q, "vec_id", "embedding", k = 5, model, nprobe = 2))
    assert(bcast.contains("BroadcastExchange"),
      s"default path broadcasts the probed queries:\n$bcast")
    val parted = plan(Similarity.ivfTopK(df, q, "vec_id", "embedding", k = 5, model,
      nprobe = 2, broadcastQueries = false))
    assert(!parted.contains("BroadcastExchange"),
      s"huge-query-set path must not broadcast anything:\n$parted")
  }

  test("store-served corpus-vs-corpus kNN (q162 shape) never broadcasts anything") {
    // exactly the q162 gate shape: the reopened store's OWN vecs table
    // is the query set (as big as the corpus — nothing may broadcast),
    // broadcastQueries = false; probe join AND re-rank qvec fetch must
    // both be sort-merge joins
    val rng = new scala.util.Random(11)
    val vecs = (0L until 80L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat).toSeq))
    val df = vecs.toDF("vec_id", "embedding").repartition(4)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 4, seed = 1L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 1L)
    val dir = java.nio.file.Files.createTempDirectory("graft-planshape-vecstore").toString
    graft.operators.VectorStore.write(df, "vec_id", "embedding", dir, "ps_ccknn",
      ivf, pq, numBuckets = 4)
    val store = graft.operators.VectorStore.read(spark, dir, "ps_ccknn")
    val allQueries = store.vecs.select(col("id").as("vec_id"), col("vec").as("embedding"))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // the hint FORBIDS broadcasting the query side regardless, but tiny
    // test tables could still auto-broadcast the un-hinted corpus side
    // of the re-rank join — pin the at-scale planner decision
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(Similarity.ivfPqTopKFromStore(store, allQueries, "vec_id",
        "embedding", k = 5, nprobe = 2, refine = 4, broadcastQueries = false))
      assert(!p.contains("BroadcastExchange"),
        s"corpus-as-queries path must not broadcast anything:\n$p")
      // filtered face, broadcast-allowed path: the semi-join must ride
      // the broadcast (explicit broadcast() call — immune to the -1
      // threshold) and add NO shuffle beyond the unfiltered face's —
      // the coded side keeps its bucketed scan
      val allowed = df.where(col("vec_id") % 2 === 0).select(col("vec_id"))
      val pu = plan(Similarity.ivfPqTopKFromStore(store, allQueries, "vec_id",
        "embedding", k = 5, nprobe = 2, refine = 4, broadcastQueries = false))
      val only = Some(Similarity.AllowedIds(allowed, "vec_id"))
      val pf = plan(Similarity.ivfPqTopKFromStore(store, allQueries, "vec_id",
        "embedding", k = 5, nprobe = 2, refine = 4, broadcastQueries = false,
        allowed = only))
      def shuffles(p: String) = "Exchange (hash|range)partitioning".r.findAllIn(p).size
      assert(pf.contains("BroadcastExchange"),
        s"broadcast-allowed filter must broadcast the id set:\n$pf")
      assert(shuffles(pf) == shuffles(pu),
        s"the broadcast filter must add no shuffle (unfiltered ${shuffles(pu)}, " +
          s"filtered ${shuffles(pf)}):\n$pf")
      // the Hamming and flat faces share the same pre-filter —
      // same pin: broadcast semi-join, zero added shuffles over their
      // unfiltered twins
      val phu = plan(Similarity.ivfHammingTopKFromStore(store, allQueries,
        "vec_id", "embedding", k = 5, nprobe = 2, refine = 4))
      val phf = plan(Similarity.ivfHammingTopKFromStore(store, allQueries,
        "vec_id", "embedding", k = 5, nprobe = 2, refine = 4, allowed = only))
      assert(phf.contains("BroadcastExchange"),
        s"Hamming broadcast-allowed filter must broadcast the id set:\n$phf")
      assert(shuffles(phf) == shuffles(phu),
        s"the Hamming filter must add no shuffle (unfiltered ${shuffles(phu)}, " +
          s"filtered ${shuffles(phf)}):\n$phf")
      val pqu = plan(Similarity.pqTopKFromStore(store, allQueries,
        "vec_id", "embedding", k = 5, refine = 4))
      val pqf = plan(Similarity.pqTopKFromStore(store, allQueries,
        "vec_id", "embedding", k = 5, refine = 4, allowed = only))
      assert(shuffles(pqf) == shuffles(pqu),
        s"the flat-PQ filter must add no shuffle (unfiltered ${shuffles(pqu)}, " +
          s"filtered ${shuffles(pqf)}):\n$pqf")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("nearDupKeepBest: ranking window is partitioned and nothing goes cartesian") {
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val out = Dedup.nearDupKeepBest(
      docs.limit(50), "doc_id", "text",
      prefer = Seq(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")).desc))
    // the RETURNED plan is live (only the pair path materializes
    // internally): the ranking window must partition on component —
    // an unpartitioned window would funnel the corpus through one task
    val p = plan(out)
    assert(p.contains("Window"), s"expected a window in:\n$p")
    assert(!p.contains("Window [") || !p.contains("windowspecdefinition()"),
      "ranking window must be partitioned")
    spark.listenerManager.register(listener)
    try {
      out.count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      var last = -1
      var stable = 0
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(200)
        val n = plans.synchronized(plans.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)
    val snap = plans.synchronized(plans.toList)
    assert(snap.nonEmpty, "listener must observe the internal jobs")
    snap.foreach(pp =>
      assert(!pp.contains("CartesianProduct"), s"keep-best went cartesian:\n$pp"))
  }

  test("span dedup and candidate generation never go cartesian") {
    // the operators materialize internally (localCheckpoint), so the
    // RETURNED plan is just an RDD scan — capture every plan actually
    // EXECUTED during the calls instead (stronger: covers the
    // banding/verify jobs too)
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(
          funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Dedup.spanDedup(docs.limit(50), "doc_id", "text", k = 8).count()
      Dedup.minHashNearDupPairs(docs.limit(50), "doc_id", "text").count()
      // listener delivery is async — poll until the bus quiesces,
      // bounded so a stalled bus fails the assertion instead of
      // hanging the suite
      val deadline = System.nanoTime() + 30L * 1000000000L
      var last = -1
      var stable = 0
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(200)
        val n = plans.synchronized(plans.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)
    val snap = plans.synchronized(plans.toList)
    assert(snap.nonEmpty, "listener must observe the internal jobs")
    snap.foreach(p =>
      assert(!p.contains("CartesianProduct"), s"candidate generation went cartesian:\n$p"))
  }
}
