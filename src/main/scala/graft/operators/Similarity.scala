package graft.operators

import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}

/** Approximate- and exact-nearest-neighbor search over an embedding
  * column (`array<float>`).
  *
  * Scale design: scoring is a broadcast of the (small) query set
  * against the (huge) corpus — map-side only; the top-k reduction is a
  * typed [[Aggregator]] with a bounded heap, so partial (map-side)
  * aggregation shrinks each partition to ≤k rows per query BEFORE the
  * shuffle. The shuffle moves O(queries × k × partitions) rows, never
  * O(corpus). The IVF variant additionally prunes scoring itself to
  * `nprobe/nlist` of the corpus via a centroid equi-join.
  */
object Similarity {

  /** Cosine similarity of two float arrays as a codegen'd column
    * expression (functions.zip_with + aggregate — no UDF).
    */
  def cosineCol(a: Column, b: Column): Column = {
    val dot = aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v,
    )
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    dot / (na * nb)
  }

  /** Dot product as a column expression. */
  def dotCol(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v,
    )

  /** Dot product — native codegen'd Catalyst expression
    * ([[graft.functions.FloatVectorDot]]): primitive float loop inside
    * whole-stage codegen, bit-identical index-ascending double
    * accumulation (same numeric contract as the DuckDB oracle).
    */
  def dotUdf(a: Column, b: Column): Column = graft.functions.VectorExpressions.vecDot(a, b)

  /** sqrt(Σx²), codegen'd ([[graft.functions.FloatVectorNorm]]). */
  def normCol(a: Column): Column = graft.functions.VectorExpressions.vecNorm(a)

  /** Degenerate-embedding guard shared by every similarity face: NULL,
    * zero-length, AND zero-norm vectors can neither score nor be
    * scored — cosine is undefined (0/0) for all three shapes — so they
    * are excluded from the scan the same way [[sampleVectors]]
    * excludes them from model training. One malformed row must not
    * NPE a corpus-scale job, and a NaN cosine must not poison the
    * bounded heaps either (NaN compares "greater" under
    * Ordering[Double], so a NaN entry would squat in a top-k slot
    * forever; the exact re-ranks score with `vec_cosine`, whose ratio
    * IS NaN on a zero-norm side). One codegen'd norm predicate covers
    * all three: NULL propagates to a NULL norm (filtered), empty and
    * zero vectors norm to 0.
    */
  private[operators] def nonDegenerate(df: DataFrame, vecCol: String): DataFrame =
    df.where(graft.functions.VectorExpressions.vecNorm(col(vecCol)) > 0)

  // ------------------------------------------------------- top-k aggregator

  /** Bounded top-k heap over (score, id), merged associatively —
    * Spark runs it as ObjectHashAggregate with partial aggregation, so
    * each map task emits at most k candidates per group.
    */
  private final class TopK(k: Int)
      extends Aggregator[(Double, Long), Array[(Double, Long)], Array[(Double, Long)]] {
    // buffer kept sorted ascending by (score, -id); index 0 = weakest
    override def zero: Array[(Double, Long)] = Array.empty

    override def reduce(buf: Array[(Double, Long)], e: (Double, Long)): Array[(Double, Long)] =
      Similarity.heapInsert(buf, e, k)
    override def merge(a: Array[(Double, Long)], b: Array[(Double, Long)]): Array[(Double, Long)] =
      b.foldLeft(a)((acc, e) => Similarity.heapInsert(acc, e, k))
    override def finish(buf: Array[(Double, Long)]): Array[(Double, Long)] =
      buf.sortBy(t => (-t._1, t._2)) // best first, id tiebreak
    override def bufferEncoder: Encoder[Array[(Double, Long)]] =
      Encoders.kryo[Array[(Double, Long)]]
    override def outputEncoder: Encoder[Array[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Double, Long)]]()
  }

  private def topKUdaf(k: Int) = udaf(new TopK(k))

  /** Bounded-buffer insert, shared by the UDAF and the per-partition
    * pre-reduction: buffer sorted ascending by (score, -id), index 0
    * weakest; ties keep the LOWER id (deterministic).
    */
  private def heapInsert(
      buf: Array[(Double, Long)], e: (Double, Long), k: Int): Array[(Double, Long)] =
    if (buf.length < k) (buf :+ e).sortBy(t => (t._1, -t._2))
    else if (e._1 > buf(0)._1 || (e._1 == buf(0)._1 && e._2 < buf(0)._2)) {
      buf(0) = e
      buf.sortBy(t => (t._1, -t._2))
    } else buf

  // ------------------------------------------------- all-pairs near-dup

  /** Exact all-pairs cosine near-dup (id_a < id_b, cosine ≥ threshold)
    * via BLOCKED broadcast passes — the standard blocked all-pairs
    * scheme: the corpus is split into B = ⌈n / maxBlockRows⌉ blocks by
    * id modulo; pass j broadcasts block j's (id, vec, norm) triples
    * (≈ n/B rows — bounded driver/executor memory regardless of corpus
    * size) and streams the FULL corpus against it in a primitive loop,
    * emitting only the matching pairs. A pair (a < b) is produced
    * exactly once, in the pass owning b's block. The O(n²) score work
    * never materializes as rows and there is no shuffle until the
    * (tiny) verified result; total cost is B corpus scans + the same
    * O(n²) flops as any exact method. For corpora where even B passes
    * are too hot, the scale default is the SRP-LSH variant in
    * [[graft.operators.Dedup.embeddingNearDupPairs]].
    *
    * Passes execute ONE AT A TIME: each pass's matches are
    * materialized (persisted + counted) and its broadcast destroyed
    * before the next block is even collected, so peak footprint is
    * one block's broadcast + the verified pairs — not B live
    * broadcasts at once. Caveat: because the broadcasts are gone,
    * recomputing a pass after storage loss (executor death evicting
    * both memory and disk replicas) fails rather than silently
    * re-running; rerun the operator in that case.
    *
    * Accumulates dot/norms in DOUBLE left-to-right — bit-equal to the
    * DuckDB oracle's list_cosine_similarity on DOUBLE[] (the blocking
    * never changes per-pair operation order).
    *
    * Past `maxDriverRows` total corpus rows the driver-collected
    * broadcast blocks are replaced by a fully DISTRIBUTED block
    * equi-join ([[blockEquiJoinNearDupPairs]]) — no driver collect at
    * any corpus size; same output bit-for-bit (the native
    * `vec_cosine` expression shares the exact accumulation order of
    * the broadcast path's primitive loop).
    */
  def bruteForceNearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBlockRows: Int = 1 << 20,
      maxDriverRows: Long = 1L << 20,
  ): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val src = nonDegenerate(corpus, vecCol)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val n = src.count()
    val numBlocks = math.max(1L, (n + maxBlockRows - 1) / maxBlockRows).toInt
    if (n > maxDriverRows)
      return blockEquiJoinNearDupPairs(src, threshold, numBlocks)
    val typed = src.as[(Long, Array[Float])]
    val passes = (0 until numBlocks).map { blockIdx =>
      val block = typed
        .filter(pmod(col("id"), lit(numBlocks)) === blockIdx)
        .collect()
        .sortBy(_._1)
      val ids = block.map(_._1)
      val vecs = block.map(_._2)
      val norms = vecs.map { v =>
        var ss = 0.0; var i = 0
        while (i < v.length) { ss += v(i).toDouble * v(i).toDouble; i += 1 }
        math.sqrt(ss)
      }
      val bc = spark.sparkContext.broadcast((ids, vecs, norms))
      val matches = typed.flatMap { case (id, vec) =>
        val (bIds, bVecs, bNorms) = bc.value
        // first block slot with a LARGER id (ids sorted): binary search
        var lo = 0
        var hi = bIds.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (bIds(mid) <= id) lo = mid + 1 else hi = mid
        }
        var myNorm = 0.0
        var i = 0
        while (i < vec.length) { myNorm += vec(i).toDouble * vec(i).toDouble; i += 1 }
        myNorm = math.sqrt(myNorm)
        val out = Seq.newBuilder[(Long, Long, Double)]
        var j = lo
        while (j < bIds.length) {
          val other = bVecs(j)
          var dot = 0.0
          var k = 0
          val m = math.min(vec.length, other.length)
          while (k < m) { dot += vec(k).toDouble * other(k).toDouble; k += 1 }
          val cos = dot / (myNorm * bNorms(j))
          if (cos >= threshold) out += ((id, bIds(j), cos))
          j += 1
        }
        out.result()
      }
      // materialize THIS pass and TRUNCATE ITS LINEAGE
      // (localCheckpoint) before destroying the broadcast: a plain
      // persist keeps the flatMap closure — and through it the
      // broadcast — in the task lineage, so any recomputation or
      // same-plan cache reuse after destroy() dies with
      // INTERNAL_ERROR_BROADCAST at task serialization. Checkpointed
      // partitions reference no closure; the broadcast is then truly
      // free. Footprint stays one block's broadcast at a time.
      val snapped = matches.localCheckpoint(true)
      bc.destroy()
      snapped
    }
    passes.reduce(_ union _).toDF("id_a", "id_b", "cosine")
  }

  /** Exact all-pairs as a pure shuffle join — the no-driver-collect
    * fallback [[bruteForceNearDupPairs]] takes when the corpus exceeds
    * `maxDriverRows`. Rows are blocked by `id mod B`; each row is
    * replicated to every unordered block PAIR it participates in (a
    * row in block b owns the left side of pairs (b, b..B−1) and the
    * right side of (0..b, b)), and the equi-join on the pair key
    * co-locates exactly the two blocks of each pair. A cross-block
    * pair joins in exactly one orientation (the one whose LEFT block
    * is smaller — possibly with the larger id on the left, hence the
    * least/greatest canonicalization; `vec_cosine` is bit-symmetric,
    * double multiply commutes); a same-block pair joins in both, and
    * the `id_a < id_b` guard on the diagonal keeps one. Shuffle
    * volume is O(n·B) vector copies against the unavoidable O(n²)
    * flops; no executor ever holds more than two blocks' worth of one
    * pair-key's partitions, and the driver holds nothing.
    */
  private def blockEquiJoinNearDupPairs(
      src: DataFrame, // (id: long, vec: array<float>)
      threshold: Double,
      numBlocks: Int,
  ): DataFrame = {
    val b = math.max(1, numBlocks)
    val withBlk = src.withColumn("__blk", pmod(col("id"), lit(b.toLong)).cast("int"))
    val left = withBlk.select(
      col("id").as("id_a"),
      col("vec").as("vec_a"),
      col("__blk").as("__bi"),
      explode(sequence(col("__blk"), lit(b - 1))).as("__bj"),
    )
    val right = withBlk.select(
      col("id").as("id_b"),
      col("vec").as("vec_b"),
      explode(sequence(lit(0), col("__blk"))).as("__bi"),
      col("__blk").as("__bj"),
    )
    left
      .join(right, Seq("__bi", "__bj"))
      .where(col("__bi") =!= col("__bj") || col("id_a") < col("id_b"))
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        graft.functions.VectorExpressions.vecCosine(col("vec_a"), col("vec_b")).as("cosine"),
      )
      .where(col("id_a") =!= col("id_b") && col("cosine") >= threshold)
  }

  // ------------------------------------------------------ recall measurement

  /** Per-query recall@k of an approximate ANN result against an exact
    * one — the tuning loop every approximate index needs at corpus
    * scale: brute-force a SAMPLE of queries for ground truth, measure,
    * and raise `nprobe`/`refine` until recall meets the budget
    * (guessing knob values on 100 TB wastes either recall or a
    * corpus scan — measure on the sample, deploy the knobs).
    *
    * Both inputs are the shared ANN output shape (query_id,
    * neighbor_id, rank, …); rows with rank > k are ignored on both
    * sides, so one exact run at large k serves every smaller-k
    * measurement. Output: (query_id, n_exact, n_matched, recall) with
    * recall = |approx ∩ exact| / |exact| per query — denominator is
    * the EXACT side's row count (≤ k on small or degenerate corpora),
    * so a query the exact side answered fully with fewer than k
    * neighbors is not penalized for the missing rows. Queries absent
    * from the exact side don't appear (no truth, no measurement).
    *
    * Scale shape: one left-semi join on (query_id, neighbor_id) plus
    * two aggs keyed by query_id — everything is queries×k-sized,
    * nothing touches the corpus.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"recallAtK: k must be > 0, got $k")
    // distinct() makes the measurement robust to a malformed approx
    // frame with repeated (query, neighbor) rows — without it the left
    // join would multiply exact rows and inflate BOTH counts
    val a = approx.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id")).distinct()
      .withColumn("__hit", lit(1))
    exact.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
      .join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("n_matched"))
      .select(col("query_id"), col("n_exact"), col("n_matched"),
        (col("n_matched").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** The measured nprobe-tuning loop over a persisted store, packaged:
    * brute-force the SAMPLE queries for ground truth (one bounded
    * pass — at corpus scale the sample is hundreds of queries, so the
    * truth costs one corpus scan), then walk nprobe by doubling
    * (1, 2, 4, …, nlist), measuring mean [[recallAtK]] of the
    * store-served search at each step, stopping at the first value
    * that meets `targetRecall`. Returns the measured CURVE — one row
    * (nprobe, mean_recall, met_target) per probed value — not just
    * the winner, so the caller sees the recall/cost trade it is
    * buying before committing the knob to a full-corpus job.
    *
    * OPQ stores measure in rotated space on both sides (rotation
    * preserves cosine, so the truth is the same truth). Probed cells
    * are NESTED in nprobe, so at exhaustive `refine` the curve is
    * monotone non-decreasing; at stock refine small dips are real
    * measurement, not error. An empty or fully-degenerate sample
    * returns an empty curve (nothing to measure). [[tuneRefine]] is
    * the same walker over the other knob (the re-rank budget at a
    * fixed nprobe).
    */
  def tuneNprobe(
      store: VectorStore.CodedVectorStore,
      sampleQueries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      targetRecall: Double,
      refine: Int = 4,
  ): DataFrame = {
    val spark = sampleQueries.sparkSession
    import spark.implicits._
    val (sample, exact) =
      tuneTruth(store, sampleQueries, idCol, vecCol, k, targetRecall, "tuneNprobe")
    if (exact.isEmpty)
      return Seq.empty[(Int, Double, Boolean)]
        .toDF("nprobe", "mean_recall", "met_target")
    // r22 (guide §1.2-2): the walk's query-side preparation — ADC
    // LUTs, model broadcasts, probe ranking — is step-invariant, and
    // probed cells are NESTED in nprobe ([[IvfModel.nearestK]] sorts
    // (distance, index) pairs, a total order, so nearestK(v, np) is
    // exactly the np-prefix of nearestK(v, nlist)). Ranks are computed
    // ONCE at the cap; each step ADC-scores only the newly-probed rank
    // band and accumulates the landed deltas, so the walk's total
    // probe-join work equals ONE search at the final nprobe instead of
    // the sum over all steps (the former per-step ivfPqTopKFromStore
    // re-derived LUTs, re-broadcast the models, and re-scored every
    // previously-probed cell at each doubling). Results are
    // bit-identical: same candidate multiset per step, same ADC
    // kernel, same reducers (SimilaritySpec pins the curve against a
    // per-step reference walk). The landed deltas total the same rows
    // the final step's probe join already shuffles.
    val sc = spark.sparkContext
    val cap = store.ivf.centroids.length
    val bcIvf = sc.broadcast(store.ivf.centroids)
    val bcPq = sc.broadcast(store.pq)
    val queries = storeQueries(store, sample, vecCol)
    val probeAllUdf = udf((v: Array[Float]) => IvfModel.nearestK(bcIvf.value, v, cap))
    val lutUdf = udf((v: Array[Float]) => adcLut(bcPq.value, v))
    val probedAll = nonDegenerate(queries, vecCol)
      .select(
        col(idCol).as("query_id"),
        lutUdf(col(vecCol)).as("lut"),
        posexplode(probeAllUdf(col(vecCol))).as(Seq("cellrank", "cell")))
      .localCheckpoint(true) // sample × nlist rows — the tuner's bounded query set
    val indexed = storeIndexed(store, None)
    // When k·refine ≥ corpus rows the per-step ADC cut is PROVABLY a
    // no-op (a query's probed pool never exceeds the corpus — each
    // corpus row lives in exactly one cell — so the bounded heap
    // keeps everything): every pool candidate reaches the exact
    // re-rank at every step, and exact cosines are step-invariant
    // pure values. In that regime re-rank each delta band ONCE as it
    // is probed and reduce the accumulated rescored rows — the former
    // shape re-joined and re-scored the ENTIRE pool at every step
    // (the q188-gate shape: exhaustive refine so the measured curve's
    // ceiling is the cell assignment, walked over all of nlist).
    // One cheap count against the bucketed vecs table decides.
    val exhaustiveCut = k.toLong * refine >= store.vecs.count()
    var scored = List.empty[DataFrame]
    var prevNp = 0
    walkKnobCurve(spark, "nprobe", doublingTo(cap), exact, k, targetRecall) { np =>
      val band = probedAll
        .where(col("cellrank") >= prevNp && col("cellrank") < np)
        .select(col("query_id"), col("lut"), col("cell"))
      prevNp = np
      val joined = indexed
        .join(broadcast(band), "cell")
        .where(col("neighbor_id") =!= col("query_id"))
      if (exhaustiveCut) {
        scored ::= rescore(storeVecs(store), queries,
          joined.select(col("query_id"), col("neighbor_id")), idCol, vecCol)
          .localCheckpoint(true)
        topKReduce(scored.reduce(_ unionByName _), k)
      } else {
        val delta = joined
          .select(col("query_id"), col("neighbor_id"),
            graft.functions.VectorExpressions
              .pqAdcScore(col("code"), col("lut"), store.pq.ksub).as("cosine"))
          .localCheckpoint(true)
        scored ::= delta
        val cands = topKReduce(scored.reduce(_ unionByName _), shortlistSize(k, refine))
          .select(col("query_id"), col("neighbor_id"))
        rerankShortlist(storeVecs(store), queries, cands, idCol, vecCol, k)
      }
    }
  }

  /** The refine twin of [[tuneNprobe]] — walk the exact-re-rank
    * budget at a FIXED nprobe: the knob a tuning session raises when
    * nprobe is pinned (by a latency budget or cell-population
    * constraint) and the target is still missed. Candidates double
    * from 1 up to the EXHAUSTIVE budget (`refine·k ≥ corpus rows` —
    * beyond it a larger budget cannot change the candidate set).
    *
    * At a fixed nprobe the probed ADC pool is fixed; raising refine
    * only GROWS the subset re-ranked with exact cosines, and a
    * global-truth member present in the re-rank set always survives
    * exact re-rank (nothing outside the truth can out-score it) — so
    * this curve is monotone non-decreasing BY CONSTRUCTION, and its
    * ceiling is the fraction of truth living in the probed cells:
    * exactly 1.0 at `nprobe = nlist`, below full probe a MEASUREMENT
    * of the cell assignment, not an error. Same output shape,
    * early-stop, truth prep, and empty-sample contract as
    * [[tuneNprobe]], with `refine` as the knob column.
    */
  def tuneRefine(
      store: VectorStore.CodedVectorStore,
      sampleQueries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      targetRecall: Double,
      nprobe: Int,
  ): DataFrame = {
    require(nprobe >= 1, s"tuneRefine: nprobe must be >= 1, got $nprobe")
    val spark = sampleQueries.sparkSession
    import spark.implicits._
    val (sample, exact) =
      tuneTruth(store, sampleQueries, idCol, vecCol, k, targetRecall, "tuneRefine")
    if (exact.isEmpty)
      return Seq.empty[(Int, Double, Boolean)]
        .toDF("refine", "mean_recall", "met_target")
    // exhaustive cap: one count job against the bucketed vecs table —
    // a tuning session is a deliberate measured run, the count is the
    // cheapest job in it
    val corpusN = store.vecs.count()
    val exhaustive =
      math.min(Int.MaxValue.toLong, math.max(1L, (corpusN + k - 1) / k.toLong)).toInt
    // r22 (guide §1.2-2): at a FIXED nprobe the probed ADC pool is
    // step-invariant — the former per-step ivfPqTopKFromStore re-ran
    // the probe join and re-scored the same candidates at every
    // refine doubling. Score the pool ONCE, land it, and walk only
    // what the knob actually changes: the re-rank budget (bounded-heap
    // reduce + exact re-rank per step). Results are bit-identical —
    // same pool, same reducers (SimilaritySpec pins the curve against
    // a per-step reference walk); the landed pool is the same row set
    // every single step's probe join used to shuffle.
    val sc = spark.sparkContext
    val bcIvf = sc.broadcast(store.ivf.centroids)
    val bcPq = sc.broadcast(store.pq)
    val queries = storeQueries(store, sample, vecCol)
    val probeUdf = udf((v: Array[Float]) => IvfModel.nearestK(bcIvf.value, v, nprobe))
    val lutUdf = udf((v: Array[Float]) => adcLut(bcPq.value, v))
    val probed = nonDegenerate(queries, vecCol).select(
      col(idCol).as("query_id"),
      lutUdf(col(vecCol)).as("lut"),
      explode(probeUdf(col(vecCol))).as("cell"))
    val adc = storeIndexed(store, None)
      .join(broadcast(probed), "cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorExpressions
          .pqAdcScore(col("code"), col("lut"), store.pq.ksub).as("cosine"))
      .localCheckpoint(true)
    walkKnobCurve(spark, "refine", doublingTo(exhaustive),
      exact, k, targetRecall) { rf =>
      val cands = topKReduce(adc, shortlistSize(k, rf))
        .select(col("query_id"), col("neighbor_id"))
      rerankShortlist(storeVecs(store), queries, cands, idCol, vecCol, k)
    }
  }

  /** Shared truth prep for the knob tuners: validate, pin ONE
    * evaluation of the sample (the truth pass and every per-knob
    * search re-evaluate the query plan, so an un-seeded `sample(...)`
    * — the typical way a tuning sample is drawn — would otherwise
    * measure recall between MISMATCHED query draws and return a
    * garbage curve with no error), rotate the query side once for
    * OPQ corpora (stored floats persist rotated; cosines are
    * rotation-invariant, same truth), and brute-force the store's
    * own floats for exact truth. Returns (pinned sample, pinned
    * truth).
    */
  private def tuneTruth(
      store: VectorStore.CodedVectorStore,
      sampleQueries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      targetRecall: Double,
      caller: String,
  ): (DataFrame, DataFrame) = {
    require(k > 0, s"$caller: k must be > 0, got $k")
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"$caller: targetRecall must be in (0, 1], got $targetRecall")
    // a store with no IVF cells has nothing to walk: the doubling
    // candidates would degenerate to Seq(0) and the loop would
    // "measure" an all-zero curve at knob = 0 — fail loudly like the
    // other degenerate paths instead
    require(store.ivf.centroids.nonEmpty,
      s"$caller: store has no IVF centroids (nlist = 0) — nothing to tune")
    val sample = sampleQueries.localCheckpoint(true)
    val truthQueries = storeQueries(store, sample, vecCol)
    val corpus = store.vecs.select(col("id").as(idCol), col("vec").as(vecCol))
    val exact = bruteForceTopK(corpus, truthQueries, idCol, vecCol, k)
      .localCheckpoint(true)
    (sample, exact)
  }

  /** The doubling candidate walk both tuners share: 1, 2, 4, …
    * capped at (and always ending on) `cap`. Doubles in Long: an Int
    * doubling past 2^30 wraps negative and `takeWhile(_ < cap)` never
    * terminates when cap > 2^30 (tuneRefine's exhaustive cap on a
    * multi-billion-row corpus) — the Long walk hits 2^31 and stops.
    */
  private def doublingTo(cap: Int): Seq[Int] =
    (Iterator.iterate(1L)(_ * 2).takeWhile(_ < cap).map(_.toInt) ++
      Iterator.single(cap)).toSeq

  /** Shared curve walker: measure mean [[recallAtK]] of `search(v)`
    * at each candidate IN ORDER, stopping at the first value meeting
    * the target; one (knob, mean_recall, met_target) row per
    * measured value.
    */
  private def walkKnobCurve(
      spark: org.apache.spark.sql.SparkSession,
      knobCol: String,
      candidates: Seq[Int],
      exact: DataFrame,
      k: Int,
      targetRecall: Double,
  )(search: Int => DataFrame): DataFrame = {
    val sp = spark
    import sp.implicits._
    val curve = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
    var met = false
    val it = candidates.iterator
    while (it.hasNext && !met) {
      val v = it.next()
      val mean = recallAtK(search(v), exact, k)
        .agg(avg(col("recall"))).head().getDouble(0)
      met = mean >= targetRecall
      curve += ((v, mean, met))
    }
    curve.toSeq.toDF(knobCol, "mean_recall", "met_target")
  }

  // --------------------------------------------------------- brute force knn

  /** Exact top-k cosine neighbors of each query vector against the
    * whole corpus. Queries are broadcast; corpus is scanned once.
    *
    * Output: (query_id, neighbor_id, rank 1..k, cosine), excludes
    * self-matches. Ties broken by neighbor_id ascending.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
  ): DataFrame = {
    // norm > 0 drops NULL (null norm), empty, and zero-norm rows in
    // one codegen'd predicate — the three shapes whose cosine ratio
    // is undefined (0/0 = NaN) rather than merely uninformative
    val c = corpus.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("cvec"),
      normCol(col(vecCol)).as("cnorm"),
    ).where(col("cnorm") > 0)
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("qvec"),
      normCol(col(vecCol)).as("qnorm"),
    ).where(col("qnorm") > 0)
    val scored = c
      .crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        (dotUdf(col("cvec"), col("qvec")) / (col("cnorm") * col("qnorm"))).as("cosine"),
      )
    topKReduce(scored, k)
  }

  /** Shared bounded-heap reduction: (query_id, neighbor_id, cosine) →
    * top-k per query with ranks. `private[graft]` so the perf probe
    * can replay retired formulations against it like-for-like.
    */
  private[graft] def topKReduce(scored: DataFrame, k: Int): DataFrame = {
    // Per-partition bounded-heap pre-reduction BEFORE the UDAF:
    // ObjectHashAggregate falls back to sort-based aggregation past
    // 128 distinct groups (spark.sql.objectHashAggregate.sortBased.
    // fallbackThreshold), which SORTS the entire score stream with
    // kryo-serialized buffers — on an ADC scan that is
    // queries × corpus rows (measured 40+ s on 44M rows; the heap
    // pass cuts it to ≤ partitions × queries × k candidate rows, and
    // the comparator is identical so results are bit-identical).
    val spark = scored.sparkSession
    import spark.implicits._
    val partial = scored
      .select(
        col("query_id").cast("long"),
        col("neighbor_id").cast("long"),
        col("cosine").cast("double"))
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.HashMap.empty[Long, Array[(Double, Long)]]
        it.foreach { case (q, n, c) =>
          heaps.update(q, heapInsert(heaps.getOrElse(q, Array.empty), (c, n), k))
        }
        heaps.iterator.flatMap { case (q, buf) =>
          buf.iterator.map { case (c, n) => (q, n, c) }
        }
      }
      .toDF("query_id", "neighbor_id", "cosine")
    val agg = topKUdaf(k)
    partial
      .groupBy("query_id")
      .agg(agg(col("cosine"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(
        col("query_id"),
        col("entry._2").as("neighbor_id"),
        (col("pos") + 1).cast("bigint").as("rank"), // DuckDB row_number() is BIGINT
        col("entry._1").as("cosine"),
      )
  }

  /** Maximal-Marginal-Relevance DIVERSIFIED top-k (Carbonell &
    * Goldstein, SIGIR'98): from each query's relevance pool
    * (`poolSize` nearest by cosine, default 4·k), greedily select `k`
    * documents maximizing
    *
    *   λ · sim(query, d)  −  (1 − λ) · max_{s ∈ selected} sim(d, s)
    *
    * — the standard redundancy-penalized re-rank a RAG retriever runs
    * so the k passages it stuffs into a context window aren't k
    * near-copies of the same paragraph. λ = 1 reduces to plain
    * relevance ranking; λ = 0 is pure diversity. Ties break by
    * (score, id asc); the empty-selection penalty is 0, so rank 1 is
    * always the most-relevant pool member.
    *
    * Output: (query_id, neighbor_id, mmr_rank, relevance, mmr_score),
    * `relevance` = query cosine from the pool pass.
    *
    * Scale shape: the pool pass is [[bruteForceTopK]] (map-side
    * bounded heaps — swap in an IVF/Hamming pool upstream for corpus
    * scale); pool members then fetch their vectors through one
    * (id, vec)-projection join against the corpus (the pool side is
    * queries × poolSize rows — broadcast-sized — so the corpus is
    * re-read but never re-scored or re-shuffled); the greedy loop is
    * O(k · poolSize) cosines PER QUERY over ≤ poolSize in-memory
    * rows, keyed by query — embarrassingly parallel across queries.
    */
  def mmrTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      poolSize: Int = 0,
      lambda: Double = 0.5,
  ): DataFrame = {
    val ps = mmrValidatedPoolSize(k, lambda, poolSize)
    val pool = bruteForceTopK(corpus, queries, idCol, vecCol, ps)
    mmrGreedyTail(
      pool.join(
        corpus.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("__nvec")),
        "neighbor_id"),
      k, lambda)
  }

  /** [[mmrTopK]] with the relevance-pool pass served from a persisted
    * [[VectorStore.CodedVectorStore]] — the "swap in IVF upstream at
    * corpus scale" sentence of [[mmrTopK]]'s contract made a face:
    * the pool comes from [[ivfPqTopKFromStore]] (on an OPQ store in
    * rotated space — relevances and pairwise cosines are
    * rotation-invariant, so the greedy is untouched), pool members'
    * vectors fetch through the id-bucketed `vecs` scan, and the SAME
    * greedy tail re-ranks — the corpus is never re-encoded, scanned,
    * or broadcast. Pool recall < 1 is the ANN trade (`nprobe`/
    * `refine`); the diversification itself is exact over the pool.
    *
    * `allowed` restricts the POOL to the allowed ids (the
    * [[ivfPqTopKFromStore]] pre-filter), so the greedy diversifies
    * over eligible candidates only — filtering AFTER MMR would both
    * lose recall and re-shape the diversity penalty around disallowed
    * picks. Pool members are allowed by construction, so the vector
    * fetch needs no second filter.
    */
  def mmrTopKFromStore(
      store: VectorStore.CodedVectorStore,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      poolSize: Int = 0,
      lambda: Double = 0.5,
      nprobe: Int = 4,
      refine: Int = 4,
      allowed: Option[AllowedIds] = None,
  ): DataFrame = {
    val ps = mmrValidatedPoolSize(k, lambda, poolSize)
    val pool = ivfPqTopKFromStore(store, queries, idCol, vecCol, ps, nprobe, refine,
      allowed = allowed)
    mmrGreedyTail(
      pool.join(
        store.vecs.select(col("id").as("neighbor_id"), col("vec").as("__nvec")),
        "neighbor_id"),
      k, lambda)
  }

  /** Shared MMR-face validation: k/lambda domain checks and the
    * 4k pool default.
    */
  private def mmrValidatedPoolSize(k: Int, lambda: Double, poolSize: Int): Int = {
    require(k > 0, s"k must be > 0: $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0, 1]: $lambda")
    val ps = if (poolSize <= 0) 4 * k else poolSize
    require(ps >= k, s"poolSize must be ≥ k: $ps < $k")
    ps
  }

  /** The per-query greedy MMR re-rank shared by [[mmrTopK]] and
    * [[mmrTopKFromStore]] (one tail, so the selection rule cannot
    * drift between the faces): input is the pool joined with its
    * members' vectors — (query_id, neighbor_id, cosine, __nvec).
    */
  private def mmrGreedyTail(
      poolWithVecs: DataFrame,
      k: Int,
      lambda: Double,
  ): DataFrame = {
    val spark = poolWithVecs.sparkSession
    import spark.implicits._
    val lam = lambda
    val kk = k
    poolWithVecs
      .select(
        col("query_id").cast("long"),
        col("neighbor_id"),
        col("cosine").cast("double"),
        col("__nvec"))
      .as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (q: Long, it: Iterator[(Long, Long, Double, Array[Float])]) =>
        // (relevance desc, id asc): deterministic scan order = tie order;
        // vectors deserialize straight to primitive float[] (the
        // Array[Float] encoder convention — no per-row element List)
        val cands = it
          .map { case (_, id, rel, v) => (id, rel, v) }
          .toArray
          .sortBy { case (id, rel, _) => (-rel, id) }
        val used = new Array[Boolean](cands.length)
        val selVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double, Double)]
        var r = 0
        while (r < kk && r < cands.length) {
          var bestIx = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < cands.length) {
            if (!used(i)) {
              val (_, rel, v) = cands(i)
              // the TRUE max over the selected set (possibly negative —
              // clamping at 0 would silently depart from the MMR
              // formula when selected docs anti-correlate); only the
              // EMPTY selection carries penalty 0
              var maxSim = if (selVecs.isEmpty) 0.0 else Double.NegativeInfinity
              var s = 0
              while (s < selVecs.length) {
                val c = cosineKernel(v, selVecs(s))
                if (c > maxSim) maxSim = c
                s += 1
              }
              val score = lam * rel - (1.0 - lam) * maxSim
              // strict > keeps the first (best-relevance, min-id) on ties
              if (score > bestScore) { bestScore = score; bestIx = i }
            }
            i += 1
          }
          val (id, rel, v) = cands(bestIx)
          used(bestIx) = true
          selVecs += v
          out += ((q, id, (r + 1).toLong, rel, bestScore))
          r += 1
        }
        out.iterator
      }
      .toDF("query_id", "neighbor_id", "mmr_rank", "relevance", "mmr_score")
  }

  /** DuckDB-parity cosine of two float vectors (widened-to-double
    * sequential accumulation, √·√ denominator, [-1, 1] clamp — the
    * [[graft.operators.Dedup.decontaminateEmbedding]] contract,
    * INCLUDING its width rule: mismatched vectors are a named error,
    * never a silent common-prefix truncation).
    */
  private[operators] def cosineKernel(x: Array[Float], y: Array[Float]): Double = {
    require(x.length == y.length,
      s"cosineKernel: vector widths differ: ${x.length} != ${y.length}")
    val n = x.length
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x(i).toDouble
      val yv = y(i).toDouble
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    val c = if (denom == 0.0) 0.0 else dot / denom
    if (c > 1.0) 1.0 else if (c < -1.0) -1.0 else c
  }

  // ------------------------------------------------------------------- ivf

  /** IVF (inverted-file) ANN index descriptor: centroids trained
    * driver-side on a bounded sample (k-means, few iterations — the
    * sample and centroid set are tiny next to the corpus; the corpus
    * itself is only ever scanned to ASSIGN, one pass, no shuffle wider
    * than a groupless map).
    */
  final case class IvfModel(centroids: Array[Array[Float]]) {
    def nearestCentroid(v: Array[Float]): Int = IvfModel.nearest(centroids, v)
    def nearestCentroids(v: Array[Float], nprobe: Int): Seq[Int] =
      IvfModel.nearestK(centroids, v, nprobe)
  }

  object IvfModel {
    // Per-row kernels take Array[Float], NEVER Seq[Float]: a
    // `Seq[Float]` UDF parameter deserializes to an immutable List
    // (measured — Spark 4's Seq deserializer builds cons cells), so
    // every indexed access walks the list and an indexed while-loop
    // kernel goes O(dim²) per row. An `Array[Float]` parameter arrives
    // as the primitive float[] (one bulk copy, no boxing): the same
    // dim-2048 indexed loop measured 43 s (Seq) vs 0.33 s (Array)
    // over 20k rows. Repo-wide UDF convention, not a local fix.
    private[operators] def negCos(c: Array[Float], v: Array[Float]): Double = {
      var dot = 0.0; var nc = 0.0; var nv = 0.0
      var i = 0
      val n = math.min(c.length, v.length)
      while (i < n) { dot += c(i) * v(i); nc += c(i) * c(i); nv += v(i) * v(i); i += 1 }
      if (nc == 0 || nv == 0) 0.0 else -dot / math.sqrt(nc * nv)
    }
    private[operators] def nearest(cs: Array[Array[Float]], v: Array[Float]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var i = 0
      while (i < cs.length) {
        val d = negCos(cs(i), v)
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      best
    }

    /** The `k` nearest centroid indices by cosine — static so per-row
      * probing allocates no model wrapper.
      */
    private[operators] def nearestK(cs: Array[Array[Float]], v: Array[Float], k: Int): Seq[Int] =
      cs.indices
        .map(i => (negCos(cs(i), v), i))
        .sorted
        .take(k)
        .map(_._2)
  }

  /** Train IVF centroids on ≤ `sampleRows` vectors (Lloyd's k-means,
    * cosine-normalized, seeded/deterministic). The sample is a
    * per-partition Algorithm-R reservoir collected in ONE scan — no
    * `count()` pre-pass (at 100 TB a full scan just to pick a sample
    * fraction is a real cost; same rationale as
    * [[graft.MlFunctions.trainSampled]]).
    */
  /** Bounded per-partition Algorithm-R reservoir over a vector column,
    * ONE scan, no `count()` pre-pass — shared by IVF and PQ codebook
    * training.
    */
  private def sampleVectors(
      df: DataFrame,
      vecCol: String,
      sampleRows: Int,
      seed: Long,
  ): Array[Array[Float]] = {
    val projected = df.select(col(vecCol))
    val numPart = math.max(1, projected.rdd.getNumPartitions)
    val perPartition = math.max(1, sampleRows / numPart)
    projected.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val rng = new scala.util.Random(seed ^ (pid.toLong * 0x9e3779b97f4a7c15L))
        val res = new scala.collection.mutable.ArrayBuffer[Array[Float]](
          math.min(perPartition, 1024),
        )
        var seen = 0L
        it.foreach { row =>
          // NULL / zero-length embedding rows never enter a model
          // sample — one malformed row must not NPE corpus training
          val s = row.getSeq[Float](0)
          if (s != null && s.nonEmpty) {
            val v = s.toArray
            if (res.length < perPartition) res += v
            else {
              val j = (rng.nextLong() & Long.MaxValue) % (seen + 1)
              if (j < perPartition) res(j.toInt) = v
            }
            seen += 1
          }
        }
        res.iterator
      }
      .collect()
  }

  def trainIvf(
      df: DataFrame,
      vecCol: String,
      nlist: Int,
      sampleRows: Int = 20000,
      iterations: Int = 8,
      seed: Long = 42L,
  ): IvfModel =
    trainIvfOnSample(sampleVectors(df, vecCol, sampleRows, seed), nlist,
      iterations, seed)

  /** Train IVF and PQ from ONE reservoir sample. [[trainIvf]] and
    * [[trainPq]] draw the IDENTICAL seeded sample (same df, same
    * sampleRows, same seed → same per-partition reservoir draws), so
    * calling them separately pays a second full corpus-sample scan
    * for the same rows — at corpus scale that is a whole extra pass
    * over the data per index build. This samples once and runs both
    * driver-side trainers on it; each consumes the sample with its
    * own fresh seeded RNG, so the returned models are BIT-IDENTICAL
    * to the separate calls (SimilaritySpec pins the equality).
    */
  def trainIvfPq(
      df: DataFrame,
      vecCol: String,
      nlist: Int,
      m: Int,
      ksub: Int,
      sampleRows: Int = 20000,
      iterations: Int = 8,
      seed: Long = 42L,
  ): (IvfModel, PqModel) = {
    require(ksub <= 256, "codes are single bytes: ksub ≤ 256")
    val sample = sampleVectors(df, vecCol, sampleRows, seed)
    val ivf = trainIvfOnSample(sample, nlist, iterations, seed)
    val pq =
      if (sample.isEmpty) PqModel(1, 1, 1, Array(0f))
      else trainPqOnSample(sample.map(normalize), m, ksub, iterations, seed)
    (ivf, pq)
  }

  /** The driver-side Lloyd core of [[trainIvf]] over an
    * already-collected sample (shared with [[trainIvfPq]]).
    */
  private def trainIvfOnSample(
      sample: Array[Array[Float]],
      nlist: Int,
      iterations: Int,
      seed: Long,
  ): IvfModel = {
    // empty corpus → EXPLICIT empty model (no centroids): callers test
    // `model.centroids.isEmpty` instead of inferring emptiness from a
    // degenerate shape (a genuine 1-dim k=1 corpus is indistinguishable
    // from the old single-zero-centroid sentinel). Assignment paths
    // still degrade gracefully — `nearest` over zero centroids returns
    // cluster 0, and the corpus these models came from has no rows to
    // assign anyway; an empty slice is routine at scale, not an error.
    if (sample.isEmpty) return IvfModel(Array.empty)
    val dim = sample.head.length
    val normed = sample.map(normalize)
    val rng = new scala.util.Random(seed)
    var centroids = Array.fill(math.min(nlist, normed.length))(
      normed(rng.nextInt(normed.length)).clone(),
    )
    var it = 0
    val assign = new Array[Int](normed.length)
    while (it < iterations) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      // The assignment step is the hot part (samples × nlist × dim
      // flops per iteration — ~2 s single-threaded at dim 2048) and is
      // PURE per-element reads, so it parallelizes without touching
      // the result; the float accumulation below stays SEQUENTIAL in
      // sample order, so the trained model is BIT-IDENTICAL to the
      // single-threaded loop (a parallel sum would reorder float adds
      // and drift the centroids' low bits — deterministic models are
      // what keep every store-served gate reproducible).
      val cur = centroids
      java.util.stream.IntStream.range(0, normed.length).parallel()
        .forEach(i => assign(i) = IvfModel.nearest(cur, normed(i)))
      var si = 0
      while (si < normed.length) {
        val c = assign(si)
        counts(c) += 1
        val v = normed(si)
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
        si += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else normalize(sums(c).map(x => (x / counts(c)).toFloat))
      }.toArray
      it += 1
    }
    IvfModel(centroids)
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    var ss = 0.0
    v.foreach(x => ss += x.toDouble * x)
    val n = math.sqrt(ss)
    if (n == 0) v else v.map(x => (x / n).toFloat)
  }

  // ------------------------------------------------ semantic dedup (SemDeDup)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embeddings, then within
    * each cluster collapse every ε-ball (cosine ≥ `eps`) to ONE
    * representative — the member with the LOWEST cosine to its
    * centroid (the paper's choice: keep the least prototypical copy,
    * drop the redundant middle). Semantic near-dups (paraphrases,
    * templated rewrites) that text shingling can't see collapse here.
    *
    * Scale shape: clustering replaces the quadratic corpus×corpus
    * search with per-cluster blocks — candidate pairs come from the
    * same count-capped self-join machinery as the text dedup family
    * (no cluster's id list is ever materialized in one buffer), verify
    * is a native cosine per candidate, and transitive ε-chains close
    * via connected components. Cross-cluster near-dups are missed by
    * construction (that's the approximation SemDeDup makes).
    *
    * `nlist` ≤ 0 (the default) derives the cell count FROM THE CORPUS:
    * `max(16, ⌈n / targetClusterRows⌉)`. A fixed nlist is the classic
    * scale bug in this operator — cluster populations grow linearly
    * with the corpus and candidate pairs QUADRATICALLY (the round-8
    * sf1 sweep measured it directly) — whereas a corpus-proportional
    * cell count keeps expected cluster size (and per-cluster pair
    * cost) constant. Pass an explicit nlist only for reproducing a
    * fixed partition layout.
    *
    * Output: every input row as (id, cell, cent_sim, component,
    * is_kept) — filter `is_kept` to dedupe.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 0,
      eps: Double = 0.95,
      maxClusterSize: Int = 100000,
      seed: Long = 42L,
      materialize: graft.operators.Materialize = graft.operators.Materialize.LocalCheckpoint,
      targetClusterRows: Int = 4096,
  ): DataFrame = {
    // the auto-nlist path scans the input THREE times (count, init
    // sample, assignment) — for the common composition where `df` is a
    // derived, unmaterialized pipeline stage, persist it first so the
    // upstream chain executes once, not once per scan (a bare count on
    // a raw parquet scan is footer-cheap, but on a derived stage it
    // re-executes the whole chain)
    val autoNlist = nlist <= 0
    val input = if (autoNlist) df.persist() else df
    val cells =
      if (!autoNlist) nlist
      else {
        // capped at 16384 — the driver-k-means training face's limit
        // (SCALE.md) — beyond which maxClusterSize still caps the
        // per-cluster pair cost
        val n = input.count()
        math.min(16384L, math.max(16L, (n + targetClusterRows - 1) / targetClusterRows)).toInt
      }
    // the sample must comfortably exceed the centroid count
    val model = trainIvf(input, vecCol, cells, sampleRows = math.max(20000, cells * 8), seed = seed)
    val bc = df.sparkSession.sparkContext.broadcast(model.centroids)
    val assignUdf = udf((v: Array[Float]) => IvfModel.nearest(bc.value, v))
    val centSimUdf = udf { (v: Array[Float], c: Int) =>
      val cs = bc.value
      if (cs.isEmpty) 0.0 else -IvfModel.negCos(cs(c), v)
    }
    // NULL/empty embeddings never trained the model ([[sampleVectors]]
    // filters them) and cannot be near anything — they bypass the
    // cluster machinery on sentinel cell -1 and survive as their own
    // singleton components; the assignment UDFs only ever see
    // well-formed vectors (`when` branches evaluate lazily), so one
    // malformed row cannot NPE a corpus-scale dedup
    val degenerate = col("vec").isNull || size(col("vec")) === 0
    val assigned = input
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("cell", when(degenerate, lit(-1)).otherwise(assignUdf(col("vec"))))
      .withColumn(
        "cent_sim",
        when(col("cell") === -1, lit(0.0))
          .otherwise(centSimUdf(col("vec"), col("cell"))))
      .persist()
    val landed = semanticDedupTail(assigned, eps, maxClusterSize, materialize)
    assigned.unpersist(blocking = false)
    if (autoNlist) input.unpersist(blocking = false)
    landed
  }

  /** The ε-ball/keep-rank tail EVERY SemDeDup face shares ([[Dedup
    * .lineDedup]]'s one-kernel discipline): candidate pairs within a
    * cell (skew-capped), exact-cosine verify at `eps`, connected
    * components, keep the lowest-centroid-similarity member per
    * component (SemDeDup's keep rule — the most "representative"
    * outlier — tie-broken by id). `assigned` is (id, vec, cell,
    * cent_sim), persisted by the caller (this tail scans it four
    * times); cell −1 rows (degenerate embeddings) bypass pairing and
    * survive as singletons.
    */
  private def semanticDedupTail(
      assigned: DataFrame,
      eps: Double,
      maxClusterSize: Int,
      materialize: graft.operators.Materialize,
  ): DataFrame = {
    val (pairs, bucketHandle) =
      Dedup.bucketedCandidatePairs(
        assigned.where(col("cell") =!= -1)
          .select(col("id"), col("cell").as("bucket")), maxClusterSize)
    val va = assigned.select(col("id").as("id_a"), col("vec").as("vec_a"))
    val vb = assigned.select(col("id").as("id_b"), col("vec").as("vec_b"))
    val verified = pairs
      .join(va, "id_a")
      .join(vb, "id_b")
      .where(
        graft.functions.VectorExpressions.vecCosine(col("vec_a"), col("vec_b")) >= eps)
      .select(col("id_a"), col("id_b"))
    val comp = Dedup.connectedComponents(verified) // (id, component)
    val keepRank = Window
      .partitionBy(col("component"))
      .orderBy(col("cent_sim").asc, col("id").asc)
    val ranked = comp
      .join(assigned.select(col("id"), col("cent_sim")), "id")
      .withColumn("is_kept", row_number().over(keepRank) === 1)
      .select(col("id"), col("component"), col("is_kept"))
    // the output is CORPUS-sized: landed per `materialize` — default
    // localCheckpoint (blocks reference-tracked, freed on GC, no
    // CacheManager pin, no executor-loss recovery) or a durable
    // ParquetDir for preemptible-executor pipeline runs
    val out = assigned
      .select(col("id"), col("cell"), col("cent_sim"))
      .join(ranked, Seq("id"), "left")
      .select(
        col("id"),
        col("cell"),
        col("cent_sim"),
        coalesce(col("component"), col("id")).as("component"),
        coalesce(col("is_kept"), lit(true)).as("is_kept"),
      )
    val landed = graft.operators.Materialize(out, materialize)
    bucketHandle.unpersist(blocking = false)
    landed
  }

  /** [[semanticDedup]] over a persisted
    * [[VectorStore.CodedVectorStore]]'s OWN corpus — "dedup my
    * standing store in place": the k-means training, the three
    * auto-nlist input scans, and the per-row cell assignment that
    * [[semanticDedup]] pays are ALL skipped — cells come from the
    * store's `coded` table (assigned once at write), floats from
    * `vecs`, centroids from the persisted model. The only new
    * per-row work is one centroid cosine for the keep rank. Returns
    * the same (id, cell, cent_sim, component, is_kept) frame; feed
    * `is_kept = false` ids to a retention job, or write the kept
    * subset as the next epoch.
    *
    * On an OPQ store everything (vecs, centroids) lives in rotated
    * space — cosines are rotation-invariant, so `eps` means exactly
    * what it means from floats.
    *
    * `allowed` dedups a SLICE of the store in place (one language,
    * one license class, one ingest window): the [[ivfPqTopKFromStore]]
    * pre-filter runs on the coded table before the vecs join, so the
    * ε-ball machinery only ever pairs allowed rows and the verdict
    * frame covers exactly the slice. Cross-slice near-dups are out of
    * scope by definition — pass no filter when the dedup domain is
    * the whole store.
    *
    * Scale note: the one exchange this face adds over the write-time
    * layout is the coded⋈vecs id-join (index-sized rows hash to the
    * vecs side's id bucketing); the ε-ball pair cost is the same
    * cell-bounded, skew-capped machinery as [[semanticDedup]].
    */
  def semanticDedupFromStore(
      store: VectorStore.CodedVectorStore,
      eps: Double = 0.95,
      maxClusterSize: Int = 100000,
      materialize: graft.operators.Materialize = graft.operators.Materialize.LocalCheckpoint,
      allowed: Option[AllowedIds] = None,
  ): DataFrame = {
    val spark = store.coded.sparkSession
    val bc = spark.sparkContext.broadcast(store.ivf.centroids)
    val centSimUdf = udf { (v: Array[Float], c: Int) =>
      val cs = bc.value
      if (cs.isEmpty) 0.0 else -IvfModel.negCos(cs(c), v)
    }
    // column pruning drops the unused code from the shared pre-filter
    val assigned = storeIndexed(store, allowed)
      .select(col("neighbor_id").as("id"), col("cell"))
      .join(store.vecs.select(col("id"), col("vec")), "id")
      .withColumn("cent_sim", centSimUdf(col("vec"), col("cell")))
      .persist()
    val landed = semanticDedupTail(assigned, eps, maxClusterSize, materialize)
    assigned.unpersist(blocking = false)
    landed
  }

  // -------------------------------------------------------- product quantization

  /** Product-quantization codebooks (Jégou et al. TPAMI'11): the
    * (cosine-normalized) vector space is split into `m` subspaces of
    * `dsub` dims, each with `ksub` k-means codewords; a vector encodes
    * as `m` unsigned bytes. `codebooks` is flat
    * `[(j·ksub + c)·dsub + i]` so broadcast + LUT math stay primitive.
    * At 100 TB the point is storage/bandwidth: a 64-dim float vector
    * (256 B) becomes an 8-byte code, so the ANN scan reads 32× less.
    */
  final case class PqModel(m: Int, ksub: Int, dsub: Int, codebooks: Array[Float])

  object PqModel {
    /** Nearest codeword (L2 over the subspace) of normalized vector
      * `v`'s j-th subvector — static, allocation-free.
      */
    private[operators] def nearestCode(
        cb: Array[Float], j: Int, ksub: Int, dsub: Int, v: Array[Float]): Int = {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val base = (j * ksub + c) * dsub
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val diff = v(j * dsub + i) - cb(base + i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
  }

  /** Train PQ codebooks on a reservoir sample (per-subspace Lloyd's
    * k-means, seeded). Vectors are cosine-normalized first, so ADC
    * dot-product sums approximate cosine similarity.
    */
  def trainPq(
      df: DataFrame,
      vecCol: String,
      m: Int = 8,
      ksub: Int = 16,
      sampleRows: Int = 20000,
      iterations: Int = 8,
      seed: Long = 42L,
  ): PqModel = {
    require(ksub <= 256, "codes are single bytes: ksub ≤ 256")
    val sample = sampleVectors(df, vecCol, sampleRows, seed)
    // empty corpus → degenerate 1-subspace/1-codeword model (see
    // trainIvf); a small sample just shrinks the codebook
    if (sample.isEmpty) return PqModel(1, 1, 1, Array(0f))
    trainPqOnSample(sample.map(normalize), m, ksub, iterations, seed)
  }

  /** Per-subspace Lloyd's k-means over an already-normalized sample —
    * the driver-side core [[trainPq]] and [[trainOpq]] share (OPQ
    * retrains codebooks on the rotated sample each alternation).
    */
  private def trainPqOnSample(
      normed: Array[Array[Float]],
      m: Int,
      ksub: Int,
      iterations: Int,
      seed: Long,
  ): PqModel = {
    val effKsub = math.min(ksub, normed.length)
    val dim = normed.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val rng = new scala.util.Random(seed)
    val cb = new Array[Float](m * effKsub * dsub)
    var j = 0
    while (j < m) {
      // init with random sample subvectors
      var c = 0
      while (c < effKsub) {
        val src = normed(rng.nextInt(normed.length))
        System.arraycopy(src, j * dsub, cb, (j * effKsub + c) * dsub, dsub)
        c += 1
      }
      var it = 0
      val assign = new Array[Int](normed.length)
      while (it < iterations) {
        val sums = Array.fill(effKsub)(new Array[Double](dsub))
        val counts = new Array[Int](effKsub)
        // parallel assignment + sequential accumulation — same
        // bit-identical-parallelism contract as the IVF loop above
        java.util.stream.IntStream.range(0, normed.length).parallel()
          .forEach(i => assign(i) = PqModel.nearestCode(cb, j, effKsub, dsub, normed(i)))
        var si = 0
        while (si < normed.length) {
          val cc = assign(si)
          val v = normed(si)
          counts(cc) += 1
          var i = 0
          while (i < dsub) { sums(cc)(i) += v(j * dsub + i); i += 1 }
          si += 1
        }
        c = 0
        while (c < effKsub) {
          if (counts(c) > 0) {
            var i = 0
            while (i < dsub) {
              cb((j * effKsub + c) * dsub + i) = (sums(c)(i) / counts(c)).toFloat
              i += 1
            }
          }
          c += 1
        }
        it += 1
      }
      j += 1
    }
    PqModel(m, effKsub, dsub, cb)
  }

  /** PQ-ANN top-k: corpus rows carry only their m-byte codes through
    * the scan; each query ships an m·ksub LUT of subspace dot
    * products, scored by the codegen'd ADC expression; the ADC top
    * `k·refine` candidates per query are then re-ranked with EXACT
    * cosines. Same bounded-heap shuffle bound as [[bruteForceTopK]]
    * (O(queries·k·refine·partitions)), but the scan touches m bytes
    * per row instead of the full vector. `refine·k ≥ corpus` makes the
    * result identical to brute force (SimilaritySpec locks that).
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      model: PqModel,
      refine: Int = 4,
  ): DataFrame = {
    // ONE broadcast of the model, shared by the encode UDF and the
    // LUT side of the search tail, and ONE encode kernel ([[pqEncode]]
    // — the store write path uses the same one, so the flat face
    // cannot drift from store-vs-from-floats parity)
    val bc = corpus.sparkSession.sparkContext.broadcast(model)
    val encodeUdf = udf((v: Array[Float]) => pqEncode(bc.value, v))
    val encoded = nonDegenerate(corpus, vecCol).select(
      col(idCol).cast("long").as("neighbor_id"),
      encodeUdf(col(vecCol)).as("code"),
    )
    val corpusVecs = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    pqSearchEncoded(encoded, corpusVecs, queries, idCol, vecCol, k, bc, refine)
  }

  /** [[pqTopK]] served from a persisted
    * [[VectorStore.CodedVectorStore]] — the flat-ADC row of the
    * store-served matrix (q157/q158 gate the IVF-pruned rows): codes
    * come from the store's `coded` table (cells ignored — flat scan),
    * re-rank floats from `vecs`; no per-job encode. On an OPQ store
    * only the query side rotates (the [[ivfPqTopKFromStore]] recipe
    * rule), so the result equals [[opqTopK]] over the same corpus
    * without its per-job corpus rotation and re-encode. `allowed`
    * pre-filters the scanned codes ([[ivfPqTopKFromStore]] holds the
    * semantics), so the `k·refine` shortlist is spent entirely on
    * eligible candidates.
    */
  def pqTopKFromStore(
      store: VectorStore.CodedVectorStore,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      refine: Int = 4,
      allowed: Option[AllowedIds] = None,
  ): DataFrame =
    pqSearchEncoded(storeIndexed(store, allowed), storeVecs(store),
      storeQueries(store, queries, vecCol), idCol, vecCol, k,
      queries.sparkSession.sparkContext.broadcast(store.pq), refine)

  /** The flat ADC scan + exact re-rank tail of [[pqTopK]] over an
    * ALREADY-ENCODED corpus ((neighbor_id, code) + (neighbor_id,
    * cvec)). Takes the ALREADY-BROADCAST model so the from-floats
    * face reuses its encode-side broadcast (the [[ivfPqSearchBc]]
    * discipline).
    */
  private def pqSearchEncoded(
      encoded: DataFrame,
      corpusVecs: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bc: org.apache.spark.broadcast.Broadcast[PqModel],
      refine: Int,
  ): DataFrame = {
    val model = bc.value
    val lutUdf = udf((v: Array[Float]) => adcLut(bc.value, v))
    // FAISS-style flat ADC scan: query LUTs broadcast once
    // (queries were already an implicit broadcast in the join
    // formulation — Q × m·ksub floats), each partition streams its
    // codes ONCE through primitive per-query bounded heaps, and only
    // ≤ partitions × Q × k·refine candidate rows ever materialize.
    // The declarative crossJoin formulation materialized
    // queries × corpus scored rows and then hit ObjectHashAggregate's
    // sort-based fallback (>128 groups) — a full sort of that stream;
    // measured 2.5× slower at 22k corpus × 2k queries even after a
    // heap pre-reduction, and the gap widens with corpus size.
    val spark = queries.sparkSession
    import spark.implicits._
    val qLuts: Array[(Long, Array[Float])] = nonDegenerate(queries, vecCol)
      .select(col(idCol).cast("long"), lutUdf(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val bcLuts = spark.sparkContext.broadcast(qLuts)
    val kk = shortlistSize(k, refine)
    val m = model.m
    val ksub = model.ksub
    val partialCands = encoded
      .select(col("neighbor_id").cast("long"), col("code"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val luts = bcLuts.value
        val nq = luts.length
        val heaps = Array.fill(nq)(Array.empty[(Double, Long)])
        // primitive floor per query: rejections (the overwhelmingly
        // common case) must not allocate — a boxed candidate tuple per
        // row×query pair is queries × corpus young-gen churn
        val floors = Array.fill(nq)(Double.NegativeInfinity)
        val full = new Array[Boolean](nq)
        it.foreach { case (nid, code) =>
          var qi = 0
          while (qi < nq) {
            val (qid, lut) = luts(qi)
            if (qid != nid) {
              var s = 0.0
              var j = 0
              while (j < m) { s += lut(j * ksub + (code(j) & 0xff)); j += 1 }
              val f = floors(qi)
              if (!full(qi) || s > f ||
                (s == f && full(qi) && nid < heaps(qi)(0)._2)) {
                val h = heapInsert(heaps(qi), (s, nid), kk)
                heaps(qi) = h
                if (h.length == kk) { full(qi) = true; floors(qi) = h(0)._1 }
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (buf, qi) =>
          buf.iterator.map { case (c, n) => (luts(qi)._1, n, c) }
        }
      }
      .toDF("query_id", "neighbor_id", "cosine")
    val cands = topKReduce(partialCands, kk).select(col("query_id"), col("neighbor_id"))
    // exact re-rank of the small candidate set
    rerankShortlist(corpusVecs, queries, cands, idCol, vecCol, k)
  }

  // --------------------------------------------------------------- OPQ

  /** Optimized Product Quantization model (Ge et al., CVPR 2013): an
    * orthonormal d×d rotation learned so the product quantizer's
    * independence assumption better fits the data, plus the PQ
    * codebooks trained in the rotated space. `r` is row-major;
    * vectors rotate as y = vᵀR (rows), which preserves norms — so
    * cosine ranking in rotated space equals cosine ranking in the
    * original space, and the ADC machinery is reused unchanged.
    */
  final case class OpqModel(dim: Int, r: Array[Float], pq: PqModel) {
    private[operators] def rotate(v: Array[Float]): Array[Float] = {
      // named width check — the rotation mat-vec reads exactly `dim`
      // elements; a narrower row is a model/corpus mismatch (the pq
      // encode policy), not a tolerable truncation
      require(v.length >= dim,
        s"opq rotate: vector width ${v.length} < model dim $dim")
      val out = new Array[Float](dim)
      var j = 0
      while (j < dim) {
        var acc = 0.0
        var i = 0
        while (i < dim) { acc += v(i) * r(i * dim + j); i += 1 }
        out(j) = acc.toFloat
        j += 1
      }
      out
    }
  }

  /** Nearest-codeword reconstruction of `v` (already in codebook
    * space) — the OPQ alternation's quantization target.
    */
  private def pqReconstruct(mdl: PqModel, v: Array[Float]): Array[Float] = {
    val out = new Array[Float](mdl.m * mdl.dsub)
    var j = 0
    while (j < mdl.m) {
      val c = PqModel.nearestCode(mdl.codebooks, j, mdl.ksub, mdl.dsub, v)
      System.arraycopy(mdl.codebooks, (j * mdl.ksub + c) * mdl.dsub, out, j * mdl.dsub, mdl.dsub)
      j += 1
    }
    out
  }

  /** Train OPQ by the paper's alternating optimization on the same
    * reservoir sample [[trainPq]] uses: fix R → retrain PQ codebooks
    * on the rotated sample; fix codes → solve the orthogonal
    * Procrustes problem min‖XR − X̂‖F (SVD of XᵀX̂, R = UVᵀ). The
    * rotation is d×d driver-side work (d is embedding width, tiny);
    * the corpus is only ever touched through the one-scan reservoir.
    * R starts at identity, so iteration 0 reproduces plain PQ and
    * every alternation can only reduce sample quantization error.
    */
  def trainOpq(
      df: DataFrame,
      vecCol: String,
      m: Int = 8,
      ksub: Int = 16,
      sampleRows: Int = 20000,
      pqIterations: Int = 8,
      opqIterations: Int = 5,
      seed: Long = 42L,
  ): OpqModel = {
    require(ksub <= 256, "codes are single bytes: ksub ≤ 256")
    val sample = sampleVectors(df, vecCol, sampleRows, seed)
    if (sample.isEmpty) return OpqModel(1, Array(1f), PqModel(1, 1, 1, Array(0f)))
    val normed = sample.map(normalize)
    val dim = normed.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    // R = identity, row-major
    var r = Array.tabulate(dim * dim)(i => if (i / dim == i % dim) 1f else 0f)
    def rotateAll(rot: Array[Float]): Array[Array[Float]] = {
      val model = OpqModel(dim, rot, null)
      normed.map(model.rotate)
    }
    var pq: PqModel = null
    var it = 0
    while (it < opqIterations) {
      val rotated = rotateAll(r)
      pq = trainPqOnSample(rotated, m, ksub, pqIterations, seed)
      // Procrustes: M = XᵀX̂ over the sample (X in original space,
      // X̂ the reconstruction of XR), then R = UVᵀ from svd(M)
      val mMat = new Array[Double](dim * dim)
      var s = 0
      while (s < normed.length) {
        val x = normed(s)
        val xh = pqReconstruct(pq, rotated(s))
        var i = 0
        while (i < dim) {
          val xi = x(i)
          if (xi != 0f) {
            var j = 0
            while (j < dim) { mMat(i * dim + j) += xi * xh(j); j += 1 }
          }
          i += 1
        }
        s += 1
      }
      // breeze is column-major; our buffer is row-major → transpose in
      val mB = new breeze.linalg.DenseMatrix(dim, dim, mMat).t
      val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(mB.toDenseMatrix)
      val rB = u * vt
      r = Array.tabulate(dim * dim)(i => rB(i / dim, i % dim).toFloat)
      it += 1
    }
    pq = trainPqOnSample(rotateAll(r), m, ksub, pqIterations, seed)
    OpqModel(dim, r, pq)
  }

  /** Replace `vecCol` with its OPQ rotation — the ONE place the
    * broadcast-model-plus-udf lifecycle lives (a rotation-path fix
    * must not be appliable to only some of its call sites).
    */
  private[graft] def rotateColumn(df: DataFrame, vecCol: String, opq: OpqModel): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(opq)
    // empty rows rotate to NULL (not a width error): degenerate
    // embeddings are routine corpus rows, and every downstream face
    // drops NULL vectors via its nonDegenerate guard
    val rotUdf = udf { (v: Array[Float]) =>
      if (v == null || v.isEmpty) null else bc.value.rotate(v)
    }
    df.withColumn(vecCol, rotUdf(col(vecCol)))
  }

  /** OPQ-ANN top-k: rotate corpus and query vectors (one narrow map,
    * norm-preserving), then run the exact [[pqTopK]] machinery — ADC
    * over m-byte codes in rotated space, exact cosine re-rank. Same
    * shuffle bound as PQ; the rotation costs one d×d mat-vec per row.
    */
  def opqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      model: OpqModel,
      refine: Int = 4,
  ): DataFrame =
    pqTopK(
      rotateColumn(corpus, vecCol, model),
      rotateColumn(queries, vecCol, model),
      idCol, vecCol, k, model.pq, refine)

  /** Train the composed IVF+OPQ index: OPQ rotation + codebooks from
    * the shared reservoir sample, then IVF centroids over the ROTATED
    * corpus so cell geometry lives in the same space as the codes.
    * One extra narrow map during IVF training; nothing else changes.
    */
  def trainIvfOpq(
      df: DataFrame,
      vecCol: String,
      nlist: Int = 16,
      m: Int = 8,
      ksub: Int = 16,
      sampleRows: Int = 20000,
      seed: Long = 42L,
  ): (IvfModel, OpqModel) = {
    val opq = trainOpq(df, vecCol, m, ksub, sampleRows, seed = seed)
    val ivf = trainIvf(rotateColumn(df, vecCol, opq), vecCol,
      nlist = nlist, sampleRows = sampleRows, seed = seed)
    (ivf, opq)
  }

  /** IVF+OPQ top-k — the full billion-scale composition (FAISS's
    * `OPQ..,IVF..,PQ..` index string): rotate corpus and queries once
    * (one d×d mat-vec per row; rotations preserve norms and angles,
    * so the exact cosine re-rank is untouched), then run the
    * [[ivfPqTopK]] machinery unchanged in rotated space — cell
    * pruning bounds the SCAN, OPQ-aligned codes shrink what it READS.
    */
  def ivfOpqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      ivf: IvfModel,
      opq: OpqModel,
      nprobe: Int = 4,
      refine: Int = 4,
      broadcastQueries: Boolean = true,
  ): DataFrame =
    ivfPqTopK(
      rotateColumn(corpus, vecCol, opq),
      rotateColumn(queries, vecCol, opq),
      idCol, vecCol, k, ivf, opq.pq, nprobe, refine, broadcastQueries)

  /** Mean sample quantization error ‖x − decode(encode(x))‖² of a PQ
    * model over (rotated) normalized vectors — the objective OPQ
    * minimizes; exposed for specs and codebook tuning.
    */
  private[graft] def quantizationError(
      df: DataFrame,
      vecCol: String,
      pq: PqModel,
      rotation: Option[OpqModel] = None,
      sampleRows: Int = 20000,
      seed: Long = 42L,
  ): Double = {
    val sample = sampleVectors(df, vecCol, sampleRows, seed).map(normalize)
    if (sample.isEmpty) return 0.0
    val errs = sample.map { v0 =>
      val v = rotation.map(_.rotate(v0)).getOrElse(v0)
      val xh = pqReconstruct(pq, v)
      var e = 0.0
      var i = 0
      while (i < v.length) { val d = v(i) - xh(i); e += d * d; i += 1 }
      e
    }
    errs.sum / errs.length
  }

  /** IVF-PQ top-k — the standard billion-scale ANN composition
    * (Jégou et al.): the IVF index prunes the SCAN to `nprobe/nlist`
    * of the corpus (cell equi-join), PQ codes shrink what the scan
    * READS to m bytes per row (codegen ADC scoring), and the ADC top
    * `k·refine` per query re-ranks with exact cosines. With
    * `nprobe = nlist` and `refine·k ≥ corpus` this is provably equal
    * to brute force (spec-locked); between those extremes the two
    * knobs trade recall for scan cost and bandwidth independently.
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      ivf: IvfModel,
      pq: PqModel,
      nprobe: Int = 4,
      refine: Int = 4,
      broadcastQueries: Boolean = true,
  ): DataFrame = {
    val sc = corpus.sparkSession.sparkContext
    val bcIvf = sc.broadcast(ivf.centroids)
    val bcPq = sc.broadcast(pq)
    val assignUdf = udf((v: Array[Float]) => IvfModel.nearest(bcIvf.value, v))
    val encodeUdf = udf((v: Array[Float]) => pqEncode(bcPq.value, v))
    // one corpus scan produces (cell, code) — the ANN "index row"
    val indexed = nonDegenerate(corpus, vecCol).select(
      col(idCol).as("neighbor_id"),
      assignUdf(col(vecCol)).as("cell"),
      encodeUdf(col(vecCol)).as("code"),
    )
    val corpusVecs = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    ivfPqSearchBc(indexed, corpusVecs, queries, idCol, vecCol, k, bcIvf, bcPq,
      pq.ksub, nprobe, refine, broadcastQueries)
  }

  /** Per-query ADC lookup table (m·ksub subspace dot products against
    * the cosine-normalized query) — the ONE kernel behind every ADC
    * face's LUT UDF ([[pqSearchEncoded]], [[ivfPqSearchBc]]),
    * extracted for the same no-drift reason as [[pqEncode]].
    * Width-checked with the named model/corpus mismatch error.
    */
  private[graft] def adcLut(mdl: PqModel, v: Array[Float]): Array[Float] = {
    require(v.length >= mdl.m * mdl.dsub,
      s"pq lut: vector width ${v.length} < model dim ${mdl.m * mdl.dsub}")
    val q = normalize(v)
    val lut = new Array[Float](mdl.m * mdl.ksub)
    var j = 0
    while (j < mdl.m) {
      var c = 0
      while (c < mdl.ksub) {
        val base = (j * mdl.ksub + c) * mdl.dsub
        var dot = 0.0
        var i = 0
        while (i < mdl.dsub) { dot += q(j * mdl.dsub + i) * mdl.codebooks(base + i); i += 1 }
        lut(j * mdl.ksub + c) = dot.toFloat
        c += 1
      }
      j += 1
    }
    lut
  }

  /** Probed cells for a query under broadcast centroids — the probe
    * UDF body shared with the streaming store face.
    */
  private[graft] def probeCells(
      centroids: Array[Array[Float]], v: Array[Float], nprobe: Int): Seq[Int] =
    IvfModel.nearestK(centroids, v, nprobe)

  /** Encode one vector with `mdl`'s codebooks (cosine-normalized
    * first) — the ONE kernel shared by [[ivfPqTopK]]'s inline encode
    * and the persisted coded-corpus store's write path
    * ([[VectorStore.write]]), so stored codes are bit-identical to
    * what a from-floats search would compute.
    */
  private[operators] def pqEncode(mdl: PqModel, v: Array[Float]): Array[Byte] = {
    require(v.length >= mdl.m * mdl.dsub,
      s"pq encode: vector width ${v.length} < model dim ${mdl.m * mdl.dsub}")
    val x = normalize(v)
    val out = new Array[Byte](mdl.m)
    var j = 0
    while (j < mdl.m) {
      out(j) = PqModel.nearestCode(mdl.codebooks, j, mdl.ksub, mdl.dsub, x).toByte
      j += 1
    }
    out
  }

  /** The probe + ADC + exact-re-rank tail of [[ivfPqTopK]] over an
    * ALREADY-CODED corpus — `indexed` is (neighbor_id, cell, code),
    * `corpusVecs` is (neighbor_id, cvec) for the shortlist re-rank.
    * [[ivfPqTopK]] computes both from floats in one scan; the
    * store-serving face ([[ivfPqTopKFromStore]]) reads both from the
    * persisted [[VectorStore.CodedVectorStore]] — the corpus is never
    * re-encoded and, with the store's cell-bucketed layout, never
    * re-exchanged. Takes ALREADY-BROADCAST models, so the from-floats
    * face reuses its encode-side broadcasts instead of shipping a
    * second copy of the centroid matrix and codebooks to every
    * executor.
    */
  private def ivfPqSearchBc(
      indexed: DataFrame,
      corpusVecs: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bcIvf: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]],
      bcPq: org.apache.spark.broadcast.Broadcast[PqModel],
      ksub: Int,
      nprobe: Int,
      refine: Int,
      broadcastQueries: Boolean,
  ): DataFrame = {
    val probeUdf = udf((v: Array[Float]) => IvfModel.nearestK(bcIvf.value, v, nprobe))
    val lutUdf = udf((v: Array[Float]) => adcLut(bcPq.value, v))
    val probed = nonDegenerate(queries, vecCol).select(
      col(idCol).as("query_id"),
      lutUdf(col(vecCol)).as("lut"),
      explode(probeUdf(col(vecCol))).as("cell"),
    )
    // the merge hint FORBIDS broadcast (a bare repartition only
    // suggests partitioning — Catalyst still broadcasts a
    // small-looking side, defeating the huge-query-set contract)
    val joined =
      if (broadcastQueries) indexed.join(broadcast(probed), "cell")
      else indexed.join(probed.hint("merge"), "cell")
    val adc = joined
      .where(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        graft.functions.VectorExpressions.pqAdcScore(col("code"), col("lut"), ksub).as("cosine"),
      )
    val cands = topKReduce(adc, shortlistSize(k, refine))
      .select(col("query_id"), col("neighbor_id"))
    rerankShortlist(corpusVecs, queries, cands, idCol, vecCol, k, broadcastQueries)
  }

  /** An allowed-id filter for the store-served faces: the ids in
    * `idCol` of `ids` are the only corpus rows a search may return.
    * `broadcast = true` (default) broadcasts the id set and PRESERVES
    * the coded table's cell bucketing (no exchange added — right
    * whenever the filter side is a bounded id list). For allowed sets
    * at corpus scale (a predicate over a metadata table) pass
    * `false`: the semi-join becomes a shuffle on id — the honest
    * price of an arbitrary filter — and the probe join re-buckets by
    * cell after.
    */
  final case class AllowedIds(ids: DataFrame, idCol: String, broadcast: Boolean = true)

  /** [[ivfPqTopK]] served from a persisted
    * [[VectorStore.CodedVectorStore]]: cells and PQ codes come from
    * the cell-bucketed `coded` table (written once, reused by every
    * search job) and the re-rank floats from the id-bucketed `vecs`
    * table — the corpus is neither re-encoded nor re-exchanged per
    * job, the [[graft.operators.Dedup.readSignatures]] recipe applied
    * to embeddings. Same results as the from-floats face by
    * construction (one shared encode kernel; SimilaritySpec locks
    * row-for-row parity).
    *
    * The store's recipe is a fact the store carries: on an OPQ-coded
    * store ([[VectorStore.writeOpq]]) every artifact lives in rotated
    * space, so only the QUERY side rotates (one d×d mat-vec per
    * query) — the result equals [[ivfOpqTopK]] (FAISS
    * `OPQ..,IVF..,PQ..`) with the per-job corpus rotation, cell
    * assignment and re-encode all paid ONCE at write. Every
    * store-served face follows this rule.
    *
    * `allowed` makes this FILTERED ANN — "top-k among the documents a
    * metadata predicate allows" (language = en only, license-clean
    * only, post-cutoff only…). Semantics: exactly this search run
    * over the allowed subset — the coded table is PRE-filtered with a
    * semi-join on id BEFORE the cell join and ADC, so the `k·refine`
    * shortlist is spent entirely on eligible candidates. The tempting
    * cheap alternative — search unfiltered, drop disallowed rows
    * after — is WRONG twice at scale: a selective filter leaves < k
    * results (the shortlist filled up with ineligible neighbors), and
    * the recall contract silently degrades with the filter's
    * selectivity. The re-rank side needs NO filter: the shortlist is
    * already allowed-only, and the id-bucketed `vecs` join fetches
    * only shortlisted floats. [[AllowedIds]] holds the scale choice.
    */
  def ivfPqTopKFromStore(
      store: VectorStore.CodedVectorStore,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4,
      refine: Int = 4,
      broadcastQueries: Boolean = true,
      allowed: Option[AllowedIds] = None,
  ): DataFrame = {
    val sc = queries.sparkSession.sparkContext
    ivfPqSearchBc(storeIndexed(store, allowed), storeVecs(store),
      storeQueries(store, queries, vecCol), idCol, vecCol, k,
      sc.broadcast(store.ivf.centroids), sc.broadcast(store.pq), store.pq.ksub,
      nprobe, refine, broadcastQueries)
  }

  /** The store's index rows as (neighbor_id, cell, code), `code` read
    * from `codeCol` (`code` for PQ, `hcode` for packed sign words) —
    * the ONE coded-side source of every store-served face. With
    * `allowed`, the rows are semi-joined against the allowed ids
    * (broadcast by default — no exchange on the bucketed coded side).
    * No distinct() on the allowed side: a LEFT SEMI join already
    * returns each coded row at most once, and the dedup aggregation
    * would cost an exchange the join does not need (PlanShapeSpec
    * pins the filtered plan's shuffle count equal to the unfiltered
    * face's).
    */
  private def storeIndexed(
      store: VectorStore.CodedVectorStore,
      allowed: Option[AllowedIds],
      codeCol: String = "code",
  ): DataFrame = {
    val indexed = store.coded
      .select(col("id").as("neighbor_id"), col("cell"), col(codeCol).as("code"))
    allowed.fold(indexed) { a =>
      val allow = a.ids.select(col(a.idCol).cast("long").as("neighbor_id"))
      indexed.join(if (a.broadcast) broadcast(allow) else allow.hint("merge"),
        Seq("neighbor_id"), "left_semi")
    }
  }

  private def storeVecs(store: VectorStore.CodedVectorStore): DataFrame =
    store.vecs.select(col("id").as("neighbor_id"), col("vec").as("cvec"))

  /** `queries` in the store's space: rotated when the store is
    * OPQ-coded, as-is otherwise.
    */
  private def storeQueries(
      store: VectorStore.CodedVectorStore, queries: DataFrame, vecCol: String): DataFrame =
    store.opq.map(o => rotateColumn(queries, vecCol, o)).getOrElse(queries)

  /** ANN top-k via IVF: corpus rows join only the `nprobe` probed
    * cells per query (equi-join on cell id — hash join, no cartesian),
    * then the same bounded-heap top-k. Recall < 1 by construction;
    * raise nprobe to trade cost for recall.
    *
    * `broadcastQueries = true` (default) broadcasts the probed query
    * set — right whenever queries ≪ corpus. For HUGE query sets (a
    * full corpus-vs-corpus kNN) pass `false`: the probe join becomes
    * a sort-merge join partitioned by cell, so neither side needs to
    * fit in one executor — the last broadcast bound on this path is
    * gone (PlanShapeSpec asserts no BroadcastExchange survives).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      model: IvfModel,
      nprobe: Int = 4,
      broadcastQueries: Boolean = true,
  ): DataFrame = {
    val bcCentroids = corpus.sparkSession.sparkContext.broadcast(model.centroids)
    val assignUdf = udf((v: Array[Float]) => IvfModel.nearest(bcCentroids.value, v))
    val probeUdf = udf { (v: Array[Float]) =>
      IvfModel.nearestK(bcCentroids.value, v, nprobe)
    }
    val assigned = nonDegenerate(corpus, vecCol).select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("cvec"),
      assignUdf(col(vecCol)).as("cell"),
    )
    val probed = nonDegenerate(queries, vecCol).select(
      col(idCol).as("query_id"),
      col(vecCol).as("qvec"),
      explode(probeUdf(col(vecCol))).as("cell"),
    )
    // merge hint, not a bare repartition: only the hint FORBIDS the
    // planner from broadcasting a small-looking query side
    val joined =
      if (broadcastQueries) assigned.join(broadcast(probed), "cell")
      else assigned.join(probed.hint("merge"), "cell")
    val scored = joined
      .where(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        graft.functions.VectorExpressions.vecCosine(col("cvec"), col("qvec")).as("cosine"),
      )
    topKReduce(scored, k)
  }

  // ------------------------------------------------------- binary / hamming

  /** Top-k via 1-bit sign codes ([[Quantize.signPack]]): Hamming
    * shortlist, then exact cosine re-rank — the binary-quantization
    * row of the ANN matrix (flat=brute, IVF, PQ/OPQ, SRP-LSH, sign).
    *
    * Why it scales: the candidate scan touches only the packed codes
    * (32× smaller than the float column — for a 100 TB float corpus
    * the Hamming pass reads ~3 TB), and for random unit vectors
    * `E[hamming]/bits = angle/π` (the SRP estimator), so the Hamming
    * order tracks the cosine order closely enough that a small
    * `refine·k` shortlist retains the true neighbors; the float
    * vectors are then fetched only for shortlist members via an
    * id equi-join. Same broadcast-queries + bounded-heap shape as
    * every other ANN face: shuffle is O(queries·k·partitions), never
    * O(corpus). Shortlist cut and final ranks use the shared
    * comparator (score desc, id asc) so results are deterministic.
    *
    * Output: (query_id, neighbor_id, rank 1..k, cosine) like
    * [[bruteForceTopK]].
    */
  def hammingTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      refine: Int = 4,
  ): DataFrame = {
    // Same kernel shape as pqTopK's flat ADC scan (and for the same
    // measured reason): the declarative crossJoin formulation
    // materializes queries × corpus rows and topKReduce's typed heap
    // then boxes a tuple PER PAIR — at 22k corpus × 2k queries (44M
    // pairs) the young-gen churn made runs swing 7–140 s. Here each
    // partition streams its codes once through primitive per-query
    // bounded heaps with a no-allocation floor guard for rejections;
    // only ≤ partitions × Q × k·refine candidates materialize. Scores
    // are negated distances so the shared max-heap comparator (score
    // desc, id asc) applies unchanged — results are bit-identical to
    // the join formulation.
    val spark = corpus.sparkSession
    import spark.implicits._
    val qCodes: Array[(Long, Array[Long])] = nonDegenerate(queries, vecCol)
      .select(col(idCol).cast("long"), Quantize.signPack(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val bcCodes = spark.sparkContext.broadcast(qCodes)
    val kk = shortlistSize(k, refine)
    val partialCands = nonDegenerate(corpus, vecCol)
      .select(col(idCol).cast("long").as("neighbor_id"), Quantize.signPack(col(vecCol)).as("code"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        val qs = bcCodes.value
        val nq = qs.length
        val heaps = Array.fill(nq)(Array.empty[(Double, Long)])
        val floors = Array.fill(nq)(Double.NegativeInfinity)
        val full = new Array[Boolean](nq)
        it.foreach { case (nid, code) =>
          var qi = 0
          while (qi < nq) {
            val (qid, qc) = qs(qi)
            if (qid != nid) {
              var acc = 0L
              var j = 0
              val n = math.min(code.length, qc.length)
              while (j < n) { acc += java.lang.Long.bitCount(code(j) ^ qc(j)); j += 1 }
              val s = -acc.toDouble
              val f = floors(qi)
              if (!full(qi) || s > f || (s == f && nid < heaps(qi)(0)._2)) {
                val h = heapInsert(heaps(qi), (s, nid), kk)
                heaps(qi) = h
                if (h.length == kk) { full(qi) = true; floors(qi) = h(0)._1 }
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (buf, qi) =>
          buf.iterator.map { case (s, n) => (qs(qi)._1, n, s) }
        }
      }
      .toDF("query_id", "neighbor_id", "cosine")
    val shortlist = topKReduce(partialCands, kk).select(col("query_id"), col("neighbor_id"))
    rerankShortlist(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec")),
      queries, shortlist, idCol, vecCol, k)
  }

  /** Shared exact re-rank tail of the code-shortlist faces: fetch
    * float vectors for shortlist members ONLY (id equi-join on the
    * corpus — at 100 TB this reads refine·k·|queries| vectors, not
    * the corpus), score exact cosine, cut to k with the shared
    * comparator. The query-vector fetch honors the same bound as the
    * caller's probe join: with `broadcastQueries = false` the query
    * set is too big to broadcast ANYWHERE, so it joins through a
    * shuffle instead.
    */
  private def rerankShortlist(
      corpusVecs: DataFrame,
      queries: DataFrame,
      shortlist: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      broadcastQueries: Boolean = true,
  ): DataFrame =
    topKReduce(rescore(corpusVecs, queries, shortlist, idCol, vecCol, broadcastQueries), k)

  /** The (query_id, neighbor_id, exact cosine) rows of
    * [[rerankShortlist]] before the top-k cut.
    */
  private def rescore(
      corpusVecs: DataFrame,
      queries: DataFrame,
      shortlist: DataFrame,
      idCol: String,
      vecCol: String,
      broadcastQueries: Boolean = true,
  ): DataFrame = {
    val qvecs = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    shortlist
      .join(corpusVecs, "neighbor_id")
      .join(if (broadcastQueries) broadcast(qvecs) else qvecs.hint("merge"), "query_id")
      .select(
        col("query_id"),
        col("neighbor_id"),
        graft.functions.VectorExpressions.vecCosine(col("cvec"), col("qvec")).as("cosine"))
  }

  /** The code-shortlist length `k·refine`, saturated at Int.MaxValue:
    * the product overflows Int at exhaustive refine on a billion-row
    * corpus, and a saturated bound is still exhaustive.
    */
  private def shortlistSize(k: Int, refine: Int): Int =
    math.min(Int.MaxValue.toLong, k.toLong * refine).toInt

  /** IVF-pruned Hamming search — the composed scale path of the
    * binary row (the analogue of [[ivfPqTopK]] for sign codes): the
    * centroid assignment restricts the Hamming scan to
    * `nprobe/nlist` of the corpus, the scan itself touches only the
    * 1-bit codes (1/32 of the float bytes — combined read is
    * `(nprobe/nlist)·(1/32)` of a flat float scan), and the exact
    * re-rank fetches floats for shortlist members only.
    *
    * Candidate generation runs the [[hammingTopK]] kernel shape (and
    * for the same measured reason — the earlier broadcast-join
    * formulation materialized a boxed (query, corpus-row) tuple per
    * probed pair and fed topKReduce's typed heap with all of them;
    * the young-gen churn made flat scans swing 7–140 s at 44M
    * pairs): each partition streams its packed codes once through
    * primitive per-query bounded heaps, with the cell membership
    * replacing the equi-join — a corpus row is scored ONLY against
    * the queries probing its cell (a broadcast cell → query-index
    * table), so the pair population is exactly the join
    * formulation's and results stay bit-identical while only
    * ≤ partitions × Q × k·refine candidates ever materialize.
    */
  def ivfHammingTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      model: IvfModel,
      nprobe: Int = 4,
      refine: Int = 4,
  ): DataFrame = {
    val bcCentroids = corpus.sparkSession.sparkContext.broadcast(model.centroids)
    val assignUdf = udf((v: Array[Float]) => IvfModel.nearest(bcCentroids.value, v))
    val codedCorpus = nonDegenerate(corpus, vecCol)
      .select(col(idCol).cast("long").as("neighbor_id"),
        Quantize.signPack(col(vecCol)).as("code"),
        assignUdf(col(vecCol)).as("cell"))
    val corpusVecs = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    ivfHammingSearchCoded(codedCorpus, corpusVecs, queries, idCol, vecCol, k,
      model, nprobe, refine)
  }

  /** [[ivfHammingTopK]] served from a persisted
    * [[VectorStore.CodedVectorStore]]: packed sign codes and cells
    * come from the cell-bucketed `coded` table, re-rank floats from
    * the id-bucketed `vecs` table — no per-job sign-pack or centroid
    * assignment of the corpus. Results equal the from-floats face
    * (one shared sign-pack expression at write time).
    *
    * On an OPQ store the queries are rotated into the store's space
    * first (the stored sign codes ARE rotated-space codes, and the
    * result equals [[ivfHammingTopK]] over the rotated corpus and
    * queries, i.e. the same ranking contract under a norm-preserving
    * rotation). `allowed` pre-filters the store's `hcode` words
    * ([[ivfPqTopKFromStore]] holds the semantics): the per-partition
    * Hamming heaps see only allowed rows, so the `k·refine` shortlist
    * is spent entirely on eligible candidates, and the exact re-rank
    * fetches only shortlisted (hence allowed) floats.
    */
  def ivfHammingTopKFromStore(
      store: VectorStore.CodedVectorStore,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4,
      refine: Int = 4,
      allowed: Option[AllowedIds] = None,
  ): DataFrame =
    ivfHammingSearchCoded(storeIndexed(store, allowed, codeCol = "hcode"), storeVecs(store),
      storeQueries(store, queries, vecCol), idCol, vecCol, k, store.ivf, nprobe, refine)

  /** The probe + packed-Hamming-scan + exact-re-rank tail of
    * [[ivfHammingTopK]] over an ALREADY-CODED corpus — `codedCorpus`
    * is (neighbor_id, code: packed sign words, cell), `corpusVecs`
    * (neighbor_id, cvec) for the shortlist re-rank.
    */
  private[operators] def ivfHammingSearchCoded(
      codedCorpus: DataFrame,
      corpusVecs: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      model: IvfModel,
      nprobe: Int,
      refine: Int,
  ): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // ONE collect for codes AND probed cells: two separate collects
    // would execute the query plan twice and could disagree on a
    // nondeterministic side (sample/limit), orphaning qProbes lookups
    val qRows = nonDegenerate(queries, vecCol)
      .select(col(idCol).cast("long"), col(vecCol), Quantize.signPack(col(vecCol)))
      .collect()
    val qCodes: Array[(Long, Array[Long])] =
      qRows.map(r => (r.getLong(0), r.getSeq[Long](2).toArray))
    // probed-cell membership computed driver-side off the model's
    // centroids (queries are the bounded side, same as every ANN
    // face's collect); inverted to cell → probing-query indices so
    // the executor loop touches only a cell's probers
    val qProbes: Map[Long, Seq[Int]] =
      qRows.map(r => r.getLong(0) ->
        IvfModel.nearestK(model.centroids, r.getSeq[Float](1).toArray, nprobe)).toMap
    val byCell: Map[Int, Array[Int]] = qCodes.zipWithIndex
      .flatMap { case ((qid, _), qi) => qProbes(qid).map(_ -> qi) }
      .groupBy(_._1)
      .map { case (cell, xs) => cell -> xs.map(_._2).sorted }
    val bcCodes = spark.sparkContext.broadcast(qCodes)
    val bcByCell = spark.sparkContext.broadcast(byCell)
    val kk = shortlistSize(k, refine)
    val partialCands = codedCorpus
      .select(col("neighbor_id").cast("long"), col("code"), col("cell").cast("int"))
      .as[(Long, Array[Long], Int)]
      .mapPartitions { it =>
        val qs = bcCodes.value
        val cells = bcByCell.value
        val nq = qs.length
        val heaps = Array.fill(nq)(Array.empty[(Double, Long)])
        val floors = Array.fill(nq)(Double.NegativeInfinity)
        val full = new Array[Boolean](nq)
        val none = Array.empty[Int]
        it.foreach { case (nid, code, cell) =>
          val probers = cells.getOrElse(cell, none)
          var pi = 0
          while (pi < probers.length) {
            val qi = probers(pi)
            val (qid, qc) = qs(qi)
            if (qid != nid) {
              var acc = 0L
              var j = 0
              val n = math.min(code.length, qc.length)
              while (j < n) { acc += java.lang.Long.bitCount(code(j) ^ qc(j)); j += 1 }
              val s = -acc.toDouble
              val f = floors(qi)
              if (!full(qi) || s > f || (s == f && nid < heaps(qi)(0)._2)) {
                val h = heapInsert(heaps(qi), (s, nid), kk)
                heaps(qi) = h
                if (h.length == kk) { full(qi) = true; floors(qi) = h(0)._1 }
              }
            }
            pi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (buf, qi) =>
          buf.iterator.map { case (s, n) => (qs(qi)._1, n, s) }
        }
      }
      .toDF("query_id", "neighbor_id", "cosine")
    val shortlist = topKReduce(partialCands, kk).select(col("query_id"), col("neighbor_id"))
    rerankShortlist(corpusVecs, queries, shortlist, idCol, vecCol, k)
  }
}
