package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.operators.{Similarity, VectorStore}

/** The STREAMING half of the persisted coded-corpus ANN store's
  * lambda lifecycle — the embedding twin of the near-dup signature
  * machinery ([[StreamingDedup.corpusNearDupHits]] /
  * [[StreamingDedup.signatureIncrementSink]] /
  * [[StreamingDedup.compactSignatureStore]]):
  *
  *   - [[corpusSemanticHits]] flags incoming vectors that are
  *     semantic near-dups of the STANDING store (stream-static,
  *     stateless, append-safe);
  *   - [[vectorIncrementSink]] lands each microbatch's survivors as a
  *     parquet increment epoch;
  *   - [[compactVectorStore]] periodically folds landed increments
  *     into the next store epoch via
  *     [[graft.operators.VectorStore.ingestDedup]] (which
  *     re-threshold-checks the increment against the standing corpus,
  *     so cross-epoch near-dups that landed before the corpus knew
  *     about their originals still fold away), then prunes folded
  *     increments and retires old epochs + catalog registrations.
  *
  * The compaction turn is the signature store's own
  * ([[graft.operators.StoreEpoch.compactionTurn]]: foldmark before
  * the fold, meta lands last, prune capped at the listed snapshot) —
  * one implementation for both stores.
  */
object StreamingVectorStore {

  final case class SemanticHit(id: Long, corpus_id: Long, cosine: Double, ts: Timestamp)

  /** Minimum store width (floats) for [[corpusSemanticHits]]'s
    * bounded-frame cut-then-rejoin plan; narrower payloads don't repay
    * the extra join stage (measurement in that operator's scaladoc).
    */
  val QvecRejoinMinDim = 512

  /** STREAM-vs-STANDING-STORE semantic near-dup hits — the embedding
    * analogue of [[StreamingDedup.corpusNearDupHits]], served from a
    * persisted [[graft.operators.VectorStore.CodedVectorStore]]: each
    * incoming vector probes its `nprobe` nearest cells (broadcast
    * centroids — rotated first on an OPQ store, matching the stored
    * codes' space), equi-joins the cell-bucketed `coded` table
    * (stream-static — stateless, no watermark, and the static side
    * scans its own bucketing key with no exchange), prefilters
    * candidates by PACKED SIGN-CODE Hamming distance against the
    * store's `hcode` words, and verifies survivors with EXACT cosine
    * against the id-bucketed `vecs` floats. A hit row means "this
    * incoming vector has a standing neighbor at ≥ threshold exact
    * cosine".
    *
    * Why the Hamming prefilter and NOT an absolute ADC floor: the ADC
    * score is `q · decode(x)` and `‖decode(x)‖ < 1` (quantization
    * shrinkage), so a true cosine-0.999 pair can score far below the
    * threshold — the deflation is data- and codebook-dependent, so no
    * fixed ADC margin is safe (measured: a 0.5 margin still dropped a
    * third of planted ≈1.0 pairs on 64-d embeddings at m=8/ksub=16).
    * The sign-code estimator is DISTRIBUTION-FREE (Charikar SRP:
    * `E[hamming]/bits = angle/π`), so the cut calibrates directly
    * from the threshold: keep candidates with
    * `hamming ≤ bits · (acos(threshold)/π + hammingMargin)`. At
    * `hammingMargin = 0.15` and ≥64-bit codes that is a > 3σ
    * allowance on the estimator (σ ≈ 0.5/√bits); a true ≈1.0 pair
    * sits near hamming 0 and always survives. `hammingMargin ≥ 1`
    * disables the prefilter (every candidate reaches the exact
    * verify).
    *
    * Why hits, not suppression: same sink-side policy as
    * [[StreamingDedup.corpusNearDupHits]] — dropping flagged rows
    * in-stream would anti-join the stream against its own derived
    * output (not an append-supported plan); land the hit stream and
    * anti-join at the sink or in the periodic compaction. Works on
    * bounded frames too (plain joins — the spec and driver gate
    * evaluate that twin).
    *
    * Scale shape per incoming row: `nprobe/nlist` of the corpus
    * CODES read (one packed word per 64 dims, bucketed scan), exact
    * floats fetched only for Hamming survivors.
    *
    * Query-vector routing (measured, `Probe qvec_carry`, 200k corpus /
    * 50k incoming): on a STREAM the dim-float query vector must ride
    * through the cell explode (×nprobe) and the coded join — fetching
    * it back after the Hamming cut would be a stream-stream self-join
    * (watermark-bound, append-restricted). On a BOUNDED frame that
    * rejoin is legal and measurably better at wide dim: carry-through
    * vs cut-then-rejoin is a wash at dim 64 (4.6 vs 4.5 s) but 1.5–1.6×
    * at dim 1024 in BOTH the flooded (nlist 16: 179 vs 109 s) and
    * selective (nlist 256: 12.3 vs 7.4 s) regimes — the payload cost
    * lives in the explode fan-out and the join shuffle, not the
    * candidate count. So the bounded twin defers (ts, qvec) and
    * re-joins them by id after the cut WHEN the store is wide
    * (≥ [[QvecRejoinMinDim]] floats — narrower payloads don't repay
    * the extra stage); all shapes share the probe head, the Hamming
    * cut, and the exact-verify tail, so the predicates cannot drift
    * (the stream≡batch spec pins equality).
    * Contract note: `idCol` is the row's identity in BOTH modes (the
    * documented sink-side anti-join is id-keyed); frames with
    * duplicate ids are outside the operator's contract either way —
    * and on the bounded rejoin plan the input must additionally be
    * DETERMINISTIC under re-evaluation (no un-seeded sample/rand
    * upstream): the rejoin re-reads the source frame to fetch
    * (ts, qvec) by id, so a nondeterministic input could pair a query
    * code with a vector from a different evaluation. The rejoin
    * localCheckpoints the filtered frame to pin one evaluation — an
    * EAGER checkpoint, so on the BATCH rejoin path (non-streaming
    * input at dim ≥ 512) calling this method materializes the
    * projected (id, ts, vec) frame as a Spark job AT CALL TIME rather
    * than returning a purely lazy plan; streaming inputs and
    * narrower vectors keep the lazy carry-through shape.
    */
  def corpusSemanticHits(
      docs: DataFrame,
      idCol: String,
      tsCol: String,
      vecCol: String,
      store: VectorStore.CodedVectorStore,
      threshold: Double,
      nprobe: Int = 4,
      hammingMargin: Double = 0.15,
  ): Dataset[SemanticHit] =
    semanticHitsAgainst(docs, idCol, tsCol, vecCol, store, store.coded,
      threshold, nprobe, hammingMargin)

  /** [[corpusSemanticHits]] restricted to an allowed-id SLICE of the
    * standing store — "flag incoming rows against license-clean (or
    * one-language, or post-cutoff) standing docs only": the coded
    * table is pre-filtered with the same left-semi discipline as the
    * batch filtered faces, BEFORE the cell join, so disallowed
    * standing rows can never surface as hits and never cost Hamming
    * work. Both join sides stay static (allowed ⋈ coded is
    * static-static), so the streaming plan is exactly the unfiltered
    * stream-static shape — still stateless, still append-safe. The
    * exact-verify float fetch needs no second filter: candidates are
    * allowed-only by construction. `broadcastAllowed = false` takes
    * the merge-join path for corpus-scale filters (the static side
    * then re-shuffles once per microbatch — the honest price of an
    * arbitrary predicate on a stream).
    */
  def corpusSemanticHitsFiltered(
      docs: DataFrame,
      idCol: String,
      tsCol: String,
      vecCol: String,
      store: VectorStore.CodedVectorStore,
      threshold: Double,
      allowed: DataFrame,
      allowedIdCol: String,
      nprobe: Int = 4,
      hammingMargin: Double = 0.15,
      broadcastAllowed: Boolean = true,
  ): Dataset[SemanticHit] = {
    val allow = allowed.select(col(allowedIdCol).cast("long").as("id"))
    val coded = store.coded.join(
      if (broadcastAllowed) broadcast(allow) else allow.hint("merge"),
      Seq("id"), "left_semi")
    semanticHitsAgainst(docs, idCol, tsCol, vecCol, store, coded,
      threshold, nprobe, hammingMargin)
  }

  /** The shared hit engine: `coded` is the standing coded table,
    * already sliced when a filter applies.
    */
  private def semanticHitsAgainst(
      docs: DataFrame,
      idCol: String,
      tsCol: String,
      vecCol: String,
      store: VectorStore.CodedVectorStore,
      coded: DataFrame,
      threshold: Double,
      nprobe: Int,
      hammingMargin: Double,
  ): Dataset[SemanticHit] = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"corpusSemanticHits: threshold must be in (0, 1], got $threshold")
    require(hammingMargin >= 0.0,
      s"corpusSemanticHits: hammingMargin must be >= 0, got $hammingMargin")
    val spark = docs.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val bcIvf = sc.broadcast(store.ivf.centroids)
    // named width check in the ONE per-row UDF this path runs: on the
    // plain-store path nothing else validates the query width (the OPQ
    // path's rotate does). EXACT equality, not >=: a narrower vector
    // would silently probe/hamming over a truncated prefix, and a
    // WIDER one is just as wrong — hammingDist truncates to the
    // store's code words while `bits` is taken from the query's own
    // length (loosening the SRP cut), and the exact vecCosine verify
    // truncates too — so both mismatches fail with the named error
    val dim = store.pq.m * store.pq.dsub
    val probeUdf = udf { (v: Array[Float]) =>
      require(v.length == dim,
        s"corpusSemanticHits: vector width ${v.length} != store dim $dim")
      Similarity.probeCells(bcIvf.value, v, nprobe)
    }
    val side = store.opq
      .map(o => Similarity.rotateColumn(docs, vecCol, o))
      .getOrElse(docs)
    // SRP calibration: cosine threshold → max angle → max expected
    // hamming fraction, plus the estimator allowance
    val cutFrac = math.acos(math.min(1.0, threshold)) / math.Pi + hammingMargin
    val filtered = side
      .where(col(vecCol).isNotNull && size(col(vecCol)) > 0 &&
        graft.functions.VectorExpressions.vecNorm(col(vecCol)) > 0.0)
    // stream: (ts, qvec) must ride the fan-out (see scaladoc); bounded
    // AND wide: defer them and re-join by id after the Hamming cut.
    // The rejoin trades one extra join stage for nprobe× less float
    // payload through the widest shuffle — worth it only when the
    // payload is real: measured wash-to-slightly-negative at dim 64
    // (fixed stage overheads dominate on small frames: q165 2.5→3.4 s),
    // 1.5–1.6× win at dim 1024 (probe) and confirmed on the dim-2048
    // gate (q176 8.2→7.6 s). Crossover placed at 512 floats (2 KB/row).
    val carryThrough = docs.isStreaming || dim < QvecRejoinMinDim
    val carried =
      if (carryThrough)
        Seq(col(tsCol).as("ts"), col(vecCol).cast("array<float>").as("qvec"))
      else Seq.empty[Column]
    // rejoin path reads `filtered` TWICE (probe side + (ts, qvec)
    // fetch-back): pin ONE evaluation with an EAGER localCheckpoint so
    // a nondeterministic input (un-seeded sample/rand upstream) cannot
    // pair a query code with a vector from a different evaluation.
    // Eager, not lazy: a lazy localCheckpoint only truncates lineage at
    // the END of the first job that computes it — until then it has
    // plain persist semantics, and the probe and fetch-back sides are
    // concurrent stages of the SAME job, so both could still recompute
    // the input independently. Materializing first closes that window;
    // after it, an evicted block fails loudly instead of silently
    // recomputing. Project to the three columns the rejoin actually
    // reads FIRST: the caller's frame may carry arbitrarily wide
    // payload columns (raw text, binary blobs) that would otherwise
    // ride the materialized blocks for nothing.
    val pinned =
      if (carryThrough) filtered
      else filtered
        .select(col(idCol), col(tsCol), col(vecCol))
        .localCheckpoint(true)
    val probed = pinned
      .select(Seq(
        col(idCol).cast("long").as("id"),
        graft.functions.VectorExpressions.signPack(col(vecCol)).as("qcode"),
        size(col(vecCol)).cast("double").as("bits"),
        explode(probeUdf(col(vecCol))).as("cell")) ++ carried: _*)
    val cut = probed
      .join(coded.select(col("cell"), col("id").as("corpus_id"),
        col("hcode")), "cell")
      .where(col("corpus_id") =!= col("id"))
      .where(graft.functions.VectorExpressions.hammingDist(col("hcode"), col("qcode"))
        .cast("double") <= col("bits") * lit(cutFrac))
    val cands =
      if (carryThrough) cut.select(col("id"), col("ts"), col("qvec"), col("corpus_id"))
      else cut
        .select(col("id"), col("corpus_id"))
        .join(pinned.select(
          col(idCol).cast("long").as("id"),
          col(tsCol).as("ts"),
          col(vecCol).cast("array<float>").as("qvec")), "id")
        .select(col("id"), col("ts"), col("qvec"), col("corpus_id"))
    cands
      .join(store.vecs.select(col("id").as("corpus_id"), col("vec").as("cvec")), "corpus_id")
      .withColumn("cosine",
        graft.functions.VectorExpressions.vecCosine(col("cvec"), col("qvec")))
      .where(col("cosine") >= threshold)
      .select(col("id"), col("corpus_id"), col("cosine"), col("ts"))
      .as[SemanticHit]
  }

  /** `foreachBatch` sink body landing each microbatch's vectors as a
    * parquet increment epoch `dir/inc_<batchId>` of (id, vec) — the
    * embedding twin of [[StreamingDedup.signatureIncrementSink]],
    * and the stream side of the [[compactVectorStore]] fold.
    * Idempotent under microbatch REPLAY (epoch keyed by batchId,
    * written with Overwrite — the standard exactly-once `foreachBatch`
    * recipe). Land SURVIVORS (rows a [[corpusSemanticHits]] sink-side
    * anti-join kept, or raw rows if the compaction's own
    * threshold-dedup is the only dedup wanted — unlike the signature
    * sink, the fold here re-checks the increment against the standing
    * corpus, so pre-deduping is an optimization, not a contract).
    */
  def vectorIncrementSink(
      dir: String,
      idCol: String,
      vecCol: String,
  ): (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    batch
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec"))
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/inc_$batchId")
  }

  /** All vector increments landed by [[vectorIncrementSink]] under
    * `dir`, as one (id, vec) frame. Empty (schema-correct) when no
    * epoch has landed. Same job-committed `_SUCCESS` gate as the
    * signature listing — an in-flight microbatch's directory is
    * invisible until its commit.
    */
  def readVectorIncrements(spark: SparkSession, dir: String): DataFrame = {
    val epochs = StreamingDedup.listSignatureIncrements(spark, dir).map(_._2)
    if (epochs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(
          StructField("id", LongType),
          StructField("vec", ArrayType(FloatType)))))
    else spark.read.parquet(epochs: _*)
  }

  /** ONE full compaction turn of the standing vector store — the
    * batch half of the lambda loop, the
    * [[StreamingDedup.compactSignatureStore]] protocol verbatim with
    * [[graft.operators.VectorStore.ingestDedup]] as the fold (so the
    * increment is threshold-deduped against the standing corpus
    * inside the turn — near-dups that landed before their originals
    * reached the store still fold away) and
    * [[graft.operators.VectorStore.pruneEpochs]] as the retirement:
    * fold all landed increments into `epoch<srcEpoch+1>` under
    * `epochRoot` (names `<baseName>_e<n>` — the read-guard
    * convention), then prune folded increments and retire old epoch
    * dirs + catalog registrations, keep-latest-`keepEpochs`.
    *
    * CRASH RECOVERY is decided from metadata alone by the SAME turn
    * the signature store runs ([[graft.operators.StoreEpoch.compactionTurn]];
    * read the signature turn's scaladoc for the window analysis):
    * foldmark lands before the fold, the epoch's `meta` lands LAST
    * (every [[graft.operators.VectorStore]] write and merge commits
    * through [[graft.operators.StoreEpoch.commit]]: models, coded,
    * vecs, the merge's standing copy, then meta), a complete next
    * epoch with a foldmark below a listed
    * batchId means the caller's `srcEpoch` is stale and the turn
    * fails actionably, and increments a crashed turn already folded
    * are skipped by batchId — never re-encoded, never deadlocked on
    * the merge's id-disjointness check. With no landed increments the
    * turn is a no-op returning the live store (no copy epoch).
    *
    * `materialize` threads to the fold's landings (pass
    * [[graft.operators.Materialize.ParquetDir]] on preemptible
    * executors — ingestDedup derives distinct subdirectories for its
    * two landings). Returns (store every subsequent search/ingest
    * should use, victim ledger of THIS turn's fold — empty when
    * nothing folded).
    */
  def compactVectorStore(
      spark: SparkSession,
      epochRoot: String,
      baseName: String,
      srcEpoch: Int,
      incDir: String,
      threshold: Double = 0.92,
      searchK: Int = 4,
      nprobe: Int = 4,
      refine: Int = 4,
      keepEpochs: Int = 2,
      upToBatchId: Long = Long.MaxValue,
      materialize: graft.operators.Materialize = graft.operators.Materialize.LocalCheckpoint,
  ): (VectorStore.CodedVectorStore, DataFrame) = {
    import spark.implicits._
    graft.operators.StoreEpoch.compactionTurn(spark, "compactVectorStore", epochRoot,
        baseName, Seq("coded", "vecs"), srcEpoch, incDir, keepEpochs, upToBatchId)(
      e => (VectorStore.read(spark, e.path, e.name),
        Seq.empty[(Long, Long, Double)].toDF("id", "dup_of", "cosine")),
      (src, inc, next) => VectorStore.ingestDedup(spark, src.path, src.name,
        inc, "id", "vec", next.path, next.name,
        threshold = threshold, searchK = searchK, nprobe = nprobe,
        refine = refine, materialize = materialize))
  }
}
