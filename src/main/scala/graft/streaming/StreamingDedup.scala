package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType, TimestampType}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}

import graft.operators.Dedup

/** Streaming NEAR-duplicate detection: MinHash-banded collision state
  * over a document stream — the stream face of
  * [[graft.operators.Dedup.minHashNearDupPairs]].
  *
  * Shape: each incoming doc is signed once (densified OPH, the same
  * [[Dedup.ophSignature]] the batch path bands), exploded into its
  * `bands` band-buckets, and grouped by bucket into
  * `flatMapGroupsWithState`. Per bucket the state holds the most
  * recent `maxPerBucket` (doc_id, signature) entries; a new arrival
  * compares against them and emits a pair when the SIGNATURE-ESTIMATED
  * Jaccard (fraction of agreeing MinHash slots — the standard unbiased
  * estimator) clears `estThreshold`.
  *
  * Scale/state design:
  *   - State is per BAND-BUCKET, keyed by the band hash: population
  *     concentrates exactly where near-dups are, and each entry is
  *     id + numHashes longs (~1 KB at 128 hashes) × `maxPerBucket`
  *     cap × active buckets — no grams, no text, ever.
  *   - Event-time timeout purges buckets idle past `horizon`, so
  *     total state is bounded by ingest-rate × horizon like every
  *     watermarked operator; duplicates farther apart than the
  *     horizon are the standing-corpus Bloom path's job
  *     ([[graft.operators.Dedup.newDocsOnly]]).
  *   - A pair colliding in several bands is emitted once per
  *     colliding band; consumers wanting distinct pairs apply
  *     `dropDuplicatesWithinWatermark(Seq("id_a","id_b"))` (each
  *     emission carries the triggering doc's event time).
  *
  * Approximation contract: the estimate is E[est] = true Jaccard with
  * sd ≈ √(J(1−J)/numHashes) (≈0.04 at J=0.8, 128 hashes); the batch
  * operator's exact-verify path remains the precision tool — this one
  * buys bounded-latency firehose detection.
  */
object StreamingDedup {

  final case class BandedDoc(
      bucket: String,
      doc_id: Long,
      ts: Timestamp,
      sig: Array[Long],
  )
  /** `id_a`/`id_b` are the pair sorted by id; `victim_id` is the
    * LATER ARRIVAL of the two (the doc that triggered the hit against
    * standing bucket state) — the one a keep-first suppression policy
    * drops. Within a microbatch "arrival" is (event-time, id) order,
    * so victim selection is deterministic on event-ordered input.
    */
  final case class NearDupHit(
      id_a: Long, id_b: Long, victim_id: Long, est_jaccard: Double, ts: Timestamp)
  final case class BucketState(entries: List[(Long, Array[Long])])

  /** docs: (idCol: long, tsCol: timestamp, textCol: string) — works on
    * a stream (watermarked, stateful) AND on a bounded batch frame
    * (same code path via the batch flatMapGroupsWithState evaluator).
    */
  def nearDupHits(
      docs: DataFrame,
      idCol: String,
      tsCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3,
      estThreshold: Double = 0.7,
      maxPerBucket: Int = 64,
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 3600L * 1000L,
  ): Dataset[NearDupHit] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    import spark.implicits._
    val sigUdf = udf { (text: String) =>
      val grams = graft.textutil.TextHash.sortedShingleSet(text, shingleSize)
      if (grams.isEmpty) null else graft.textutil.TextHash.ophSignature(grams, numHashes)
    }
    val signed = docs
      .select(
        col(idCol).cast("long").as("doc_id"),
        col(tsCol).as("ts"),
        sigUdf(col(textCol)).as("sig"),
      )
      // null ts: no position on the event-time line and the bucket
      // step sorts on it — drop (both execution modes, so the batch
      // face stays the streaming face's oracle on dirty inputs too)
      .where(col("sig").isNotNull && col("ts").isNotNull)
    // plain value for the state closure — capturing the Dataset itself
    // to ask isStreaming inside a task NPEs (plans don't serialize)
    val streaming = signed.isStreaming
    val withWm = if (streaming) signed.withWatermark("ts", watermarkDelay) else signed
    val banded = withWm
      .select(
        col("doc_id"),
        col("ts"),
        col("sig"),
        // the SAME band key space as every batch face (Dedup.bandKeysCol)
        explode(Dedup.bandKeysCol(numHashes, bands)).as("bucket"),
      )
      .as[BandedDoc]

    banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (_: String, rows: Iterator[BandedDoc], state: GroupState[BucketState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var entries = state.getOption.map(_.entries).getOrElse(Nil)
            val out = List.newBuilder[NearDupHit]
            var lastMs = 0L
            rows.toSeq.sortBy(d => (d.ts.getTime, d.doc_id)).foreach { d =>
              val (next, matches) =
                bucketStep(entries, d.doc_id, d.sig, numHashes, estThreshold, maxPerBucket)
              matches.foreach { case (oldId, est) =>
                out += NearDupHit(
                  math.min(oldId, d.doc_id), math.max(oldId, d.doc_id),
                  d.doc_id, est, d.ts)
              }
              entries = next
              lastMs = math.max(lastMs, d.ts.getTime)
            }
            state.update(BucketState(entries))
            if (streaming)
              state.setTimeoutTimestamp(
                math.max(lastMs + horizonMs, state.getCurrentWatermarkMs + 1),
              )
            out.result().iterator
          }
        },
      )
  }

  /** A stream document that near-duplicates a STANDING-corpus doc:
    * `jaccard` is the EXACT shingle Jaccard (the corpus signature
    * table carries gram sets, so no estimate is needed), `ts` the
    * stream row's event time. A pair colliding in several bands emits
    * once per band — `dropDuplicatesWithinWatermark(Seq("id",
    * "corpus_id"))` at the sink if multiplicity matters.
    */
  final case class CorpusDupHit(id: Long, corpus_id: Long, jaccard: Double, ts: Timestamp)

  /** STREAM-vs-STANDING-CORPUS near-dup — the streaming face of
    * [[graft.operators.Dedup.nearDupNewDocs]], against the same
    * [[graft.operators.Dedup.minHashSignatures]] parquet table and in
    * the same band key space: each stream doc is signed once, exploded
    * into its band buckets, and INNER-JOINED against the corpus's
    * banded signature table (a stream-static equi-join — stateless,
    * append-safe, no watermark or state at all, unlike the in-stream
    * [[nearDupHits]] path), then verified with exact shingle Jaccard
    * against the corpus gram sets.
    *
    * Why hits, not suppression: dropping the flagged rows in-stream
    * would need an anti-join of the stream against its own derived
    * hits (not an append-supported plan); landing the hit stream and
    * anti-joining in the periodic batch compaction is the same
    * sink-side policy as [[StreamingWebIngest.webIngestWithNearDup]].
    * Works on a bounded batch frame too (plain joins), which is what
    * the stream ≡ batch spec and the q128 driver gate evaluate.
    *
    * Scale shape: the corpus contributes its banded SIGNATURE table —
    * numHashes longs per doc, linear in corpus doc count, text never
    * read. Corpus band buckets over `maxBucketSize` members are
    * DROPPED before the join (the batch paths' skew cap, same recall
    * caveat: a boilerplate bucket shared by millions of standing docs
    * would otherwise cross-join against every colliding stream row
    * each microbatch). Spark re-plans the static side per microbatch;
    * at very large corpora pre-bucket the parquet by the band key so
    * it prunes instead of re-shuffling.
    */
  def corpusNearDupHits(
      docs: DataFrame,
      idCol: String,
      tsCol: String,
      textCol: String,
      corpusSigs: DataFrame,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      maxBucketSize: Int = 1000,
  ): Dataset[CorpusDupHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val prepUdf = udf { (text: String) =>
      val grams = graft.textutil.TextHash.sortedShingleSet(text, shingleSize)
      if (grams.isEmpty) null
      else (graft.textutil.TextHash.ophSignature(grams, numHashes), grams)
    }
    val banded = docs
      .select(
        col(idCol).cast("long").as("id"),
        col(tsCol).as("ts"),
        prepUdf(col(textCol)).as("p"))
      .where(col("p").isNotNull)
      .select(col("id"), col("ts"), col("p._1").as("sig"), col("p._2").as("grams"))
      .select(col("id"), col("ts"), col("grams"),
        explode(Dedup.bandKeysCol(numHashes, bands)).as("bucket"))
    val corpusSide0 = corpusSigs
      .select(col("id").as("corpus_id"), col("sig"), col("grams").as("grams_o"),
        size(col("grams")).as("sz_o"))
      .select(col("corpus_id"), col("grams_o"), col("sz_o"),
        explode(Dedup.bandKeysCol(numHashes, bands)).as("bucket"))
    // skew cap on the STATIC side (the stream side cannot be counted
    // ahead of time): oversized corpus buckets drop entirely
    val corpusSide = corpusSide0.join(
      corpusSide0.groupBy("bucket").agg(count(lit(1)).as("__n"))
        .where(col("__n") <= maxBucketSize.toLong)
        .select("bucket"),
      "bucket")
    banded
      .join(corpusSide, "bucket")
      .withColumn("inter", graft.functions.VectorExpressions
        .sortedIntersectCount(col("grams"), col("grams_o")))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("grams")) + col("sz_o") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id"), col("corpus_id"), col("jaccard"), col("ts"))
      .as[CorpusDupHit]
  }

  /** [[corpusNearDupHits]] against a persisted
    * [[graft.operators.Dedup.SignatureStore]] — identical hit
    * semantics (spec asserts parity), with the per-microbatch corpus
    * work removed: the banded table joins on its own bucketing key
    * with NO static-side exchange, NO re-explode of corpus
    * signatures, and NO per-microbatch bucket recount or self-join
    * (the skew cap was applied at write; `bucket_n` rides each row).
    * The exact-verify gram sets come from the store's id-bucketed
    * `grams` table, touched only for banding-collision candidates.
    */
  def corpusNearDupHits(
      docs: DataFrame,
      idCol: String,
      tsCol: String,
      textCol: String,
      store: Dedup.SignatureStore,
      threshold: Double,
  ): Dataset[CorpusDupHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val numHashes = store.numHashes
    val prepUdf = udf { (text: String) =>
      val grams = graft.textutil.TextHash.sortedShingleSet(text, store.shingleSize)
      if (grams.isEmpty) null
      else (graft.textutil.TextHash.ophSignature(grams, numHashes), grams)
    }
    val banded = docs
      .select(
        col(idCol).cast("long").as("id"),
        col(tsCol).as("ts"),
        prepUdf(col(textCol)).as("p"))
      .where(col("p").isNotNull)
      .select(col("id"), col("ts"), col("p._1").as("sig"), col("p._2").as("grams"))
      .select(col("id"), col("ts"), col("grams"),
        explode(Dedup.bandKeysCol(numHashes, store.bands)).as("bucket"))
    banded
      .join(store.banded.select(col("bucket"), col("id").as("corpus_id")), "bucket")
      .join(
        store.grams.select(col("id").as("corpus_id"), col("grams").as("grams_o"),
          size(col("grams")).as("sz_o")),
        "corpus_id")
      .withColumn("inter", graft.functions.VectorExpressions
        .sortedIntersectCount(col("grams"), col("grams_o")))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("grams")) + col("sz_o") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id"), col("corpus_id"), col("jaccard"), col("ts"))
      .as[CorpusDupHit]
  }

  /** `foreachBatch` sink body that lands each microbatch's documents
    * as a NEAR-DUP SIGNATURE INCREMENT — one
    * [[graft.operators.Dedup.minHashSignatures]] parquet epoch per
    * microbatch under `dir/inc_<batchId>` — closing the lambda loop
    * around the standing-corpus machinery: the stream keeps landing
    * (id, sig, grams) epochs, and the periodic compaction folds
    * `readSignatureIncrements` output into the bucketed store via
    * [[graft.operators.Dedup.mergeSignatures]] (after deduping the
    * increment with [[graft.operators.Dedup.nearDupNewDocs]], per
    * that function's contract). Idempotent under microbatch REPLAY:
    * the epoch directory is keyed by `batchId` and written with
    * Overwrite, the standard exactly-once `foreachBatch` recipe.
    *
    * Usage:
    * {{{
    * kept.writeStream
    *   .foreachBatch(StreamingDedup.signatureIncrementSink(dir, "id", "text"))
    *   .start()
    * }}}
    */
  def signatureIncrementSink(
      dir: String,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      shingleSize: Int = 3,
  ): (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    Dedup
      .minHashSignatures(batch, idCol, textCol, numHashes, shingleSize)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/inc_$batchId")
  }

  /** All signature increments landed by [[signatureIncrementSink]]
    * under `dir`, as one (id, sig, grams) frame — the increment side
    * of the periodic [[graft.operators.Dedup.mergeSignatures]]
    * compaction. Empty (schema-correct) when no epoch has landed.
    */
  /** The landed `inc_<batchId>` increment directories under `dir`,
    * as (batchId, path) sorted by batchId — the listing
    * [[readSignatureIncrements]] reads and, crucially, the SNAPSHOT
    * [[compactSignatureStore]] folds-then-prunes, so a fold can
    * never delete an increment it did not read.
    *
    * "Landed" means JOB-COMMITTED: only directories carrying the
    * committer's `_SUCCESS` marker count. The sink creates the
    * `inc_<batchId>` dir at write START but its parquet files appear
    * only at commit — without the marker gate, a compaction turn
    * racing a live microbatch would list the in-flight dir, fold
    * nothing from it, and then prune it (its batchId raises the
    * prune cap), losing that batch's signatures the moment the
    * sink's commit succeeds. An uncommitted dir is simply invisible
    * until the next turn. Requires the committer's success markers
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs`, on by
    * default) — a deployment that disables them makes every
    * increment invisible to the compaction, which would then no-op
    * forever rather than lose data.
    */
  private[graft] def listSignatureIncrements(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
  ): Seq[(Long, String)] = {
    // Hadoop FileSystem, NOT java.io.File: the sink writes through
    // Spark, so epochs land on whatever filesystem `dir` names
    // (HDFS/S3/local) — a local-only listing would silently return
    // empty there and the compaction would fold in nothing
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else
      fs.listStatus(path)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("inc_"))
        .filter(st =>
          fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
        .flatMap(st =>
          scala.util.Try(st.getPath.getName.stripPrefix("inc_").toLong).toOption
            .map(_ -> st.getPath.toString))
        .sortBy(_._1)
        .toSeq
  }

  def readSignatureIncrements(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
  ): DataFrame = {
    val epochs = listSignatureIncrements(spark, dir).map(_._2)
    if (epochs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", LongType),
          org.apache.spark.sql.types.StructField("sig",
            org.apache.spark.sql.types.ArrayType(LongType)),
          org.apache.spark.sql.types.StructField("grams",
            org.apache.spark.sql.types.ArrayType(LongType)))))
    else spark.read.parquet(epochs: _*)
  }

  /** ONE full compaction turn of the standing near-dup store — the
    * batch half of the lambda loop, composed from the pieces a daily
    * job otherwise hand-wires: fold all landed signature increments
    * ([[readSignatureIncrements]]) into the source epoch's store
    * ([[graft.operators.Dedup.mergeSignatures]] → a NEW
    * `epoch<srcEpoch+1>` directory under `epochRoot`), then — only
    * after the new epoch has round-tripped — delete the folded
    * increments ([[pruneSignatureIncrements]]) and retire old epoch
    * directories ([[graft.operators.Dedup.pruneSignatureEpochs]],
    * keep-latest-`keepEpochs`) ALONG WITH their catalog
    * registrations (`DROP TABLE IF EXISTS <base>_e<n>_banded` /
    * `_grams` for each pruned epoch — a persistent metastore
    * otherwise strands two dead pointers per turn, and the
    * [[graft.operators.Dedup.readSignatures]] stale-name guard
    * would block any later reuse of the name). Store names are
    * epoch-suffixed
    * (`<baseName>_e<n>`), the registration convention the
    * [[graft.operators.Dedup.readSignatures]] stale-name guard
    * expects. With NO landed increments this is a no-op that returns
    * the live store unchanged — writing a copy epoch would double
    * storage for nothing. Returns the store every subsequent
    * [[graft.operators.Dedup.nearDupNewDocs]] run should use.
    *
    * CRASH RECOVERY: re-run the SAME turn (same `srcEpoch`), and
    * every window resumes from METADATA alone — no data-plane work
    * decides recovery. Before the fold runs, the turn lands a
    * `foldmark` file in the next epoch dir holding the highest
    * listed batchId; the epoch's `meta` file still lands LAST, so a
    * foldmark is trusted only once the epoch is complete (a crash
    * between foldmark and meta leaves an incomplete epoch whose
    * foldmark the re-run simply overwrites). Each window: before the
    * fold → plain re-run; after the fold but before increment
    * pruning → every listed batchId is ≤ the complete next epoch's
    * foldmark, so only pruning + retirement run; after pruning but
    * before retirement → same detection, retirement finishes, the
    * LIVE store is returned (never the stale `srcEpoch` one). A
    * complete next epoch whose foldmark is BELOW a listed batchId
    * means the caller's `srcEpoch` is stale (the live store has
    * moved on) — the turn fails actionably instead of clobbering the
    * live epoch, and the advised re-run with the CURRENT epoch index
    * always succeeds: the fold takes only increments with batchId
    * above the source epoch's own foldmark, so increments a crashed
    * turn already folded are skipped by batchId — a live stream
    * landing new increments during a crash window can never deadlock
    * a re-run on mergeSignatures' disjointness check, and a TRUE id
    * collision (the sink contract broken) still fails loudly there.
    * Requires the [[signatureIncrementSink]] single-writer shape:
    * batchIds in one `incDir` are monotone (one streaming query's
    * foreachBatch), so "batchId ≤ foldmark" is exactly "folded".
    *
    * Increments must already be DEDUPED survivors (the
    * [[signatureIncrementSink]] contract: the stream lands what
    * nearDupNewDocs kept) — mergeSignatures enforces id-disjointness
    * against the standing store, not near-dup-ness.
    *
    * Safe under a LIVE stream: the increment listing is snapshotted
    * once, only the listed epochs are folded, and the prune is
    * capped at the highest LISTED batchId (further capped by
    * `upToBatchId` if the caller passes one) — an increment the
    * stream lands mid-fold is left for the next turn, never deleted
    * unfolded. Epoch retirement is likewise capped at the epoch just
    * written, so a stale higher-numbered dir from an aborted run can
    * never cause the live epoch's deletion.
    */
  def compactSignatureStore(
      spark: org.apache.spark.sql.SparkSession,
      epochRoot: String,
      baseName: String,
      srcEpoch: Int,
      incDir: String,
      keepEpochs: Int = 2,
      upToBatchId: Long = Long.MaxValue,
  ): graft.operators.Dedup.SignatureStore =
    graft.operators.StoreEpoch.compactionTurn(spark, "compactSignatureStore", epochRoot,
        baseName, Seq("banded", "grams"), srcEpoch, incDir, keepEpochs, upToBatchId)(
      e => graft.operators.Dedup.readSignatures(spark, e.path, e.name),
      // Lazy increment landing: the increment IS landed parquet
      // (listed by the `_SUCCESS`-gated directory scan) — deterministic
      // and already on disk, so the merge's default re-landing would be
      // a redundant copy
      (src, inc, next) => graft.operators.Dedup.mergeSignatures(
        spark, src.path, src.name, inc, next.path, next.name,
        materialize = graft.operators.Materialize.Lazy))

  /** The compaction turn's fold high-water mark: the highest
    * increment batchId folded into the epoch at `epochPath`, landed
    * as a one-line `foldmark` file BEFORE the fold writes the
    * epoch's data (and long before its `meta`, which lands last — so
    * a foldmark is meaningful only alongside a complete epoch).
    * [[compactSignatureStore]] recovery is decided entirely from
    * this metadata: no increment-vs-store containment join ever
    * runs. Absent file reads as -1 (epoch0 stores created directly
    * by [[graft.operators.Dedup.writeSignatures]] have folded
    * nothing).
    */
  private[graft] def writeFoldmark(
      spark: org.apache.spark.sql.SparkSession,
      epochPath: String,
      mark: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$epochPath/foldmark")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(mark.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[graft] def readFoldmark(
      spark: org.apache.spark.sql.SparkSession,
      epochPath: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$epochPath/foldmark")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  /** Delete signature-increment epochs that a compaction has already
    * folded into the standing store: every `inc_<batchId>` under
    * `dir` with batchId ≤ `upToBatchId` is removed (Hadoop
    * filesystem, like [[readSignatureIncrements]]). Call AFTER
    * [[graft.operators.Dedup.mergeSignatures]] lands the new epoch
    * directory — pruning first would lose the increments a failed
    * merge still needs. Returns the number of epochs deleted.
    */
  def pruneSignatureIncrements(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      upToBatchId: Long,
  ): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) 0
    else {
      val victims = fs
        .listStatus(path)
        .filter { st =>
          st.isDirectory && st.getPath.getName.startsWith("inc_") &&
          scala.util.Try(st.getPath.getName.stripPrefix("inc_").toLong)
            .toOption.exists(_ <= upToBatchId)
        }
      victims.foreach(st => fs.delete(st.getPath, true))
      victims.length
    }
  }

  /** Keep exactly ONE live event-time timer per key: delete whatever
    * is registered (materialized first — the timer iterator reads the
    * state store it would otherwise be mutated under) and arm the
    * expiry at `lastMs + horizonMs`, floored just past the current
    * watermark. Shared by every `transformWithState` processor in
    * this package so GC timer semantics cannot drift between them.
    */
  private[streaming] def resetTimer(
      handle: org.apache.spark.sql.streaming.StatefulProcessorHandle,
      lastMs: Long,
      horizonMs: Long,
      tv: TimerValues): Unit = {
    handle.listTimers().toList.foreach(t => handle.deleteTimer(t.asInstanceOf[Long]))
    handle.registerTimer(math.max(lastMs + horizonMs, tv.getCurrentWatermarkInMs + 1))
  }

  /** A watermark-delay string ("10 minutes", "1 hour") as
    * milliseconds — the same grammar `withWatermark` accepts, so an
    * operator can size its state-retention horizon FROM its delay
    * (the `dropDuplicatesWithinWatermark` coupling). Month/year
    * units are rejected: they have no fixed millisecond width.
    */
  private[streaming] def delayToMs(delay: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(delay))
    require(iv.months == 0,
      s"watermark delay '$delay' must not use month/year units")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** `withWatermark` unless the column is already an event-time
    * column (source-watermarked upstream, or re-declared by a
    * `transformWithState` stage via `eventTimeColumnName`) — Spark
    * disallows REDEFINING a watermark in multi-stateful-operator
    * plans, so chained operators must declare it exactly once.
    *
    * Also drops null-`tsCol` rows: a row without an event time has no
    * position on the watermarked line, and the state processors
    * downstream of every caller dereference the timestamp — one
    * poison row would kill a long-running query. Declaring event time
    * through here is what makes a face stateful-on-`tsCol`, so this
    * is the single boundary where the rule belongs (the typed
    * `Dataset[Event]` faces apply the same rule via
    * `EventStreams.dropNullTs`).
    */
  private[streaming] def ensureWatermark(
      df: DataFrame, tsCol: String, delay: String): DataFrame = {
    val nn = df.where(col(tsCol).isNotNull)
    if (df.schema(tsCol).metadata.contains("spark.watermarkDelayMs")) nn
    else nn.withWatermark(tsCol, delay)
  }

  /** One arrival against one band-bucket's standing entries: compare
    * the signature against each entry (fraction of agreeing MinHash
    * slots, the standard unbiased estimator), then insert the arrival
    * capped at `maxPerBucket` most-recent. Returns (new entries,
    * (standing id, est) matches ≥ `estThreshold`). Shared by
    * [[nearDupHits]] and the [[nearDupSuppress]] state operator so
    * hit detection and in-stream suppression can never disagree on
    * what collides.
    */
  private[streaming] def bucketStep(
      entries: List[(Long, Array[Long])],
      docId: Long,
      sig: Array[Long],
      numHashes: Int,
      estThreshold: Double,
      maxPerBucket: Int,
  ): (List[(Long, Array[Long])], List[(Long, Double)]) = {
    val matches = List.newBuilder[(Long, Double)]
    entries.foreach { case (oldId, oldSig) =>
      if (oldId != docId) {
        var agree = 0
        var i = 0
        while (i < numHashes) {
          if (oldSig(i) == sig(i)) agree += 1
          i += 1
        }
        val est = agree.toDouble / numHashes
        if (est >= estThreshold) matches += ((oldId, est))
      }
    }
    (((docId, sig) :: entries).take(maxPerBucket), matches.result())
  }

  /** Stage-1 state operator of [[nearDupSuppress]]: per band-bucket
    * collision state (the [[bucketStep]] loop under `transformWithState`
    * instead of `flatMapGroupsWithState`), emitting one VERDICT row
    * per (doc, band): (doc_id, ts, hit, payload — the full original
    * row, carried on band 0 only so the doc's columns cross the
    * verdict shuffle once, not `bands` times). Event-time timers
    * purge buckets idle past `horizonMs`.
    */
  private final class BandCollisionProcessor(
      numHashes: Int,
      estThreshold: Double,
      maxPerBucket: Int,
      horizonMs: Long,
  ) extends StatefulProcessor[String, Row, Row] {
    @transient private var st: ValueState[BucketState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[BucketState](
        "bucket", Encoders.product[BucketState], TTLConfig.NONE)
    override def handleInputRows(
        key: String, rows: Iterator[Row], tv: TimerValues): Iterator[Row] = {
      var entries = if (st.exists()) st.get().entries else Nil
      val out = List.newBuilder[Row]
      var lastMs = 0L
      rows.toSeq.sortBy(r => (r.getTimestamp(2).getTime, r.getLong(1))).foreach { r =>
        val docId = r.getLong(1)
        val ts = r.getTimestamp(2)
        val sig = r.getSeq[Long](3).toArray
        val (next, matches) =
          bucketStep(entries, docId, sig, numHashes, estThreshold, maxPerBucket)
        entries = next
        out += Row(docId, ts, matches.nonEmpty, if (r.isNullAt(4)) null else r.getStruct(4))
        lastMs = math.max(lastMs, ts.getTime)
      }
      st.update(BucketState(entries))
      // one live timer per bucket: horizon past the newest arrival
      resetTimer(getHandle, lastMs, horizonMs, tv)
      out.result().iterator
    }
    override def handleExpiredTimer(
        key: String, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Row] = {
      st.clear()
      Iterator.empty
    }
  }

  /** Stage-2 state operator of [[nearDupSuppress]]: per-doc AND over
    * the band verdicts. All `bands` verdicts of a doc are emitted in
    * the microbatch the doc arrived in (stage 1 is upstream in the
    * same trigger), so the state here is transient — it fills within
    * one trigger, emits the payload iff no band hit, and clears. The
    * event-time timer is the safety net for a doc whose verdicts
    * never complete (it cannot happen in a healthy plan; state still
    * must not leak if it does).
    */
  private final class DocVerdictProcessor(
      bands: Int, horizonMs: Long, payloadSchema: StructType)
      extends StatefulProcessor[Long, Row, Row] {
    @transient private var agg: ValueState[(Int, Boolean)] = _
    @transient private var pay: ValueState[Row] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState[(Int, Boolean)](
        "agg", Encoders.product[(Int, Boolean)], TTLConfig.NONE)
      pay = getHandle.getValueState[Row](
        "payload", Encoders.row(payloadSchema), TTLConfig.NONE)
    }
    override def handleInputRows(
        key: Long, rows: Iterator[Row], tv: TimerValues): Iterator[Row] = {
      var (n, hit) = if (agg.exists()) agg.get() else (0, false)
      var payload: Row = if (pay.exists()) pay.get() else null
      var lastMs = 0L
      rows.foreach { r =>
        n += 1
        hit |= r.getBoolean(2)
        if (!r.isNullAt(3)) payload = r.getStruct(3)
        lastMs = math.max(lastMs, r.getTimestamp(1).getTime)
      }
      if (n >= bands) {
        agg.clear(); pay.clear()
        getHandle.listTimers().toList.foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        if (!hit && payload != null) Iterator.single(payload) else Iterator.empty
      } else {
        agg.update((n, hit))
        if (payload != null) pay.update(payload)
        resetTimer(getHandle, lastMs, horizonMs, tv)
        Iterator.empty
      }
    }
    override def handleExpiredTimer(
        key: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Row] = {
      agg.clear(); pay.clear()
      Iterator.empty
    }
  }

  /** IN-STREAM near-duplicate SUPPRESSION: the kept-documents stream.
    * Emits each arriving doc row unchanged UNLESS any of its MinHash
    * bands collides (est ≥ `estThreshold`) with a doc already standing
    * in bucket state — keep-first on the firehose, with the VICTIMS
    * REMOVED FROM THE STREAM ITSELF rather than landed for a sink-side
    * anti-join.
    *
    * This is the operator the [[StreamingWebIngest.webIngestWithNearDup]]
    * scaladoc documents as impossible under `flatMapGroupsWithState`
    * (doc-level suppression needs a stateful aggregation DOWNSTREAM of
    * the banded collision state, and fMGWS cannot be chained). Spark
    * 4's `transformWithState` CAN chain: stage 1 re-declares its
    * output event-time column (`eventTimeColumnName`), so the watermark
    * propagates and stage 2 runs as a second stateful operator in the
    * same query:
    *
    *   band explode → TWS per bucket ([[bucketStep]], the SAME loop as
    *   [[nearDupHits]]) emits (doc, band, hit) verdicts → TWS per doc
    *   ANDs its `bands` verdicts → emits the row iff no band hit.
    *
    * Semantics notes:
    *   - Suppressed docs still enter bucket state (exactly as in
    *     [[nearDupHits]]), so a third copy arriving later is
    *     suppressed by EITHER standing copy — transitive chains die.
    *   - Shingle-less docs (< shingleSize tokens) cannot near-dup and
    *     pass through on a stateless branch.
    *   - The batch form is the anti-join of [[nearDupHits]]'s victim
    *     set — hit detection and suppression share [[bucketStep]], so
    *     the two faces are the same decision procedure by
    *     construction. The stream ≡ batch spec leans on this.
    *
    * Scale/state design: stage-1 state is [[nearDupHits]]'s (id + sig
    * per entry, capped, event-time-expired); stage-2 state lives only
    * WITHIN a trigger (verdicts of a doc all arrive together), so its
    * steady-state size is zero — the per-doc payload crosses the
    * verdict shuffle once (band 0 only), not `bands` times. Requires
    * the RocksDB state store provider (Spark's requirement for
    * `transformWithState`).
    *
    * Output column order is `docs.columns`. Downstream stateful
    * operators can keep chaining off `tsCol` (the output re-declares
    * it as event time).
    */
  def nearDupSuppress(
      docs: DataFrame,
      idCol: String,
      tsCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3,
      estThreshold: Double = 0.7,
      maxPerBucket: Int = 64,
      watermarkDelay: String = "10 minutes",
      horizonMs: Long = 3600L * 1000L,
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    if (!docs.isStreaming) {
      val victims = nearDupHits(
        docs, idCol, tsCol, textCol, numHashes, bands, shingleSize,
        estThreshold, maxPerBucket, watermarkDelay, horizonMs)
        .toDF()
        .select(col("victim_id"))
        .distinct()
      docs.join(victims, docs(idCol).cast("long") === victims("victim_id"), "left_anti")
    } else {
      val sigUdf = udf { (text: String) =>
        val grams = graft.textutil.TextHash.sortedShingleSet(text, shingleSize)
        if (grams.isEmpty) null else graft.textutil.TextHash.ophSignature(grams, numHashes)
      }
      val payloadSchema = StructType(docs.schema.fields)
      val base = docs.withColumn("__sig", sigUdf(col(textCol)))
      val pass = base.where(col("__sig").isNull).drop("__sig")
      val signed = ensureWatermark(
        base.where(col("__sig").isNotNull), tsCol, watermarkDelay)
        .select(
          col(idCol).cast("long").as("__doc_id"),
          col(tsCol).as("__ts"),
          col("__sig").as("sig"),
          struct(docs.columns.map(col): _*).as("__row"))
        .select(
          col("__doc_id"),
          col("__ts"),
          col("sig"),
          col("__row"),
          posexplode(Dedup.bandKeysCol(numHashes, bands)).as(Seq("__band_ix", "__bucket")))
        .select(
          col("__bucket"),
          col("__doc_id"),
          col("__ts"),
          col("sig"),
          when(col("__band_ix") === 0, col("__row")).as("__payload"))
      val verdictSchema = StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("ts", TimestampType, nullable = false),
        StructField("hit", BooleanType, nullable = false),
        StructField("payload", payloadSchema, nullable = true)))
      val verdicts = signed
        .groupByKey((r: Row) => r.getString(0))(Encoders.STRING)
        .transformWithState(
          new BandCollisionProcessor(numHashes, estThreshold, maxPerBucket, horizonMs),
          "ts", OutputMode.Append())(Encoders.row(verdictSchema))
      val kept = verdicts
        .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
        .transformWithState(
          new DocVerdictProcessor(bands, horizonMs, payloadSchema),
          tsCol, OutputMode.Append())(Encoders.row(payloadSchema))
      kept.unionByName(pass)
    }
  }
}
