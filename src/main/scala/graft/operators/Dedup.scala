package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (the whole point at 100 TB):
  *   - Nothing here is quadratic. Every near-dup variant is
  *     signature → band/bucket explode → self-join ON bucket →
  *     verify-on-candidates. The only shuffles are hash-partitioned
  *     joins/aggregations on bucket keys, and candidate verification
  *     touches only pairs that share a bucket.
  *   - Buckets with pathological populations (a boilerplate shingle
  *     shared by millions of docs) are capped via `maxBucketSize` —
  *     the standard skew guard. The cap LOSES RECALL on skewed
  *     corpora (a pair whose only shared bucket is oversized is
  *     dropped); [[droppedBucketStats]] quantifies the truncation.
  *   - Signatures are computed in one scan by deterministic scalar
  *     UDFs; no driver-side state, no collect.
  */
object Dedup {

  // ----------------------------------------------------------------- exact

  /** Exact dedup by content hash: keep the minimum id per group.
    * Emits every input row with its canonical (keeper) id and group
    * size — filter `is_canonical` to dedupe.
    *
    * Shape: a partition-only window over `content_hash` — ONE
    * exchange of the full rows, canonical/size computed in place. The
    * agg + join-back alternative costs a second exchange and, past
    * the broadcast threshold (any real corpus), shuffles the wide
    * text column a second time through a sort-merge join.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val grp = Window.partitionBy(col("content_hash"))
    df.withColumn("content_hash", md5(col(textCol)))
      .withColumn("canonical_id", min(col(idCol)).over(grp))
      .withColumn("group_size", count(lit(1)).over(grp))
      .withColumn("is_canonical", col(idCol) === col("canonical_id"))
  }

  /** Exact dedup with QUALITY-RANKED canonical selection: groups by
    * content hash like [[exactDedup]], but the keeper is the best row
    * under `prefer` (e.g. `Seq(col("n_chars").desc)` = keep the
    * longest copy; ties broken by min id so the choice is total).
    * "Keep first" is the wrong call when near-identical scrapes differ
    * in truncation — rank by the signal you care about instead.
    *
    * Output: every input row + (content_hash, group_size, is_kept).
    * Scale shape: one shuffle on content_hash for the window; group
    * sizes are duplicate cardinalities, so no planning-relevant skew
    * beyond what exact dedup itself has.
    */
  def exactDedupBest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      prefer: Seq[Column],
  ): DataFrame = {
    val hashed = df.withColumn("content_hash", md5(col(textCol)))
    val grp = Window.partitionBy(col("content_hash"))
    val rank = grp.orderBy(prefer :+ col(idCol).asc: _*)
    hashed
      .withColumn("group_size", count(lit(1)).over(grp))
      .withColumn("is_kept", row_number().over(rank) === 1)
  }

  // ---------------------------------------------------------- minhash + lsh

  /** One-scan prep for [[minHashNearDupPairs]]: the MinHash signature
    * AND the sorted distinct 64-bit shingle-hash set from a single
    * tokenize/shingle pass, so candidate generation bands the
    * signature while verification does exact set algebra on the
    * precomputed hashes — text is parsed exactly once and the wide
    * text column never joins or shuffles again.
    *
    * The signature is ONE-PERMUTATION hashing with rotation
    * densification (Li/Owen/Zhang NIPS'12; Shrivastava's densified
    * OPH): each shingle is hashed ONCE and routed to bucket
    * `h mod numHashes`, keeping the per-bucket minimum; empty buckets
    * borrow (rotationally) from the next non-empty one so banding
    * never sees sentinel values. Same collision statistics as classic
    * k-permutation MinHash for banding purposes at 1/numHashes of the
    * hashing cost — the signature pass IS the dominant cost of this
    * operator at corpus scale, and any false positives the
    * densification adds are killed by the exact-Jaccard verify.
    */
  private[graft] def minHashPrep(text: Column, numHashes: Int, shingleSize: Int): Column =
    graft.functions.TextSignatures.minhashPrep(text, shingleSize, numHashes)

  /** The densified-OPH signature of a (distinct) shingle-hash set —
    * shared by the batch banding path and the streaming near-dup
    * state operator. Empty input → all-sentinel signature (callers
    * filter shingle-less docs out).
    */
  private[graft] def ophSignature(grams: Array[Long], numHashes: Int): Array[Long] =
    graft.textutil.TextHash.ophSignature(grams, numHashes)

  /** Candidate pairs whose MinHash signatures collide in ≥1 of
    * `bands` bands (r = numHashes/bands rows per band), verified with
    * exact shingle-set Jaccard ≥ `threshold` over precomputed sorted
    * shingle-hash arrays (native two-pointer intersect count — no
    * text re-parse on the pair path).
    *
    * Documents with fewer than `shingleSize` tokens have no shingles
    * (same semantics as the q18 oracle) and can never pair.
    *
    * Output: (id_a, id_b, jaccard) with id_a < id_b. The returned
    * DataFrame is eagerly materialized (localCheckpoint — small:
    * verified pairs only); its blocks free on GC, callers owe no
    * `unpersist`.
    */
  def minHashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      maxBucketSize: Int = 1000,
  ): DataFrame = {
    val sets = df
      .select(col(idCol).as("id"), minHashPrep(col(textCol), numHashes, shingleSize).as("p"))
      .select(col("id"), col("p.sig").as("sig"), col("p.grams").as("grams"))
      .where(size(col("grams")) > 0)
      .persist()
    val (out, bucketHandle) =
      minHashPairsFromSets(sets, numHashes, bands, threshold, maxBucketSize)
    materializeAndRelease(out, sets, bucketHandle)
  }

  /** The exportable near-dup SIGNATURE TABLE of a corpus: (id, sig,
    * grams) — the densified-OPH MinHash signature and the sorted
    * shingle-hash set, numHashes + |shingles| longs per document and
    * NO text. Persist this as parquet alongside a standing corpus;
    * [[nearDupNewDocs]] then near-dups incoming batches against the
    * corpus WITHOUT ever re-reading corpus text — the incremental
    * shape a daily-crawl pipeline needs at 100 TB, where re-running
    * the full dedup per increment is unaffordable. Shingle-less docs
    * (< shingleSize tokens) are omitted (they can never pair).
    */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      shingleSize: Int = 3,
  ): DataFrame =
    df.select(col(idCol).as("id"), minHashPrep(col(textCol), numHashes, shingleSize).as("p"))
      .select(col("id"), col("p.sig").as("sig"), col("p.grams").as("grams"))
      .where(size(col("grams")) > 0)

  /** INCREMENTAL near-dup: the rows of `newDf` that survive
    * keep-first near-dup against a STANDING corpus (via its
    * [[minHashSignatures]] table — corpus text is never re-scanned)
    * and against the new batch itself. A new doc drops when a
    * verified pair (exact shingle Jaccard ≥ `threshold`) links it to
    * ANY corpus doc (the standing corpus is canonical) or to a
    * smaller-id new doc (the batch keep-first rule). Corpus and new
    * ids must be disjoint.
    *
    * Scale shape: the corpus side contributes one narrow (id, bucket)
    * explode of its SIGNATURE table (numHashes longs per doc — linear
    * in document count, independent of corpus bytes) and one
    * grams-column read for the verify join; candidate generation is
    * new-side buckets equi-joined against the union's buckets, so
    * corpus×corpus pairs — the quadratic bulk a full re-dedup pays —
    * are never enumerated. The same `maxBucketSize` skew cap as the
    * batch path applies, measured on the UNION bucket (boilerplate
    * buckets shared by millions of corpus docs are dropped, same
    * recall caveat as [[bucketedCandidatePairsRaw]]).
    */
  def nearDupNewDocs(
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      corpusSigs: DataFrame,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
      maxBucketSize: Int = 1000,
  ): DataFrame = {
    val newSigs = minHashSignatures(newDf, idCol, textCol, numHashes, shingleSize).persist()
    val corpus = corpusSigs.select(col("id"), col("sig"), col("grams"))
    // the disjointness precondition is ENFORCED, not just documented:
    // an id on both sides would self-pair through the union and
    // silently flip keep/drop decisions. One cheap job on the two
    // narrow id projections (limit-1 early-out; it also warms the
    // newSigs cache the real pipeline reads next).
    require(
      newSigs.select(col("id")).join(corpus.select(col("id")), "id").isEmpty,
      "nearDupNewDocs: corpus and new-batch ids overlap — the sides must be " +
        "disjoint (an id present in both would pair with itself through the " +
        "union); remap the incoming batch's ids or drop already-ingested docs first")
    val bNew = bandBuckets(newSigs, numHashes, bands)
    val bAll = bandBuckets(corpus, numHashes, bands)
      .withColumn("__corpus", lit(true))
      .unionByName(bNew.withColumn("__corpus", lit(false)))
      .persist()
    // skew cap on the union bucket population, mirroring the batch
    // path's semantics (≥2 members, ≤ maxBucketSize)
    val keptBuckets = bAll
      .groupBy("bucket")
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n").between(2L, maxBucketSize.toLong))
      .select("bucket")
    val candidates = bNew
      .join(keptBuckets, "bucket")
      .select(col("bucket"), col("id").as("id_new"))
      .join(
        bAll.join(keptBuckets, "bucket")
          .select(col("bucket"), col("id").as("id_other"), col("__corpus")),
        "bucket")
      // each unordered pair once: any (new, corpus) pair, and (new,
      // new) pairs oriented smaller-other < new
      .where(col("__corpus") || col("id_other") < col("id_new"))
      .select(col("id_new"), col("id_other"), col("__corpus"))
      .distinct()
    val gn = newSigs.select(col("id").as("id_new"), col("grams").as("grams_n"),
      size(col("grams")).as("sz_n"))
    val go = corpus.select(col("id"), col("grams"))
      .unionByName(newSigs.select(col("id"), col("grams")))
      .select(col("id").as("id_other"), col("grams").as("grams_o"),
        size(col("grams")).as("sz_o"))
    val losers = candidates
      .join(gn, "id_new")
      .join(go, "id_other")
      .withColumn("inter", graft.functions.VectorExpressions
        .sortedIntersectCount(col("grams_n"), col("grams_o")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_n") + col("sz_o") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_new").as("__loser"))
      .distinct()
    val out = newDf
      .join(losers, newDf(idCol) === losers("__loser"), "left_anti")
      .localCheckpoint(true)
    Seq(newSigs, bAll).foreach(_.unpersist(blocking = false))
    out
  }

  /** A persisted, PRE-BANDED near-dup signature store
    * ([[writeSignatures]] / [[readSignatures]]): `banded` holds one
    * (bucket, id, bucket_n) row per band key per corpus doc, stored
    * as a parquet table BUCKETED on the band key with the skew cap
    * applied and the per-bucket population materialized AT WRITE
    * TIME — so each increment / microbatch equi-joins it with no
    * static-side exchange, no re-explode of corpus signatures, and
    * no corpus-side re-count; `grams` is the (id, sig, grams) doc
    * side, bucketed by id — grams for exact verify, sig so
    * [[mergeSignatures]] can re-band a grown corpus without its
    * text. The meta fields pin the banding recipe:
    * consumers MUST sign incoming text with the same numHashes /
    * bands / shingleSize or collisions silently stop happening.
    */
  final case class SignatureStore(
      banded: DataFrame,
      grams: DataFrame,
      numHashes: Int,
      bands: Int,
      shingleSize: Int,
      maxBucketSize: Int,
      numBuckets: Int,
  )

  /** Persist a [[minHashSignatures]] frame as a [[SignatureStore]] at
    * `path`, registered as bucketed tables `<name>_banded` /
    * `<name>_grams` (bucketed writes go through the session catalog;
    * [[readSignatures]] re-registers them in a fresh session from the
    * parquet + meta alone).
    *
    * Write-time skew cap: band buckets with over `maxBucketSize`
    * corpus members are dropped HERE — they could never survive any
    * run-time union cap at or under this value, so dropping them once
    * at write replaces a per-run corpus-wide groupBy+filter. The
    * surviving rows carry their bucket population (`bucket_n`), which
    * is what lets readers evaluate union caps per-row instead of
    * re-aggregating the corpus. Skew note (ADVICE r21): the window
    * that computes `bucket_n` buffers each band bucket's rows in one
    * task before the cap filter runs, so a pathologically hot bucket
    * lands in a single (spill-backed) window partition once at write
    * time — the trade that removed the former groupBy+self-join's
    * second corpus-wide exchange; if hot-bucket spill ever shows up
    * at scale, a two-pass aggregate-then-broadcast-join over the
    * landed frame avoids both.
    *
    * `materialize` (ADVICE r21 — a default worth knowing about): the
    * default [[Materialize.LocalCheckpoint]] EAGERLY lands the
    * corpus-sized (id, sig, grams) projection in executor memory/disk
    * with no fault recovery — one lost executor fails the write and
    * the pass must re-run. Pass [[Materialize.ParquetDir]] for
    * corpus-scale runs on preemptible executors (the
    * [[VectorStore.write]] / ingestDedup convention), or
    * [[Materialize.Lazy]] when `sigs` is already parquet-backed.
    */
  def writeSignatures(
      sigs: DataFrame,
      path: String,
      name: String,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3,
      maxBucketSize: Int = 1000,
      numBuckets: Int = 64,
      materialize: Materialize = Materialize.LocalCheckpoint,
  ): Unit = {
    // Land the signature projection ONCE before fanning out to the two
    // table writes (the [[VectorStore.write]] convention): `sigs` is
    // typically the UNLANDED [[minHashSignatures]] plan — tokenize +
    // shingle + numHashes MinHash per document — and the banded write,
    // its bucket-count aggregation, and the grams write would each
    // re-execute that corpus pass (3 executions measured in the
    // pre-r21 plan). Landing also guarantees the banded/grams sides
    // can never diverge row-wise under a nondeterministic upstream.
    // Pass [[Materialize.Lazy]] when `sigs` is already parquet-backed
    // (the [[mergeSignatures]] shape) to skip the extra copy.
    val landed = Materialize(sigs.select("id", "sig", "grams"), materialize)
    StoreEpoch.commit(landed.sparkSession, path, name,
      signatureMeta(numHashes, bands, shingleSize, maxBucketSize, numBuckets)) {
      writeBandedTable(landed, path, name, numHashes, bands, maxBucketSize, numBuckets)
      writeGramsTable(landed, path, name, numBuckets)
    }
  }

  /** The banded-table write behind [[writeSignatures]] /
    * [[mergeSignatures]]. `bandedSource` must be the FULL corpus —
    * bucket populations (`bucket_n`) and the write-time skew cap are
    * properties of the whole store — but only (id, sig) is read, so a
    * parquet-backed source never moves its wide grams column through
    * this pass.
    */
  private def writeBandedTable(
      bandedSource: DataFrame,
      path: String,
      name: String,
      numHashes: Int,
      bands: Int,
      maxBucketSize: Int,
      numBuckets: Int,
  ): Unit = {
    val banded0 =
      bandedSource.select(col("id"), explode(bandKeysCol(numHashes, bands)).as("bucket"))
    // per-bucket population via ONE window over the banded explode —
    // the former groupBy+self-join spelling shuffled the banded rows
    // twice (aggregate leg + join leg) for the same (bucket, id,
    // bucket_n) output rows
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    banded0
      .withColumn("bucket_n", count(lit(1)).over(w))
      .where(col("bucket_n") <= maxBucketSize.toLong)
      .select("bucket", "id", "bucket_n")
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", s"$path/banded")
      .bucketBy(numBuckets, "bucket")
      .sortBy("bucket")
      .saveAsTable(s"${name}_banded")
  }

  /** The grams-table write behind [[writeSignatures]] /
    * [[mergeSignatures]]: `gramsRows` is the (id, sig, grams) row set
    * this write PUTS INTO the table — the whole corpus on a fresh
    * write, the increment only under the merge's standing-file copy.
    * The doc side keeps sig TOO (numHashes longs/doc): grams alone
    * serve the verify join, but compaction ([[mergeSignatures]])
    * must re-band without re-reading corpus text.
    */
  private def writeGramsTable(
      gramsRows: DataFrame,
      path: String,
      name: String,
      numBuckets: Int,
  ): Unit =
    gramsRows
      .select("id", "sig", "grams")
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("path", s"$path/grams")
      .bucketBy(numBuckets, "id")
      .sortBy("id")
      .saveAsTable(s"${name}_grams")

  /** The meta row of [[writeSignatures]] / [[mergeSignatures]]: the
    * banding recipe and bucket count, in [[readSignatures]]' order.
    */
  private def signatureMeta(
      numHashes: Int,
      bands: Int,
      shingleSize: Int,
      maxBucketSize: Int,
      numBuckets: Int,
  ): Seq[(String, Int)] =
    Seq("num_hashes" -> numHashes, "bands" -> bands, "shingle_size" -> shingleSize,
      "max_bucket_size" -> maxBucketSize, "num_buckets" -> numBuckets)

  /** Open a [[SignatureStore]] written by [[writeSignatures]]. In a
    * fresh session the bucketed tables are re-registered over the
    * parquet location (DDL with the meta's bucket spec) — bucketing
    * metadata lives in the catalog, not the files, so this is what
    * restores the no-exchange join property after a restart. A name
    * registered at another path fails actionably
    * ([[StoreEpoch.register]]).
    */
  def readSignatures(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      name: String,
  ): SignatureStore = {
    val m = StoreEpoch.readMeta(spark, path)
    val numBuckets = m.getInt(4)
    val (banded, grams) = signatureTables(spark, path, name, numBuckets)
    SignatureStore(banded, grams, m.getInt(0), m.getInt(1), m.getInt(2), m.getInt(3), numBuckets)
  }

  /** The store's `banded` and `grams` tables at `path`, registered (or
    * checked) through [[StoreEpoch.register]] — catalog calls only, no
    * Spark job.
    */
  private def signatureTables(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      name: String,
      numBuckets: Int,
  ): (DataFrame, DataFrame) = {
    def table(sub: String, schema: String, key: String): DataFrame =
      StoreEpoch.register(spark, "readSignatures", path, name, sub, schema, key, numBuckets)
    (table("banded", "bucket STRING, id BIGINT, bucket_n BIGINT", "bucket"),
      table("grams", "id BIGINT, sig ARRAY<BIGINT>, grams ARRAY<BIGINT>", "id"))
  }

  /** GROW a standing store: union the source store's docs with a new
    * batch's [[minHashSignatures]] (disjoint ids required) and write
    * the merged store to `dstPath`/`dstName` with the source's
    * banding recipe — the daily-crawl epoch step: ingest an increment
    * with [[nearDupNewDocs]], then fold its SURVIVORS' signatures in
    * so tomorrow's increment dedups against today's corpus.
    *
    * This is a COMPACTION, not an in-place append, by design: stored
    * `bucket_n` populations and the write-time skew cap are only
    * correct for a complete write (appended rows would silently
    * stale every bucket count the per-row union caps rely on), and
    * bucketed tables cannot change bucket spec incrementally. Cost:
    * the grams side (the store's dominant bytes — |shingles| longs
    * per doc) moves as a RAW FILE COPY of the standing part files
    * plus a bucketed write of the increment only; only the banded
    * side pays a corpus-wide pass, and that pass reads (id, sig)
    * alone — numHashes longs per doc, text never read. `dstPath`
    * must differ from `srcPath` (epoch-style directories;
    * self-overwrite would read and clobber the same files).
    *
    * `materialize` lands the INCREMENT (it feeds the disjointness
    * check, the banded union, and the grams write). Pass
    * [[Materialize.Lazy]] when `newSigs` is already parquet-backed
    * (the [[graft.streaming.StreamingDedup.compactSignatureStore]]
    * shape — increments land via the sink) to skip the redundant
    * copy; under Lazy a NONDETERMINISTIC increment plan could
    * produce row-divergent banded/grams sides, exactly the
    * [[writeSignatures]] Lazy contract.
    */
  def mergeSignatures(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      srcName: String,
      newSigs: DataFrame,
      dstPath: String,
      dstName: String,
      materialize: Materialize = Materialize.LocalCheckpoint,
  ): SignatureStore = {
    require(dstPath != srcPath,
      "mergeSignatures: dstPath must differ from srcPath (epoch directories) — " +
        "an in-place rewrite would clobber the files it is reading")
    require(dstName != srcName,
      "mergeSignatures: dstName must differ from srcName — the destination write " +
        "would overwrite catalog tables the merge is reading; use a distinct name " +
        "per store path (epoch-suffixed names, e.g. <base>_e<n>)")
    val src = readSignatures(spark, srcPath, srcName)
    // Land the increment ONCE (default; see the `materialize` doc) —
    // increment-sized, so the copy is cheap, unlike the pre-r22 shape,
    // which kept the whole UNION lazy and re-executed the standing
    // scan per table write.
    val add = Materialize(
      newSigs.select(col("id"), col("sig"), col("grams")), materialize)
    require(
      add.select(col("id")).join(src.grams.select(col("id")), "id").isEmpty,
      "mergeSignatures: new-batch ids overlap the standing store — the sides must " +
        "be disjoint; dedup the increment first (nearDupNewDocs) and merge survivors")
    // r22 (guide §6, §2.3): a merge leaves every STANDING grams row
    // byte-identical and the destination registers with the source's
    // bucket spec, so the grams table is written from the INCREMENT
    // only and the standing part files are copied verbatim (the
    // [[VectorStore.merge]] mechanism — bucket membership rides the
    // `_NNNNN` filename suffix). The banded table still needs the
    // corpus-wide rebuild — bucket populations and the write-time skew
    // cap are properties of the UNION — but its standing read prunes
    // to (id, sig): the wide grams column (the store's dominant bytes)
    // never moves through a merge at all.
    StoreEpoch.commit(spark, dstPath, dstName,
      signatureMeta(src.numHashes, src.bands, src.shingleSize, src.maxBucketSize,
        src.numBuckets),
      Some(StoreEpoch.Standing(srcPath, Seq("grams")))) {
      writeBandedTable(
        src.grams.select(col("id"), col("sig"))
          .unionByName(add.select(col("id"), col("sig"))),
        dstPath, dstName, src.numHashes, src.bands, src.maxBucketSize, src.numBuckets)
      writeGramsTable(add, dstPath, dstName, src.numBuckets)
    }
    // the destination's meta was written from the source's recipe, so
    // the fresh epoch opens from values in hand, without reading it back
    val (banded, grams) = signatureTables(spark, dstPath, dstName, src.numBuckets)
    src.copy(banded = banded, grams = grams)
  }

  /** Retention for [[mergeSignatures]] destination directories: under
    * `rootDir`, epoch stores live as `<prefix><n>` children (the
    * `epoch0`, `epoch1`, … convention the compaction workflow writes);
    * keep the `keepLatest` numerically-highest and delete the rest.
    * Hadoop filesystem like
    * [[graft.streaming.StreamingDedup.pruneSignatureIncrements]], so
    * it works wherever the store lives. Call AFTER the newest epoch's
    * [[readSignatures]] round-trips — a daily-epoch store otherwise
    * grows without bound, one full corpus-signature copy per
    * compaction. Returns the SORTED epoch indices whose directories
    * were deleted, so the caller can retire their catalog
    * registrations in the same turn —
    * [[graft.streaming.StreamingDedup.compactSignatureStore]] does
    * exactly that (DROP `<base>_e<n>_banded`/`_grams`); a direct
    * caller on a persistent metastore should do the same, or each
    * retired epoch strands two dead table pointers.
    *
    * `upTo` bounds which epochs are CANDIDATES at all: only indices
    * ≤ `upTo` are counted and deleted. A caller that knows its
    * current epoch index must pass it — a stale HIGHER-numbered dir
    * left by an aborted run would otherwise count as "latest" and
    * the live epoch would be deleted out from under the store
    * ([[graft.streaming.StreamingDedup.compactSignatureStore]]
    * passes the epoch it just wrote). Stale higher dirs are left in
    * place (garbage, but never worth a live store).
    */
  def pruneSignatureEpochs(
      spark: org.apache.spark.sql.SparkSession,
      rootDir: String,
      keepLatest: Int,
      prefix: String = "epoch",
      upTo: Long = Long.MaxValue,
  ): Seq[Long] = {
    require(keepLatest >= 1,
      "pruneSignatureEpochs: keepLatest must be >= 1 — deleting every epoch would " +
        "drop the standing corpus the next increment dedups against")
    val root = new org.apache.hadoop.fs.Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else {
      val epochs = fs
        .listStatus(root)
        .filter(_.isDirectory)
        .flatMap { st =>
          val nm = st.getPath.getName
          if (!nm.startsWith(prefix)) None
          else scala.util.Try(nm.stripPrefix(prefix).toLong).toOption
            .filter(_ <= upTo)
            .map(n => (n, st.getPath))
        }
        .sortBy(_._1)
      val victims = epochs.dropRight(keepLatest)
      victims.foreach { case (_, p) => fs.delete(p, true) }
      victims.map(_._1).toSeq
    }
  }

  /** [[nearDupNewDocs]] against a persisted [[SignatureStore]] — the
    * same keep/drop semantics as the signature-frame overload (the
    * spec asserts result parity), with the per-run corpus work
    * removed: the corpus side is scanned ONCE with no exchange (the
    * banded table is bucketed on the join key), never re-exploded,
    * and never re-counted (union caps evaluate per-row off the stored
    * `bucket_n`; a bucket dropped at write could not have survived
    * any union cap ≤ the write cap, and the run-time cap here IS the
    * write cap). Corpus×corpus pairs are never enumerated, as before.
    *
    * One DELIBERATE deviation from the frame overload: a bucket the
    * write cap dropped is invisible here, so new-new pairs in it are
    * capped on the new-side population alone instead of inheriting
    * the corpus's oversize — strictly better recall at the same
    * bounded cost (the new-side cap still applies). The frame
    * overload drops such pairs because it sees the full union count.
    */
  def nearDupNewDocs(
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      store: SignatureStore,
      threshold: Double,
  ): DataFrame = {
    val maxB = store.maxBucketSize.toLong
    val newSigs =
      minHashSignatures(newDf, idCol, textCol, store.numHashes, store.shingleSize).persist()
    require(
      newSigs.select(col("id")).join(store.grams.select(col("id")), "id").isEmpty,
      "nearDupNewDocs: corpus and new-batch ids overlap — the sides must be " +
        "disjoint (an id present in both would pair with itself); remap the " +
        "incoming batch's ids or drop already-ingested docs first")
    val bNew = bandBuckets(newSigs, store.numHashes, store.bands)
    val newCounts = bNew.groupBy("bucket").agg(count(lit(1)).as("new_n"))
    // the ONLY touch of the corpus banded table: an equi-join on its
    // bucketing key, restricted to the new batch's buckets
    val corpusJoined = store.banded.join(newCounts, "bucket").persist()
    // (a) new-vs-corpus candidates — the union cap is per-row
    // (bucket_n + new_n IS the union population; ≥2 is automatic)
    val candCorpus = corpusJoined
      .where(col("bucket_n") + col("new_n") <= maxB)
      .select(col("bucket"), col("id").as("id_other"))
      .join(bNew.select(col("bucket"), col("id").as("id_new")), "bucket")
      .select(col("id_new"), col("id_other"))
    // (b) new-vs-new — corpus population per live bucket (0 when the
    // corpus is absent) from the already-joined slice, not a corpus scan
    val corpusN = corpusJoined.groupBy("bucket").agg(first(col("bucket_n")).as("corpus_n"))
    val okNewBuckets = newCounts
      .join(corpusN, Seq("bucket"), "left")
      .where((coalesce(col("corpus_n"), lit(0L)) + col("new_n")).between(2L, maxB))
      .select("bucket")
    val bNewOk = bNew.join(okNewBuckets, "bucket")
    val candNew = bNewOk.select(col("bucket"), col("id").as("id_new"))
      .join(bNewOk.select(col("bucket"), col("id").as("id_other")), "bucket")
      .where(col("id_other") < col("id_new"))
      .select(col("id_new"), col("id_other"))
    val candidates = candCorpus.unionByName(candNew).distinct()
    val gn = newSigs.select(col("id").as("id_new"), col("grams").as("grams_n"),
      size(col("grams")).as("sz_n"))
    val go = store.grams
      .select(col("id").as("id_other"), col("grams").as("grams_o"),
        size(col("grams")).as("sz_o"))
      .unionByName(newSigs.select(col("id").as("id_other"), col("grams").as("grams_o"),
        size(col("grams")).as("sz_o")))
    val losers = candidates
      .join(gn, "id_new")
      .join(go, "id_other")
      .withColumn("inter", graft.functions.VectorExpressions
        .sortedIntersectCount(col("grams_n"), col("grams_o")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_n") + col("sz_o") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_new").as("__loser"))
      .distinct()
    val out = newDf
      .join(losers, newDf(idCol) === losers("__loser"), "left_anti")
      .localCheckpoint(true)
    Seq(newSigs, corpusJoined).foreach(_.unpersist(blocking = false))
    out
  }

  /** The array of LSH band keys of a `sig` column (band index : hash
    * of the band's signature slice) — THE shared key space: the batch
    * self-dedup, the incremental new-vs-corpus path, and the
    * streaming corpus-hits face must all band identically or
    * collisions silently stop happening across faces.
    */
  private[graft] def bandKeysCol(numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    expr(s"transform(sequence(0, ${bands - 1}), b -> " +
      s"concat_ws(':', b, hash(slice(sig, b * $r + 1, $r))))")
  }

  /** LSH band buckets of an (id, sig, …) frame: one (id, bucket) row
    * per band. Shared by the one-corpus path and the incremental
    * new-vs-corpus path so both collide in the SAME key space.
    */
  private def bandBuckets(sets: DataFrame, numHashes: Int, bands: Int): DataFrame =
    sets.select(col("id"), explode(bandKeysCol(numHashes, bands)).as("bucket"))

  /** Banding + exact-Jaccard verify over a PRECOMPUTED (id, sig,
    * grams) frame — the core of [[minHashNearDupPairs]], split out so
    * fused pipelines ([[cleanCorpus]]) can feed signatures computed in
    * the same scan as other per-document work. `sets` is read three
    * times (banding + both verify sides); callers persist it. Returns
    * (pairs, bucketHandle) — pairs NOT yet materialized; release
    * `bucketHandle` via [[materializeAndRelease]].
    */
  private def minHashPairsFromSets(
      sets: DataFrame, // columns: id, sig, grams (persisted by caller)
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucketSize: Int,
  ): (DataFrame, DataFrame) = {
    val banded = bandBuckets(sets, numHashes, bands)
    val (pairs, bucketHandle) = bucketedCandidatePairs(banded, maxBucketSize)
    val ga = sets.select(col("id").as("id_a"), col("grams").as("grams_a"), size(col("grams")).as("sz_a"))
    val gb = sets.select(col("id").as("id_b"), col("grams").as("grams_b"), size(col("grams")).as("sz_b"))
    val out = pairs
      .join(ga, "id_a")
      .join(gb, "id_b")
      // sorted-distinct hash arrays → two-pointer native intersect
      // count (codegen), not array_intersect's per-row hash set
      .withColumn("inter", graft.functions.VectorExpressions
        .sortedIntersectCount(col("grams_a"), col("grams_b")))
      .withColumn("jaccard", col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    (out, bucketHandle)
  }

  /** Per-document near-dup summary from [[minHashNearDupPairs]]: every
    * doc with the count of its near-duplicates and its canonical id
    * (min id among partners∪self — keep-first semantics). Total rows =
    * input rows, so downstream row-count checks are stable even when
    * zero duplicates exist.
    */
  def minHashDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3,
      threshold: Double = 0.8,
  ): DataFrame = {
    val pairs = minHashNearDupPairs(df, idCol, textCol, numHashes, bands, shingleSize, threshold)
    perDocSummary(df, idCol, pairs)
  }

  // ----------------------------------------------------------------- simhash

  /** 64-bit SimHash over word unigrams (token-frequency weighted) —
    * native codegen expression; `coalesce` preserves the old UDF's
    * null→0L convention so null-text docs still bucket together.
    */
  private def simHashCol(text: Column): Column =
    coalesce(graft.functions.TextSignatures.simhash64(text), lit(0L))

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`.
    * Candidates via the pigeonhole trick: split the 64-bit hash into
    * `maxHamming+1` chunks — any pair within distance k agrees on ≥1
    * chunk, so an equi-join per chunk finds all of them without a
    * cartesian product.
    */
  def simHashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000,
  ): DataFrame =
    hammingNearDupPairs(
      df.select(col(idCol), simHashCol(col(textCol)).as("__sig64")),
      idCol, "__sig64", maxHamming, maxBucketSize)

  /** Hamming near-dup pairs over a PRECOMPUTED 64-bit signature
    * column — the pigeonhole machinery behind [[simHashNearDupPairs]]
    * exposed for non-text signatures (image perceptual hashes, any
    * locality-preserving 64-bit sketch). NULL signatures (undecodable
    * payloads) are skipped. Split the hash into `maxHamming+1`
    * chunks: any pair within distance k agrees on ≥ 1 chunk, so
    * per-chunk equi-joins find all candidates without a cartesian
    * product; verify is an exact popcount.
    */
  def hammingNearDupPairs(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000,
  ): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    val sigs = df
      .select(col(idCol).as("id"), col(hashCol).cast("long").as("simhash"))
      .where(col("simhash").isNotNull)
      .persist()
    val banded = sigs.select(
      col("id"),
      explode(
        expr(s"transform(sequence(0, ${chunks - 1}), c -> " +
          s"concat_ws(':', c, (simhash >> (c * $bitsPer)) & ${(1L << bitsPer) - 1}))"),
      ).as("bucket"),
    )
    val (pairs, bucketHandle) = bucketedCandidatePairs(banded, maxBucketSize)
    val h = sigs.withColumnRenamed("id", "id_a").withColumnRenamed("simhash", "sim_a")
    val h2 = sigs.withColumnRenamed("id", "id_b").withColumnRenamed("simhash", "sim_b")
    val out = pairs
      .join(h, "id_a")
      .join(h2, "id_b")
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
    materializeAndRelease(out, sigs, bucketHandle)
  }

  def simHashDedup(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame =
    perDocSummary(df, idCol, simHashNearDupPairs(df, idCol, textCol, maxHamming))

  // ----------------------------------------------------- n-gram jaccard

  /** N-gram-Jaccard near-dup pairs with PREFIX FILTERING (the
    * AllPairs/PPJoin family, Bayardo et al. WWW'07): each doc's
    * distinct shingles are put in a globally consistent total order
    * and only the first `|S| - ⌈t·|S|⌉ + 1` of them (the "prefix") are
    * indexed. Any pair with Jaccard ≥ t MUST share a prefix shingle
    * (if all |A∩B| ≥ t·|A∪B| ≥ t·|A| common shingles sat in A's last
    * ⌈t·|A|⌉-1 positions there would be too few of them), so candidate
    * generation is exact-complete while the inverted index only
    * contains a (1-t) slice of every document — near-linear candidates
    * instead of quadratic on corpora with heavy shingle reuse.
    *
    * The canonical order is by shingle HASH, computed inside the
    * signature UDF: zero extra shuffles. (Ordering by ascending global
    * document frequency yields fewer candidates but costs a df
    * aggregation + a per-doc window; hash order is the standard
    * shuffle-free variant and the bucket-size cap absorbs the
    * difference.)
    *
    * Verification recomputes exact Jaccard from the pre-computed
    * sorted distinct shingle-hash arrays via the native two-pointer
    * intersect count (no text re-parse on the pair path).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxBucketSize: Int = 1000,
  ): DataFrame = {
    // shingle sets as SORTED DISTINCT 64-bit hashes: set algebra on
    // longs is ~5× cheaper than on strings at verify time, the prefix
    // (canonical hash order) is just take(k) of the sorted array, and
    // a 64-bit collision altering a Jaccard value is ~2⁻⁵⁰ per corpus
    val sets = df
      .select(col(idCol).as("id"),
        graft.functions.TextSignatures.shingleSet(col(textCol), n).as("grams"))
      .persist()
    // prefix filter (see scaladoc above): first |S|-⌈t|S|⌉+1 in hash order
    val prefixLen = greatest(
      lit(1),
      (size(col("grams")) - ceil(size(col("grams")) * threshold) + 1).cast("int"),
    )
    val prefixes = sets
      .select(col("id"), explode(slice(col("grams"), lit(1), prefixLen)).as("bucket"))
    val (pairs, bucketHandle) = bucketedCandidatePairs(prefixes, maxBucketSize)
    val ga = sets.select(col("id").as("id_a"), col("grams").as("grams_a"), size(col("grams")).as("sz_a"))
    val gb = sets.select(col("id").as("id_b"), col("grams").as("grams_b"), size(col("grams")).as("sz_b"))
    val out = pairs
      .join(ga, "id_a")
      .join(gb, "id_b")
      .withColumn("inter", graft.functions.VectorExpressions
        .sortedIntersectCount(col("grams_a"), col("grams_b")))
      // |A∪B| = |A|+|B|-|A∩B| — saves the second full set operation
      .withColumn("jaccard", col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    materializeAndRelease(out, sets, bucketHandle)
  }

  /** [[ngramJaccardPairs]] with DOCUMENT-FREQUENCY-ORDERED prefixes:
    * the AllPairs prefix-filter guarantee holds under ANY globally
    * consistent total order of shingles, and ordering by ascending
    * corpus df puts each doc's RAREST shingles in its indexed prefix —
    * rare shingles land in small buckets, so candidate volume on
    * skewed/template-heavy corpora drops sharply (the classic
    * AllPairs/PPJoin ordering). Price: one df aggregation + one join +
    * one per-doc window more than the hash-ordered variant; buy it
    * when boilerplate dominates, skip it when shingles are near-
    * uniform. The verified pair set is IDENTICAL (both orders are
    * complete; verification is unchanged).
    */
  def ngramJaccardPairsDfOrdered(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      maxBucketSize: Int = 1000,
  ): DataFrame = {
    val sets = df
      .select(col(idCol).as("id"),
        graft.functions.TextSignatures.shingleSet(col(textCol), n).as("grams"))
      .persist()
    val exploded = sets.select(col("id"), size(col("grams")).as("sz"), explode(col("grams")).as("g"))
    val gramDf = exploded.groupBy("g").agg(count(lit(1)).as("gdf"))
    val prefixLen = greatest(
      lit(1),
      (col("sz") - ceil(col("sz") * threshold) + 1).cast("int"),
    )
    val w = Window.partitionBy(col("id")).orderBy(col("gdf"), col("g"))
    val prefixes = exploded
      .join(gramDf, "g")
      .withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= prefixLen)
      .select(col("id"), col("g").as("bucket"))
    val (pairs, bucketHandle) = bucketedCandidatePairs(prefixes, maxBucketSize)
    val ga = sets.select(col("id").as("id_a"), col("grams").as("grams_a"), size(col("grams")).as("sz_a"))
    val gb = sets.select(col("id").as("id_b"), col("grams").as("grams_b"), size(col("grams")).as("sz_b"))
    val out = pairs
      .join(ga, "id_a")
      .join(gb, "id_b")
      .withColumn("inter", graft.functions.VectorExpressions
        .sortedIntersectCount(col("grams_a"), col("grams_b")))
      .withColumn("jaccard", col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    materializeAndRelease(out, sets, bucketHandle)
  }

  // ------------------------------------------------- winnowing overlap

  /** Near-dup/overlap pairs from winnowing fingerprints (Schleimer et
    * al., SIGMOD'03 — the MOSS scheme): documents sharing ≥1 selected
    * fingerprint are candidates (inverted index over the sparse
    * signature, ~2/(w+1) of k-gram density), verified by containment
    * `|A∩B| / min(|A|,|B|)` ≥ `minOverlap` — containment, not Jaccard,
    * so a short document embedded verbatim in a long one still scores
    * 1.0. Catches copied PASSAGES that whole-document shingle Jaccard
    * dilutes away.
    */
  /** `maxBucketSize` here is a DOCUMENT-FREQUENCY cap on fingerprints,
    * and it defaults much lower than the shingle operators' caps: a
    * winnowing fingerprint shared by hundreds of documents is template
    * boilerplate, not evidence of copied passages, yet each such
    * bucket contributes O(df²) candidate pairs (measured at sf0.1:
    * df≤1000 admits ~70 M raw candidates from 5 000 docs — nearly the
    * complete pair matrix; df≤100 admits ~1 M). True overlapping
    * passages share runs of RARE fingerprints, which survive any
    * sane cap.
    */
  def winnowingNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      minOverlap: Double = 0.5,
      maxBucketSize: Int = 100,
  ): DataFrame = {
    val sets = df
      .select(col(idCol).as("id"),
        graft.functions.TextSignatures.winnowSignature(col(textCol), k, w).as("sig"))
      .where(size(col("sig")) > 0)
      .persist()
    val buckets = sets.select(col("id"), explode(col("sig")).as("bucket"))
    val (pairs, bucketHandle) = bucketedCandidatePairs(buckets, maxBucketSize)
    val sa = sets.select(col("id").as("id_a"), col("sig").as("sig_a"), size(col("sig")).as("sz_a"))
    val sb = sets.select(col("id").as("id_b"), col("sig").as("sig_b"), size(col("sig")).as("sz_b"))
    val out = pairs
      .join(sa, "id_a")
      .join(sb, "id_b")
      .withColumn(
        "overlap",
        graft.functions.VectorExpressions
          .sortedIntersectCount(col("sig_a"), col("sig_b")).cast("double") /
          least(col("sz_a"), col("sz_b")),
      )
      .where(col("overlap") >= minOverlap)
      .select(col("id_a"), col("id_b"), col("overlap"))
    materializeAndRelease(out, sets, bucketHandle)
  }

  // ------------------------------------------------- embedding near-dup

  /** Signed-random-projection LSH signature for cosine similarity:
    * `numBits` hyperplanes drawn from a seeded RNG (shipped to
    * executors as plain closure data — a few KB), signature bit b =
    * sign(v·plane_b). P(bits agree) = 1 - θ/π.
    */
  def srpSignatureUdf(dim: Int, numBits: Int, seed: Long) = {
    val planes = {
      val rng = new scala.util.Random(seed)
      Array.fill(numBits, dim)((rng.nextGaussian()).toFloat)
    }
    udf { (v: Array[Float]) =>
      var sig = 0L
      var b = 0
      while (b < numBits) {
        val p = planes(b)
        var dot = 0.0
        var i = 0
        val n = math.min(p.length, v.length)
        while (i < n) { dot += v(i) * p(i); i += 1 }
        if (dot > 0) sig |= (1L << b)
        b += 1
      }
      sig
    }
  }

  /** Embedding near-dup pairs with cosine ≥ `threshold`, candidates
    * from banded SRP signatures (same band-join shape as MinHash —
    * linear in candidates, never quadratic in corpus).
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.9,
      numBits: Int = 32,
      bands: Int = 8,
      seed: Long = 42L,
      maxBucketSize: Int = 10000,
  ): DataFrame = {
    require(numBits % bands == 0 && numBits <= 64)
    val bitsPer = numBits / bands
    // NULL/empty embeddings cannot near-dup anything — drop them
    // before the SRP signature (whose plane dots would NPE on NULL),
    // the same degenerate-row policy as the Similarity faces
    val sigs = df
      .where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(
        col(idCol).as("id"),
        col(vecCol).as("vec"),
        srpSignatureUdf(dim, numBits, seed)(col(vecCol)).as("srp"),
      )
    val banded = sigs.select(
      col("id"),
      explode(
        expr(s"transform(sequence(0, ${bands - 1}), c -> " +
          s"concat_ws(':', c, (srp >> (c * $bitsPer)) & ${(1L << bitsPer) - 1}))"),
      ).as("bucket"),
    )
    // keep band-duplicate candidates and dedupe AFTER the threshold
    // filter: a native dot per duplicate candidate is cheaper than a
    // 2M-row distinct shuffle, and both vector joins are broadcasts
    val (pairs, bucketHandle) = bucketedCandidatePairsRaw(banded, maxBucketSize)
    // primitive dot + precomputed norms on the verify path (interpreted
    // higher-order functions are ~10× slower per candidate)
    val va = sigs.select(
      col("id").as("id_a"),
      col("vec").as("vec_a"),
      Similarity.normCol(col("vec")).as("norm_a"),
    )
    val vb = sigs.select(
      col("id").as("id_b"),
      col("vec").as("vec_b"),
      Similarity.normCol(col("vec")).as("norm_b"),
    )
    val out = pairs
      .join(va, "id_a")
      .join(vb, "id_b")
      .withColumn(
        "cosine",
        Similarity.dotUdf(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b")),
      )
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .distinct()
    materializeAndRelease(out, bucketHandle)
  }

  // ---------------------------------------------------- incremental dedup

  /** Incremental exact-dedup: keep only the rows of `newDf` whose
    * content does NOT already appear in `corpusDf` — WITHOUT joining
    * the corpus. The corpus side is reduced in one pass to a Bloom
    * filter over 64-bit content fingerprints (a mergeable sketch,
    * built with map-side partials) and broadcast; the new batch is
    * then a shuffle-free filtered scan. This is the shape that works
    * when the existing corpus is 100 TB and the incoming batch is
    * GBs: ~1.2 GB of broadcast bits covers 10⁹ documents at fpp 1%.
    *
    * Guarantees: no false negatives (a true duplicate can never
    * survive); ~`fpp` of genuinely-new documents are dropped as
    * collateral (tunable). Fingerprints are whitespace-normalized
    * content hashes ([[TextAnalysis.contentFingerprintUdf]]).
    */
  def newDocsOnly(
      newDf: DataFrame,
      corpusDf: DataFrame,
      textCol: String,
      expectedCorpusDocs: Long,
      fpp: Double = 0.01,
  ): DataFrame =
    newDocsOnlyWithHandle(newDf, corpusDf, textCol, expectedCorpusDocs, fpp).result

  /** Lifecycle/observability handle for [[newDocsOnly]]:
    *   - `actualFpp` is the FILTER'S OWN estimate after insertion
    *     (`BloomFilter.expectedFpp()`): if `expectedCorpusDocs` was
    *     set too low the filter saturates and this climbs well above
    *     the requested `fpp` — every point of it is genuinely-new
    *     documents silently dropped, so alert on it.
    *   - `release()` destroys the broadcast bits (~1.2 GB at 10⁹ docs
    *     / 1% fpp). Call it once the result is fully materialized
    *     (written/collected); the filter is NOT rebuildable after
    *     release, so a re-computation of an unmaterialized `result`
    *     would fail — that is the caller's trade to make, which is
    *     why the library does not destroy it implicitly.
    */
  final case class BloomDedupHandle(
      result: DataFrame,
      bitSize: Long,
      actualFpp: Double,
      release: () => Unit,
  )

  def newDocsOnlyWithHandle(
      newDf: DataFrame,
      corpusDf: DataFrame,
      textCol: String,
      expectedCorpusDocs: Long,
      fpp: Double = 0.01,
  ): BloomDedupHandle = {
    val fp = TextAnalysis.contentFingerprintUdf
    val bloom = corpusDf.stat.bloomFilter(
      fp(col(textCol)),
      math.max(1L, expectedCorpusDocs),
      fpp,
    )
    val bc = newDf.sparkSession.sparkContext.broadcast(bloom)
    val seen = udf { (f: Long) => bc.value.mightContainLong(f) }
    BloomDedupHandle(
      result = newDf.where(!seen(fp(col(textCol)))),
      bitSize = bloom.bitSize(),
      actualFpp = bloom.expectedFpp(),
      release = () => bc.destroy(),
    )
  }

  // ----------------------------------------------------- decontamination

  /** Ceiling on the exact faces' broadcast shingle pools
    * ([[decontaminate]], [[decontaminateSpans]]): 8 B per distinct
    * 64-bit shingle hash → 80 MB sorted array at the default — the
    * practical upper end of a comfortable broadcast. Beyond it the
    * collect stops being "a few MB of eval suites" and becomes a
    * driver-memory hazard, so it is REJECTED with a named error
    * steering callers to the Bloom faces (same posture as
    * [[decontaminateEmbedding]]'s `maxBenchmarkRows`).
    */
  val MaxExactPoolShingles: Long = 10000000L

  /** A FROZEN benchmark shingle pool — the fit-once / apply-everywhere
    * contract for exact decontamination, the
    * [[TextAnalysis.HashIdfModel]] pattern applied to the "don't train
    * on the test set" stage: benchmark suites change rarely while the
    * corpus ingests continuously, so the pool is built ONCE
    * ([[fitShinglePool]] — one benchmark scan), persisted
    * ([[IndexStore.saveShinglePool]], longs are exact — save→load→apply
    * is bit-identical), and served to every batch job and every
    * streaming microbatch without re-scanning the benchmark
    * ([[decontaminateWithPool]] / [[decontaminateSpansWithPool]] are
    * stateless per-row kernels, so they run unchanged inside a
    * Structured Streaming plan). Benchmark updates fold in exactly
    * through [[ShinglePoolModel.merged]] (sorted-set union — no
    * refit-the-world).
    *
    * `hashes` are the sorted distinct `mix64(fnv64(n-gram))` values —
    * the SAME hash chain as the one-shot faces, so a pool-served
    * membership decision is byte-identical to theirs; `n` travels with
    * the hashes because a pool applied at a different window width
    * would match a different space (apply faces re-derive windows from
    * the model's own `n`).
    */
  final case class ShinglePoolModel(n: Int, hashes: Array[Long]) {
    require(n >= 1, s"ShinglePoolModel: n must be >= 1, got $n")
    // the binary-search invariant is a CONSTRUCTION contract, not a
    // convention: a hand-built unsorted pool would silently miss
    // members instead of failing. One O(n) pass per construction
    // (fit/load/merge each run once per job).
    require({
      var i = 1; var ok = true
      while (ok && i < hashes.length) { ok = hashes(i - 1) < hashes(i); i += 1 }
      ok
    }, "ShinglePoolModel: hashes must be strictly increasing (sorted distinct)")

    def size: Int = hashes.length

    def contains(h: Long): Boolean =
      java.util.Arrays.binarySearch(hashes, h) >= 0

    /** Exact fold of two pools over the SAME n-gram width: the union
      * of two sorted distinct sets is merged in one pass, so chaining
      * `fit(A) merged fit(B)` equals `fit(A ∪ B)` exactly (DedupSpec
      * locks the equivalence).
      */
    def merged(other: ShinglePoolModel): ShinglePoolModel = {
      require(other.n == n,
        s"ShinglePoolModel.merged: window widths differ ($n vs ${other.n}) — " +
          "pools over different n-gram spaces cannot fold")
      val a = hashes; val b = other.hashes
      val out = new Array[Long](a.length + b.length)
      var i = 0; var j = 0; var k = 0
      while (i < a.length && j < b.length) {
        val v = if (a(i) <= b(j)) a(i) else b(j)
        if (a(i) == v) i += 1
        if (j < b.length && b(j) == v) j += 1
        if (k == 0 || out(k - 1) != v) { out(k) = v; k += 1 }
      }
      while (i < a.length) {
        if (k == 0 || out(k - 1) != a(i)) { out(k) = a(i); k += 1 }; i += 1
      }
      while (j < b.length) {
        if (k == 0 || out(k - 1) != b(j)) { out(k) = b(j); k += 1 }; j += 1
      }
      ShinglePoolModel(n, java.util.Arrays.copyOf(out, k))
    }
  }

  /** Build a [[ShinglePoolModel]] from a benchmark frame: distinct
    * shingle hashes, collected ONCE with a limit of `max + 1` and a
    * materialized-length check (count-then-collect would evaluate the
    * benchmark frame twice and let a nondeterministic frame slip the
    * ceiling between the two jobs), sorted for binary search.
    * `maxPoolShingles` must lie in [0, Int.MaxValue) — see
    * [[decontaminate]] for the checkability rationale.
    */
  def fitShinglePool(
      benchmark: DataFrame,
      benchTextCol: String,
      n: Int = 13,
      maxPoolShingles: Long = MaxExactPoolShingles,
  ): ShinglePoolModel = {
    require(n >= 1, s"fitShinglePool: n must be >= 1, got $n")
    ShinglePoolModel(n,
      collectShinglePool(benchmark, benchTextCol, n, maxPoolShingles,
        "fitShinglePool", "the Bloom faces (decontaminateBloom / decontaminateSpansBloom)"))
  }

  private def collectShinglePool(
      benchmark: DataFrame,
      benchTextCol: String,
      n: Int,
      max: Long,
      caller: String,
      bloomFace: String,
  ): Array[Long] = {
    // ceiling must be CHECKABLE: the limit(max + 1) probe collects at
    // most Int.MaxValue rows, so a max at or above it could never be
    // seen exceeded (and Long.MaxValue + 1 overflows negative) — any
    // exact pool near 2^31 hashes (16 GB broadcast) belongs on the
    // Bloom face anyway
    require(max >= 0 && max < Int.MaxValue.toLong,
      s"$caller: maxPoolShingles must be in [0, ${Int.MaxValue}), got $max — " +
        s"an exact pool that large cannot broadcast; use $bloomFace")
    val shingleHash = udf { (t: String) =>
      hashedShingles(t, n).map(mix64).distinct
    }
    val pool = benchmark
      .select(explode(shingleHash(col(benchTextCol))).as("g"))
      .distinct()
      .limit((max + 1).toInt)
      .collect()
      .map(_.getLong(0))
    require(pool.length <= max,
      s"$caller: benchmark pool exceeds $max distinct $n-gram shingles — a pool this " +
        s"large should not broadcast exactly; use $bloomFace (the Bloom face errs only " +
        "toward extra removal, the safe direction for decontamination)")
    java.util.Arrays.sort(pool)
    pool
  }

  /** [[decontaminate]] served from a frozen pool: the same
    * binary-search membership count per shingle, with the benchmark
    * scan replaced by the persisted model — stateless, shuffle-free,
    * streaming-safe.
    */
  def decontaminateWithPool(
      corpus: DataFrame,
      pool: ShinglePoolModel,
      textCol: String,
      maxSharedShingles: Int = 0,
  ): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(pool.hashes)
    val nn = pool.n
    val countShared = udf { (t: String) =>
      val p = bc.value
      var c = 0
      val grams = hashedShingles(t, nn).map(mix64).distinct
      var i = 0
      while (i < grams.length) {
        if (java.util.Arrays.binarySearch(p, grams(i)) >= 0) c += 1
        i += 1
      }
      c
    }
    corpus
      .withColumn("n_contaminated_grams", countShared(col(textCol)))
      .withColumn("is_clean", col("n_contaminated_grams") <= maxSharedShingles)
  }

  /** [[decontaminateSpans]] served from a frozen pool: the ONE
    * [[exciseKernel]] with the persisted sorted-hash membership
    * predicate — stateless per-row surgery, so it excises inside a
    * Structured Streaming plan exactly as in batch (StreamingSpec pins
    * stream ≡ batch).
    */
  def decontaminateSpansWithPool(
      corpus: DataFrame,
      pool: ShinglePoolModel,
      textCol: String,
      pad: Int = 0,
  ): DataFrame = {
    require(pad >= 0, s"decontaminateSpansWithPool: pad must be >= 0, got $pad")
    val bc = corpus.sparkSession.sparkContext.broadcast(pool.hashes)
    exciseColumns(corpus, textCol, pool.n, pad,
      h => java.util.Arrays.binarySearch(bc.value, h) >= 0)
  }

  /** Benchmark decontamination — the "don't train on the test set"
    * stage: for every corpus doc, count its word `n`-gram shingles
    * that appear ANYWHERE in the benchmark pool (the union of all
    * benchmark docs' shingles — standard n-gram-pool semantics), and
    * flag docs with more than `maxSharedShingles` as contaminated.
    *
    * Scale design: benchmarks are tiny next to the corpus (thousands
    * of eval docs vs billions of training docs), so the pool's
    * distinct 64-bit shingle hashes are collected and BROADCAST as
    * one sorted array (8 B per distinct benchmark shingle — a few MB
    * for every public benchmark together); the corpus side is then a
    * single shuffle-free scan with a binary-search membership count
    * per shingle. No join, no shuffle, no corpus-side state. A pool
    * beyond `maxPoolShingles` is a NAMED error pointing at
    * [[decontaminateBloom]], never a silent driver OOM.
    * `maxPoolShingles` must lie in [0, Int.MaxValue): the ceiling is
    * enforced with a limit-probe that can only observe up to 2^31−1
    * rows, so a larger value could never be seen exceeded — and an
    * exact pool that large (16 GB+ broadcast) belongs on the Bloom
    * face anyway. Passing e.g. `Long.MaxValue` as "uncapped" is a
    * NAMED error, not a silently unchecked limit.
    *
    * Output: every corpus row + `n_contaminated_grams` +
    * `is_clean`; filter on `is_clean` to drop.
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      benchTextCol: String,
      n: Int = 5,
      maxSharedShingles: Int = 0,
      maxPoolShingles: Long = MaxExactPoolShingles,
  ): DataFrame =
    // one-shot face = fit + pool-served apply (ONE kernel family, so
    // the frozen-pool path cannot drift from this one)
    decontaminateWithPool(
      corpus,
      ShinglePoolModel(n, collectShinglePool(benchmark, benchTextCol, n,
        maxPoolShingles, "decontaminate", "decontaminateBloom")),
      textCol, maxSharedShingles)

  /** [[decontaminate]] for benchmark pools too large to broadcast as
    * an exact array: the pool is reduced to a Bloom filter (mergeable
    * sketch, built with map-side partials — the benchmark side also
    * never collects raw) and membership tests overcount at ~`fpp`, so
    * `n_contaminated_grams` is an UPPER bound and `is_clean` can only
    * err toward dropping a clean doc (never toward keeping a
    * contaminated one) — the safe direction for decontamination.
    */
  def decontaminateBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      benchTextCol: String,
      expectedPoolShingles: Long,
      n: Int = 5,
      maxSharedShingles: Int = 0,
      fpp: Double = 0.001,
  ): DataFrame = {
    val spark = corpus.sparkSession
    val shingleHash = udf { (t: String) => hashedShingles(t, n).map(mix64).distinct }
    val bloom = benchmark
      .select(explode(shingleHash(col(benchTextCol))).as("g"))
      .stat
      .bloomFilter("g", math.max(1L, expectedPoolShingles), fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val countShared = udf { (t: String) =>
      val f = bc.value
      var c = 0
      val grams = hashedShingles(t, n).map(mix64).distinct
      var i = 0
      while (i < grams.length) {
        if (f.mightContainLong(grams(i))) c += 1
        i += 1
      }
      c
    }
    corpus
      .withColumn("n_contaminated_grams", countShared(col(textCol)))
      .withColumn("is_clean", col("n_contaminated_grams") <= maxSharedShingles)
  }

  /** Decontamination by SPAN EXCISION — remove the contaminated
    * n-gram windows and KEEP the document, instead of flagging or
    * dropping it whole ([[decontaminate]]): the contamination-surgery
    * recipe of the large open pipelines (a crawled page quoting one
    * benchmark question is stripped of the quote, not discarded with
    * its surrounding prose). Every corpus token covered by a window
    * whose shingle hash appears in the benchmark pool — widened by
    * `pad` tokens each side, clamped to the document — is excised;
    * overlapping and adjacent matches merge naturally through the
    * per-token cover mask. Output: every input row +
    * `clean_text` (kept tokens joined by single spaces — the same
    * whitespace/punctuation NORMALIZATION as [[spanDedup]]'s rebuild,
    * because excision is token-level by construction),
    * `n_kept_tokens`, `n_excised_tokens`, and `n_matched_windows`
    * (pre-merge match count, the audit column). Null / sub-n-token
    * documents pass through unmatched (their tokens all keep).
    *
    * Scale shape: strictly better than [[spanDedup]] — the pool side
    * is bounded and BROADCAST (sorted distinct 64-bit hashes, the
    * [[decontaminate]] contract), so the corpus side is ONE
    * shuffle-free per-row kernel: tokenize, hash the windows in
    * place, binary-search each against the pool, excise, rebuild.
    * No explode, no groupBy rebuild, zero exchanges at any corpus
    * size (PlanShapeSpec pins it). Matching semantics are
    * position-aligned [[TextHash.hashedShingles]] + [[mix64]] —
    * byte-identical to the pool build, so a window matches iff the
    * flagging face would have counted it.
    *
    * `maxPoolShingles` must lie in [0, Int.MaxValue) — see
    * [[decontaminate]] for why the ceiling must stay below 2^31
    * (checkability of the limit-probe; a pool that large belongs on
    * [[decontaminateSpansBloom]]).
    */
  def decontaminateSpans(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      benchTextCol: String,
      n: Int = 13,
      pad: Int = 0,
      maxPoolShingles: Long = MaxExactPoolShingles,
  ): DataFrame = {
    require(n >= 1, s"decontaminateSpans: n must be >= 1, got $n")
    require(pad >= 0, s"decontaminateSpans: pad must be >= 0, got $pad")
    decontaminateSpansWithPool(
      corpus,
      ShinglePoolModel(n, collectShinglePool(benchmark, benchTextCol, n,
        maxPoolShingles, "decontaminateSpans", "decontaminateSpansBloom")),
      textCol, pad)
  }

  /** The ONE excision kernel behind [[decontaminateSpans]] and
    * [[decontaminateSpansBloom]] — only the pool-membership predicate
    * differs between the faces, and DedupSpec locks their relation
    * (Bloom's excised set ⊇ exact's), so a single implementation is
    * what keeps a future pad/mask/rebuild fix from breaking that
    * locked relation one-sidedly. Tokenizes ONCE (the window hashes
    * stream off the same token array).
    */
  private def exciseKernel(
      t: String,
      n: Int,
      pad: Int,
      inPool: Long => Boolean): (String, Long, Long, Long) = {
    val toks = graft.textutil.TextHash.tokenize(if (t == null) "" else t)
    val windows = graft.textutil.TextHash.hashedShinglesFromToks(toks, n) // position-aligned
    val covered = new Array[Boolean](toks.length)
    var matched = 0L
    var i = 0
    while (i < windows.length) {
      if (inPool(mix64(windows(i)))) {
        matched += 1
        var j = math.max(0, i - pad)
        val hi = math.min(toks.length - 1, i + n - 1 + pad)
        while (j <= hi) { covered(j) = true; j += 1 }
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder
    var kept = 0L
    i = 0
    while (i < toks.length) {
      if (!covered(i)) {
        if (kept > 0) sb.append(' ')
        sb.append(toks(i))
        kept += 1
      }
      i += 1
    }
    (sb.toString, kept, toks.length - kept, matched)
  }

  /** Shared output plumbing of the excision faces: run
    * [[exciseKernel]] per row and expand the struct into the four
    * audit columns (all counts BIGINT, schema-uniform).
    */
  private def exciseColumns(
      corpus: DataFrame,
      textCol: String,
      n: Int,
      pad: Int,
      inPool: Long => Boolean): DataFrame = {
    val excise = udf { (t: String) => exciseKernel(t, n, pad, inPool) }
    val fields = Seq("clean_text", "n_kept_tokens", "n_excised_tokens", "n_matched_windows")
    val flagged = corpus.withColumn("__dx", excise(col(textCol)))
    fields.zipWithIndex.foldLeft(flagged) { case (d, (f, ix)) =>
      d.withColumn(f, col(s"__dx._${ix + 1}"))
    }.drop("__dx")
  }

  /** [[decontaminateSpans]] for benchmark pools too large to
    * broadcast exactly — the same exact↔Bloom axis as
    * [[decontaminate]]/[[decontaminateBloom]]: the pool reduces to a
    * Bloom filter (map-side partials, no benchmark-side collect) and
    * window membership overcounts at ~`fpp`, so excision can only err
    * toward REMOVING a clean window (~`fpp · windows-per-doc` extra
    * tokens lost per document) — never toward keeping a contaminated
    * one, the safe direction for decontamination. Same per-token
    * cover-mask kernel and output columns as the exact face
    * (spec-locked superset relation on the excised sets).
    */
  def decontaminateSpansBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      benchTextCol: String,
      expectedPoolShingles: Long,
      n: Int = 13,
      pad: Int = 0,
      fpp: Double = 0.001,
  ): DataFrame = {
    require(n >= 1, s"decontaminateSpansBloom: n must be >= 1, got $n")
    require(pad >= 0, s"decontaminateSpansBloom: pad must be >= 0, got $pad")
    val spark = corpus.sparkSession
    val shingleHash = udf { (t: String) => hashedShingles(t, n).map(mix64).distinct }
    val bloom = benchmark
      .select(explode(shingleHash(col(benchTextCol))).as("g"))
      .stat
      .bloomFilter("g", math.max(1L, expectedPoolShingles), fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    exciseColumns(corpus, textCol, n, pad, h => bc.value.mightContainLong(h))
  }

  // ----------------------------------------------------------- span dedup

  /** EMBEDDING-space decontamination: flag corpus documents whose
    * embedding is too close (cosine ≥ `threshold`) to ANY benchmark
    * embedding — the semantic companion of the n-gram
    * [[decontaminate]]: paraphrased or reformatted test questions
    * share no 5-gram with the original but land next to it in
    * embedding space. Same contract as the n-gram face: every corpus
    * row is returned with (`max_benchmark_cosine`, `is_clean`) so the
    * caller can audit the margin before dropping.
    *
    * Scale shape: the benchmark pool (eval suites — thousands of
    * rows, not corpus-scale) is COLLECTED and broadcast exactly like
    * [[decontaminate]]'s shingle pool; each corpus row then scans the
    * pool in a shuffle-free per-row kernel — |pool| fused dot/norm
    * loops per document, zero exchanges, the right shape for a 100 TB
    * corpus against a bounded benchmark. The `maxBenchmarkRows`
    * ceiling makes an oversized pool a diagnosable failure (for
    * benchmark sets beyond broadcast, go through
    * [[graft.operators.Quantize.signPack]] +
    * [[graft.operators.Similarity.hammingTopK]] and threshold the
    * re-ranked cosine).
    *
    * Arithmetic replays DuckDB's `list_cosine_similarity` bit-for-bit
    * (float elements widened to double, sequential accumulation,
    * `dot / (√nx · √ny)` clamped to [-1, 1]) — the same numeric
    * contract the q21 oracle pins for [[Similarity.bruteForceTopK]],
    * which is what lets the q138 gate hash-compare
    * `max_benchmark_cosine` exactly. Zero-norm vectors score 0 against everything (never
    * contaminated); a benchmark vector of a different width than a
    * corpus vector is a named error, not silent truncation.
    */
  def decontaminateEmbedding(
      corpus: DataFrame,
      benchmark: DataFrame,
      vecCol: String,
      benchVecCol: String,
      threshold: Double = 0.99,
      maxBenchmarkRows: Long = 100000L,
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0, 1]: $threshold")
    val spark = corpus.sparkSession
    // collect ONCE, ceiling+1-limited, and check the materialized
    // length — a separate count-then-collect evaluates the benchmark
    // frame twice and lets a nondeterministic frame slip past the
    // ceiling between the two jobs (the filterBlockedHosts pattern)
    val pool: Array[Array[Float]] = benchmark
      .select(col(benchVecCol))
      .limit(math.min(maxBenchmarkRows + 1, Int.MaxValue.toLong).toInt)
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(pool.length <= maxBenchmarkRows,
      s"decontaminateEmbedding: benchmark exceeds $maxBenchmarkRows rows — a pool this " +
        "large should not broadcast; quantize it (signPack + hammingTopK) and threshold " +
        "the re-ranked cosine instead")
    val bc = spark.sparkContext.broadcast(pool)
    val maxCos = udf { (v: Array[Float]) =>
      if (v == null) 0.0
      else {
        val x = v
        // true max (not clamped at 0) so the column replays SQL max()
        // even when every benchmark similarity is negative
        var best = Double.NegativeInfinity
        val p = bc.value
        var j = 0
        while (j < p.length) {
          val y = p(j)
          require(y.length == x.length,
            s"decontaminateEmbedding: benchmark vector width ${y.length} != corpus width ${x.length}")
          // the ONE DuckDB-parity cosine kernel (Similarity.cosineKernel:
          // per-ulp `list_cosine_similarity` agreement) — the q138 and
          // q21 oracles pin the same numerics, so they share the code
          val c = Similarity.cosineKernel(x, y)
          if (c > best) best = c
          j += 1
        }
        if (p.isEmpty) 0.0 else best
      }
    }
    corpus
      .withColumn("max_benchmark_cosine", maxCos(col(vecCol)))
      .withColumn("is_clean", col("max_benchmark_cosine") < threshold)
  }

  /** C4-style EXACT span dedup: any `k`-token span whose verbatim
    * text occurs elsewhere in the corpus keeps only its FIRST
    * occurrence (minimum (doc, position) lexicographically); every
    * other occurrence's token positions are dropped and each document
    * is reassembled from its surviving tokens. This removes repeated
    * boilerplate (headers, license blocks, navigation) at
    * sub-document granularity — document-level dedup never sees it.
    *
    * Semantics (locked by the DuckDB oracle, q61 — pure
    * string/integer ops, so the cross-engine comparison is exact):
    *   - tokens = `lower(text)` split on `[^\p{L}\p{N}_]+`, empties dropped
    *   - spans = every consecutive `k`-token window (docs with < k
    *     tokens have none and pass through)
    *   - a position is dropped iff covered by ANY non-first
    *     occurrence of a duplicated span (the kept occurrence does
    *     not shield overlapping drops — simplest total rule)
    *   - output text = surviving tokens joined by one space
    *
    * Scale shape: one explode to k-gram spans (linear ×1 rows — the
    * span STRING is never materialized; spans group on a 64-bit
    * streamed hash), one aggregation for first-occurrence winners
    * (map-side partial min), one join back, one per-doc rebuild
    * aggregation. Hash collisions across distinct span texts are the
    * usual 2⁻⁶⁴ near-impossibility (and would only drop an extra
    * span); the ORACLE groups on full span text — agreement at test
    * scale is itself the collision check.
    */
  def spanDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
  ): DataFrame = {
    require(k >= 1, "span length must be ≥ 1")
    // ONE scan tokenizes and hashes; spans, token positions, and the
    // final id frame all project from this persisted base, so an
    // upstream filter/redact pipeline executes once (the span-hash
    // expression's tokenization is spec-locked ≡ the `w` split, so
    // positions align)
    val base = df
      .select(
        col(idCol).as("id"),
        expr(s"filter(split(lower($textCol), '[^\\\\p{L}\\\\p{N}_]+'), x -> x != '')").as("w"),
        graft.functions.TextSignatures.shingleHashes(col(textCol), k).as("hashes"),
      )
      .persist()
    val toks = base.select(col("id"), col("w"))
    val spans = base
      .select(col("id"), posexplode(col("hashes")))
      .withColumnRenamed("pos", "i")
      .withColumnRenamed("col", "span")
    val winners = spans
      .groupBy("span")
      .agg(min(struct(col("id"), col("i"))).as("keep"), count(lit(1)).as("occ"))
      .where(col("occ") > 1) // unique spans never drop anything
      .select(col("span"), col("keep"))
    val removed = spans
      .join(winners, "span")
      .where(struct(col("id"), col("i")) =!= col("keep"))
      .select(col("id"), explode(expr(s"sequence(i, i + ${k - 1})")).as("p"))
      .distinct()
    val kept = toks
      .select(col("id"), posexplode(col("w")))
      .withColumnRenamed("pos", "p")
      .withColumnRenamed("col", "tok")
      .join(removed, Seq("id", "p"), "left_anti")
    val rebuilt = kept
      .groupBy("id")
      .agg(
        concat_ws(
          " ",
          expr("transform(array_sort(collect_list(struct(p, tok))), s -> s.tok)"),
        ).as("clean_text"),
        count(lit(1)).as("n_kept_tokens"),
      )
    // every input doc surfaces — fully-dropped or token-less docs
    // come back empty, not missing
    val out = base
      .select(col("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept_tokens"), lit(0L)).as("n_kept_tokens"),
      )
    materializeAndRelease(out, base)
  }

  /** MAXIMAL-EXTENT duplicate reporting — the reporting face the
    * documented suffix-array skip (NOTES round 8) conceded: instead of
    * REMOVING fixed k-token windows ([[spanDedup]]), report each
    * document's maximal duplicated REGIONS as (start_pos, end_pos)
    * token intervals, built by merging overlapping/adjacent duplicated
    * windows per document. A run of duplicated text longer than k
    * surfaces as ONE extent (its windows chain: consecutive duplicated
    * starts ≤ k apart merge), which is what a suffix array's
    * variable-length duplicate report would have given — without the
    * suffix array.
    *
    * Semantics (DuckDB-replayed, q105 — exact integer ops):
    *   - tokens/spans/winners exactly as [[spanDedup]] (1-BASED span
    *     start positions; a span is duplicated if its text occurs > 1
    *     times corpus-wide; the first (doc, i) occurrence is the kept
    *     one and is NOT reported)
    *   - per doc, duplicated starts i sorted; a new extent begins when
    *     `i - prev_i > k` (≤ k means the windows overlap or touch);
    *     extent = [min i, max i + k - 1], length = end - start + 1
    *
    * Scale shape: identical to [[spanDedup]]'s first half (explode to
    * hashed spans, one aggregation for winners, one join back) plus
    * one per-document window pass over DUPLICATED positions only —
    * a small fraction of the corpus in any non-degenerate input.
    */
  def duplicateExtents(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
  ): DataFrame = {
    require(k >= 1, "span length must be ≥ 1")
    val spans = df
      .select(
        col(idCol).as("id"),
        graft.functions.TextSignatures.shingleHashes(col(textCol), k).as("hashes"))
      .select(col("id"), posexplode(col("hashes")))
      .select(col("id"), (col("pos") + 1).cast("long").as("i"), col("col").as("span"))
    val winners = spans
      .groupBy("span")
      .agg(min(struct(col("id"), col("i"))).as("keep"), count(lit(1)).as("occ"))
      .where(col("occ") > 1)
      .select(col("span"), col("keep"))
    val dup = spans
      .join(winners, "span")
      .where(struct(col("id"), col("i")) =!= col("keep"))
      .select(col("id"), col("i"))
    val w = Window.partitionBy(col("id")).orderBy(col("i"))
    dup
      .withColumn(
        "__gap",
        when(col("i") - lag(col("i"), 1).over(w) > k, lit(1)).otherwise(lit(0)))
      .withColumn("__island", sum(col("__gap")).over(w))
      .groupBy(col("id"), col("__island"))
      .agg(min(col("i")).as("start_pos"), (max(col("i")) + lit(k - 1)).as("end_pos"))
      .select(
        col("id"),
        col("start_pos"),
        col("end_pos"),
        (col("end_pos") - col("start_pos") + 1).as("n_dup_tokens"),
      )
  }

  /** CCNet-style LINE-level exact dedup (Wenzek et al., LREC 2020 —
    * CCNet's first stage hashes paragraphs/lines and drops repeats
    * corpus-wide): every line whose TRIMMED text repeats anywhere
    * keeps only its first occurrence (global (doc, position) order);
    * docs are rebuilt from surviving lines in position order. Lines
    * shorter than `minLineChars` after trimming (blank separators,
    * bullets) are always kept — deduping those would shred structure
    * for no curation gain.
    *
    * Scale shape mirrors [[spanDedup]]: one posexplode to lines, one
    * first-occurrence aggregation keyed on the trimmed line (map-side
    * partial min — a boilerplate line shared by millions of docs
    * reduces to one (min, count) per partition before shuffling), one
    * join-back, one per-doc ordered rebuild. The corpus text shuffles
    * once, keyed by line.
    *
    * Pure string semantics — oracle-exact (q80).
    */
  def lineDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLineChars: Int = 5,
  ): DataFrame =
    unitDedup(df, idCol, textCol, minLineChars, "\n", "\n", "n_kept_lines", Nil)

  /** [[lineDedup]] carrying extra per-document columns of `df`
    * through to the output (r22, guide §2.4): the rebuild's final
    * join against the input already exchanges both sides on id, so a
    * pipeline that needs attribute columns back (webIngest re-attaches
    * url/lang metadata) rides that join instead of paying a second
    * id-keyed join of the corpus against an attrs projection.
    */
  private[graft] def lineDedupCarry(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLineChars: Int,
      carry: Seq[String],
  ): DataFrame =
    unitDedup(df, idCol, textCol, minLineChars, "\n", "\n", "n_kept_lines", carry)

  /** PARAGRAPH-level exact dedup — the Dolma-recipe granularity
    * (Soldaini et al. 2024 dedup paragraphs corpus-wide; boilerplate
    * usually repeats as whole blocks, and line granularity shreds a
    * block whose first line alone recurs): units are runs split on
    * blank lines (`\n{2,}`), rebuilt with `"\n\n"`. Same
    * first-occurrence keep rule, scale shape, and oracle-exact string
    * semantics as [[lineDedup]] — one shared implementation.
    */
  def paragraphDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minParagraphChars: Int = 5,
  ): DataFrame =
    unitDedup(df, idCol, textCol, minParagraphChars, "\\n{2,}", "\n\n",
      "n_kept_paragraphs", Nil)

  /** [[paragraphDedup]] with carried columns — see [[lineDedupCarry]]. */
  private[graft] def paragraphDedupCarry(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minParagraphChars: Int,
      carry: Seq[String],
  ): DataFrame =
    unitDedup(df, idCol, textCol, minParagraphChars, "\\n{2,}", "\n\n",
      "n_kept_paragraphs", carry)

  /** The shared unit-granular exact-dedup machinery behind
    * [[lineDedup]] / [[paragraphDedup]]: posexplode on `splitRe`,
    * first-occurrence winner per trimmed unit (global (doc, position)
    * order, map-side partial min), keep-decision by a LEFT join of
    * the units against the winner table ON THE SAME exchange the
    * winner aggregation consumed, per-doc ordered rebuild joined with
    * `joinSep`. Units shorter than `minChars` after trimming are
    * always kept.
    *
    * Join-once shape (r22, guide §2.4): winners and the keep-decision
    * both hang off ONE exchange of the exploded units keyed by the
    * trimmed text — the former spelling exploded the corpus once for
    * the winner aggregation and AGAIN for a (key)-join plus an
    * (id, p) anti-join, i.e. three exchanges of the exploded corpus
    * and two extra passes. A unit is kept iff its key has no winner
    * row (unique, or under `minChars`) or it IS the winner
    * (first-occurrence (id, p)) — exactly the old anti-join
    * semantics, restated as one streaming filter on the joined rows
    * (the winner side is one row per duplicated key; no per-key
    * buffering anywhere, so the hot-boilerplate-line skew behavior is
    * unchanged).
    */
  private def unitDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minChars: Int,
      splitRe: String,
      joinSep: String,
      nKeptCol: String,
      carry: Seq[String],
  ): DataFrame = {
    val lines = df
      .select(col(idCol).as("id"), posexplode(split(col(textCol), splitRe)))
      .withColumnRenamed("pos", "p")
      .withColumnRenamed("col", "line")
      .withColumn("key", trim(col("line")))
    // winner per DEDUPABLE unit key: the `length(key) >= minChars`
    // guard lives in the post-agg filter (key is the group key, so the
    // predicate is group-constant) — keeping the aggregation input
    // identical to the join input below lets the two share one
    // exchange instead of exchanging a filtered copy separately
    val winners = lines
      .groupBy("key")
      .agg(min(struct(col("id"), col("p"))).as("keep"), count(lit(1)).as("occ"))
      .where(col("occ") > 1 && length(col("key")) >= minChars)
      .select(col("key"), col("keep"))
    val kept = lines
      .join(winners, Seq("key"), "left")
      .where(col("keep").isNull || struct(col("id"), col("p")) === col("keep"))
    val rebuilt = kept
      .groupBy("id")
      .agg(
        concat_ws(
          joinSep,
          expr("transform(array_sort(collect_list(struct(p, line))), s -> s.line)"),
        ).as("clean_text"),
        count(lit(1)).as(nKeptCol),
      )
    // every input doc surfaces — fully-dropped docs come back empty;
    // carried columns ride this join (both sides already exchange on
    // id), so callers re-attaching metadata pay no second corpus join
    df.select(col(idCol).as("id") +: carry.map(col): _*)
      .join(rebuilt, Seq("id"), "left")
      .select(
        Seq(
          col("id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          coalesce(col(nKeptCol), lit(0L)).as(nKeptCol),
        ) ++ carry.map(col): _*)
  }

  // ------------------------------------------------- connected components

  /** Transitive duplicate groups: (id, component) where component =
    * min id reachable through any chain of pairs. Both execution
    * branches return the SAME schema: `id` and `component` keep the
    * input's `id_a` type untouched.
    *
    * Hybrid execution: the input here is the VERIFIED near-dup pair
    * set, which is orders of magnitude smaller than the corpus — up
    * to `driverMaxPairs` pairs it is collected and solved exactly
    * with a dense primitive-int union-find (ids of ANY Catalyst
    * orderable type are dictionary-encoded to ints first; no numeric
    * cast, no boxed maps on the hot path), which costs one job
    * instead of O(diameter) iterative join rounds (each round is
    * several fixed-overhead stages — the iterative path was 10+
    * seconds of pure stage latency on a 300-pair graph). Driver cost
    * at the default cap: 1 M collected Rows transiently (~100-200 MB)
    * plus 8 B/node of union-find state — sized so the collect stays
    * well under typical driver heads-room; beyond the threshold it
    * falls back to distributed min-label propagation, which never
    * collects.
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIterations: Int = 30,
      driverMaxPairs: Long = 1000000L,
  ): DataFrame = {
    val spark = pairs.sparkSession
    val n = pairs.count()
    if (n <= driverMaxPairs) {
      val idType = pairs.schema("id_a").dataType
      require(
        pairs.schema("id_b").dataType == idType,
        s"id_a/id_b types differ: $idType vs ${pairs.schema("id_b").dataType}",
      )
      val edges = pairs.select(col("id_a"), col("id_b")).collect()
      // dictionary-encode ids to dense ints: primitive union-find,
      // original values (any type) kept for the output
      val index = new java.util.HashMap[Any, Integer]()
      val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
      def idx(v: Any): Int = {
        val e = index.get(v)
        if (e != null) e.intValue()
        else {
          val i = ids.length
          index.put(v, Integer.valueOf(i))
          ids += v
          i
        }
      }
      val ea = new Array[Int](edges.length)
      val eb = new Array[Int](edges.length)
      var i = 0
      while (i < edges.length) {
        ea(i) = idx(edges(i).get(0))
        eb(i) = idx(edges(i).get(1))
        i += 1
      }
      val parent = Array.tabulate(ids.length)(identity)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) } // path halving
        x
      }
      i = 0
      while (i < edges.length) {
        val ra = find(ea(i))
        val rb = find(eb(i))
        if (ra != rb) parent(ra) = rb
        i += 1
      }
      // component label = minimum member id (same semantics as the
      // distributed min-label propagation). Catalyst orderable ids
      // surface as Comparable JVM values (numbers, strings, decimals,
      // timestamps), so compare them directly.
      def lt(a: Any, b: Any): Boolean = a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
      val minIdx = Array.tabulate(ids.length)(identity)
      i = 0
      while (i < ids.length) {
        val r = find(i)
        if (lt(ids(i), ids(minIdx(r)))) minIdx(r) = i
        i += 1
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](ids.length)
      i = 0
      while (i < ids.length) {
        rows.add(org.apache.spark.sql.Row(ids(i), ids(minIdx(find(i)))))
        i += 1
      }
      // nullability mirrors the input so both branches agree exactly
      val nullable = pairs.schema("id_a").nullable || pairs.schema("id_b").nullable
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType, nullable),
        org.apache.spark.sql.types.StructField("component", idType, nullable),
      ))
      return spark.createDataFrame(rows, schema)
    }
    alternatingConnectedComponents(pairs, maxIterations)
  }

  /** Distributed CC by ALTERNATING large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the scale fallback when the pair graph is
    * too large to collect.
    *
    * Why not min-label propagation: propagation needs O(graph
    * diameter) join rounds, and adversarial dedup graphs have long
    * chains (boilerplate a~b~c~… with no shortcut edges) — a 10 M-doc
    * chain would need 10 M rounds, so any fixed iteration cap
    * silently mislabels. The alternating algorithm contracts
    * components in O(log n) rounds REGARDLESS of diameter:
    *   - large-star: every node links its strictly-LARGER neighbors
    *     to the minimum of its closed neighborhood
    *   - small-star: every node links its smaller neighbors and
    *     itself to that minimum
    * Each round is one shuffle-agg (per-node min) + one join, on an
    * edge set that only shrinks toward the per-component star. At the
    * fixed point every edge is (member, component-min) — exactly the
    * label set. Ids of any orderable Catalyst type work (only
    * least/greatest/min are used; no numeric casts).
    */
  private[graft] def alternatingConnectedComponents(
      pairs: DataFrame,
      maxIterations: Int = 30,
  ): DataFrame = {
    // canonical directed edges hi→lo; self-loops gone, set semantics.
    // Each round references the previous round's frame ~5 times (the
    // symmetric view alone doubles it), so persist+count is NOT
    // enough — the LOGICAL plan would still grow ~5^rounds and the
    // driver chokes walking it. localCheckpoint truncates lineage to
    // a LogicalRDD: O(1) plan per round, the required shape for any
    // iterative DataFrame algorithm.
    var edges = pairs
      .select(
        greatest(col("id_a"), col("id_b")).as("hi"),
        least(col("id_a"), col("id_b")).as("lo"),
      )
      .where(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint(true)
    var edgeCount = edges.count()
    var converged = edgeCount == 0L
    var i = 0
    while (i < maxIterations && !converged) {
      // large-star over the symmetric neighbor view
      val sym = edges
        .select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym
        .groupBy("u")
        .agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = sym
        .join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
      // small-star over the directed hi→lo edges
      val smins = large.groupBy("hi").agg(min("lo").as("m"))
      val small = large
        .join(smins, "hi")
        .where(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(smins.select(col("hi"), col("m").as("lo")))
        .distinct()
        .localCheckpoint(true)
      val newCount = small.count()
      converged = newCount == edgeCount &&
        small.exceptAll(edges).limit(1).count() == 0L
      edges.unpersist(blocking = false)
      edges = small
      edgeCount = newCount
      i += 1
    }
    // fixed point = per-component star: hi is the member, lo the min
    val labels = edges
      .select(col("hi").as("id"), col("lo").as("component"))
      .union(edges.select(col("lo").as("id"), col("lo").as("component")).distinct())
    if (!converged && edgeCount > 0L) {
      // a non-fixed-point edge set can carry MULTIPLE labels per id;
      // downstream joins (dedup group ranking) would silently duplicate
      // rows and crown several keepers per group. Collapse to one label
      // per id — labels stay correct-but-coarser (a component may split
      // into several, never merge wrongly, since every emitted label is
      // a reachable member).
      Console.err.println(
        s"[graft] alternatingConnectedComponents: not converged after $maxIterations rounds; " +
          "collapsing to one min-label per id (components may be split, never merged)")
      labels.groupBy("id").agg(min("component").as("component"))
    } else labels
  }

  /** Distributed min-label propagation — kept as the reference
    * formulation the alternating algorithm is spec-checked against
    * (and for callers who KNOW their graph is shallow). Each
    * iteration is one hash join + one aggregation; convergence needs
    * O(graph diameter) iterations. Labels are persisted and
    * materialized per round to keep lineage flat.
    */
  private[graft] def distributedConnectedComponents(
      pairs: DataFrame,
      maxIterations: Int = 10,
  ): DataFrame = {
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    var labels = edges
      .select(col("src").as("id"))
      .distinct()
      .withColumn("component", col("id"))
      .persist()
    labels.count()
    var i = 0
    var converged = false
    while (i < maxIterations && !converged) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("component")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("component").as("ncomp"))
      val updated = labels
        .join(neighborMin, Seq("id"), "left")
        .select(
          col("id"),
          least(col("component"), coalesce(col("ncomp"), col("component"))).as("component"),
        )
        .persist()
      val changed = updated
        .join(labels.withColumnRenamed("component", "old"), "id")
        .where(col("component") =!= col("old"))
        .limit(1)
        .count()
      labels.unpersist(blocking = false)
      labels = updated
      labels.count() // materialize: flat lineage per round
      converged = changed == 0
      i += 1
    }
    edges.unpersist(blocking = false)
    labels
  }

  // ------------------------------------------------------------ pipeline

  /** One-call corpus cleaning — the composition a training-data
    * pipeline actually runs: exact dedup (keep min-id per identical
    * content), then MinHash near-dup removal (keep the canonical
    * member of each near-dup pair). Returns the surviving rows of
    * `df` unchanged in schema.
    *
    * Near-dup removal uses one-step canonicalization (drop any doc
    * whose id is the larger member of a verified pair) — for chains
    * a~b~c without a~c this keeps a and drops b,c, which is the
    * standard keep-first approximation; a full connected-components
    * pass (iterative) is deliberately out of scope for one call.
    *
    * The returned survivor frame is eagerly materialized at the
    * stage boundary per `materialize` (downstream stages like
    * chunking consume it immediately and the upstream
    * filter/redact/dedup chain must not re-execute per consumer):
    * the default [[Materialize.LocalCheckpoint]] keeps blocks in
    * executor storage (freed on GC, callers owe no `unpersist`, NO
    * recovery from executor loss); pass
    * [[Materialize.ParquetDir]] to land the survivors durably — the
    * 100 TB/preemptible-executor face, where rerunning the whole
    * dedup on one lost executor is unaffordable.
    */
  def cleanCorpus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      jaccardThreshold: Double = 0.8,
      transitive: Boolean = false,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3,
      materialize: Materialize = Materialize.LocalCheckpoint,
  ): DataFrame =
    cleanCorpusHooked(df, idCol, textCol, jaccardThreshold, transitive, materialize, identity,
      numHashes, bands, shingleSize)

  /** [[cleanCorpus]] with `exactHook` applied to the exact-dedup
    * survivor rows (`df`'s schema, keep-min-id per content hash)
    * before the signature projection reads them — the
    * `exact_dedup` boundary of [[CorpusPipeline]]'s attrition
    * reports, taken from the fused pass itself. The frame the hook
    * returns is what the near-dup pass consumes.
    */
  private[graft] def cleanCorpusHooked(
      df: DataFrame,
      idCol: String,
      textCol: String,
      jaccardThreshold: Double,
      transitive: Boolean,
      materialize: Materialize,
      exactHook: DataFrame => DataFrame,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3,
  ): DataFrame = {
    // FUSED exact + near-dup pass: the exact-dedup window and the
    // MinHash signature are computed around ONE exchange of the
    // corpus — md5 upstream of the window, tokenize/shingle on the
    // window's survivors in the same stage — and ONE persisted frame
    // (survivor rows + signature struct) feeds banding, verification,
    // and the final anti-join. The upstream chain (often filter/
    // redact UDFs in a pipeline) runs exactly once; the unfused form
    // paid a second text scan for the signature pass and a second
    // persist of the survivor rows.
    val grp = Window.partitionBy(col("__content_hash"))
    val exact = exactHook(df
      .withColumn("__content_hash", md5(col(textCol)))
      .withColumn("__canonical_id", min(col(idCol)).over(grp))
      .where(col(idCol) === col("__canonical_id"))
      .select(df.columns.map(col): _*))
    val withSig = exact
      .select(df.columns.map(col) :+
        minHashPrep(col(textCol), numHashes, shingleSize).as("__p"): _*)
      .persist()
    val sets = withSig
      .select(col(idCol).as("id"), col("__p.sig").as("sig"), col("__p.grams").as("grams"))
      .where(size(col("grams")) > 0)
    val (pairs0, bucketHandle) =
      minHashPairsFromSets(sets, numHashes, bands, jaccardThreshold, maxBucketSize = 1000)
    val pairs = materializeAndRelease(pairs0, bucketHandle)
    val nearDupLosers =
      if (transitive)
        // full connected components: drop every non-minimum member of
        // each transitive group (handles a~b~c chains without a~c)
        connectedComponents(pairs)
          .where(col("id") =!= col("component"))
          .select(col("id").as("loser"))
      else
        pairs.select(col("id_b").as("loser")).distinct()
    val out = withSig
      .join(nearDupLosers, withSig(idCol) === nearDupLosers("loser"), "left_anti")
      .select(df.columns.map(col): _*)
    val landed = Materialize(out, materialize)
    Seq(withSig, pairs).foreach(_.unpersist(blocking = false))
    landed
  }

  /** Near-dup dedup with QUALITY-RANKED representative selection —
    * the near-dup counterpart of [[exactDedupBest]]: group near-dup
    * docs into transitive clusters (MinHash banding → exact-Jaccard
    * verify → connected components), then crown the BEST member of
    * each cluster under `prefer` (e.g. `Seq(col("quality").desc)` or
    * `Seq(length(col(textCol)).desc)`; ties broken by min id so the
    * choice is total). [[cleanCorpus]]'s keep-min-id is the right
    * default for reproducibility; this is the operator for pipelines
    * that rank scrapes by completeness or a quality score — keeping
    * whichever copy crawled first throws away the best copy.
    *
    * Output: every input row + (component, group_size, is_kept).
    * `component` is the cluster label (the cluster's minimum id;
    * singletons label themselves), `group_size` the cluster member
    * count, `is_kept` true for exactly one row per cluster.
    *
    * Scale shape: the pair path is [[minHashNearDupPairs]] (banded
    * candidates, skew-capped, exact verify — never all-pairs);
    * components run over VERIFIED PAIRS only (tiny vs the corpus);
    * the label join back is an equi-join on id (labels frame ≤ 2·
    * pairs, broadcastable in practice); ranking is one exchange on
    * `component`, whose partitions are duplicate clusters — bounded
    * by near-dup group size, not corpus size.
    */
  def nearDupKeepBest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      prefer: Seq[Column],
      jaccardThreshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3,
      maxBucketSize: Int = 1000,
  ): DataFrame = {
    val pairs = minHashNearDupPairs(
      df, idCol, textCol, numHashes, bands, shingleSize, jaccardThreshold, maxBucketSize)
    val labels = connectedComponents(pairs)
      .withColumnRenamed("id", "__cc_id")
      .withColumnRenamed("component", "__cc_component")
    val labeled = df
      .join(labels, df(idCol) === labels("__cc_id"), "left")
      .withColumn("component", coalesce(col("__cc_component"), col(idCol)))
      .drop("__cc_id", "__cc_component")
    val grp = Window.partitionBy(col("component"))
    val rank = grp.orderBy(prefer :+ col(idCol).asc: _*)
    labeled
      .withColumn("group_size", count(lit(1)).over(grp))
      .withColumn("is_kept", row_number().over(rank) === 1)
  }

  // ----------------------------------------------------------- shared bits

  /** All unordered id pairs co-occurring in a bucket, skew-capped.
    * Distinct merges pairs found in several buckets. Returns
    * (pairs, cacheHandle) — the handle is the persisted (id, bucket)
    * frame backing the three uses below; callers release it via
    * [[materializeAndRelease]] once the verified result is
    * materialized.
    */
  private[graft] def bucketedCandidatePairs(
      idBucket: DataFrame, // columns: id, bucket
      maxBucketSize: Int,
  ): (DataFrame, DataFrame) = {
    val (raw, handle) = bucketedCandidatePairsRaw(idBucket, maxBucketSize)
    (raw.distinct(), handle)
  }

  /** Same, WITHOUT the distinct — pairs co-occurring in several
    * buckets appear several times. Use when the downstream verify is
    * cheaper per candidate than a full-candidate-set shuffle and
    * dedupe after the (selective) verify filter instead.
    *
    * Skew safety (the 100 TB property): bucket populations come from
    * ONE window count over the bucket-keyed exchange and oversized
    * buckets are dropped before any id list exists anywhere. Pair
    * expansion is then a self-equi-join ON bucket, which streams
    * pairs out of each bucket in parallel instead of exploding a
    * driver-sized array out of a single aggregation row. No task ever
    * holds a whole bucket beyond the window's count buffer, which the
    * cap bounds for every SURVIVING bucket; an over-cap bucket's rows
    * are buffered once in its window partition before the filter
    * drops them (spill-backed — the same trade [[writeSignatures]]
    * took in r21 for the same exchange saving).
    *
    * Exchange shape (r22, guide §2.4): the former spelling persisted
    * the (id, bucket) frame and ran THREE bucket-keyed exchanges over
    * it (count aggregation + both self-join legs) plus a counts join;
    * the window form keys the exchange once — both self-join legs
    * canonicalize to the same shuffle, which AQE's stage cache
    * deduplicates at runtime — and drops the cache materialization of
    * the banded corpus entirely. The second element of the returned
    * pair is the caller-release handle (kept for API stability; with
    * no persist it is now a no-op unpersist).
    *
    * NOTE the cap is a RECALL-LOSING approximation on skewed corpora:
    * a qualifying pair whose only shared bucket is oversized (e.g.
    * its sole common shingle is boilerplate shared by millions of
    * docs) is silently lost. Use [[droppedBucketStats]] to observe how
    * much the cap is discarding on a given corpus.
    */
  private[graft] def bucketedCandidatePairsRaw(
      idBucket: DataFrame,
      maxBucketSize: Int,
  ): (DataFrame, DataFrame) = {
    // every generator in this file emits DISTINCT (id, bucket) rows,
    // so count(*) per bucket == distinct-id count per bucket
    val w = Window.partitionBy(col("bucket"))
    val kept = idBucket
      .withColumn("__bucket_n", count(lit(1)).over(w))
      .where(col("__bucket_n").between(2L, maxBucketSize.toLong))
      .select(col("bucket"), col("id"))
    val pairs = kept
      .select(col("bucket"), col("id").as("id_a"))
      .join(kept.select(col("bucket"), col("id").as("id_b")), "bucket")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    (pairs, idBucket)
  }

  /** Observability for the skew cap: one row per OVERSIZED bucket
    * (`bucket`, `bucket_n`) that [[bucketedCandidatePairsRaw]] would
    * drop at `maxBucketSize`. Aggregate or count it alongside a dedup
    * job to quantify the recall loss on a skewed corpus.
    */
  def droppedBucketStats(idBucket: DataFrame, maxBucketSize: Int): DataFrame =
    idBucket
      .groupBy("bucket")
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucketSize)

  private def perDocSummary(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val partners = pairs
      .select(col("id_a").as("id"), col("id_b").as("partner"))
      .union(pairs.select(col("id_b").as("id"), col("id_a").as("partner")))
      .groupBy("id")
      .agg(count(lit(1)).as("near_dup_count"), min("partner").as("min_partner"))
    df.select(col(idCol).as("id"))
      .join(partners, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("near_dup_count"), lit(0L)).as("near_dup_count"),
        least(col("id"), coalesce(col("min_partner"), col("id"))).as("canonical_id"),
      )
  }

  /** Word n-gram shingles. Documents with fewer than `n` tokens yield
    * NO shingles — same semantics as the q18 DuckDB oracle's
    * `range(1, len(w)-1)` gram construction, which produces an empty
    * set for sub-n-token documents (so short docs never pair in either
    * engine).
    */
  private[graft] def wordShingles(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty
    val toks = tokenize(text)
    if (toks.length < n) Array.empty
    else Array.tabulate(toks.length - n + 1)(i => toks.slice(i, i + n).mkString(" "))
  }

  /** `lower(text).split(TextHash.WordSplitRe).filter(_.nonEmpty)`
    * without the regex engine: one code-point scan with the exact
    * Unicode `[\p{L}\p{N}_]` class (identical in Java regex and
    * DuckDB RE2). The signature UDFs run this once per document per
    * operator, so at corpus scale the regex engine was measurable
    * pure overhead.
    */
  private[graft] def tokenize(text: String): Array[String] =
    graft.textutil.TextHash.tokenize(text)

  /** `wordShingles(text, n).map(fnv64)` WITHOUT materializing the
    * shingle strings — see [[graft.textutil.TextHash.hashedShingles]]
    * (the implementation moved there so the native signature
    * expressions and the streaming state operators share one kernel).
    */
  private[graft] def hashedShingles(text: String, n: Int): Array[Long] =
    graft.textutil.TextHash.hashedShingles(text, n)

  /** Eagerly materialize `result` (localCheckpoint — truncates
    * lineage), then release the (wide) intermediate handles so
    * repeated operator invocations in a long-lived session don't
    * accumulate executor storage. Checkpoint blocks — unlike a
    * `persist`, which pins a CacheManager entry forever with no
    * caller obligated to release it — are reference-tracked and freed
    * once the returned frame is dropped; callers owe no `unpersist`.
    * Trade: checkpointed partitions cannot recompute from lineage
    * after storage loss (rerun the operator in that case — same
    * contract as the blocked-broadcast passes).
    */
  private def materializeAndRelease(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    intermediates.foreach(_.unpersist(blocking = false))
    out
  }

  private[graft] def fnv64(s: String): Long = graft.textutil.TextHash.fnv64(s)

  /** splitmix64 finalizer — cheap independent hash family generator. */
  private[graft] def mix64(x0: Long): Long = graft.textutil.TextHash.mix64(x0)
}
