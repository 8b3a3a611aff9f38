package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity.{IvfModel, OpqModel, PqModel}

/** A persisted, PRE-CODED inverted-file corpus for ANN search — the
  * embedding analogue of the near-dup signature store
  * ([[Dedup.writeSignatures]] / [[Dedup.readSignatures]]): the
  * expensive per-vector work (IVF cell assignment, PQ encoding,
  * packed sign codes) runs ONCE at write time and every subsequent
  * search job reads the finished index rows instead of re-encoding
  * the corpus from floats. At 100 TB the re-encode per search job is
  * the dominant ANN cost — this store removes it, and the bucketed
  * layout removes the static-side exchange too.
  *
  * Layout under `path`, registered as bucketed tables in the session
  * catalog (bucketing metadata lives in the catalog, not the files —
  * [[read]] re-registers after a restart):
  *
  *   - `coded` / `<name>_coded`: one row per corpus vector —
  *     (cell, id, code, hcode) — BUCKETED AND SORTED BY `cell`, so
  *     the probe equi-join of [[Similarity.ivfPqTopKFromStore]] /
  *     [[Similarity.ivfHammingTopKFromStore]] reads only matching
  *     buckets and never exchanges the corpus side;
  *   - `vecs` / `<name>_vecs`: (id, vec) BUCKETED BY `id` — the
  *     exact re-rank fetches shortlist floats through the bucketed
  *     scan (refine·k·|queries| rows, not the corpus);
  *   - `model/`: the IVF centroids + PQ codebooks via [[IndexStore]]
  *     (bit-exact float roundtrip — a reopened store reproduces the
  *     original assignments exactly);
  *   - `meta`: the bucket count.
  *
  * Codes are produced by the SAME kernels the from-floats search
  * faces use ([[Similarity.pqEncode]], [[Quantize.signPack]]), so a
  * store-served search returns row-for-row the results of the
  * corresponding from-floats call — SimilaritySpec locks the parity.
  *
  * Growth is a COMPACTION like [[Dedup.mergeSignatures]], not an
  * in-place append ([[merge]]): the increment is encoded with the
  * STANDING models (retraining would silently reassign every cell),
  * the standing corpus' codes are reused verbatim — never re-encoded
  * — and the union is rewritten to a fresh epoch directory. Cost is
  * one narrow parquet-to-parquet pass over index rows plus the float
  * copy; text/embedding recomputation never happens.
  *
  * The lifecycle around the core write/read/merge trio:
  *   - [[writeOpq]] — the OPQ recipe (rotation persisted, every
  *     artifact in rotated space; [[read]] dispatches on it);
  *   - [[ingestDedup]] — the composed epoch verb: search-dedup the
  *     increment against the standing corpus, merge survivors,
  *     return the victim ledger;
  *   - [[pruneEpochs]] — keep-latest-N retention of epoch dirs AND
  *     their catalog registrations;
  *   - [[stats]] — cell-population skew diagnostics;
  *   - [[graft.streaming.StreamingVectorStore]] — the streaming half
  *     (live semantic hits, increment sink, compaction turn).
  * Store-served search faces live in [[Similarity]], one per scan
  * recipe (`*FromStore`: ivfPq, ivfHamming, flat pq, MMR,
  * semanticDedup); each serves plain and OPQ stores and takes an
  * optional allowed-id filter.
  */
object VectorStore {

  /** Shared argument validation for every face that builds catalog
    * DDL or filesystem paths from caller strings. The table name is
    * interpolated into `CREATE TABLE` / `saveAsTable` statements and
    * the path into a `LOCATION '…'` clause — an unvalidated quote
    * would break the statement or silently re-point the registration,
    * so both are rejected up front with the store's own message
    * instead of a parser error.
    */
  private def validateNameAndPath(name: String, path: String, face: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"VectorStore.$face: store name '$name' must be a plain SQL identifier " +
        "([A-Za-z_][A-Za-z0-9_]*) — it is registered as catalog tables " +
        "<name>_coded / <name>_vecs")
    require(!path.contains("'"),
      s"VectorStore.$face: store path must not contain a single quote " +
        s"(it is embedded in a LOCATION '…' DDL clause): $path")
  }

  /** Handle to an open store: `coded` (cell, id, code, hcode) bucketed
    * by cell, `vecs` (id, vec) bucketed by id, plus the models whose
    * assignments the codes were produced under. The models pin the
    * recipe — searches MUST probe with these centroids or cell
    * membership silently stops matching the stored rows.
    *
    * `opq` marks an OPQ-CODED store ([[writeOpq]]): EVERY persisted
    * artifact — cells, PQ codes, packed sign codes, AND the `vecs`
    * floats — lives in the learned rotated space (`pq` is then
    * `opq.get.pq`, the rotated-space codebooks). Rotations preserve
    * norms and angles, so exact cosine re-ranks over the rotated
    * floats equal original-space cosines; the only caller obligation
    * is to rotate the QUERY side, which every store-served face in
    * [[Similarity]] does exactly when `opq` is set — a search never
    * mixes the two spaces.
    */
  final case class CodedVectorStore(
      coded: DataFrame,
      vecs: DataFrame,
      ivf: IvfModel,
      pq: PqModel,
      numBuckets: Int,
      opq: Option[OpqModel] = None,
  )

  /** The ONE encode projection shared by [[write]] and [[merge]]:
    * (id, vec, cell, code, hcode) per non-degenerate input vector —
    * degenerate rows (null/empty/zero-norm) excluded exactly as the
    * search faces exclude them, ids cast to BIGINT, codes from the
    * same kernels the from-floats searches use.
    */
  private[graft] def encodedProjection(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      ivf: IvfModel,
      pq: PqModel,
  ): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val bcIvf = sc.broadcast(ivf.centroids)
    val bcPq = sc.broadcast(pq)
    // Array[Float] params, not Seq — the repo-wide UDF convention
    // (a Seq parameter deserializes to a List and indexed kernels go
    // O(dim²) per row; see IvfModel's scaladoc for the measurement)
    val assignUdf = udf((v: Array[Float]) => IvfModel.nearest(bcIvf.value, v))
    val encodeUdf = udf((v: Array[Float]) => Similarity.pqEncode(bcPq.value, v))
    Similarity.nonDegenerate(df, vecCol).select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("vec"),
      assignUdf(col(vecCol)).as("cell"),
      encodeUdf(col(vecCol)).as("code"),
      Quantize.signPack(col(vecCol)).as("hcode"))
  }

  /** Encode + persist `corpus` as a [[CodedVectorStore]] at `path`
    * under catalog names `<name>_coded` / `<name>_vecs`. ONE corpus
    * scan computes cell, PQ code, and packed sign code per vector and
    * LANDS the projection (`materialize` — the repo-wide stage-
    * boundary contract; default LocalCheckpoint, pass
    * [[Materialize.ParquetDir]] on preemptible executors); both
    * bucketed tables are then written from the landed blocks, so an
    * expensive or nondeterministic upstream plan is never executed
    * twice and the coded/vecs sides can never diverge row-wise.
    * Degenerate vectors (null/empty/zero-norm) are excluded exactly
    * as the search faces exclude them. Ids are persisted as BIGINT.
    */
  def write(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      name: String,
      ivf: IvfModel,
      pq: PqModel,
      numBuckets: Int = 64,
      materialize: Materialize = Materialize.LocalCheckpoint,
  ): Unit = {
    // Lazy is rejected, not honored: under Lazy `landed` IS the
    // unlanded encode projection, so the two saveAsTable writes below
    // would each re-execute the corpus plan — a nondeterministic
    // upstream (sample/limit/AQE-dependent ids) could then produce
    // row-divergent coded/vecs tables, and coded rows without a
    // matching float row silently vanish in the re-rank join. The
    // 'sides can never diverge row-wise' invariant REQUIRES a landing.
    require(materialize != Materialize.Lazy,
      "VectorStore.write: Materialize.Lazy would execute the corpus plan once per " +
        "table write and the coded/vecs sides could diverge row-wise — pass " +
        "LocalCheckpoint or ParquetDir (the write is eager either way)")
    val landed = Materialize(
      encodedProjection(corpus, idCol, vecCol, ivf, pq), materialize)
    writeFrames(corpus.sparkSession,
      landed.select("cell", "id", "code", "hcode"),
      landed.select("id", "vec"),
      ivf, pq, path, name, numBuckets, opq = None, face = "write")
  }

  /** [[write]] for the OPQ recipe (Ge et al.'s rotated product
    * quantization — the highest-recall ANN face in the tree): the
    * corpus column is rotated ONCE up front
    * ([[Similarity.rotateColumn]], the same kernel
    * [[Similarity.opqTopK]] uses) and then the EXACT plain recipe runs
    * in rotated space — one shared [[encodedProjection]], so the OPQ
    * and plain encode paths cannot drift. The persisted `vecs` floats
    * are ROTATED (see [[CodedVectorStore.opq]]); `ivf` must have been
    * trained over the rotated corpus ([[Similarity.trainIvfOpq]] does
    * exactly that) or cell membership will not match query probes.
    * The rotation matrix lands in `model/` next to the codebooks, so
    * a reopened store reproduces the original assignments exactly.
    */
  def writeOpq(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      name: String,
      ivf: IvfModel,
      opq: OpqModel,
      numBuckets: Int = 64,
      materialize: Materialize = Materialize.LocalCheckpoint,
  ): Unit = {
    require(materialize != Materialize.Lazy,
      "VectorStore.writeOpq: Materialize.Lazy would execute the corpus plan once per " +
        "table write and the coded/vecs sides could diverge row-wise — pass " +
        "LocalCheckpoint or ParquetDir (the write is eager either way)")
    val rotated = Similarity.rotateColumn(corpus, vecCol, opq)
    val landed = Materialize(
      encodedProjection(rotated, idCol, vecCol, ivf, opq.pq), materialize)
    writeFrames(corpus.sparkSession,
      landed.select("cell", "id", "code", "hcode"),
      landed.select("id", "vec"),
      ivf, opq.pq, path, name, numBuckets, opq = Some(opq), face = "writeOpq")
  }

  /** The shared persist tail of [[write]] and [[merge]] — takes
    * ALREADY-CODED frames so compaction never re-encodes the standing
    * corpus. Lands the epoch through [[StoreEpoch.commit]]: models and
    * both bucketed tables, then (on a merge) the `standing` part files,
    * then `meta` last.
    */
  private def writeFrames(
      spark: SparkSession,
      coded: DataFrame,
      vecs: DataFrame,
      ivf: IvfModel,
      pq: PqModel,
      path: String,
      name: String,
      numBuckets: Int,
      opq: Option[OpqModel],
      face: String,
      standing: Option[StoreEpoch.Standing] = None,
  ): Unit = {
    // validate under the CALLER's face name, so an invalid dstName /
    // dstPath reaching this tail through merge or ingestDedup names
    // the operator the user actually invoked, not "write"
    validateNameAndPath(name, path, face)
    // NOTE write is the store-CREATION verb and deliberately carries
    // no location-collision guard (unlike [[read]]): re-writing a
    // registered name at a new path re-points the registration — the
    // standard Spark saveAsTable(Overwrite) semantics, the
    // [[Dedup.writeSignatures]] symmetry, and what keeps a re-run of
    // the same job idempotent. Open READERS of the old path are
    // protected where it matters: a reopen through [[read]] fails
    // actionably if the name no longer matches the path it expects.
    StoreEpoch.commit(spark, path, name, Seq("num_buckets" -> numBuckets), standing) {
      IndexStore.saveIvf(spark, ivf, s"$path/model")
      // saveOpq persists the rotation AND its codebooks (pq == opq.pq
      // for an OPQ store); the rotation dir's presence is what [[read]]
      // dispatches the store's recipe on
      opq match {
        case Some(o) => IndexStore.saveOpq(spark, o, s"$path/model")
        case None => IndexStore.savePq(spark, pq, s"$path/model")
      }
      coded
        .select("cell", "id", "code", "hcode")
        .write
        .mode(SaveMode.Overwrite)
        .option("path", s"$path/coded")
        .bucketBy(numBuckets, "cell")
        .sortBy("cell")
        .saveAsTable(s"${name}_coded")
      vecs
        .select("id", "vec")
        .write
        .mode(SaveMode.Overwrite)
        .option("path", s"$path/vecs")
        .bucketBy(numBuckets, "id")
        .sortBy("id")
        .saveAsTable(s"${name}_vecs")
    }
  }

  /** Open a store written by [[write]]. In a fresh session the
    * bucketed tables are re-registered over the parquet location (DDL
    * with the meta's bucket spec); a name already registered at a
    * DIFFERENT location fails actionably instead of silently serving
    * stale rows — the same guard, and the same epoch-directory
    * workflow, as [[Dedup.readSignatures]].
    */
  def read(spark: SparkSession, path: String, name: String): CodedVectorStore = {
    validateNameAndPath(name, path, "read")
    val numBuckets = StoreEpoch.readMeta(spark, path).getInt(0)
    val (coded, vecs) = storeTables(spark, path, name, numBuckets)
    // recipe dispatch: a persisted rotation marks an OPQ store (every
    // artifact in rotated space); loadOpq reads the codebooks from the
    // same model dir, so pq == opq.pq by construction
    val rotPath = new org.apache.hadoop.fs.Path(s"$path/model/rotation")
    val rotBinPath = new org.apache.hadoop.fs.Path(s"$path/model/rotation.bin")
    val fs = rotPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val opq =
      if (fs.exists(rotBinPath) || fs.exists(rotPath))
        Some(IndexStore.loadOpq(spark, s"$path/model"))
      else None
    CodedVectorStore(coded, vecs,
      IndexStore.loadIvf(spark, s"$path/model"),
      opq.map(_.pq).getOrElse(IndexStore.loadPq(spark, s"$path/model")),
      numBuckets,
      opq)
  }

  /** The store's `coded` and `vecs` tables at `path`, registered (or
    * checked) through [[StoreEpoch.register]] — catalog calls only, no
    * Spark job.
    */
  private def storeTables(
      spark: SparkSession, path: String, name: String, numBuckets: Int): (DataFrame, DataFrame) = {
    def table(sub: String, schema: String, key: String): DataFrame =
      StoreEpoch.register(spark, "VectorStore.read", path, name, sub, schema, key, numBuckets)
    (table("coded", "cell INT, id BIGINT, code BINARY, hcode ARRAY<BIGINT>", "cell"),
      table("vecs", "id BIGINT, vec ARRAY<FLOAT>", "id"))
  }

  /** GROW a standing store: encode `newVecs` (disjoint ids required)
    * with the SOURCE store's models and write the union to
    * `dstPath`/`dstName` — the daily-ingest epoch step. The standing
    * corpus' coded rows and floats are copied verbatim (a narrow
    * parquet-to-parquet pass); only the increment pays encoding.
    * Compaction-not-append for the same reasons as
    * [[Dedup.mergeSignatures]]: bucketed tables cannot change spec
    * incrementally, and an epoch directory is its own restart point.
    */
  def merge(
      spark: SparkSession,
      srcPath: String,
      srcName: String,
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      dstPath: String,
      dstName: String,
      materialize: Materialize = Materialize.LocalCheckpoint,
  ): CodedVectorStore = {
    requireDistinctEpochs(srcPath, srcName, dstPath, dstName)
    require(materialize != Materialize.Lazy,
      "VectorStore.merge: Materialize.Lazy would execute the increment plan once per " +
        "consumer and the coded/vecs sides could diverge row-wise — pass " +
        "LocalCheckpoint or ParquetDir (the [[write]] invariant)")
    mergeOpened(spark, read(spark, srcPath, srcName), srcPath, newVecs, idCol, vecCol,
      dstPath, dstName, materialize)
  }

  /** [[merge]]'s epoch rule, checked by [[ingestDedup]] too before any
    * work: a merge writes a NEW epoch directory under a NEW name.
    */
  private def requireDistinctEpochs(
      srcPath: String, srcName: String, dstPath: String, dstName: String): Unit = {
    require(dstPath != srcPath,
      "VectorStore.merge: dstPath must differ from srcPath (epoch directories) — " +
        "an in-place rewrite would clobber the files it is reading")
    require(dstName != srcName,
      "VectorStore.merge: dstName must differ from srcName — the destination write " +
        "would overwrite catalog tables the merge is reading; use a distinct name " +
        "per store path (epoch-suffixed names, e.g. <name>_e<n>)")
  }

  /** The body of [[merge]] over the ALREADY-OPEN source store `src`
    * (at `srcPath`), so [[ingestDedup]] opens its source once. The
    * returned store is the destination's tables with the source's
    * models and bucket count — the values its meta was written from,
    * so the fresh epoch opens without reading that meta back.
    */
  private def mergeOpened(
      spark: SparkSession,
      src: CodedVectorStore,
      srcPath: String,
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      dstPath: String,
      dstName: String,
      materialize: Materialize,
  ): CodedVectorStore = {
    // ONE execution of the increment plan: encode with the SOURCE
    // models (shared projection with [[write]] — the two faces cannot
    // drift; an OPQ source rotates the increment with ITS standing
    // rotation first, keeping every epoch in one space) and land it
    // (`materialize` — pass ParquetDir on preemptible executors,
    // mirroring [[write]]); the disjointness check, both table writes,
    // and the union all read the landed blocks. The standing store's
    // sides are parquet-backed reads — cheap to scan, never re-encoded.
    val incoming = src.opq
      .map(o => Similarity.rotateColumn(newVecs, vecCol, o))
      .getOrElse(newVecs)
    val landed = Materialize(
      encodedProjection(incoming, idCol, vecCol, src.ivf, src.pq),
      materialize)
    require(
      landed.select(col("id")).join(src.vecs.select(col("id")), "id").isEmpty,
      "VectorStore.merge: new-batch ids overlap the standing store — the sides " +
        "must be disjoint; search-dedup the increment first and merge survivors")
    // r22 (guide §6): write ONLY the increment through the bucketed
    // table writer, then copy the standing tables' parquet part files
    // into the destination dirs AT FILE GRANULARITY. A bucketed file's
    // bucket membership is carried by its `_NNNNN` filename suffix,
    // which the copy preserves, and the bucket spec (count + key) is
    // identical by construction (the destination registers with
    // src.numBuckets) — so the union table is byte-equivalent to the
    // former rewrite while the standing corpus is never decoded,
    // re-sorted, or re-encoded (compaction cost now scales with the
    // increment plus a raw byte copy, not a parquet rewrite of the
    // standing rows). Bucketed tables already hold several files per
    // bucket (one per write task), so readers see the same layout
    // class as before.
    writeFrames(spark,
      landed.select("cell", "id", "code", "hcode"),
      landed.select("id", "vec"),
      src.ivf, src.pq, dstPath, dstName, src.numBuckets, src.opq, face = "merge",
      standing = Some(StoreEpoch.Standing(srcPath, Seq("coded", "vecs"))))
    val (coded, vecs) = storeTables(spark, dstPath, dstName, src.numBuckets)
    src.copy(coded = coded, vecs = vecs)
  }

  /** The COMPOSED daily-ingest verb — exactly the workflow [[merge]]'s
    * disjointness error prescribes ("search-dedup the increment first
    * and merge survivors"), as one face so no caller reinvents the
    * seam: search the STANDING store for each increment vector's
    * nearest neighbors (store-served, the store's own recipe — plain
    * or OPQ — so the corpus is never re-encoded), drop increment rows
    * whose best hit reaches `threshold` (the SemDeDup ε applied at
    * the ingest boundary), and [[merge]] the survivors to the next
    * epoch. Returns the grown store plus the victim ledger
    * (id, dup_of, cosine) — the audit trail a provenance pipeline
    * keeps.
    *
    * Scale shape: the increment lands ONCE (`materialize`) and the
    * search/anti-join/merge all read the landed blocks; the standing
    * side costs one bucketed coded-table scan per ingest, bounded by
    * `nprobe/nlist`. Within-increment near-dups are NOT folded here
    * (the search runs increment-vs-store only) — run
    * [[Similarity.semanticDedup]] over the batch first if increments
    * can self-duplicate; successive epochs need nothing extra, since
    * yesterday's survivors ARE in today's standing store.
    *
    * `threshold` is exact-cosine semantics (hits are re-ranked exact
    * before the cut); recall below 1 is the ANN trade — raise
    * `nprobe`/`searchK` to tighten, like every store-served search.
    */
  def ingestDedup(
      spark: SparkSession,
      srcPath: String,
      srcName: String,
      newVecs: DataFrame,
      idCol: String,
      vecCol: String,
      dstPath: String,
      dstName: String,
      threshold: Double = 0.92,
      searchK: Int = 4,
      nprobe: Int = 4,
      refine: Int = 4,
      materialize: Materialize = Materialize.LocalCheckpoint,
  ): (CodedVectorStore, DataFrame) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"ingestDedup: threshold must be in (0, 1], got $threshold")
    // validate the destination up front under THIS face's name — the
    // same strings would otherwise only fail inside merge's write tail
    validateNameAndPath(dstName, dstPath, "ingestDedup")
    requireDistinctEpochs(srcPath, srcName, dstPath, dstName)
    require(materialize != Materialize.Lazy,
      "ingestDedup: Materialize.Lazy would re-execute the increment plan per " +
        "consumer (search, anti-join, merge) — pass LocalCheckpoint or ParquetDir")
    val src = read(spark, srcPath, srcName)
    // TWO landings happen in this verb (the increment here, the encode
    // projection inside [[merge]]) — under ParquetDir they must write
    // DISTINCT directories, or merge's landing would overwrite the
    // files the survivors frame is still reading
    val (landMode, mergeMode) = materialize match {
      case Materialize.ParquetDir(p) =>
        (Materialize.ParquetDir(s"$p/increment"), Materialize.ParquetDir(s"$p/encoded"))
      case m => (m, m)
    }
    val landed = Materialize(newVecs.select(col(idCol), col(vecCol)), landMode)
    val hits = Similarity.ivfPqTopKFromStore(src, landed, idCol, vecCol, searchK, nprobe, refine)
    // rank 1 is the max-cosine hit (shared comparator: score desc, id
    // asc) — if ANY hit clears the threshold, rank 1 does
    val victims = hits
      .where(col("rank") === 1 && col("cosine") >= threshold)
      .select(col("query_id").as("id"), col("neighbor_id").as("dup_of"), col("cosine"))
      .localCheckpoint(true)
    val survivors = landed.join(
      victims.select(col("id").as(idCol)), Seq(idCol), "left_anti")
    val grown = mergeOpened(spark, src, srcPath, survivors, idCol, vecCol,
      dstPath, dstName, mergeMode)
    (grown, victims)
  }

  /** Operational skew diagnostics for a standing store — ONE row of
    * cell-population shape: total rows, trained cell count, cells
    * actually used, empties, min/avg/max population and the hottest
    * cell's id. The numbers to watch at scale: `max_cell_rows` bounds
    * every probe join's worst task (a probed query scans whole cells),
    * and a large `empty_cells` count means the centroids were trained
    * on a sample that no longer matches the corpus — retrain and
    * rewrite at the next epoch rather than re-pointing nprobe at a
    * skewed geometry. One aggregation over the coded table's (cell)
    * column; the floats are never read.
    */
  def stats(store: CodedVectorStore): DataFrame = {
    val per = store.coded.groupBy("cell").agg(count(lit(1)).as("n"))
    val nlist = store.ivf.centroids.length
    per.agg(
      sum(col("n")).as("n_rows"),
      lit(nlist).as("nlist"),
      count(lit(1)).as("cells_used"),
      (lit(nlist) - count(lit(1))).as("empty_cells"),
      min(col("n")).as("min_cell_rows"),
      (sum(col("n")) / count(lit(1))).as("avg_cell_rows"),
      max(col("n")).as("max_cell_rows"),
      max_by(col("cell"), struct(col("n"), col("cell") * -1)).as("max_cell_id"))
  }

  /** Retention for [[merge]] / [[ingestDedup]] destination directories
    * — the exact [[Dedup.pruneSignatureEpochs]] contract applied to
    * vector-store epochs: under `rootDir`, epochs live as
    * `<prefix><n>` children; keep the `keepLatest` numerically-highest
    * (bounded by `upTo` — pass the epoch you just wrote, so a stale
    * higher-numbered dir from an aborted run can never count as
    * "latest"), delete the rest, AND retire each deleted epoch's
    * catalog registrations (`<baseName>_e<n>_coded` / `_vecs`, the
    * epoch-suffixed naming the merge guards prescribe) in the same
    * turn — a persistent metastore otherwise strands two dead table
    * pointers per retired epoch. Returns the deleted epoch indices.
    */
  def pruneEpochs(
      spark: SparkSession,
      rootDir: String,
      baseName: String,
      keepLatest: Int,
      prefix: String = "epoch",
      upTo: Long = Long.MaxValue,
  ): Seq[Long] = {
    validateNameAndPath(baseName, rootDir, "pruneEpochs")
    val removed = Dedup.pruneSignatureEpochs(spark, rootDir, keepLatest, prefix, upTo)
    removed.foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS ${baseName}_e${n}_coded")
      spark.sql(s"DROP TABLE IF EXISTS ${baseName}_e${n}_vecs")
    }
    removed
  }
}
