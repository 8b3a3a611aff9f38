package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** One-call pre-training corpus preparation — the composition an LLM
  * data pipeline actually runs, every stage an operator from this
  * library, in the canonical order:
  *
  *   1. language filter (existing label column, or the heuristic
  *      language ID when none is given)
  *   2. quality filter (composite score ≥ `minQuality`)
  *   3. PII redaction (emails/IPs/phone runs → typed placeholders)
  *   4. exact dedup (content hash, keep min-id)
  *   5. MinHash near-dup removal (canonical member per group;
  *      `transitive` closes a~b~c chains via connected components)
  *   6. context-window chunking (`window`/`stride` token segments)
  *
  * Order is load-bearing: redaction runs BEFORE dedup so documents
  * differing only in contact details collapse; filters run first so
  * the expensive near-dup join never sees rows that were going to be
  * dropped anyway. Scale shape: stages 1-3 are shuffle-free scans,
  * 4-5 are the skew-capped dedup machinery, 6 is an explicit
  * posexplode — nothing here collects to the driver.
  *
  * Output: (id, chunk_idx, chunk_text, n_chunk_tokens).
  */
object CorpusPipeline {

  /** CCNet-style curation (Wenzek et al., LREC 2020) — the OTHER
    * canonical composition, built from this library's primitives in
    * CCNet's own order:
    *
    *   1. line-level exact dedup ([[Dedup.lineDedup]] — CCNet's
    *      paragraph-hash stage; fully-deduped docs drop out)
    *   2. language ID + filter ([[TextAnalysis.withLangId]])
    *   3. per-language bigram-LM scoring ([[LmQuality]]) and
    *      head/middle/tail bucketing by the score's per-language
    *      quantiles (CCNet buckets on LM perplexity; `headFrac` of
    *      docs land in head = most fluent, `tailFrac` in tail)
    *
    * ONE LM PER LANGUAGE, trained on that language's slice — a shared
    * LM over the mixed corpus would blend cross-language token
    * statistics, so a fluent minority-language doc scores as
    * out-of-domain noise.
    *
    * `lmTarget` is CCNet's actual construction: the paper trains each
    * LM on an external CLEAN target corpus (Wikipedia), so scores
    * measure distance-to-clean-text rather than distance-to-this-
    * corpus. Pass a frame with columns (`lang`, `text`) and each
    * language's LM trains on its `lang` slice of the TARGET instead
    * of the slice being scored — a heavily contaminated corpus slice
    * can no longer drag its own quality bar down (the q124 planted
    * gate pins this: majority-garbage slice, fluent docs still bucket
    * head). A language absent from the target falls back to
    * self-training. DEFAULT remains self-training (`None`) — the
    * documented divergence, correct for within-slice ranking when no
    * clean reference exists, with the caveat that absolute perplexity
    * is then corpus-relative and only the quantile buckets are
    * comparable across runs.
    *
    * The bucket thresholds come from `approx_percentile` (bounded
    * state per language) and broadcast back — one corpus scan per
    * stage, no driver collect beyond the LM's bounded head. Docs the
    * LM cannot score (< 2 tokens) land in tail.
    *
    * Output: every surviving doc as (id, text, lang_pred,
    * avg_logprob, perplexity, ccnet_bucket).
    */
  def ccnet(
      df: DataFrame,
      idCol: String,
      textCol: String,
      langs: Seq[String] = Seq("en"),
      vocabSize: Int = 50000,
      headFrac: Double = 1.0 / 3,
      tailFrac: Double = 1.0 / 3,
      minLineChars: Int = 5,
      materialize: Materialize = Materialize.LocalCheckpoint,
      lmTarget: Option[DataFrame] = None,
  ): DataFrame = {
    require(headFrac > 0 && tailFrac > 0 && headFrac + tailFrac < 1.0,
      "head/tail fractions must leave room for the middle bucket")
    lmTarget.foreach { t =>
      require(t.columns.contains("lang") && t.columns.contains("text"),
        s"lmTarget needs (lang, text) columns, got: ${t.columns.mkString(", ")}")
    }
    val deduped = Dedup
      .lineDedup(df, idCol, textCol, minLineChars)
      .where(length(trim(col("clean_text"))) > 0)
      .select(col("id"), col("clean_text").as("text"))
    // stage boundary: the dedup+langid result feeds LM training, LM
    // scoring, the quantile cuts, and the final join — without a cut
    // the line-dedup DAG would re-execute per consumer (3-4 corpus
    // passes at scale)
    val withLang = Materialize(
      TextAnalysis
        .withLangId(deduped, "text")
        .where(col("lang_pred").isInCollection(langs)),
      materialize)
    // one LM per language over that language's slice; scored slices
    // union back (langs is a small fixed list — the per-language train
    // passes scan disjoint slices of the materialized frame)
    // which languages the target actually covers, in ONE aggregation
    // scan (a per-language isEmpty probe would re-scan the target up
    // to |langs| times just to prove absences)
    val targetLangs: Set[String] = lmTarget
      .map(_.select(col("lang")).where(col("lang").isInCollection(langs))
        .distinct().collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)
    val scored = langs.map { l =>
      val slice = withLang.where(col("lang_pred") === l)
      // clean-target slice when the target covers this language;
      // otherwise the documented self-training default
      val trainSrc = lmTarget match {
        case Some(t) if targetLangs.contains(l) =>
          t.where(col("lang") === l).select(col("text"))
        case _ => slice
      }
      LmQuality.score(slice, "text", LmQuality.train(trainSrc, "text", vocabSize))
    }.reduce(_ unionByName _)
    val cuts = scored
      .groupBy("lang_pred")
      .agg(expr(
        s"approx_percentile(avg_logprob, array(${tailFrac}D, ${1.0 - headFrac}D), 10000)",
      ).as("__cuts"))
    scored
      .join(broadcast(cuts), "lang_pred")
      .withColumn(
        "ccnet_bucket",
        when(col("avg_logprob").isNull, lit("tail"))
          .when(col("avg_logprob") >= element_at(col("__cuts"), 2), lit("head"))
          .when(col("avg_logprob") >= element_at(col("__cuts"), 1), lit("middle"))
          .otherwise(lit("tail")),
      )
      .drop("__cuts")
  }

  /** Per-stage variant of a caller-supplied [[Materialize]]: a
    * ParquetDir fans out into one subdirectory per internal stage
    * boundary (the same path for every stage would overwrite the
    * previous stage's restart point), LocalCheckpoint threads through
    * unchanged.
    */
  private def stageMaterialize(m: Materialize, stage: String): Materialize = m match {
    case Materialize.Lazy => Materialize.Lazy
    case Materialize.LocalCheckpoint => Materialize.LocalCheckpoint
    case Materialize.ParquetDir(p) => Materialize.ParquetDir(s"$p/$stage")
  }

  /** Called by each pipeline chain at every report boundary with the
    * stage's name and frame; the chain continues from the frame it
    * returns. Production passes [[noStages]].
    */
  private[graft] type StageHook = (String, DataFrame) => DataFrame

  private val noStages: StageHook = (_, frame) => frame

  /** Runs `chain` once with a hook that lands each boundary
    * (`localCheckpoint(true)`) and records it; returns the landed
    * boundaries in chain order.
    *
    * The report chains run with [[Materialize.Lazy]]: the hook already
    * lands every boundary, so a chain's own landings would copy landed
    * frames again. cleanCorpus's lazy output lands at the `near_dup`
    * hook after cleanCorpus released its signature frame; that landing
    * is the landed `exact_dedup` frame anti-joined with the losers —
    * the signature column is pruned from its plan, so the MinHash pass
    * does not run twice.
    */
  private def recordBoundaries(chain: StageHook => DataFrame): Seq[(String, DataFrame)] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    chain { (name, frame) =>
      val landed = frame.localCheckpoint(true)
      buf += ((name, landed))
      landed
    }
    buf.toSeq
  }

  /** The full web-ingest front end as ONE face — the seven-stage
    * composition a crawl-to-training-data pipeline hand-wired until
    * now, in the canonical order:
    *
    *   1. HTML → text ([[WebText.htmlToText]] — linear scanner,
    *      script/style stripped, entities decoded; `mainContent =
    *      true` swaps in [[WebText.htmlToMainText]], dropping
    *      link-dense nav/footer lines at extraction time)
    *   2. URL normalization + host extraction
    *      ([[WebText.withUrlParts]]; `stripTracking = true` drops
    *      utm/click-id params so campaign spellings of one page
    *      share a url_norm BEFORE the per-URL machinery sees them)
    *   2b. optional NFC canonicalization
    *      ([[TextAnalysis.canonicalize]], `canonicalizeNfc = true`)
    *      BEFORE any hashing stage, and an optional domain
    *      `blocklist` ([[WebText.filterBlockedHosts]]) on the
    *      normalized host — both default off so existing output is
    *      byte-stable
    *   2c. optional C4 cleaning ([[QualityFilters.c4Clean]],
    *      `c4 = true`, default off): the published line rules strip
    *      unpunctuated/short/javascript/policy lines and the document
    *      rules drop brace/lorem-ipsum/thin pages BEFORE language ID
    *      and Gopher see the text — C4's position in its own
    *      pipeline
    *   2d. optional soft-404 drop ([[QualityFilters.dropSoft404]],
    *      `soft404 = true`, default off): HTTP-200 error/parking
    *      pages drop on the [[QualityFilters.defaultSoft404Phrases]]
    *      preset before any scoring sees them
    *   3. language ID ([[TextAnalysis.withLangId]]); `langs` nonEmpty
    *      keeps only those languages, empty keeps everything
    *   4. language-conditioned Gopher quality
    *      ([[QualityFilters.withGopherFlagsByLang]] — profiled
    *      languages must pass their bundle, out-of-scope scripts pass
    *      through for LM-based filtering downstream)
    *   4b. optional PII redaction ([[TextAnalysis.redactPii]],
    *      `redactPii = true`, default off): emails/IPs/phone runs →
    *      typed placeholders. Position is load-bearing, the same as
    *      [[prepare]]'s: BEFORE every dedup stage, so two pages
    *      differing only in contact details collapse to one kept doc
    *      instead of surviving as "distinct" content
    *   5. corpus-wide line dedup ([[Dedup.lineDedup]] — boilerplate
    *      lines drop; fully-boilerplate docs drop). `minLineChars < 0`
    *      SKIPS this stage (no corpus pass at all) — pair with
    *      `paragraphDedup` for the paragraph-only Dolma recipe
    *   5b. optional corpus-wide PARAGRAPH dedup
    *      ([[Dedup.paragraphDedup]], `paragraphDedup = true`, default
    *      off): repeated whole blocks drop as units — the Dolma web
    *      recipe's granularity. Pair it with `paragraphBreaks = true`
    *      (threaded to the extraction kernels), which preserves HTML
    *      block boundaries as blank lines so the `\n{2,}` units see
    *      real structure; without it, extracted web text is one
    *      degenerate whole-document unit
    *   6. exact + MinHash near-dup dedup ([[Dedup.cleanCorpus]],
    *      transitive)
    *   7. per-host cap ([[Sampling.capPerStratum]] on `url_host`) and
    *      the packed training layout (seqLen-token chunks → seeded
    *      shuffle → [[Packing.shuffleAndPack]])
    *
    * Stages 1-4 fuse into one shuffle-free scan (per-row UDF kernels,
    * nothing multi-consumer, so no boundary to cut). `materialize` is
    * threaded through EVERY internal stage boundary — the post-filter
    * corpus (read twice by line dedup), cleanCorpus's survivor frame,
    * the chunk frame (read by the pack layout and the final join),
    * and the returned layout — so a [[Materialize.ParquetDir]] run
    * lands each boundary in its own subdirectory (`quality/`,
    * `dedup/`, `chunks/`, `layout/`) and any failed stage resumes
    * from the previous directory instead of re-running the crawl
    * scan. Output: one row per surviving chunk — (chunk_id, id,
    * chunk_idx, chunk_text, n_chunk_tokens, pos, start_offset,
    * pack_first, pack_last, url_norm, url_host, lang_pred).
    */
  def webIngest(
      df: DataFrame,
      idCol: String,
      htmlCol: String,
      urlCol: String,
      langs: Seq[String] = Seq.empty,
      maxPerHost: Int = 100000,
      jaccardThreshold: Double = 0.8,
      minLineChars: Int = 5,
      seqLen: Int = 512,
      shuffleSalt: String = "epoch0",
      materialize: Materialize = Materialize.LocalCheckpoint,
      blocklist: Option[DataFrame] = None,
      canonicalizeNfc: Boolean = false,
      c4: Boolean = false,
      soft404: Boolean = false,
      redactPii: Boolean = false,
      mainContent: Boolean = false,
      stripTracking: Boolean = false,
      paragraphBreaks: Boolean = false,
      paragraphDedup: Boolean = false,
      minParagraphChars: Int = 5,
  ): DataFrame = {
    val quality = cleanedCrawlPrefix(df, idCol, None, htmlCol, urlCol, langs,
      blocklist, canonicalizeNfc, c4, soft404, redactPii, mainContent, stripTracking,
      paragraphBreaks)
    val capped = dedupAndCap(quality, maxPerHost, jaccardThreshold, minLineChars,
      materialize, paragraphDedup, minParagraphChars, noStages)
    webIngestFromCapped(capped, seqLen, shuffleSalt, materialize)
  }

  /** [[webIngest]]'s corpus-wide stages over the
    * [[cleanedCrawlPrefix]] output ((id, text, url_norm, url_host,
    * lang_pred)): line dedup → optional paragraph dedup → exact+near
    * dedup ([[Dedup.cleanCorpus]]'s fused pass) → host cap.
    */
  private def dedupAndCap(
      quality: DataFrame,
      maxPerHost: Int,
      jaccardThreshold: Double,
      minLineChars: Int,
      materialize: Materialize,
      paragraphDedup: Boolean,
      minParagraphChars: Int,
      stage: StageHook,
  ): DataFrame = {
    val landedQuality = Materialize(quality, stageMaterialize(materialize, "quality"))
    val attrCols = Seq("url_norm", "url_host", "lang_pred")
    // minLineChars < 0 SKIPS the corpus-wide line stage entirely — the
    // Dolma-style paragraph-only recipe; a large floor would make the
    // stage a semantic no-op but still pay its full corpus pass
    // (posexplode + winner aggregation + rebuild), which
    // at 100 TB is a real scan nobody asked for
    // r22 (guide §2.4): the url/lang attr columns are CARRIED through
    // every stage (dedup rebuild joins, chunk fan-out) instead of
    // being re-attached by id-keyed corpus joins after each stage —
    // the former shape paid two extra exchanges per dedup stage plus
    // a chunk-frame-sized attrs join at the end
    val lined0 =
      if (minLineChars < 0) landedQuality
      else stage("line_dedup", Dedup
        .lineDedupCarry(landedQuality, "id", "text", minLineChars, attrCols)
        .where(length(trim(col("clean_text"))) > 0)
        .select(col("id") +: col("clean_text").as("text") +: attrCols.map(col): _*))
    // optional corpus-wide PARAGRAPH dedup between line dedup and the
    // exact/near stage (default off, byte-stable): with
    // `paragraphBreaks` extraction upstream, repeated whole blocks
    // (cookie banners, footers shared across a site) drop as units —
    // the Dolma web recipe's granularity — while a block only
    // partially shared between pages survives intact. Same shuffle
    // shape as line dedup (one winner aggregation + rebuild), so
    // enabling it adds one line-dedup-sized pass, nothing superlinear.
    val lined =
      if (!paragraphDedup) lined0
      else stage("paragraph_dedup", Dedup
        .paragraphDedupCarry(lined0, "id", "text", minParagraphChars, attrCols)
        .where(length(trim(col("clean_text"))) > 0)
        .select(col("id") +: col("clean_text").as("text") +: attrCols.map(col): _*))
    val deduped = stage("near_dup", Dedup.cleanCorpusHooked(lined, "id", "text",
      jaccardThreshold, transitive = true, stageMaterialize(materialize, "dedup"),
      stage("exact_dedup", _)))
    stage("host_cap", Sampling.capPerStratum(deduped, "url_host", "id", maxPerHost))
  }

  /** [[webIngest]]'s chunk→pack→join layout TAIL over an
    * ALREADY-CAPPED survivor frame ((id, text, url_norm, url_host,
    * lang_pred) — [[dedupAndCap]]'s output, which is also the
    * `host_cap` boundary [[ingestBoundaries]] records). Split out so
    * a gate suite holding a landed host_cap boundary can reuse it
    * instead of re-running line dedup + exact/near dedup + the cap;
    * [[webIngest]] itself runs it, so the two can never diverge.
    */
  private[graft] def webIngestFromCapped(
      capped: DataFrame,
      seqLen: Int,
      shuffleSalt: String,
      materialize: Materialize = Materialize.LocalCheckpoint,
  ): DataFrame = {
    val attrCols = Seq("url_norm", "url_host", "lang_pred")
    val chunks = TextAnalysis
      .chunkTokensCarry(capped, "id", "text", window = seqLen, stride = seqLen,
        carry = attrCols)
      .withColumn("chunk_id", concat(col("id").cast("string"), lit("#"), col("chunk_idx")))
    val landedChunks = Materialize(chunks, stageMaterialize(materialize, "chunks"))
    // unordered layout: the equi-join below destroys row order, so the
    // public face's global orderBy(pos) (sampling job + range exchange
    // + sort) would be pure overhead here
    val layout = Packing
      .shuffleAndPackUnordered(landedChunks, "chunk_id", "n_chunk_tokens", seqLen, shuffleSalt)
    val out = landedChunks
      .join(
        layout.select(col("chunk_id"), col("pos"), col("start_offset"),
          col("pack_first"), col("pack_last")),
        "chunk_id")
      // documented output column order (the attrs now arrive carried,
      // not via a trailing join — same rows, same values)
      .select(col("chunk_id"), col("id"), col("chunk_idx"), col("chunk_text"),
        col("n_chunk_tokens"), col("pos"), col("start_offset"),
        col("pack_first"), col("pack_last"), col("url_norm"), col("url_host"),
        col("lang_pred"))
    Materialize(out, stageMaterialize(materialize, "layout"))
  }

  /** Per-stage ATTRITION REPORT for [[webIngest]] — the funnel every
    * production curation pipeline publishes next to its corpus: how
    * many documents each stage dropped, in the pipeline's canonical
    * order. Returns one row per DROPPING stage —
    * (stage_ix, stage, docs_in, docs_dropped, docs_out, tokens_out) —
    * where consecutive rows chain (`docs_out` of stage k = `docs_in`
    * of stage k+1) and `tokens_out` is the surviving whitespace-token
    * volume (it also accounts for tokens a TRANSFORMING stage removed
    * from survivors: C4 line rules, corpus-wide line dedup).
    * Optional stages appear only when their option is on;
    * stages that transform but never drop (URL parts, NFC, PII
    * redaction, chunk/pack) carry no row. Stage names: `extract`,
    * `c4`, `soft404`, `blocklist`, `lang_filter`, `gopher`,
    * `line_dedup` (absent when `minLineChars < 0` skips the stage),
    * `paragraph_dedup` (only with `paragraphDedup`),
    * `exact_dedup`, `near_dup`, `host_cap`.
    *
    * Mechanics: this RUNS the pipeline's own chain —
    * [[cleanedCrawlPrefix]] and [[dedupAndCap]], the functions
    * [[webIngest]] composes — with a stage hook that lands each
    * boundary and counts it, so the report cannot disagree with the
    * pipeline about what a stage drops. The `exact_dedup` boundary
    * is [[Dedup.cleanCorpus]]'s own exact-survivor frame inside its
    * fused pass (no second exchange); `near_dup` is cleanCorpus's
    * output. The chunk→pack layout tail never runs.
    *
    * Scale shape: one action per stage boundary over
    * localCheckpointed frames (each stage's work runs once, the extra
    * cost per boundary is a count over a materialized narrow frame).
    * This is a REPORT operator — run it on an audit sample or a
    * periodic slice, not inside the hot ingest path; the funnel of a
    * full 100 TB run comes free from the `Materialize.ParquetDir`
    * boundaries webIngest already lands (count the directories).
    */
  def webIngestFunnel(
      df: DataFrame,
      idCol: String,
      htmlCol: String,
      urlCol: String,
      langs: Seq[String] = Seq.empty,
      maxPerHost: Int = 100000,
      jaccardThreshold: Double = 0.8,
      minLineChars: Int = 5,
      blocklist: Option[DataFrame] = None,
      canonicalizeNfc: Boolean = false,
      c4: Boolean = false,
      soft404: Boolean = false,
      redactPii: Boolean = false,
      mainContent: Boolean = false,
      stripTracking: Boolean = false,
      paragraphBreaks: Boolean = false,
      paragraphDedup: Boolean = false,
      minParagraphChars: Int = 5,
  ): DataFrame =
    funnelFromBoundaries(df.sparkSession, df.count(),
      ingestBoundaries(df, idCol, htmlCol, urlCol, langs, maxPerHost,
        jaccardThreshold, minLineChars, blocklist, canonicalizeNfc, c4, soft404,
        redactPii, mainContent, stripTracking, paragraphBreaks, paragraphDedup,
        minParagraphChars))

  /** [[webIngest]]'s chain up to the host cap, run once through
    * [[recordBoundaries]]: every stage boundary landed and collected
    * in chain order. A caller auditing the SAME corpus through
    * several faces (funnel + per-doc reasons, or reusing the
    * `host_cap` boundary as [[webIngestFromCapped]]'s input) pays for
    * the chain once instead of once per face.
    */
  private[graft] def ingestBoundaries(
      df: DataFrame,
      idCol: String,
      htmlCol: String,
      urlCol: String,
      langs: Seq[String] = Seq.empty,
      maxPerHost: Int = 100000,
      jaccardThreshold: Double = 0.8,
      minLineChars: Int = 5,
      blocklist: Option[DataFrame] = None,
      canonicalizeNfc: Boolean = false,
      c4: Boolean = false,
      soft404: Boolean = false,
      redactPii: Boolean = false,
      mainContent: Boolean = false,
      stripTracking: Boolean = false,
      paragraphBreaks: Boolean = false,
      paragraphDedup: Boolean = false,
      minParagraphChars: Int = 5,
  ): Seq[(String, DataFrame)] =
    recordBoundaries { stage =>
      val quality = cleanedCrawlPrefix(df, idCol, None, htmlCol, urlCol, langs,
        blocklist, canonicalizeNfc, c4, soft404, redactPii, mainContent, stripTracking,
        paragraphBreaks, stage)
      dedupAndCap(quality, maxPerHost, jaccardThreshold, minLineChars,
        Materialize.Lazy, paragraphDedup, minParagraphChars, stage)
    }

  /** The funnel report computed from collected stage boundaries —
    * docs + surviving tokens in ONE aggregation per landed frame;
    * tokens_out accounts for both dropped docs and tokens a
    * transforming stage removed from survivors (c4 lines, corpus-wide
    * line dedup).
    */
  private[graft] def funnelFromBoundaries(
      spark: org.apache.spark.sql.SparkSession,
      inputCount: Long,
      boundaries: Seq[(String, DataFrame)],
      textCol: String = "text",
  ): DataFrame = {
    import spark.implicits._
    var prevN = inputCount
    val stages = boundaries.map { case (name, landed) =>
      val agg = landed.agg(
        count(lit(1)).as("n"),
        coalesce(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")), lit(0L)).as("t"))
        .head()
      val n = agg.getLong(0)
      val row = (name, prevN, n, agg.getLong(1))
      prevN = n
      row
    }
    stages.zipWithIndex
      .map { case ((name, in, out, toks), ix) => (ix, name, in, in - out, out, toks) }
      .toDF("stage_ix", "stage", "docs_in", "docs_dropped", "docs_out", "tokens_out")
  }

  /** Per-document drop attribution from collected stage boundaries:
    * each stage's dropped ids are the anti-join of consecutive
    * boundaries (id-only frames); `baselineIds` — an (id) frame of
    * the chain's raw input — adds an anti-join against the FIRST
    * boundary for chains whose first recorded stage can drop
    * (prepare's lang filter; webIngest's extract cannot, so it passes
    * None). Shipped docs (the last boundary) label NULL.
    */
  private[graft] def dropReasonsFromBoundaries(
      baselineIds: Option[DataFrame],
      boundaries: Seq[(String, DataFrame)],
      idColName: String = "id",
  ): DataFrame = {
    val idFrames = boundaries.map { case (n, f) => (n, f.select(col(idColName).as("id"))) }
    val chain = baselineIds.map(b => ("__input", b.select(col("id")))).toSeq ++ idFrames
    val drops = chain
      .sliding(2)
      .collect { case Seq((_, prev), (name, cur)) =>
        prev.join(cur, Seq("id"), "left_anti").withColumn("drop_stage", lit(name))
      }
      .toList
    val shipped = idFrames.last._2.withColumn("drop_stage", lit(null).cast("string"))
    drops.reduceOption(_ unionByName _) match {
      case Some(d) => shipped.unionByName(d)
      case None => shipped
    }
  }

  /** PER-DOCUMENT drop attribution for [[webIngest]] — the debugging
    * companion of the aggregate [[webIngestFunnel]]: one row per
    * INPUT document with `drop_stage` naming the stage that
    * eliminated it (same stage names as the funnel), or NULL for
    * documents that ship. Where the funnel answers "how much did each
    * stage cost me", this answers "why is THIS url missing from the
    * corpus" — the question every curation on-call actually gets.
    *
    * Mechanics: the same boundaries as [[webIngestFunnel]]
    * ([[ingestBoundaries]] — webIngest's own chain), with the
    * per-stage DROPPED ids derived as the anti-join of consecutive
    * boundaries — id-only frames, so the attribution costs one narrow
    * anti-join per stage over already-landed boundaries. First-drop
    * semantics are structural: a doc leaves the chain at the first
    * stage that drops it and cannot appear in a later stage's
    * anti-join.
    *
    * Scale shape: identical to the funnel (it IS the funnel's
    * chain) + per-stage (id, stage) frames unioned at the end;
    * run on audit samples or incident slices, not the hot path.
    */
  def webIngestDropReasons(
      df: DataFrame,
      idCol: String,
      htmlCol: String,
      urlCol: String,
      langs: Seq[String] = Seq.empty,
      maxPerHost: Int = 100000,
      jaccardThreshold: Double = 0.8,
      minLineChars: Int = 5,
      blocklist: Option[DataFrame] = None,
      canonicalizeNfc: Boolean = false,
      c4: Boolean = false,
      soft404: Boolean = false,
      redactPii: Boolean = false,
      mainContent: Boolean = false,
      stripTracking: Boolean = false,
      paragraphBreaks: Boolean = false,
      paragraphDedup: Boolean = false,
      minParagraphChars: Int = 5,
  ): DataFrame =
    dropReasonsFromBoundaries(None,
      ingestBoundaries(df, idCol, htmlCol, urlCol, langs, maxPerHost,
        jaccardThreshold, minLineChars, blocklist, canonicalizeNfc, c4, soft404,
        redactPii, mainContent, stripTracking, paragraphBreaks, paragraphDedup,
        minParagraphChars))

  /** The shared STATELESS crawl-cleaning prefix of EVERY web-ingest
    * face — batch ([[webIngest]]) and streaming
    * ([[graft.streaming.StreamingWebIngest]]) run this exact function,
    * so the stage list and option positions can never diverge between
    * them (the stream ≡ batch specs then pin behavior, not two
    * hand-kept copies):
    *
    *   extract ([[WebText.htmlToText]], or [[WebText.htmlToMainText]]
    *   with `mainContent`) → optional NFC → optional C4 → optional
    *   soft-404 drop → URL parts (optional `stripTracking`) →
    *   optional blocklist → langId → `langs` filter → per-language
    *   Gopher pass → optional PII redaction (BEFORE every dedup
    *   stage downstream — prepare()'s order).
    *
    * `tsCol` (streaming's event time) is carried through as `ts` when
    * present. Output: (id[, ts], text, url_norm, url_host,
    * lang_pred). Every stage is a per-row projection/filter or a
    * stream-safe join — no state, streams as-is.
    */
  private[graft] def cleanedCrawlPrefix(
      df: DataFrame,
      idCol: String,
      tsCol: Option[String],
      htmlCol: String,
      urlCol: String,
      langs: Seq[String],
      blocklist: Option[DataFrame],
      canonicalizeNfc: Boolean,
      c4: Boolean,
      soft404: Boolean,
      redactPii: Boolean,
      mainContent: Boolean,
      stripTracking: Boolean,
      paragraphBreaks: Boolean = false,
      stage: StageHook = noStages,
  ): DataFrame = {
    val ts = tsCol.map(c => col(c).as("ts")).toSeq
    val src = df.select(
      Seq(col(idCol).as("id")) ++ ts ++
        Seq(col(htmlCol).as("__html"), col(urlCol).as("__url")): _*)
    val extracted0 =
      (if (mainContent)
         WebText.htmlToMainText(src, "__html", outCol = "text",
           paragraphBreaks = paragraphBreaks)
       else WebText.htmlToText(src, "__html", outCol = "text",
         paragraphBreaks = paragraphBreaks))
        .drop("__html")
    // optional NFC canonicalization BEFORE any hashing stage, so
    // composed/decomposed spellings of the same page dedup together
    // (default off: byte-stable output for existing callers)
    val extracted1 = stage("extract",
      if (canonicalizeNfc)
        extracted0.withColumn("text", TextAnalysis.canonicalize(col("text")))
      else extracted0)
    val extracted2 =
      if (c4) stage("c4", QualityFilters.c4Clean(extracted1, "text")) else extracted1
    val extracted =
      if (soft404) stage("soft404", QualityFilters.dropSoft404(extracted2, "text"))
      else extracted2
    val withUrl0 =
      WebText.withUrlParts(extracted, "__url", stripTracking = stripTracking).drop("__url")
    // optional domain blocklist, applied on the normalized host as
    // early as possible (blocked pages never reach langId/quality)
    val withUrl = blocklist match {
      case Some(bl) =>
        stage("blocklist", WebText.filterBlockedHosts(withUrl0, "id", "url_host", bl))
      case None => withUrl0
    }
    val withLang = TextAnalysis.withLangId(withUrl, "text")
    val langKept =
      if (langs.isEmpty) withLang
      else stage("lang_filter", withLang.where(col("lang_pred").isInCollection(langs)))
    val outCols = Seq(col("id")) ++ tsCol.map(_ => col("ts")).toSeq ++
      Seq(col("text"), col("url_norm"), col("url_host"), col("lang_pred"))
    val quality0 = stage("gopher", QualityFilters
      .withGopherFlagsByLang(langKept, "text", "lang_pred")
      .where(col("pass"))
      .select(outCols: _*))
    // PII redaction sits between the filters and the dedup stages
    // (prepare's order): redacted text is what gets line-deduped,
    // hashed, and shipped — contact-detail variants collapse
    if (redactPii)
      TextAnalysis
        .redactPii(quality0, "text")
        .withColumn("text", col("redacted"))
        .drop("redacted", "pii_found")
    else quality0
  }

  def prepare(
      df: DataFrame,
      idCol: String,
      textCol: String,
      langs: Seq[String] = Seq("en"),
      langCol: Option[String] = None,
      minQuality: Double = 0.3,
      jaccardThreshold: Double = 0.8,
      transitive: Boolean = true,
      window: Int = 512,
      stride: Int = 512,
      canonicalizeNfc: Boolean = false,
      materialize: Materialize = Materialize.LocalCheckpoint,
  ): DataFrame =
    // `materialize` threads to the dedup boundary like webIngest's —
    // a ParquetDir run lands the corpus-sized survivor frame durably
    // (`<dir>/dedup/`), the preemptible-executor restart point
    TextAnalysis.chunkTokens(
      preparedDocs(df, idCol, textCol, langs, langCol, minQuality, jaccardThreshold,
        transitive, canonicalizeNfc, stageMaterialize(materialize, "dedup"), noStages),
      idCol, textCol, window, stride)

  /** [[prepare]]'s document chain, before chunking: NFC → language
    * filter → quality filter → PII redaction → exact+near dedup.
    */
  private def preparedDocs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      langs: Seq[String],
      langCol: Option[String],
      minQuality: Double,
      jaccardThreshold: Double,
      transitive: Boolean,
      canonicalizeNfc: Boolean,
      dedupMaterialize: Materialize,
      stage: StageHook,
  ): DataFrame = {
    // optional NFC before any scoring/hashing — the webIngest option's
    // twin (default off: byte-stable output for existing callers)
    val src =
      if (canonicalizeNfc) df.withColumn(textCol, TextAnalysis.canonicalize(col(textCol)))
      else df
    val lang: Column = langCol.map(col).getOrElse(TextAnalysis.langIdUdf(col(textCol)))
    // two consecutive filters, one boundary each; with no hook between
    // them Spark combines them into the one `lang AND quality` filter
    val langKept = stage("lang_filter",
      TextAnalysis.qualityScore(src, textCol).where(lang.isInCollection(langs)))
    val filtered = stage("quality",
      langKept.where(col("quality_score") >= minQuality).select(src.columns.map(col): _*))
    // redaction transforms but never drops: no boundary, and it runs
    // before the dedup stages so contact-detail variants collapse
    val redacted = TextAnalysis
      .redactPii(filtered, textCol)
      .withColumn(textCol, col("redacted"))
      .drop("redacted", "pii_found")
    stage("near_dup", Dedup.cleanCorpusHooked(redacted, idCol, textCol, jaccardThreshold,
      transitive, dedupMaterialize, stage("exact_dedup", _)))
  }

  /** [[prepare]] continued to the training-ready layout: chunks get a
    * seeded deterministic global shuffle position ([[Packing
    * .deterministicShuffle]] — reproducible epoch order, no
    * single-partition window), then the packed-sequence layout at
    * `seqLen` tokens in that order ([[Packing.sequencePackingByCount]]
    * over the chunk token counts). Output: one row per surviving
    * chunk — (chunk_id, id, chunk_idx, chunk_text, n_chunk_tokens,
    * pos, start_offset, pack_first, pack_last); `pack_first/last` are
    * the training-sequence ids the chunk occupies.
    */
  def prepareSequences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seqLen: Int = 512,
      shuffleSalt: String = "epoch0",
      langs: Seq[String] = Seq("en"),
      langCol: Option[String] = None,
      minQuality: Double = 0.3,
      jaccardThreshold: Double = 0.8,
      materialize: Materialize = Materialize.LocalCheckpoint,
  ): DataFrame = {
    val chunks = prepare(
      df, idCol, textCol, langs, langCol, minQuality, jaccardThreshold,
      transitive = true, window = seqLen, stride = seqLen, materialize = materialize)
      .withColumn("chunk_id", concat(col(idCol).cast("string"), lit("#"), col("chunk_idx")))
      .persist()
    // unordered: the join below destroys row order — the public
    // shuffleAndPack's global orderBy(pos) would be pure overhead
    val layout =
      Packing.shuffleAndPackUnordered(chunks, "chunk_id", "n_chunk_tokens", seqLen, shuffleSalt)
    // boundary, not persist: corpus-sized frame handed to the
    // caller — no CacheManager entry to leak; layout is already
    // checkpoint-backed (shuffleAndPack), chunks released here. A
    // ParquetDir run lands it durably under `<dir>/layout/`.
    val out = Materialize(
      chunks
        .join(
          layout.select(
            col("chunk_id"), col("pos"), col("start_offset"),
            col("pack_first"), col("pack_last")),
          "chunk_id"),
      stageMaterialize(materialize, "layout"))
    chunks.unpersist(blocking = false)
    out
  }

  /** Per-stage ATTRITION REPORT for [[prepare]] — the text-corpus
    * counterpart of [[webIngestFunnel]], same row contract:
    * (stage_ix, stage, docs_in, docs_dropped, docs_out, tokens_out),
    * consecutive rows chaining, `tokens_out` the surviving
    * whitespace-token volume. Stages: `lang_filter`, `quality`,
    * `exact_dedup`, `near_dup` (NFC/PII transform without dropping;
    * chunking fans out, neither carries a row).
    *
    * Scale shape: identical to [[webIngestFunnel]] — one count per
    * boundary over localCheckpointed frames; a REPORT operator for
    * audit samples and periodic slices, not the hot path.
    */
  def prepareFunnel(
      df: DataFrame,
      idCol: String,
      textCol: String,
      langs: Seq[String] = Seq("en"),
      langCol: Option[String] = None,
      minQuality: Double = 0.3,
      jaccardThreshold: Double = 0.8,
      canonicalizeNfc: Boolean = false,
  ): DataFrame =
    funnelFromBoundaries(df.sparkSession, df.count(),
      prepareBoundaries(df, idCol, textCol, langs, langCol, minQuality,
        jaccardThreshold, canonicalizeNfc),
      textCol)

  /** [[prepare]]'s document chain run once through
    * [[recordBoundaries]], landed boundaries collected — prepare's
    * twin of [[ingestBoundaries]], shared by both report faces (and
    * by gate suites auditing one corpus through both).
    */
  private[graft] def prepareBoundaries(
      df: DataFrame,
      idCol: String,
      textCol: String,
      langs: Seq[String] = Seq("en"),
      langCol: Option[String] = None,
      minQuality: Double = 0.3,
      jaccardThreshold: Double = 0.8,
      canonicalizeNfc: Boolean = false,
  ): Seq[(String, DataFrame)] =
    recordBoundaries(stage => preparedDocs(df, idCol, textCol, langs, langCol, minQuality,
      jaccardThreshold, transitive = true, canonicalizeNfc, Materialize.Lazy, stage))

  /** PER-DOCUMENT drop attribution for [[prepare]] — the
    * [[webIngestDropReasons]] counterpart: one row per input document
    * with `drop_stage` naming the stage that eliminated it (same
    * names as [[prepareFunnel]]), NULL for documents whose text
    * ships into chunking. Same chain, same anti-join mechanics,
    * same first-drop-is-structural property.
    */
  def prepareDropReasons(
      df: DataFrame,
      idCol: String,
      textCol: String,
      langs: Seq[String] = Seq("en"),
      langCol: Option[String] = None,
      minQuality: Double = 0.3,
      jaccardThreshold: Double = 0.8,
      canonicalizeNfc: Boolean = false,
  ): DataFrame =
    dropReasonsFromBoundaries(
      Some(df.select(col(idCol).as("id")).localCheckpoint(true)),
      prepareBoundaries(df, idCol, textCol, langs, langCol, minQuality,
        jaccardThreshold, canonicalizeNfc),
      idCol)
}
