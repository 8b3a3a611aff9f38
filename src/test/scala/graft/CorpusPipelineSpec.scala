package graft

import graft.operators.CorpusPipeline

class CorpusPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val prose =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill " +
      "in the afternoon sun and birds sing in the garden trees near the old stone wall today"

  /** A funnel ends where its pipeline ships: the stages in `stages`
    * order, the last `docs_out` = the shipped distinct ids, the last
    * `tokens_out` = the shipped chunk tokens (chunking conserves them).
    */
  private def assertFunnelShips(
      funnel: org.apache.spark.sql.DataFrame,
      stages: Seq[String],
      shipped: org.apache.spark.sql.DataFrame,
      idCol: String): Unit = {
    val rows = funnel.orderBy("stage_ix").collect()
    val last = rows.last
    val shippedTokens = shipped.agg(org.apache.spark.sql.functions.sum("n_chunk_tokens")).head()
    assert(
      rows.map(_.getAs[String]("stage")).toSeq == stages &&
        last.getAs[Long]("docs_out") == shipped.select(idCol).distinct().count() &&
        last.getAs[Long]("tokens_out") == shippedTokens.getLong(0),
      s"funnel ${rows.toSeq} vs shipped tokens $shippedTokens")
  }

  test("prepare: filters, redacts, dedups, chunks — only clean canonical content survives") {
    val docs = Seq(
      (1L, prose), // keeper
      (2L, prose), // exact dup of 1 → dropped
      (3L, prose.replace("afternoon", "morning")), // near-dup of 1 → dropped
      (4L, "der hund und die katze sind nicht mit dem mann im haus heute hier"), // non-en → dropped
      (5L, "123 456 789 012 345 678 901 234 567 890 111 222 333 444"), // digit soup → dropped
      (6L, "write to agent.k@example.com when the river boats arrive at the northern harbor " +
        "carrying crates of winter apples and the merchants open their stalls before sunrise " +
        "to trade with travelers from the eastern villages"), // keeper, PII redacted
    ).toDF("doc_id", "text")

    val out = CorpusPipeline
      .prepare(docs, "doc_id", "text", langs = Seq("en"), minQuality = 0.3,
        jaccardThreshold = 0.6, window = 16, stride = 16)
      .collect()

    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc.keySet == Set(1L, 6L), s"survivors: ${byDoc.keySet}")
    val allText = out.map(_.getString(2)).mkString(" ")
    assert(!allText.contains("agent.k@example.com"), "PII must be redacted")
    assert(allText.contains("[EMAIL]"))
    // chunking contract: every chunk ≤ window tokens, indexes contiguous
    assert(out.forall(_.getLong(3) <= 16L))
    byDoc.values.foreach { chunks =>
      val idx = chunks.map(_.getLong(1)).sorted
      assert(idx.sameElements(idx.indices.map(_.toLong)), "chunk indexes contiguous from 0")
    }
    // doc 1's prose is 34 tokens → two full 16-token chunks + 2-token tail
    assert(byDoc(1L).map(_.getLong(3)).sorted.sameElements(Array(2L, 16L, 16L)))
  }

  test("prepareSequences: shuffle+pack layout conserves tokens and is salt-deterministic") {
    val docs = (1L to 20L).map { i =>
      (i, prose + s" unique marker token alpha$i beta$i gamma$i delta$i epsilon$i zeta$i")
    }.toDF("doc_id", "text")
    val out = CorpusPipeline
      .prepareSequences(docs, "doc_id", "text", seqLen = 16, shuffleSalt = "e1",
        jaccardThreshold = 0.99)
    val rows = out
      .select("chunk_id", "pos", "n_chunk_tokens", "start_offset", "pack_first", "pack_last")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._2)
    assert(rows.nonEmpty)
    // positions are a contiguous 1..n permutation
    assert(rows.map(_._2).toSeq == (1L to rows.length))
    // offsets are the running sum of counts in pos order (token conservation)
    var expect = 0L
    rows.foreach { case (cid, _, n, off, pf, pl) =>
      assert(off == expect, s"$cid offset $off != $expect")
      assert(pf == off / 16, s"$cid pack_first")
      assert(pl == (if (n > 0) (off + n - 1) / 16 else off / 16), s"$cid pack_last")
      expect += n
    }
    // same salt reproduces the layout exactly; different salt reorders
    val again = CorpusPipeline
      .prepareSequences(docs, "doc_id", "text", seqLen = 16, shuffleSalt = "e1",
        jaccardThreshold = 0.99)
      .select("chunk_id", "pos").as[(String, Long)].collect().toMap
    rows.foreach { case (cid, pos, _, _, _, _) => assert(again(cid) == pos) }
    val other = CorpusPipeline
      .prepareSequences(docs, "doc_id", "text", seqLen = 16, shuffleSalt = "e2",
        jaccardThreshold = 0.99)
      .select("chunk_id", "pos").as[(String, Long)].collect().toMap
    assert(rows.exists { case (cid, pos, _, _, _, _) => other(cid) != pos },
      "different salt must reorder")
    out.unpersist()
  }

  test("prepare with predicted language (no label column) keeps english prose") {
    val docs = Seq(
      (1L, prose),
      (2L, "el perro y el gato están en la casa con una mujer y no hay más aquí hoy"),
    ).toDF("doc_id", "text")
    val out = CorpusPipeline
      .prepare(docs, "doc_id", "text", langs = Seq("en"), minQuality = 0.2,
        window = 64, stride = 64)
      .collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L))
  }

  test("ccnet: line dedup + lang filter + perplexity buckets, head more fluent than tail") {
    val docs = graft.sources.Tables.load(spark, Sf0001, "documents")
      .select($"doc_id", $"text")
    val out = graft.operators.CorpusPipeline
      .ccnet(docs, "doc_id", "text", vocabSize = 5000)
      .select($"id", $"lang_pred", $"avg_logprob", $"ccnet_bucket")
      .collect()
    assert(out.nonEmpty && out.length <= docs.count())
    val byBucket = out.groupBy(_.getString(3))
    assert(byBucket.keySet == Set("head", "middle", "tail"),
      s"all three buckets must be populated: ${byBucket.keySet}")
    def meanLp(b: String) = {
      val xs = byBucket(b).filter(!_.isNullAt(2)).map(_.getDouble(2))
      xs.sum / xs.length
    }
    assert(meanLp("head") > meanLp("middle") && meanLp("middle") > meanLp("tail"),
      s"bucket fluency must be ordered: head=${meanLp("head")} middle=${meanLp("middle")} tail=${meanLp("tail")}")
    // quantile bucketing lands roughly a third in each bucket
    val frac = byBucket.view.mapValues(_.length.toDouble / out.length).toMap
    frac.foreach { case (b, f) =>
      assert(f > 0.15 && f < 0.55, s"bucket $b fraction $f implausible for terciles")
    }
    // deterministic end to end (seeded LM sample, fixed quantile sketch)
    val again = graft.operators.CorpusPipeline
      .ccnet(docs, "doc_id", "text", vocabSize = 5000)
      .select($"id", $"ccnet_bucket")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == out.map(r => r.getLong(0) -> r.getString(3)).toMap)
  }

  test("ccnet lmTarget: external clean target flips the verdict a contaminated slice self-deals") {
    // slice: 1 fluent doc per 4, majority scrambled — self-training
    // learns the scrambled majority's statistics; the clean target
    // restores fluent > scrambled
    val words = Array("the", "quick", "brown", "fox", "jumps",
      "over", "lazy", "dog", "again", "today")
    val fluent = words.mkString(" ")
    val garbage = words.reverse.mkString(" ")
    val docs = (0 until 80).map { i =>
      (i.toLong, (if (i % 4 == 1) fluent else garbage) + " " + (90000 + i))
    }.toDF("doc_id", "text")
    val target = (0 until 10).map(_ => ("en", fluent + " " + fluent)).toDF("lang", "text")
    val scored = graft.operators.CorpusPipeline
      .ccnet(docs, "doc_id", "text", vocabSize = 100, lmTarget = Some(target))
      .select($"id", $"avg_logprob").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fluentScores = scored.filter(_._1 % 4 == 1).values
    val garbageScores = scored.filter(_._1 % 4 != 1).values
    assert(fluentScores.min > garbageScores.max,
      s"clean-target LM must rank every fluent doc above every scrambled one: " +
        s"fluent min=${fluentScores.min} garbage max=${garbageScores.max}")
    // self-trained on the same slice, the scrambled MAJORITY wins —
    // the documented divergence lmTarget exists to close
    val selfScored = graft.operators.CorpusPipeline
      .ccnet(docs, "doc_id", "text", vocabSize = 100)
      .select($"id", $"avg_logprob").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val selfFluent = selfScored.filter(_._1 % 4 == 1).values
    val selfGarbage = selfScored.filter(_._1 % 4 != 1).values
    assert(selfGarbage.max > selfFluent.min,
      "self-trained LM on a scrambled-majority slice should NOT cleanly rank fluent on top")
    // a language missing from the target falls back to self-training
    // (no crash, same output as the no-target call)
    val fallback = graft.operators.CorpusPipeline
      .ccnet(docs, "doc_id", "text", vocabSize = 100,
        lmTarget = Some(Seq(("fr", fluent)).toDF("lang", "text")))
      .select($"id", $"ccnet_bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val selfBuckets = graft.operators.CorpusPipeline
      .ccnet(docs, "doc_id", "text", vocabSize = 100)
      .select($"id", $"ccnet_bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fallback == selfBuckets, "missing-language target must fall back to self-training")
  }

  test("webIngest mainContent/stripTracking: nav dropped at extraction, campaign spellings dedup") {
    val prose = "the data and model pipeline have that sort of careful work " +
      "to be done with many diverse sources and long running jobs "
    def distinctProse(i: Int) = (prose * 3).trim.split(" ").zipWithIndex
      .map { case (w, j) => if (j % 4 == 3) s"$w$i" else w }.mkString(" ")
    def page(body: String) = "<html><body>" +
      "<div><a href='/'>Home</a> <a href='/b'>Blog</a> <a href='/c'>Shop</a></div>" +
      s"<p>$body</p><div><a>Privacy</a> | <a>Terms</a></div></body></html>"
    val rows = Seq(
      (90L, page(distinctProse(1)), "http://a.com/art?id=7&utm_source=mail"),
      (91L, page(distinctProse(1)), "http://a.com/art?id=7&gclid=g1"), // same page, other campaign
      (92L, page(distinctProse(2)), "http://a.com/other?id=8"))
      .toDF("doc_id", "html", "url")
    val out = graft.operators.CorpusPipeline
      .webIngest(rows, "doc_id", "html", "url", seqLen = 256,
        mainContent = true, stripTracking = true)
      .select($"id", $"url_norm", $"chunk_text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    // nav dropped at extraction → the campaign pair's texts are
    // IDENTICAL → exact dedup keeps the min id
    assert(out.keySet == Set(90L, 92L), s"kept: ${out.keySet}")
    assert(out(90L)._1 == "http://a.com/art?id=7", "tracking stripped from url_norm")
    assert(!out(90L)._2.contains("Home") && !out(90L)._2.contains("Privacy"),
      s"nav/footer dropped: ${out(90L)._2}")
    // without mainContent the same pair SURVIVES as two docs (the nav
    // lines differ... they don't — but boilerplate line dedup keeps
    // them equal too; the tracking params alone never differ the text,
    // so the collapse must hold there as well) — pin only the option's
    // extraction delta here: text contains the nav without the option
    val plain = graft.operators.CorpusPipeline
      .webIngest(rows.where($"doc_id" === 92L), "doc_id", "html", "url", seqLen = 256)
      .select($"chunk_text").as[String].collect().head
    assert(plain.contains("Home") && plain.contains("Privacy"),
      "without mainContent the nav/footer text remains")
  }

  test("webIngest: seven stages compose — extract, filter, dedup, cap, layout") {
    val prose = "the data and model pipeline have that sort of careful work " +
      "to be done with many diverse sources and long running jobs "
    // per-token marking: every 4th token carries the doc index, so two
    // docs share almost no word trigrams — near-dup dedup must NOT
    // collapse them (a trailing one-word marker leaves Jaccard ≈ 1)
    def distinctProse(i: Int) = (prose * 3).trim.split(" ").zipWithIndex
      .map { case (w, j) => if (j % 4 == 3) s"$w$i" else w }.mkString(" ")
    def page(body: String) =
      s"<html><head><script>if (1 < 2) alert('x');</script></head><body><p>$body</p></body></html>"
    val rows = (
      // host a: four distinct good docs (cap 2 must bite)
      (1 to 4).map(i => (i.toLong, page(distinctProse(i)), s"HTTP://A.com:80/p$i#f")) ++
      // host b: a good doc and its EXACT duplicate (dedup must drop one)
      Seq(
        (10L, page(distinctProse(10)), "http://b.com/x"),
        (11L, page(distinctProse(10)), "http://b.com/y"),
        // garbage (symbol soup, lang-id "und") — dropped at the language gate
        (12L, page(Seq.fill(60)("### 12345 …").mkString(" ")), "http://b.com/junk"),
        // chinese — kept by the whitelist, out of gopher scope, must PASS THROUGH
        (13L, page("今天天气很好我们一起去公园散步然后吃晚饭"), "http://b.com/zh"),
      )
    ).toDF("doc_id", "html", "url")
    val out = graft.operators.CorpusPipeline
      .webIngest(rows, "doc_id", "html", "url", langs = Seq("en", "zh"),
        maxPerHost = 2, seqLen = 32)
      .collect()
    val ids = out.map(_.getAs[Long]("id")).distinct.sorted
    // garbage (12) dropped at the language gate; one of the 10/11 pair
    // dropped by exact dedup; host a capped from 4 docs to 2; chinese kept
    assert(!ids.contains(12L), "garbage doc must not survive")
    assert(ids.contains(13L), "out-of-scope language must pass through")
    assert(ids.count(i => i == 10L || i == 11L) == 1, "exact duplicate must collapse")
    assert(ids.count(_ <= 4L) == 2, s"host a must be capped to 2 docs, got ${ids.toSeq}")
    // extraction stripped markup: no chunk text contains a tag or script
    assert(out.forall(r => !r.getAs[String]("chunk_text").contains("<")))
    // url machinery: hosts are normalized lowercase registrable hosts
    assert(out.map(_.getAs[String]("url_host")).toSet.subsetOf(Set("a.com", "b.com")))
    // layout invariant: pack positions are distinct and chunk tokens conserved
    val poss = out.map(_.getAs[Long]("pos"))
    assert(poss.distinct.length == poss.length)
    assert(out.forall(r => r.getAs[Long]("n_chunk_tokens") > 0L))
  }

  test("webIngestFunnel: per-stage attrition chains and matches the pipeline's survivors") {
    val prose = "the data and model pipeline have that sort of careful work " +
      "to be done with many diverse sources and long running jobs "
    def distinctProse(i: Int) = (prose * 3).trim.split(" ").zipWithIndex
      .map { case (w, j) => if (j % 4 == 3) s"$w$i" else w }.mkString(" ")
    def page(body: String) =
      s"<html><head><script>if (1 < 2) alert('x');</script></head><body><p>$body</p></body></html>"
    val rows = (
      (1 to 4).map(i => (i.toLong, page(distinctProse(i)), s"HTTP://A.com:80/p$i#f")) ++
      Seq(
        (10L, page(distinctProse(10)), "http://b.com/x"),
        (11L, page(distinctProse(10)), "http://b.com/y"), // exact dup of 10
        (12L, page(Seq.fill(60)("### 12345 …").mkString(" ")), "http://b.com/junk"),
        (13L, page("今天天气很好我们一起去公园散步然后吃晚饭"), "http://b.com/zh"),
      )
    ).toDF("doc_id", "html", "url")
    val funnelRows = graft.operators.CorpusPipeline
      .webIngestFunnel(rows, "doc_id", "html", "url", langs = Seq("en", "zh"), maxPerHost = 2)
      .orderBy("stage_ix")
      .collect()
    val funnel = funnelRows
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("docs_in"),
        r.getAs[Long]("docs_dropped"), r.getAs[Long]("docs_out")))
    assert(funnel.map(_._1).toSeq == Seq(
      "extract", "lang_filter", "gopher", "line_dedup", "exact_dedup", "near_dup", "host_cap"))
    // per-row arithmetic and cross-row chaining
    funnel.foreach { case (st, in, d, out) => assert(in - d == out, s"$st: $in-$d!=$out") }
    funnel.sliding(2).foreach {
      case Array((_, _, _, out), (st2, in2, _, _)) => assert(out == in2, s"chain broken at $st2")
      case _ =>
    }
    val byStage = funnel.map(f => f._1 -> f._3).toMap
    assert(byStage("lang_filter") == 1L, "the symbol-soup doc drops at the language gate")
    // the exact pair collapses at LINE dedup (its lines are corpus-wide
    // duplicates, the non-keeper empties) — the stage the pipeline
    // actually drops it in, not the exact-dedup stage downstream
    assert(byStage("line_dedup") == 1L, s"funnel: ${funnel.toSeq}")
    assert(byStage("exact_dedup") == 0L && byStage("near_dup") == 0L)
    assert(byStage("host_cap") == 2L, "host a capped 4 → 2")
    // token attrition: never increases along the chain
    val toks = funnelRows.map(_.getAs[Long]("tokens_out"))
    toks.sliding(2).foreach {
      case Array(a, b) => assert(b <= a, s"tokens grew along the funnel: ${toks.toSeq}")
      case _ =>
    }
    // the funnel's terminal counts equal the real pipeline's output:
    // surviving docs, and total chunked tokens (chunking conserves them)
    val shipped = graft.operators.CorpusPipeline
      .webIngest(rows, "doc_id", "html", "url", langs = Seq("en", "zh"),
        maxPerHost = 2, seqLen = 32)
    assert(funnel.last._4 == shipped.select("id").distinct().count(),
      s"funnel=${funnel.last._4}")
    val chunkTokens = shipped
      .agg(org.apache.spark.sql.functions.sum("n_chunk_tokens")).head().getLong(0)
    assert(toks.last == chunkTokens,
      s"funnel tokens_out=${toks.last} != chunked total=$chunkTokens")
  }

  test("webIngestFromCapped over the staged host_cap boundary ≡ the fused pipeline (r22 gate seam)") {
    // the q122 gate rides the recorded chain's host_cap boundary and
    // runs only the layout tail — this pins, row for row and column
    // for column, that (a) the recorded boundary (webIngest's own chain
    // through the landing stage hook) holds the same capped survivors, and
    // (b) webIngestFromCapped over that boundary reproduces the full
    // fused webIngest output. Corpus exercises every dropping stage:
    // lang filter, line dedup (exact pair), NEAR-dup (20/21 differ by
    // one trailing token), host cap.
    val prose = "the data and model pipeline have that sort of careful work " +
      "to be done with many diverse sources and long running jobs "
    def distinctProse(i: Int) = (prose * 3).trim.split(" ").zipWithIndex
      .map { case (w, j) => if (j % 4 == 3) s"$w$i" else w }.mkString(" ")
    def page(body: String) =
      s"<html><head><script>if (1 < 2) alert('x');</script></head><body><p>$body</p></body></html>"
    val rows = (
      (1 to 4).map(i => (i.toLong, page(distinctProse(i)), s"HTTP://A.com:80/p$i#f")) ++
      Seq(
        (10L, page(distinctProse(10)), "http://b.com/x"),
        (11L, page(distinctProse(10)), "http://b.com/y"), // exact dup of 10
        (12L, page(Seq.fill(60)("### 12345 …").mkString(" ")), "http://b.com/junk"),
        (13L, page("今天天气很好我们一起去公园散步然后吃晚饭"), "http://b.com/zh"),
        // NEAR-dup pair: 21 is 20 plus one trailing token (Jaccard ≈ 1)
        (20L, page(distinctProse(20)), "http://c.com/n1"),
        (21L, page(distinctProse(20) + " extra"), "http://c.com/n2"),
      )
    ).toDF("doc_id", "html", "url")
    def rendered(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val boundaries = graft.operators.CorpusPipeline
      .ingestBoundaries(rows, "doc_id", "html", "url", langs = Seq("en", "zh"),
        maxPerHost = 2)
    val capped = boundaries.find(_._1 == "host_cap").get._2
    val viaBoundary = graft.operators.CorpusPipeline
      .webIngestFromCapped(capped, seqLen = 32, shuffleSalt = "epoch0")
    val fused = graft.operators.CorpusPipeline
      .webIngest(rows, "doc_id", "html", "url", langs = Seq("en", "zh"),
        maxPerHost = 2, seqLen = 32)
    assert(viaBoundary.columns.toSeq == fused.columns.toSeq,
      s"column order drifted: ${viaBoundary.columns.toSeq} vs ${fused.columns.toSeq}")
    val a = rendered(viaBoundary)
    val b = rendered(fused)
    assert(a.nonEmpty, "equivalence corpus produced no output — the pin is vacuous")
    // the near-dup pair must actually have collapsed (the stage under test)
    val survivors = fused.select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(Seq(20L, 21L).count(survivors) == 1, s"near-dup pair must collapse: $survivors")
    assert(a == b, s"boundary-served layout diverged from the fused pipeline:\n${
      a.diff(b).take(3)}\nvs\n${b.diff(a).take(3)}")
  }

  test("webIngest paragraphDedup: repeated block drops whole, partial-overlap block survives intact") {
    val boiler = "subscribe to the weekly newsletter for updates and news from the site today"
    def prose(i: Int) = "the data and model pipeline have that sort of careful work " +
      s"to be done with many diverse sources item${i}z and long running jobs " +
      s"over item${i}q these varied machines and very patient operators item${i}w still"
    // B = two-line boilerplate block identical on every page; P shares
    // B's first line but has a doc-unique tail line; C is unique prose
    def page(i: Int) =
      s"<html><body><div>$boiler<br>all rights reserved by the site team</div>" +
        s"<div>$boiler<br>special offer item${i}y today only</div>" +
        s"<p>${prose(i)}</p></body></html>"
    val rows = (1 to 5).map(i => (i.toLong, page(i), s"http://h.com/p$i"))
      .toDF("doc_id", "html", "url")
    val out = graft.operators.CorpusPipeline
      .webIngest(rows, "doc_id", "html", "url", langs = Seq("en"), seqLen = 512,
        minLineChars = -1, paragraphBreaks = true, paragraphDedup = true)
      .select("id", "chunk_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == (1L to 5L).toSet, "every planted doc survives to one chunk")
    // B survives only on the minimum doc
    assert(out(1L).contains("all rights reserved by the site team"))
    (2L to 5L).foreach(i =>
      assert(!out(i).contains("all rights reserved"), s"B must drop whole from doc $i"))
    // P survives INTACT everywhere — shared first line included
    (1L to 5L).foreach { i =>
      assert(out(i).contains(s"$boiler special offer item${i}y today only"),
        s"partial-overlap block must survive intact on doc $i: ${out(i)}")
    }
    // the funnel grows a paragraph_dedup stage, chained and green
    val funnel = graft.operators.CorpusPipeline
      .webIngestFunnel(rows, "doc_id", "html", "url", langs = Seq("en"),
        minLineChars = -1, paragraphBreaks = true, paragraphDedup = true)
      .orderBy("stage_ix").collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("docs_in"),
        r.getAs[Long]("docs_dropped"), r.getAs[Long]("docs_out")))
    // minLineChars < 0 skips the line stage: no line_dedup row at all
    assert(funnel.map(_._1).toSeq == Seq("extract", "lang_filter", "gopher",
      "paragraph_dedup", "exact_dedup", "near_dup", "host_cap"))
    funnel.foreach { case (st, in, d, o) => assert(in - d == o, s"$st: $in-$d!=$o") }
    assert(funnel.forall(_._3 == 0L), s"no planted doc fully drops: ${funnel.toSeq}")
  }

  test("webIngestDropReasons: per-doc attribution aggregates to the funnel exactly") {
    val prose = "the data and model pipeline have that sort of careful work " +
      "to be done with many diverse sources and long running jobs "
    def distinctProse(i: Int) = (prose * 3).trim.split(" ").zipWithIndex
      .map { case (w, j) => if (j % 4 == 3) s"$w$i" else w }.mkString(" ")
    def page(body: String) = s"<html><body><p>$body</p></body></html>"
    val rows = (
      (1 to 4).map(i => (i.toLong, page(distinctProse(i)), s"http://a.com/p$i")) ++
      Seq(
        (10L, page(distinctProse(10)), "http://b.com/x"),
        (11L, page(distinctProse(10)), "http://b.com/y"), // exact pair → dies at line dedup
        (12L, page(Seq.fill(60)("### 12345 …").mkString(" ")), "http://b.com/junk"),
      )
    ).toDF("doc_id", "html", "url")
    val reasons = graft.operators.CorpusPipeline
      .webIngestDropReasons(rows, "doc_id", "html", "url",
        langs = Seq("en"), maxPerHost = 2)
      .collect()
      .map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("drop_stage")))
      .toMap
    assert(reasons.size == 7, "one verdict per input doc")
    assert(reasons(12L).contains("lang_filter"))
    assert(Seq(reasons(10L), reasons(11L)).count(_.contains("line_dedup")) == 1,
      s"one of the exact pair dies at line dedup: $reasons")
    assert(reasons.values.count(_.isEmpty) == 3, s"2 ship on host a + 1 on host b: $reasons")
    assert(reasons.values.count(_.contains("host_cap")) == 2)
    // the per-doc labels must AGGREGATE to the funnel's per-stage counts
    val funnel = graft.operators.CorpusPipeline
      .webIngestFunnel(rows, "doc_id", "html", "url", langs = Seq("en"), maxPerHost = 2)
      .collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("docs_dropped"))
      .toMap
    val byStage = reasons.values.flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    funnel.foreach { case (stage, dropped) =>
      assert(byStage.getOrElse(stage, 0L) == dropped,
        s"$stage: labels=${byStage.get(stage)} funnel=$dropped")
    }
  }

  test("prepareFunnel + prepareDropReasons: per-stage attrition chains, agrees with prepare, labels aggregate") {
    val docs = Seq(
      (1L, prose), // keeper
      (2L, prose), // exact dup of 1 → exact_dedup
      (3L, prose.replace("afternoon", "morning")), // near-dup of 1 → near_dup
      (4L, "der hund und die katze sind nicht mit dem mann im haus heute hier"), // non-en
      (5L, "123 456 789 012 345 678 901 234 567 890 111 222 333 444"), // digit soup → non-en
      (6L, "write to agent.k@example.com when the river boats arrive at the northern harbor " +
        "carrying crates of winter apples and the merchants open their stalls before sunrise " +
        "to trade with travelers from the eastern villages"), // keeper, PII redacted
      (7L, "the and that this"), // English but 4 tokens → quality (score ≤ 0.2 < 0.3)
    ).toDF("doc_id", "text")
    val funnelRows = CorpusPipeline
      .prepareFunnel(docs, "doc_id", "text", langs = Seq("en"), jaccardThreshold = 0.6)
      .orderBy("stage_ix")
      .collect()
    val funnel = funnelRows.map(r => (r.getAs[String]("stage"), r.getAs[Long]("docs_in"),
      r.getAs[Long]("docs_dropped"), r.getAs[Long]("docs_out")))
    assert(funnel.map(_._1).toSeq == Seq("lang_filter", "quality", "exact_dedup", "near_dup"))
    funnel.foreach { case (st, in, d, out) => assert(in - d == out, s"$st: $in-$d!=$out") }
    funnel.sliding(2).foreach {
      case Array((_, _, _, out), (st2, in2, _, _)) => assert(out == in2, s"chain broken at $st2")
      case _ =>
    }
    val dropped = funnel.map(f => f._1 -> f._3).toMap
    assert(dropped == Map(
      "lang_filter" -> 2L, "quality" -> 1L, "exact_dedup" -> 1L, "near_dup" -> 1L), s"$dropped")
    // token attrition never increases, and the terminal row equals the
    // REAL prepare()'s output (surviving docs; chunking conserves tokens)
    val toks = funnelRows.map(_.getAs[Long]("tokens_out"))
    toks.sliding(2).foreach {
      case Array(a, b) => assert(b <= a, s"tokens grew: ${toks.toSeq}")
      case _ =>
    }
    val shipped = CorpusPipeline.prepare(docs, "doc_id", "text",
      langs = Seq("en"), jaccardThreshold = 0.6, window = 16, stride = 16)
    assert(funnel.last._4 == shipped.select("doc_id").distinct().count())
    assert(toks.last ==
      shipped.agg(org.apache.spark.sql.functions.sum("n_chunk_tokens")).head().getLong(0))
    // per-doc attribution: the stage each doc actually died in, NULL for shippers
    val reasons = CorpusPipeline
      .prepareDropReasons(docs, "doc_id", "text", langs = Seq("en"), jaccardThreshold = 0.6)
      .collect()
      .map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("drop_stage")))
      .toMap
    assert(reasons.size == 7, "one verdict per input doc")
    assert(reasons(4L).contains("lang_filter") && reasons(5L).contains("lang_filter"))
    assert(reasons(7L).contains("quality"))
    assert(reasons(2L).contains("exact_dedup") && reasons(3L).contains("near_dup"))
    assert(reasons(1L).isEmpty && reasons(6L).isEmpty)
    // and the labels aggregate to the funnel exactly
    val byStage = reasons.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(byStage == dropped, s"labels=$byStage funnel=$dropped")
  }

  test("webIngest: ParquetDir materialize lands every stage boundary and matches LocalCheckpoint") {
    val prose = "the data and model pipeline have that sort of careful work " +
      "to be done with many diverse sources and long running jobs "
    def distinctProse(i: Int) = (prose * 3).trim.split(" ").zipWithIndex
      .map { case (w, j) => if (j % 4 == 3) s"$w$i" else w }.mkString(" ")
    val rows = (1 to 6).map(i =>
      (i.toLong, s"<html><body><p>${distinctProse(i)}</p></body></html>",
        s"http://h${i % 2}.com/p$i")).toDF("doc_id", "html", "url")
    val dir = java.nio.file.Files.createTempDirectory("webingest").toString
    def rowsOf(m: graft.operators.Materialize) = graft.operators.CorpusPipeline
      .webIngest(rows, "doc_id", "html", "url", seqLen = 32, materialize = m)
      .select("chunk_id", "pos", "n_chunk_tokens", "url_host")
      .collect().map(_.toSeq).toSet
    val durable = rowsOf(graft.operators.Materialize.ParquetDir(dir))
    for (stage <- Seq("quality", "dedup", "chunks", "layout"))
      assert(new java.io.File(s"$dir/$stage").isDirectory, s"missing stage dir $stage")
    assert(durable == rowsOf(graft.operators.Materialize.LocalCheckpoint))
  }

  test("prepareSequences: ParquetDir materialize lands the dedup + layout boundaries and matches LocalCheckpoint") {
    val docs = (1L to 12L).map { i =>
      (i, prose + s" unique marker token alpha$i beta$i gamma$i delta$i epsilon$i zeta$i")
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("prepseq").toString
    def rowsOf(m: graft.operators.Materialize) = CorpusPipeline
      .prepareSequences(docs, "doc_id", "text", seqLen = 16, shuffleSalt = "e1",
        jaccardThreshold = 0.99, materialize = m)
      .select("chunk_id", "pos", "n_chunk_tokens")
      .collect().map(_.toSeq).toSet
    val durable = rowsOf(graft.operators.Materialize.ParquetDir(dir))
    for (stage <- Seq("dedup", "layout"))
      assert(new java.io.File(s"$dir/$stage").isDirectory, s"missing stage dir $stage")
    assert(durable == rowsOf(graft.operators.Materialize.LocalCheckpoint))
  }

  test("ccnet: per-language LMs — adding a second language never changes the first's scores") {
    // english corpus slice + a french block with distinct bigram stats;
    // with per-language LMs the english scores are identical whether or
    // not french participates (a shared mixed-corpus LM would shift them)
    val en = graft.sources.Tables.load(spark, Sf0001, "documents")
      .select($"doc_id", $"text").limit(40)
    val fr = (1 to 25).map { i =>
      (10000L + i, s"le chat numero $i est dans la maison et il ne veut pas sortir " +
        s"avec nous pour le moment mais nous restons avec lui la")
    }.toDF("doc_id", "text")
    val both = en.unionByName(fr)
    def enScores(df: org.apache.spark.sql.DataFrame, langs: Seq[String]) =
      graft.operators.CorpusPipeline
        .ccnet(df, "doc_id", "text", langs = langs, vocabSize = 5000)
        .where($"lang_pred" === "en")
        .select($"id", $"avg_logprob")
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
    val alone = enScores(en, Seq("en"))
    val mixed = enScores(both, Seq("en", "fr"))
    assert(alone.nonEmpty && alone == mixed,
      s"english scores must not move when french joins: ${alone.size} vs ${mixed.size}")
  }

  test("webIngest options: blocklist drops a domain early; NFC collapses composed/decomposed dups") {
    val prose = "the data and model pipeline have that sort of careful work " +
      "to be done with many diverse sources and long running jobs "
    def distinctProse(i: Int) = (prose * 3).trim.split(" ").zipWithIndex
      .map { case (w, j) => if (j % 4 == 3) s"$w$i" else w }.mkString(" ")
    def page(body: String) =
      s"<html><body><p>$body</p></body></html>"
    // docs 30/31: the SAME text, one spelled composed (é), one
    // decomposed (e+U+0301) — only NFC makes them exact duplicates
    val composed = distinctProse(30) + " caf\u00E9"
    val decomposed = distinctProse(30) + " cafe\u0301"
    val rows = Seq(
      (1L, page(distinctProse(1)), "http://good.com/a"),
      (2L, page(distinctProse(2)), "http://ads.Spam.net/x"), // blocked subdomain
      (30L, page(composed), "http://good.com/c"),
      (31L, page(decomposed), "http://good.com/d"),
    ).toDF("doc_id", "html", "url")
    val blocklist = Seq("spam.net").toDF("domain")
    // jaccardThreshold > 1 disables the near-dup stage (no estimate
    // reaches it), so survival differences isolate EXACT dedup's
    // byte-level semantics — precisely what NFC changes
    def run(nfc: Boolean) = graft.operators.CorpusPipeline
      .webIngest(rows, "doc_id", "html", "url", seqLen = 64,
        jaccardThreshold = 1.5, blocklist = Some(blocklist), canonicalizeNfc = nfc)
      .select("id").as[Long].collect().toSet
    val without = run(nfc = false)
    val withNfc = run(nfc = true)
    assert(!without.contains(2L) && !withNfc.contains(2L), "blocked domain must not survive")
    assert(without.contains(30L) && without.contains(31L),
      "without NFC the two spellings are distinct documents")
    assert((withNfc & Set(30L, 31L)).size == 1,
      s"with NFC the composed/decomposed pair must dedup to one: $withNfc")
    // prepare's twin option behaves identically (near-dup disabled the
    // same way so exact dedup's byte semantics are what's observed)
    val plain = Seq(
      (30L, composed + " " + composed),
      (31L, decomposed + " " + decomposed),
    ).toDF("doc_id", "text")
    def runPrepare(nfc: Boolean) = CorpusPipeline
      .prepare(plain, "doc_id", "text", minQuality = 0.0, jaccardThreshold = 1.5,
        window = 64, stride = 64, canonicalizeNfc = nfc)
      .select("doc_id").as[Long].collect().toSet
    assert(runPrepare(false) == Set(30L, 31L))
    assert(runPrepare(true).size == 1)
    // the funnels with the same options run the same chains
    assertFunnelShips(
      CorpusPipeline.webIngestFunnel(rows, "doc_id", "html", "url",
        jaccardThreshold = 1.5, blocklist = Some(blocklist), canonicalizeNfc = true),
      Seq("extract", "blocklist", "gopher", "line_dedup", "exact_dedup", "near_dup", "host_cap"),
      CorpusPipeline.webIngest(rows, "doc_id", "html", "url", seqLen = 64,
        jaccardThreshold = 1.5, blocklist = Some(blocklist), canonicalizeNfc = true),
      "id")
    assertFunnelShips(
      CorpusPipeline.prepareFunnel(plain, "doc_id", "text", minQuality = 0.0,
        jaccardThreshold = 1.5, canonicalizeNfc = true),
      Seq("lang_filter", "quality", "exact_dedup", "near_dup"),
      CorpusPipeline.prepare(plain, "doc_id", "text", minQuality = 0.0, jaccardThreshold = 1.5,
        window = 64, stride = 64, canonicalizeNfc = true),
      "doc_id")
  }

  test("webIngest c4 option: line rules strip boilerplate, doc rules drop thin pages, default off") {
    val prose = "the data and model pipeline have that sort of careful work " +
      "to be done with many diverse sources and long running jobs "
    def distinctProse(i: Int) = (prose * 3).trim.split(" ").zipWithIndex
      .map { case (w, j) => if (j % 4 == 3) s"$w$i" else w }.mkString(" ")
    // doc 50: three punctuated paragraphs + a javascript line; doc 51:
    // long fluent prose WITHOUT terminal punctuation — Gopher passes
    // it, C4's line rules erase it (0 sentences < 3)
    val html50 = "<html><body>" +
      s"<p>${distinctProse(1)}.</p>" +
      "<p>please enable javascript to continue reading here.</p>" +
      s"<p>${distinctProse(5)}!</p><p>${distinctProse(9)}?</p></body></html>"
    val html51 = s"<html><body><p>${distinctProse(7)}</p></body></html>"
    val rows = Seq((50L, html50, "http://good.com/a"), (51L, html51, "http://good.com/b"))
      .toDF("doc_id", "html", "url")
    def run(c4: Boolean) = graft.operators.CorpusPipeline
      .webIngest(rows, "doc_id", "html", "url", seqLen = 64, jaccardThreshold = 1.5, c4 = c4)
      .select($"id", $"chunk_text").as[(Long, String)].collect()
    val off = run(c4 = false)
    assert(off.map(_._1).toSet == Set(50L, 51L), s"default off keeps both: ${off.map(_._1).toSet}")
    assert(off.exists(r => r._1 == 50L && r._2.contains("javascript")),
      "without c4 the javascript line survives into chunks")
    val on = run(c4 = true)
    assert(on.map(_._1).toSet == Set(50L), s"c4 drops the unpunctuated page: ${on.map(_._1).toSet}")
    assert(on.forall(!_._2.contains("javascript")), "c4 strips the javascript line")
    // the funnel with every optional prefix stage on runs the same chain
    assertFunnelShips(
      CorpusPipeline.webIngestFunnel(rows, "doc_id", "html", "url", jaccardThreshold = 1.5,
        c4 = true, soft404 = true, redactPii = true, mainContent = true, stripTracking = true),
      Seq("extract", "c4", "soft404", "gopher", "line_dedup", "exact_dedup", "near_dup",
        "host_cap"),
      CorpusPipeline.webIngest(rows, "doc_id", "html", "url", seqLen = 64,
        jaccardThreshold = 1.5, c4 = true, soft404 = true, redactPii = true,
        mainContent = true, stripTracking = true),
      "id")
  }
}
