package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill in the afternoon sun and birds sing in the garden trees near the old stone wall"
  private val nearDup = base.replace("afternoon", "morning") // 1-token change
  private val unrelated =
    "completely different content about database engines shuffle partitions broadcast joins and columnar storage formats with vectorized execution pipelines running on large clusters"

  private lazy val docs = Seq(
    (1L, base),
    (2L, nearDup),
    (3L, unrelated),
    (4L, base), // exact dup of 1
    (5L, "tiny"),
  ).toDF("doc_id", "text")

  test("exactDedup groups identical texts, keeps min id as canonical") {
    val out = Dedup.exactDedup(docs, "doc_id", "text").collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[Long]("canonical_id") == 1L)
    assert(byId(4L).getAs[Long]("canonical_id") == 1L)
    assert(byId(4L).getAs[Long]("group_size") == 2L)
    assert(!byId(4L).getAs[Boolean]("is_canonical"))
    assert(byId(3L).getAs[Boolean]("is_canonical"))
  }

  test("minhash LSH finds planted near-dup, not unrelated text") {
    val pairs = Dedup
      .minHashNearDupPairs(docs, "doc_id", "text", threshold = 0.6)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    assert(pairs.contains((1L, 2L)), s"planted pair missed: $pairs")
    assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)), "exact dup pair missed")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc matched")
  }

  test("simhash: near-dup within hamming 3, unrelated far") {
    val pairs = Dedup
      .simHashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    assert(pairs.contains((1L, 2L)), s"simhash missed near-dup: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard pairs: exact values, planted pair high") {
    val pairs = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect()
    val m = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(m.get((1L, 4L)).contains(1.0), "exact dup must have jaccard 1.0")
    assert(m.getOrElse((1L, 2L), 0.0) > 0.8)
  }

  test("embedding near-dup LSH recall vs brute force on clustered vectors") {
    val rng = new scala.util.Random(7)
    // 20 cluster centers, 5 jittered members each → near-dups within cluster
    val vecs = (0 until 20).flatMap { c =>
      val center = Array.fill(16)(rng.nextGaussian().toFloat)
      (0 until 5).map { m =>
        val v = center.map(x => x + 0.05f * rng.nextGaussian().toFloat)
        (c * 5L + m, v.toSeq)
      }
    }
    val df = vecs.toDF("vec_id", "embedding")
    val exact = df
      .as("a")
      .crossJoin(df.as("b"))
      .where($"a.vec_id" < $"b.vec_id")
      .withColumn("cos", Similarity.cosineCol($"a.embedding", $"b.embedding"))
      .where($"cos" >= 0.95)
      .select($"a.vec_id".as("id_a"), $"b.vec_id".as("id_b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val lsh = Dedup
      .embeddingNearDupPairs(df, "vec_id", "embedding", dim = 16, threshold = 0.95,
        numBits = 64, bands = 16)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    assert(exact.nonEmpty, "test setup: clusters must create near-dup pairs")
    assert(lsh.subsetOf(exact), "LSH must not emit pairs below threshold (verification step)")
    val recall = lsh.size.toDouble / exact.size
    assert(recall > 0.9, s"recall $recall too low (found ${lsh.size}/${exact.size})")
  }

  test("winnowing overlap: verbatim passage in a longer doc scores ~1.0 containment") {
    val passage = "the quick brown fox jumps over the lazy dog while birds sing in the garden"
    val docsW = Seq(
      (1L, passage),
      (2L, s"unrelated preamble text about storage engines and shuffles. $passage and then some closing remarks about clusters"),
      (3L, "completely different content with no shared passages at all in any form whatsoever"),
    ).toDF("doc_id", "text")
    val pairs = Dedup
      .winnowingNearDupPairs(docsW, "doc_id", "text", minOverlap = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("overlap"))
      .toMap
    assert(pairs.contains((1L, 2L)), s"embedded passage missed: $pairs")
    assert(pairs((1L, 2L)) > 0.8, s"containment should be near 1: ${pairs((1L, 2L))}")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("cleanCorpus: exact dups and near-dup losers removed, canonicals survive") {
    val cleaned = Dedup
      .cleanCorpus(docs, "doc_id", "text", jaccardThreshold = 0.6)
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    // 4 is an exact dup of 1; 2 is a near-dup of 1 → only 1, 3, 5 survive
    assert(cleaned == Set(1L, 3L, 5L), s"survivors: $cleaned")
  }

  test("connectedComponents: chains collapse to min id, disjoint groups stay apart") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L)).toDF("id_a", "id_b")
    val comp = Dedup
      .connectedComponents(pairs)
      .collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("component"))
      .toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L), comp.toString)
    // the distributed label-propagation fallback must agree exactly
    val dist = Dedup
      .distributedConnectedComponents(pairs)
      .collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("component"))
      .toMap
    assert(dist == comp, "driver union-find and distributed propagation must agree")
  }

  test("cleanCorpus transitive: a~b~c chain keeps only the minimum even without a~c") {
    // b shares a long prefix with a AND a long suffix with c; a and c
    // share nothing above threshold
    val blockA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val blockC = "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray"
    val chain = Seq(
      (1L, blockA + " one two three"),
      (2L, blockA + " " + blockC), // near a (prefix) and near c (suffix)
      (3L, blockC + " four five six"),
    ).toDF("doc_id", "text")
    val thr = 0.35
    val pairs = Dedup
      .minHashNearDupPairs(chain, "doc_id", "text", threshold = thr)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    assume(pairs == Set((1L, 2L), (2L, 3L)), s"fixture should form a chain: $pairs")
    val oneStep = Dedup.cleanCorpus(chain, "doc_id", "text", jaccardThreshold = thr)
      .select("doc_id").as[Long].collect().toSet
    val transitive = Dedup.cleanCorpus(chain, "doc_id", "text", jaccardThreshold = thr, transitive = true)
      .select("doc_id").as[Long].collect().toSet
    assert(oneStep == Set(1L), "one-step also drops 2 and 3 here (both are id_b of some pair)")
    assert(transitive == Set(1L), s"transitive keeps only the component minimum: $transitive")
  }

  test("nearDupKeepBest: transitive clusters crown the best member under prefer") {
    // same a~b~c chain shape as the cleanCorpus transitive test (b
    // bridges a and c; a~c alone is below threshold), plus a singleton
    val blockA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val blockC = "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray"
    val chain = Seq(
      (1L, blockA + " one two three", 3.0),
      (2L, blockA + " " + blockC, 9.0), // the best copy — NOT the min id
      (3L, blockC + " four five six", 5.0),
      (4L, "totally unrelated zebra quokka wombat numbat dingo bilby kookaburra", 1.0),
    ).toDF("doc_id", "text", "score")
    val out = Dedup
      .nearDupKeepBest(chain, "doc_id", "text",
        prefer = Seq(col("score").desc), jaccardThreshold = 0.35)
      .select("doc_id", "component", "group_size", "is_kept")
      .as[(Long, Long, Long, Boolean)]
      .collect()
      .map(r => r._1 -> ((r._2, r._3, r._4)))
      .toMap
    assert(out(1L) == ((1L, 3L, false)))
    assert(out(2L) == ((1L, 3L, true)), s"best-score member must be crowned: $out")
    assert(out(3L) == ((1L, 3L, false)))
    assert(out(4L) == ((4L, 1L, true)), "singletons label themselves and survive")
  }

  test("nearDupKeepBest: tie on prefer breaks to min id; no pairs → everyone kept") {
    val docs = Seq(
      (10L, "unique first document about alpine weather patterns and snowfall", 1.0),
      (11L, "second unrelated text concerning deep sea creatures and bioluminescence", 1.0),
    ).toDF("doc_id", "text", "score")
    val out = Dedup
      .nearDupKeepBest(docs, "doc_id", "text", prefer = Seq(col("score").desc))
      .select("doc_id", "component", "group_size", "is_kept")
      .as[(Long, Long, Long, Boolean)]
      .collect()
      .toSet
    assert(out == Set((10L, 10L, 1L, true), (11L, 11L, 1L, true)))
  }

  test("decontaminateEmbedding: max-cosine margin, true max under negatives, guards") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), // identical to a benchmark vector → cosine 1
      (2L, Seq(0.6f, 0.8f)), // max cosine 0.8 → clean at 0.9
      (3L, Seq(-1f, 0f)), // all similarities ≤ 0 → max is 0 (vs (0,1)), clean
      (4L, Seq(0f, 0f)), // zero vector scores 0 against everything
    ).toDF("id", "vec")
    val bench = Seq(Tuple1(Seq(1f, 0f)), Tuple1(Seq(0f, 1f))).toDF("vec")
    val out = Dedup
      .decontaminateEmbedding(corpus, bench, "vec", "vec", threshold = 0.9)
      .select("id", "max_benchmark_cosine", "is_clean")
      .as[(Long, Double, Boolean)]
      .collect()
      .map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(out(1L) == ((1.0, false)))
    assert(math.abs(out(2L)._1 - 0.8) < 1e-6 && out(2L)._2) // 0.6f/0.8f are inexact floats
    assert(out(3L) == ((0.0, true)), s"true max under negatives: ${out(3L)}")
    assert(out(4L) == ((0.0, true)))
    // ragged benchmark vector is a named error, not silent truncation
    val ragged = Seq(Tuple1(Seq(1f, 0f, 0f))).toDF("vec")
    val e = intercept[org.apache.spark.SparkException] {
      Dedup.decontaminateEmbedding(corpus, ragged, "vec", "vec").collect()
    }
    assert(e.getMessage.contains("width") || e.getCause != null)
    // oversized pool is a diagnosable failure with the alternative named
    val big = intercept[IllegalArgumentException] {
      Dedup.decontaminateEmbedding(corpus, bench, "vec", "vec", maxBenchmarkRows = 1L)
    }
    assert(big.getMessage.contains("signPack"))
  }

  test("bucket skew cap drops oversized buckets instead of exploding") {
    // 50 docs sharing one common shingle; cap=10 → no pairs from that bucket
    val many = (1L to 50L).map(i => (i, s"common shared prefix trigram here unique$i tail$i")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(many, "doc_id", "text", n = 3, threshold = 0.1, maxBucketSize = 10)
    assert(pairs.count() == 0L)
  }

  test("mega-bucket: oversized bucket never materializes, other buckets still pair") {
    // one boilerplate sentence shared by EVERY doc → its shingle buckets
    // are far over the cap (the 100 TB skew scenario: with the old
    // collect_set path this built a 2000-id array in one agg buffer);
    // docs 1 and 2 are identical beyond the boilerplate, so their pair
    // must still surface through their OTHER (small) shared buckets.
    val boiler = "this content is provided as is without warranty of any kind either express or implied"
    val unique = "zebra quokka wombat numbat dingo bilby kookaburra platypus echidna bandicoot"
    val docs = (1L to 2000L).map {
      case i if i <= 2 => (i, s"$boiler $unique")
      case i           => (i, s"$boiler only$i filler$i words$i")
    }.toDF("doc_id", "text")
    val pairs = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5, maxBucketSize = 50)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(pairs.get((1L, 2L)).contains(1.0), s"identical pair lost to the skew cap: $pairs")
    // observability: the cap must be reporting the dropped boilerplate buckets
    val shingleHash = org.apache.spark.sql.functions.udf { (t: String) =>
      Dedup.wordShingles(t, 3).map(s => Dedup.mix64(Dedup.fnv64(s))).distinct.sorted
    }
    val buckets = docs.select(col("doc_id").as("id"), explode(shingleHash(col("text"))).as("bucket"))
    assert(Dedup.droppedBucketStats(buckets, 50).count() > 0)
  }

  test("newDocsOnly: bloom-filtered incremental dedup drops known content without a join") {
    val corpus = (1L to 500L).map(i => (i, s"corpus document number $i about topic ${i % 7}")).toDF("doc_id", "text")
    val batch = Seq(
      (1001L, "corpus document number 42 about topic 0"), // dup of corpus doc 42
      (1002L, "corpus  document   number 42 about topic 0"), // whitespace variant → same fingerprint
      (1003L, "an entirely new document about fresh topics"),
      (1004L, "another genuinely new document with novel content"),
    ).toDF("doc_id", "text")
    val kept = Dedup.newDocsOnly(batch, corpus, "text", expectedCorpusDocs = 500L, fpp = 0.001)
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(1001L), "exact duplicate must never survive (no false negatives)")
    assert(!kept.contains(1002L), "whitespace-normalized duplicate must be caught")
    assert(kept == Set(1003L, 1004L), s"new docs survive: $kept")
  }

  test("connectedComponents driver path: non-numeric ids work and schema matches the distributed branch") {
    val pairs = Seq(("docA", "docB"), ("docB", "docC"), ("docX", "docY")).toDF("id_a", "id_b")
    val driver = Dedup.connectedComponents(pairs) // tiny → driver union-find
    val dist = Dedup.distributedConnectedComponents(pairs)
    assert(driver.schema == dist.schema,
      s"branches must return the same schema: ${driver.schema} vs ${dist.schema}")
    val dMap = driver.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val pMap = dist.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dMap == Map("docA" -> "docA", "docB" -> "docA", "docC" -> "docA",
      "docX" -> "docX", "docY" -> "docX"), dMap.toString)
    assert(dMap == pMap, "string-id components must agree across branches")
  }

  test("spanDedup: repeated spans keep first occurrence only; short/empty docs pass through") {
    val docs = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "lazy dogs and the quick brown fox jumps high today"),
      (3L, "the quick brown fox jumps high"),
      (4L, "tiny"),
      (5L, ""),
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == ("the quick brown fox jumps high", 6L), "first occurrence untouched")
    assert(got(2L) == ("lazy dogs and today", 4L), "embedded copy excised")
    assert(got(3L) == ("", 0L), "verbatim duplicate doc fully dropped")
    assert(got(4L) == ("tiny", 1L), "sub-span docs pass through")
    assert(got(5L) == ("", 0L), "empty text stays an empty row, not a missing one")
  }

  test("duplicateExtents: overlapping windows merge to the copied region; gaps split extents") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // the source — holds every first occurrence
      (2L, "x1 x2 a b c d e f g h i j y1 y2"), // one contiguous 10-token copy
      (3L, "a b c d e u1 u2 u3 u4 u5 u6 f g h i j"), // two copies split by filler
      (4L, "all unique tokens here nothing repeats at all ever"),
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateExtents(docs, "doc_id", "text", k = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1 is the kept first occurrence everywhere — never reported;
    // doc 2's seven chained duplicated windows merge to ONE maximal
    // extent covering exactly the copied region (1-based, inclusive);
    // doc 3's two copies are > k apart and stay separate extents
    assert(got.toSeq == Seq(
      (2L, 3L, 12L, 10L),
      (3L, 1L, 5L, 5L),
      (3L, 12L, 16L, 5L),
    ), got.mkString(", "))
  }

  test("lineDedup: repeated lines keep first occurrence; short lines always survive") {
    val docs = Seq(
      (1L, "alpha beta gamma\nshared footer line here\nunique one"),
      (2L, "delta epsilon\nshared footer line here\n  shared footer line here  "),
      (3L, "shared footer line here\nzeta eta"),
      (4L, "-\n-\n-"), // short separator lines never dedupe
      (5L, ""),
    ).toDF("doc_id", "text")
    val got = Dedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == ("alpha beta gamma\nshared footer line here\nunique one", 3L),
      "first occurrence untouched")
    // doc 2 loses BOTH footer repeats (trim-normalized match)
    assert(got(2L) == ("delta epsilon", 1L), s"got ${got(2L)}")
    assert(got(3L) == ("zeta eta", 1L))
    assert(got(4L) == ("-\n-\n-", 3L), "sub-threshold lines are structure, not dups")
    assert(got(5L) == ("", 1L), "an empty doc is one empty (kept) line")
  }

  test("paragraphDedup: block granularity keeps multi-line blocks whole where line dedup shreds") {
    val block = "header line repeated\nbut this continuation differs"
    val docs = Seq(
      // doc 1's block shares its FIRST LINE with doc 2's block, but
      // the blocks differ as wholes — paragraph mode must keep both
      (1L, block + "\n\nshared boilerplate block\nspanning two lines"),
      (2L, "header line repeated\nwith another continuation\n\n" +
        "shared boilerplate block\nspanning two lines"),
      // in-doc paragraph repeat: second occurrence drops
      (3L, "own paragraph text\n\n\nown paragraph text"),
      (4L, ""),
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == ((block + "\n\nshared boilerplate block\nspanning two lines", 2L)),
      s"got ${got(1L)}")
    assert(got(2L) == (("header line repeated\nwith another continuation", 1L)),
      s"cross-doc block dropped, first-line overlap ignored: ${got(2L)}")
    assert(got(3L) == (("own paragraph text", 1L)), s"\\n{2,} merges 3 newlines: ${got(3L)}")
    assert(got(4L) == (("", 1L)))
    // contrast: LINE dedup would drop doc 2's first line (repeated
    // from doc 1's block) — the shredding paragraph mode avoids
    val lineGot = Dedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!lineGot(2L).contains("header line repeated"),
      "line mode shreds the block (expected contrast)")
  }

  test("alternating CC: diameter-300 chain converges in O(log n) rounds, ≡ union-find") {
    // a pure path graph — the adversarial case for min-label
    // propagation (needs diameter rounds; its default cap of 10 would
    // silently mislabel). Shuffled ids so the chain order and the id
    // order disagree.
    val rng = new scala.util.Random(11)
    val perm = rng.shuffle((0L until 300L).toVector)
    val pairs = perm.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("id_a", "id_b")
    val alt = Dedup.alternatingConnectedComponents(pairs, maxIterations = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(alt.size == 300)
    assert(alt.values.toSet == Set(0L), s"one chain → every node labels to min id 0")
    // equivalence with the exact driver union-find on a random graph
    val edges = (0 until 400).map(_ => (rng.nextInt(120).toLong, rng.nextInt(120).toLong))
      .filter(e => e._1 != e._2).toDF("id_a", "id_b")
    val want = Dedup.connectedComponents(edges) // tiny → driver union-find
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.alternatingConnectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, "alternating must equal exact union-find labels")
    // string ids: only orderable semantics are assumed
    val s = Seq(("docA", "docB"), ("docB", "docC"), ("docX", "docY")).toDF("id_a", "id_b")
    val sm = Dedup.alternatingConnectedComponents(s)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sm == Map("docA" -> "docA", "docB" -> "docA", "docC" -> "docA",
      "docX" -> "docX", "docY" -> "docX"), sm.toString)
  }

  test("newDocsOnlyWithHandle: exposes filter saturation stats and a release hook") {
    val corpus = (1L to 300L).map(i => (i, s"corpus doc $i")).toDF("doc_id", "text")
    val batch = Seq((9001L, "corpus doc 7"), (9002L, "brand new doc")).toDF("doc_id", "text")
    // grossly under-specified capacity → the filter's own fpp estimate
    // must climb far above the requested 1% (the saturation signal)
    val tight = Dedup.newDocsOnlyWithHandle(batch, corpus, "text",
      expectedCorpusDocs = 10L, fpp = 0.01)
    assert(tight.actualFpp > 0.05, s"saturated filter should self-report: ${tight.actualFpp}")
    val sized = Dedup.newDocsOnlyWithHandle(batch, corpus, "text",
      expectedCorpusDocs = 300L, fpp = 0.01)
    assert(sized.actualFpp <= 0.02, s"well-sized filter stays near requested fpp: ${sized.actualFpp}")
    assert(sized.bitSize > 0)
    val kept = sized.result.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(9002L), s"dup dropped, new doc kept: $kept")
    sized.release() // after materialization: frees the broadcast bits
    tight.release()
  }

  test("df-ordered prefix variant: identical verified pairs; boilerplate survives the cap better") {
    val boiler = "this content is provided as is without warranty of any kind either express"
    val unique = "zebra quokka wombat numbat dingo bilby kookaburra platypus echidna bandicoot"
    val docsSkewed = (1L to 300L).map {
      case i if i <= 2 => (i, s"$boiler $unique")
      case i           => (i, s"$boiler only$i filler$i words$i")
    }.toDF("doc_id", "text")
    def pairsOf(f: => DataFrame) =
      f.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val hashOrdered = pairsOf(
      Dedup.ngramJaccardPairs(docsSkewed, "doc_id", "text", n = 3, threshold = 0.5))
    val dfOrdered = pairsOf(
      Dedup.ngramJaccardPairsDfOrdered(docsSkewed, "doc_id", "text", n = 3, threshold = 0.5))
    assert(dfOrdered == hashOrdered, s"orders must agree: $dfOrdered vs $hashOrdered")
    assert(dfOrdered.contains((1L, 2L)))
    // under a cap tight enough to threaten boilerplate buckets, the
    // df-ordered prefixes index RARE shingles and still find the pair
    val capped = pairsOf(Dedup.ngramJaccardPairsDfOrdered(
      docsSkewed, "doc_id", "text", n = 3, threshold = 0.5, maxBucketSize = 20))
    assert(capped.contains((1L, 2L)), "rare-shingle prefix must survive a tight cap")
  }

  test("decontaminate: benchmark n-gram pool flags verbatim passages, leaves clean docs") {
    val bench = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "intro text then the quick brown fox jumps over the lazy dog tonight and more"),
      (11L, "completely unrelated content about databases and distributed query engines here"),
      (12L, "tiny doc"), // < n tokens → no shingles → clean
    ).toDF("doc_id", "text")
    val out = Dedup
      .decontaminate(corpus, bench, "text", "text", n = 5)
      .select("doc_id", "n_contaminated_grams", "is_clean")
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2))))
      .toMap
    assert(out(10L)._1 >= 5 && !out(10L)._2, s"embedded passage must flag: ${out(10L)}")
    assert(out(11L) == ((0, true)))
    assert(out(12L) == ((0, true)))
    // threshold loosening: the same corpus passes with a high allowance
    val loose = Dedup.decontaminate(corpus, bench, "text", "text", n = 5, maxSharedShingles = 100)
    assert(loose.where(!col("is_clean")).count() == 0)
  }

  test("decontaminateSpans: excises matched windows, merges overlaps, pads with clamping, keeps the rest") {
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon"), // one 5-gram
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // quote in the middle: prefix/suffix survive, the 5 quoted tokens go
      (10L, "one two three alpha beta gamma delta epsilon four five six"),
      (11L, "completely unrelated content about databases and query engines"),
      (12L, "tiny doc"), // < n tokens → no windows → untouched
      // two overlapping matches (6-token run contains two matched
      // 5-grams... not with a single pool gram; instead: quote at the
      // very start (clamp at 0) and again at the very end (clamp at len)
      (13L, "alpha beta gamma delta epsilon middle words alpha beta gamma delta epsilon"),
      (14L, null.asInstanceOf[String]),
      // fully contaminated doc → empty rebuild
      (15L, "alpha beta gamma delta epsilon"),
    ).toDF("doc_id", "text")
    val out = Dedup
      .decontaminateSpans(corpus, bench, "text", "text", n = 5)
      .select("doc_id", "clean_text", "n_kept_tokens", "n_excised_tokens", "n_matched_windows")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out(10L) == (("one two three four five six", 6L, 5L, 1L)))
    assert(out(11L)._1 == "completely unrelated content about databases and query engines")
    assert(out(11L)._3 == 0L && out(11L)._4 == 0L)
    assert(out(12L) == (("tiny doc", 2L, 0L, 0L)))
    assert(out(13L) == (("middle words", 2L, 10L, 2L)))
    assert(out(14L) == (("", 0L, 0L, 0L)), "null text passes through as empty, not missing")
    assert(out(15L) == (("", 0L, 5L, 1L)))
    // pad widens the excision window, clamped at the document bounds
    val padded = Dedup
      .decontaminateSpans(corpus, bench, "text", "text", n = 5, pad = 2)
      .where(col("doc_id") === 10L)
      .select("clean_text", "n_excised_tokens").head()
    // match covers positions 3..7; pad 2 widens to 1..9 of 11 tokens
    assert(padded.getString(0) == "one six", s"pad=2 strips 2 tokens each side: $padded")
    assert(padded.getLong(1) == 9L)
    // the excision face matches exactly the windows the flagging face counts
    val flagged = Dedup.decontaminate(corpus.where(col("text").isNotNull), bench,
      "text", "text", n = 5)
      .select("doc_id", "n_contaminated_grams").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // distinct-gram counts vs positional window counts agree here (no
    // doc repeats a DISTINCT matched gram except 13, which matches the
    // SAME pool gram twice: 1 distinct, 2 windows)
    assert(flagged(10L) == 1 && flagged(13L) == 1 && flagged(15L) == 1 && flagged(11L) == 0)
    intercept[IllegalArgumentException] {
      Dedup.decontaminateSpans(corpus, bench, "text", "text", n = 0)
    }
    intercept[IllegalArgumentException] {
      Dedup.decontaminateSpans(corpus, bench, "text", "text", pad = -1)
    }
  }

  test("decontaminateSpansBloom: excised set is a superset of exact's; error direction is more excision") {
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "one two three alpha beta gamma delta epsilon four five six"),
      (11L, "completely unrelated content about databases and query engines"),
      (15L, "alpha beta gamma delta epsilon"),
    ).toDF("doc_id", "text")
    def collectOut(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "clean_text", "n_excised_tokens")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    val exact = collectOut(Dedup.decontaminateSpans(corpus, bench, "text", "text", n = 5))
    val bloomed = collectOut(Dedup.decontaminateSpansBloom(corpus, bench, "text", "text",
      expectedPoolShingles = 10L, n = 5))
    // at this pool size fpp is negligible → identical output; the
    // contract under pressure is directional (≥ excision), asserted below
    assert(bloomed == exact, s"tiny pool must agree exactly: $bloomed vs $exact")
    // a deliberately undersized filter inflates fpp: every doc may lose
    // MORE tokens than exact, never fewer — and the kept text is always
    // a subsequence of exact's kept text (excision only grows)
    val tight = collectOut(Dedup.decontaminateSpansBloom(corpus, bench, "text", "text",
      expectedPoolShingles = 1L, n = 5, fpp = 0.5))
    tight.foreach { case (id, (cleanT, nex)) =>
      assert(nex >= exact(id)._2, s"doc $id: Bloom must never excise fewer tokens")
      val exTok = exact(id)._1.split(" ").filter(_.nonEmpty)
      val tTok = cleanT.split(" ").filter(_.nonEmpty)
      // subsequence check: Bloom's kept tokens appear in exact's kept order
      var i = 0
      tTok.foreach { tok =>
        while (i < exTok.length && exTok(i) != tok) i += 1
        assert(i < exTok.length, s"doc $id: Bloom kept '$tok' that exact excised")
        i += 1
      }
    }
  }

  test("frozen shingle pool: pool-served faces ≡ one-shot faces; merged folds exactly") {
    val benchA = Seq(Tuple1("alpha beta gamma delta epsilon")).toDF("text")
    val benchB = Seq(Tuple1("zeta eta theta iota kappa")).toDF("text")
    val corpus = Seq(
      (10L, "one two three alpha beta gamma delta epsilon four five six"),
      (11L, "zeta eta theta iota kappa leading quote then clean prose here"),
      (12L, "completely unrelated content about databases and query engines"),
    ).toDF("doc_id", "text")
    val pA = Dedup.fitShinglePool(benchA, "text", n = 5)
    assert(pA.size == 1, "one 5-gram benchmark → one distinct shingle")
    // pool-served ≡ one-shot, both faces (same fixtures, full rows)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(rows(Dedup.decontaminateWithPool(corpus, pA, "text"))
      == rows(Dedup.decontaminate(corpus, benchA, "text", "text", n = 5)))
    assert(rows(Dedup.decontaminateSpansWithPool(corpus, pA, "text"))
      == rows(Dedup.decontaminateSpans(corpus, benchA, "text", "text", n = 5)))
    // merged = fit of the union, EXACTLY (hash-array equality), and
    // commutes
    val pB = Dedup.fitShinglePool(benchB, "text", n = 5)
    val merged = pA.merged(pB)
    val union = Dedup.fitShinglePool(benchA.unionByName(benchB), "text", n = 5)
    assert(merged.hashes.toSeq == union.hashes.toSeq, "merged must equal fit-of-union")
    assert(pB.merged(pA).hashes.toSeq == merged.hashes.toSeq, "merge must commute")
    // overlapping pools fold without duplicates
    assert(pA.merged(pA).hashes.toSeq == pA.hashes.toSeq)
    // the merged pool excises BOTH benchmarks' quotes
    val both = Dedup.decontaminateSpansWithPool(corpus, merged, "text")
      .orderBy("doc_id").select("n_excised_tokens").collect().map(_.getLong(0)).toSeq
    assert(both == Seq(5L, 5L, 0L), s"merged pool must excise both quotes: $both")
    // width mismatch is a named error, not a silent cross-space match
    val e = intercept[IllegalArgumentException] {
      pA.merged(Dedup.fitShinglePool(benchB, "text", n = 3))
    }
    assert(e.getMessage.contains("window widths differ"), e.getMessage)
    // the fit ceiling names the Bloom faces
    val eFit = intercept[IllegalArgumentException] {
      Dedup.fitShinglePool(benchA.unionByName(benchB), "text", n = 5, maxPoolShingles = 1L)
    }
    assert(eFit.getMessage.contains("decontaminateSpansBloom"), eFit.getMessage)
  }

  test("exact decontamination faces: oversized pool is a NAMED error steering to the Bloom face") {
    // 5 docs × unique tokens → 5 distinct shingles; ceiling 3 must trip
    val bench = (0 until 5).map(i =>
      (i.toLong, (0 until 5).map(k => s"b${i}t$k").mkString(" "))).toDF("doc_id", "text")
    val corpus = Seq((1L, "anything at all here")).toDF("doc_id", "text")
    val eFlag = intercept[IllegalArgumentException] {
      Dedup.decontaminate(corpus, bench, "text", "text", n = 5, maxPoolShingles = 3L)
    }
    assert(eFlag.getMessage.contains("decontaminateBloom"),
      s"flag-face error must name the Bloom escape hatch: ${eFlag.getMessage}")
    val eSpan = intercept[IllegalArgumentException] {
      Dedup.decontaminateSpans(corpus, bench, "text", "text", n = 5, maxPoolShingles = 3L)
    }
    assert(eSpan.getMessage.contains("decontaminateSpansBloom"),
      s"span-face error must name the Bloom escape hatch: ${eSpan.getMessage}")
    // at the ceiling exactly (5 shingles, max 5): no error, output intact
    val ok = Dedup.decontaminate(corpus, bench, "text", "text", n = 5, maxPoolShingles = 5L)
    assert(ok.where(col("is_clean")).count() == 1L)
  }

  test("decontaminateBloom: agrees with exact on flagged docs; errs only toward dropping") {
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog tonight")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "intro text then the quick brown fox jumps over the lazy dog tonight and more"),
      (11L, "completely unrelated content about databases and distributed query engines here"),
    ).toDF("doc_id", "text")
    val exact = Dedup.decontaminate(corpus, bench, "text", "text", n = 5)
      .select("doc_id", "n_contaminated_grams").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val bloom = Dedup.decontaminateBloom(corpus, bench, "text", "text",
      expectedPoolShingles = 100L, n = 5)
      .select("doc_id", "n_contaminated_grams").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // upper bound, and at fpp=0.001 on tiny pools: equal
    corpus.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      assert(bloom(id) >= exact(id), s"bloom must never undercount: $id")
    }
    assert(bloom(10L) >= 5, "contaminated doc flagged through the sketch")
  }

  test("scanner tokenize/hashedShingles ≡ regex split + string-shingle fnv64 (oracle parity)") {
    val fixtures = Seq(
      "hello world foo bar",
      "  leading and trailing  separators!! ",
      "under_scores and digits 42 mix_3d in",
      "punct,only;text:with?marks",
      "unicode héllo wörld — em-dash",
      "собака сидит дома и не хочет гулять",
      "今天天气很好我们一起去公园散步",
      "오늘은 날씨가 좋아서 공원에 갑니다",
      "mixte français café №42 und straße Ⅻ",
      "tabs\tand\nnewlines\r\nmixed",
      "a",
      "",
      "ALL CAPS BECOME lower case",
      "repeat repeat repeat repeat",
    )
    fixtures.foreach { t =>
      val viaRegex = t.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}\\p{N}_]+").filter(_.nonEmpty).toSeq
      assert(Dedup.tokenize(t).toSeq == viaRegex, s"tokenize mismatch on: '$t'")
      (1 to 4).foreach { n =>
        val viaStrings = Dedup.wordShingles(t, n).map(Dedup.fnv64).toSeq
        assert(Dedup.hashedShingles(t, n).toSeq == viaStrings,
          s"hash-stream mismatch on: '$t' n=$n")
      }
    }
  }

  test("short documents (< n tokens) have no shingles and never pair") {
    val shorts = Seq((1L, "hello world"), (2L, "hello world"), (3L, "one"), (4L, "")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(shorts, "doc_id", "text", n = 3, threshold = 0.1).count() == 0L)
    assert(Dedup.minHashNearDupPairs(shorts, "doc_id", "text", threshold = 0.1).count() == 0L)
    assert(Dedup.wordShingles("a b", 3).isEmpty)
  }

  test("incremental near-dup: signature parquet roundtrip; corpus wins, new-new keep-first, fresh survive") {
    val base = "the data and model pipeline have that sort of careful work " +
      "to be done with many diverse sources and long running jobs"
    def marked(i: Int) = base.split(" ").zipWithIndex
      .map { case (w, j) => if (j % 4 == 3) s"$w$i" else w }.mkString(" ")
    val corpus = Seq((1L, marked(1)), (2L, marked(2))).toDF("doc_id", "text")
    // persist the signature table like a standing corpus would and
    // read it back — the incremental pass must work off parquet alone
    val dir = java.nio.file.Files.createTempDirectory("graft-sigs").toString
    Dedup.minHashSignatures(corpus, "doc_id", "text").write.parquet(s"$dir/sigs")
    val sigs = spark.read.parquet(s"$dir/sigs")
    val batch = Seq(
      (10L, marked(1) + " tail"), // near-copy of corpus doc 1 → drops
      (11L, marked(3)), // new content, near-dup of 12 → keep-first wins
      (12L, marked(3) + " tail"), // larger id of the new-new pair → drops
      (13L, (0 until 30).map(k => s"u13x$k").mkString(" ")), // fresh → survives
    ).toDF("doc_id", "text")
    val kept = Dedup.nearDupNewDocs(batch, "doc_id", "text", sigs, threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L), s"kept=$kept")
    // an empty standing corpus degrades to plain in-batch keep-first
    val keptEmpty = Dedup.nearDupNewDocs(
      batch, "doc_id", "text", sigs.where($"id" < 0), threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(keptEmpty == Set(10L, 11L, 13L), s"keptEmpty=$keptEmpty")
    // the disjointness precondition is enforced, not just documented:
    // an id on both sides fails fast instead of silently self-pairing
    val overlapping = Seq((1L, marked(1)), (20L, marked(5))).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.nearDupNewDocs(overlapping, "doc_id", "text", sigs, threshold = 0.5)
    }
    assert(e.getMessage.contains("disjoint"), e.getMessage)
  }

  private def sigStoreFixture() = {
    val base = "the data and model pipeline have that sort of careful work " +
      "to be done with many diverse sources and long running jobs"
    def marked(i: Int) = base.split(" ").zipWithIndex
      .map { case (w, j) => if (j % 4 == 3) s"$w$i" else w }.mkString(" ")
    val corpus = Seq((1L, marked(1)), (2L, marked(2))).toDF("doc_id", "text")
    val batch = Seq(
      (10L, marked(1) + " tail"), // near-copy of corpus doc 1 → drops
      (11L, marked(3)), // new content, near-dup of 12 → keep-first wins
      (12L, marked(3) + " tail"), // larger id of the new-new pair → drops
      (13L, (0 until 30).map(k => s"u13x$k").mkString(" ")), // fresh → survives
    ).toDF("doc_id", "text")
    (corpus, batch)
  }

  test("signature store: bucketed write/read roundtrip, result parity with the frame path, fresh-catalog reread") {
    val (corpus, batch) = sigStoreFixture()
    val sigs = Dedup.minHashSignatures(corpus, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-sigstore").toString
    Dedup.writeSignatures(sigs, dir, "sigstore_a")
    val store = Dedup.readSignatures(spark, dir, "sigstore_a")
    assert(store.numHashes == 128 && store.bands == 32 && store.shingleSize == 3)
    val kept = Dedup.nearDupNewDocs(batch, "doc_id", "text", store, threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    val keptFrame = Dedup.nearDupNewDocs(batch, "doc_id", "text", sigs, threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == keptFrame && kept == Set(11L, 13L), s"store=$kept frame=$keptFrame")
    // a fresh catalog (restart shape): drop the table registrations,
    // re-open from parquet + meta alone — the DDL re-registration path
    spark.sql("DROP TABLE sigstore_a_banded")
    spark.sql("DROP TABLE sigstore_a_grams")
    val reread = Dedup.readSignatures(spark, dir, "sigstore_a")
    val kept2 = Dedup.nearDupNewDocs(batch, "doc_id", "text", reread, threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept2 == Set(11L, 13L), s"kept2=$kept2")
    // streaming face parity (batch evaluation of the same plan)
    import java.sql.Timestamp
    val batchTs = batch.withColumn("ts", lit(Timestamp.valueOf("2024-06-01 10:00:00")))
    val hitsStore = graft.streaming.StreamingDedup
      .corpusNearDupHits(batchTs, "doc_id", "ts", "text", reread, threshold = 0.5)
      .toDF().select($"id", $"corpus_id").as[(Long, Long)].collect().toSet
    val hitsFrame = graft.streaming.StreamingDedup
      .corpusNearDupHits(batchTs, "doc_id", "ts", "text", sigs, threshold = 0.5)
      .toDF().select($"id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(hitsStore == hitsFrame && hitsStore.contains((10L, 1L)),
      s"store=$hitsStore frame=$hitsFrame")
  }

  test("signature store: mergeSignatures grows the corpus epoch-to-epoch, equals the frame path on the union") {
    val base = "the data and model pipeline have that sort of careful work " +
      "to be done with many diverse sources and long running jobs"
    def marked(i: Int) = base.split(" ").zipWithIndex
      .map { case (w, j) => if (j % 4 == 3) s"$w$i" else w }.mkString(" ")
    def fresh(id: Long) = (id, (0 until 30).map(k => s"u${id}x$k").mkString(" "))
    val corpus = Seq((1L, marked(1)), (2L, marked(2))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-sigmerge").toString
    Dedup.writeSignatures(
      Dedup.minHashSignatures(corpus, "doc_id", "text"), s"$root/epoch0", "sigmerge_e0")
    val e0 = Dedup.readSignatures(spark, s"$root/epoch0", "sigmerge_e0")
    // epoch 1: ingest a batch, fold the SURVIVORS' signatures in
    val batch1 = Seq((10L, marked(1) + " tail"), fresh(11L)).toDF("doc_id", "text")
    val kept1 = Dedup.nearDupNewDocs(batch1, "doc_id", "text", e0, threshold = 0.5)
    assert(kept1.select($"doc_id").as[Long].collect().toSet == Set(11L))
    val e1 = Dedup.mergeSignatures(spark, s"$root/epoch0", "sigmerge_e0",
      Dedup.minHashSignatures(kept1, "doc_id", "text"), s"$root/epoch1", "sigmerge_e1")
    assert(e1.grams.count() == 3L, "epoch-1 store = corpus + survivor")
    // r22 file-granularity compaction: the standing grams part files
    // land in the destination VERBATIM (byte copy — the `_NNNNN`
    // bucket suffix carries membership), the merged grams rows are
    // exactly the union, and the merged BANDED table — the side that
    // still pays the corpus-wide rebuild, because bucket_n and the
    // write-time cap are union properties — equals a full
    // writeSignatures of the union value-for-value
    def partNames(dir: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.isFile).map(_.getPath.getName)
        .filter(_.startsWith("part-")).toSet
    }
    assert(partNames(s"$root/epoch0/grams").subsetOf(partNames(s"$root/epoch1/grams")),
      "standing grams part files must be copied verbatim into the next epoch")
    assert(e1.grams.select($"id").as[Long].collect().toSet == Set(1L, 2L, 11L),
      "merged grams table holds exactly the union's ids")
    Dedup.writeSignatures(
      Dedup.minHashSignatures(
        corpus.unionByName(kept1.select($"doc_id", $"text")), "doc_id", "text"),
      s"$root/ref", "sigmerge_ref")
    val ref = Dedup.readSignatures(spark, s"$root/ref", "sigmerge_ref")
    def bandedRows(s: Dedup.SignatureStore): Set[(String, Long, Long)] =
      s.banded.as[(String, Long, Long)].collect().toSet
    assert(bandedRows(e1) == bandedRows(ref),
      "merged banded table must equal the full-rewrite reference value-for-value")
    // epoch 2: a near-copy of the epoch-1 SURVIVOR must now drop —
    // the grown store knows doc 11 — and match the frame path over
    // the union signatures
    val batch2 = Seq((20L, fresh(11L)._2 + " tail"), fresh(21L)).toDF("doc_id", "text")
    val kept2 = Dedup.nearDupNewDocs(batch2, "doc_id", "text", e1, threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    val unionSigs = Dedup.minHashSignatures(
      corpus.unionByName(kept1.select($"doc_id", $"text")), "doc_id", "text")
    val keptFrame = Dedup.nearDupNewDocs(batch2, "doc_id", "text", unionSigs, threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept2 == Set(21L) && kept2 == keptFrame, s"store=$kept2 frame=$keptFrame")
    // guards: overlapping ids and self-overwrite fail fast
    val eOverlap = intercept[IllegalArgumentException] {
      Dedup.mergeSignatures(spark, s"$root/epoch1", "sigmerge_e1",
        Dedup.minHashSignatures(corpus, "doc_id", "text"), s"$root/epoch2", "sigmerge_e2")
    }
    assert(eOverlap.getMessage.contains("disjoint"), eOverlap.getMessage)
    val eSelf = intercept[IllegalArgumentException] {
      Dedup.mergeSignatures(spark, s"$root/epoch1", "sigmerge_e1",
        Dedup.minHashSignatures(batch2, "doc_id", "text"), s"$root/epoch1", "sigmerge_e1b")
    }
    assert(eSelf.getMessage.contains("dstPath"), eSelf.getMessage)
    // same NAME at a new path: the destination write would overwrite
    // catalog tables the merge reads — fail with the store's message,
    // not Spark's generic cannot-overwrite analysis error
    val eName = intercept[IllegalArgumentException] {
      Dedup.mergeSignatures(spark, s"$root/epoch1", "sigmerge_e1",
        Dedup.minHashSignatures(batch2, "doc_id", "text"), s"$root/epoch2", "sigmerge_e1")
    }
    assert(eName.getMessage.contains("dstName"), eName.getMessage)
    // a registered name pointing at a DIFFERENT path fails instead of
    // silently serving the stale registration
    val eStale = intercept[IllegalArgumentException] {
      Dedup.readSignatures(spark, s"$root/epoch1", "sigmerge_e0")
    }
    assert(eStale.getMessage.contains("already registered"), eStale.getMessage)
  }

  test("signature store: the corpus side joins with NO shuffle exchange and bucketed scans") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val (corpus, batch) = sigStoreFixture()
    val dir = java.nio.file.Files.createTempDirectory("graft-sigstore-plan").toString
    Dedup.writeSignatures(
      Dedup.minHashSignatures(corpus, "doc_id", "text"), dir, "sigstore_plan")
    val store = Dedup.readSignatures(spark, dir, "sigstore_plan")
    val batchTs = batch.withColumn("ts",
      lit(java.sql.Timestamp.valueOf("2024-06-01 10:00:00")))
    // pin the at-scale plan shape: no AQE rewrites, no broadcast of
    // the corpus side (at 100 TB it is NOT broadcastable)
    val saved = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val hits = graft.streaming.StreamingDedup
        .corpusNearDupHits(batchTs, "doc_id", "ts", "text", store, threshold = 0.5)
        .toDF()
      val plan = hits.queryExecution.executedPlan
      def isStoreScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists { rp =>
            val s = rp.toString
            s.contains("sigstore") && (s.contains("banded") || s.contains("grams"))
          }
        case _ => false
      }
      // offending = an exchange whose input is PURELY the store table
      // (the static side itself re-shuffled); shuffles of join OUTPUTS
      // (candidates) legitimately contain the scan in their subtree
      val offending = plan.collect {
        case e: ShuffleExchangeExec
            if e.collectLeaves().nonEmpty && e.collectLeaves().forall(isStoreScan) => e
      }
      assert(offending.isEmpty,
        s"static store side must not re-shuffle per run:\n$plan")
      val storeScans = plan.collectLeaves().filter(isStoreScan)
        .collect { case f: FileSourceScanExec => f }
      assert(storeScans.size == 2, s"expected banded+grams scans:\n$plan")
      assert(storeScans.forall(_.bucketedScan),
        s"store scans must read bucketed:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", saved._1)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved._2)
    }
  }

  test("signature store: stale-registration guard goes through Hadoop Path — URI-scheme locations validate, non-local schemes fail actionably") {
    val (corpus, _) = sigStoreFixture()
    val sigs = Dedup.minHashSignatures(corpus, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-sigguard").toString
    Dedup.writeSignatures(sigs, dir, "sigguard_seed")
    // MATCH case under a scheme: re-open the registered store by a
    // `file:`-scheme URI spelling of the same path — the old
    // java.nio guard compared raw strings of mismatched forms; the
    // Hadoop-Path guard must normalize and validate
    val viaUri = Dedup.readSignatures(spark, s"file:$dir", "sigguard_seed")
    assert(viaUri.grams.count() == 2L)
    // and the scheme-less original spelling still re-opens too
    assert(Dedup.readSignatures(spark, dir, "sigguard_seed").numBuckets == 64)
    // MISMATCH case on a CLUSTER scheme: a name registered at an
    // hdfs:// location (persistent-metastore restart shape). The old
    // guard threw FileSystemNotFoundException here — NIO has no hdfs
    // provider — instead of validating; the fix must reach the
    // actionable require() message without touching any live cluster
    // registered straight through the session catalog (DDL would try
    // to LIST the location, which is the live-cluster dependency this
    // test must not have; the restart scenario's metastore entry is
    // exactly this catalog record)
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{
      CatalogStorageFormat, CatalogTable, CatalogTableType}
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val ident = TableIdentifier("sigguard_hdfs_banded")
    spark.sessionState.catalog.createTable(
      CatalogTable(
        identifier = ident,
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty.copy(locationUri =
          Some(new java.net.URI("hdfs://localhost:8020/warehouse/sig/banded"))),
        schema = new StructType()
          .add("bucket", StringType).add("id", LongType).add("bucket_n", LongType),
        provider = Some("parquet")),
      ignoreIfExists = false, validateLocation = false)
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.readSignatures(spark, dir, "sigguard_hdfs")
      }
      // the guard's message quotes the NORMALIZED location (default
      // hdfs port stripped — see the equivalence test below)
      assert(e.getMessage.contains("already registered") &&
        e.getMessage.contains("hdfs://localhost/warehouse/sig"), e.getMessage)
    } finally spark.sessionState.catalog
      .dropTable(ident, ignoreIfNotExists = true, purge = false)
  }

  test("signature store: location guard normalizes authority — host case and scheme default ports do not block a legitimate re-open") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    def n(s: String) = graft.operators.StoreEpoch.normalizeStoreLocation(new Path(s), conf)
    // equivalent spellings of one hdfs location: with/without the
    // default 8020 port, upper/lower host case, trailing slash
    assert(n("hdfs://NN:8020/warehouse/sig") == n("hdfs://nn/warehouse/sig/"))
    // a NON-default port is a real difference and must stay one
    assert(n("hdfs://nn:9000/warehouse/sig") != n("hdfs://nn/warehouse/sig"))
    // different hosts stay different
    assert(n("hdfs://a/warehouse/sig") != n("hdfs://b/warehouse/sig"))
    // unlisted schemes compare authorities verbatim apart from case
    assert(n("s3a://Bucket/store") == n("s3a://bucket/store"))
    // scheme-less qualifies via the session conf (local default FS)
    assert(n("/tmp/graft-x") == n("file:/tmp/graft-x"))
  }

  test("signature store: pruneSignatureEpochs keeps the latest N epoch dirs, survivor still opens and serves") {
    val base = "the data and model pipeline have that sort of careful work " +
      "to be done with many diverse sources and long running jobs"
    def marked(i: Int) = base.split(" ").zipWithIndex
      .map { case (w, j) => if (j % 4 == 3) s"$w$i" else w }.mkString(" ")
    def fresh(id: Long) = (id, (0 until 30).map(k => s"u${id}x$k").mkString(" "))
    val corpus = Seq((1L, marked(1)), (2L, marked(2))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-sigprune").toString
    Dedup.writeSignatures(
      Dedup.minHashSignatures(corpus, "doc_id", "text"), s"$root/epoch0", "sigprune_e0")
    Dedup.mergeSignatures(spark, s"$root/epoch0", "sigprune_e0",
      Dedup.minHashSignatures(Seq(fresh(11L)).toDF("doc_id", "text"), "doc_id", "text"),
      s"$root/epoch1", "sigprune_e1")
    Dedup.mergeSignatures(spark, s"$root/epoch1", "sigprune_e1",
      Dedup.minHashSignatures(Seq(fresh(12L)).toDF("doc_id", "text"), "doc_id", "text"),
      s"$root/epoch2", "sigprune_e2")
    // a sibling dir that is not an epoch must be ignored, not deleted
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(root, "increments"))
    // returns the deleted epoch INDICES so callers can retire the
    // matching catalog registrations in the same turn
    assert(Dedup.pruneSignatureEpochs(spark, root, keepLatest = 1) == Seq(0L, 1L))
    val left = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(left == Set("epoch2", "increments"), s"left=$left")
    // the surviving epoch still opens from a FRESH catalog and serves
    spark.sql("DROP TABLE sigprune_e2_banded")
    spark.sql("DROP TABLE sigprune_e2_grams")
    val survivor = Dedup.readSignatures(spark, s"$root/epoch2", "sigprune_e2")
    assert(survivor.grams.count() == 4L, "corpus(2) + two folded survivors")
    val batch = Seq((20L, fresh(12L)._2 + " tail"), fresh(21L)).toDF("doc_id", "text")
    val kept = Dedup.nearDupNewDocs(batch, "doc_id", "text", survivor, threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(21L), s"kept=$kept")
    // idempotent + guarded: nothing more to prune, keepLatest >= 1
    assert(Dedup.pruneSignatureEpochs(spark, root, keepLatest = 1).isEmpty)
    assert(Dedup.pruneSignatureEpochs(spark, s"$root/nope", keepLatest = 1).isEmpty)
    val eKeep = intercept[IllegalArgumentException] {
      Dedup.pruneSignatureEpochs(spark, root, keepLatest = 0)
    }
    assert(eKeep.getMessage.contains("keepLatest"), eKeep.getMessage)
  }

  test("signature store: banded table carries the exact bucket population and the write-time skew cap drops oversized buckets") {
    // pins the r21 single-window rewrite of writeSignatures' bucket
    // counting (was groupBy + self-join): bucket_n must equal the
    // bucket's corpus population EXACTLY (readers evaluate union caps
    // per-row against it), and buckets over maxBucketSize must be
    // ABSENT, not just flagged. Three identical docs share every band
    // bucket (population 3); one fresh doc populates its own buckets
    // (population 1); maxBucketSize = 2 must drop the shared buckets
    // and keep the fresh ones.
    val shared = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (1L, shared), (2L, shared), (3L, shared),
      (4L, (0 until 30).map(k => s"u4x$k").mkString(" ")),
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-sigcap").toString
    Dedup.writeSignatures(
      Dedup.minHashSignatures(corpus, "doc_id", "text"), dir, "sigcap_a",
      maxBucketSize = 2)
    val store = Dedup.readSignatures(spark, dir, "sigcap_a")
    val banded = store.banded.select($"bucket", $"id", $"bucket_n")
      .as[(String, Long, Long)].collect()
    assert(banded.nonEmpty, "fresh doc's buckets must survive the cap")
    // no shared-doc bucket survives (population 3 > cap 2) …
    assert(banded.forall(_._2 == 4L),
      s"oversized buckets leaked ids: ${banded.filter(_._2 != 4L).take(3).toSeq}")
    // … and the carried population is the true per-bucket count
    val recounted = banded.groupBy(_._1).map { case (_, rows) => rows.length.toLong }.toSet
    assert(banded.forall(r => r._3 == banded.count(_._1 == r._1).toLong),
      "bucket_n must equal the bucket's surviving population")
    assert(recounted.forall(_ == 1L), s"fresh doc buckets are singletons: $recounted")
  }
}
