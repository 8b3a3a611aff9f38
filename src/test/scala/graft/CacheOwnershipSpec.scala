package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, Packing, Sampling, Similarity}

/** Locks the storage-ownership convention: operators must NOT return
  * `persist()`ed frames. A persisted return pins a CacheManager entry
  * (and its cached rows) for the rest of a long-lived session with no
  * caller obligated to release it — the q62/q47 leak class. Returned
  * materialized frames are localCheckpoint-backed instead: same eager
  * materialization, blocks freed on GC, `storageLevel` reads NONE
  * because nothing is registered with the CacheManager.
  */
class CacheOwnershipSpec extends SparkTestBase {
  import spark.implicits._

  private def assertUnpinned(label: String, df: DataFrame): Unit =
    assert(df.storageLevel == StorageLevel.NONE,
      s"$label returned a CacheManager-pinned frame (${df.storageLevel}) — " +
        "use localCheckpoint for returned materialized frames")

  private lazy val docs = graft.sources.Tables.load(spark, Sf0001, "documents").limit(100)

  test("dedup family returns unpinned frames") {
    assertUnpinned("minHashNearDupPairs",
      Dedup.minHashNearDupPairs(docs, "doc_id", "text"))
    assertUnpinned("cleanCorpus",
      Dedup.cleanCorpus(docs, "doc_id", "text", transitive = false))
    assertUnpinned("spanDedup",
      Dedup.spanDedup(docs.limit(30), "doc_id", "text", k = 8))
  }

  test("packing family returns unpinned frames") {
    val toks = (1L to 50L).map(i => (i, i % 7)).toDF("id", "n_tokens")
    assertUnpinned("sequencePackingByCount",
      Packing.sequencePackingByCount(toks, "id", "n_tokens", seqLen = 16))
    assertUnpinned("deterministicShuffle",
      Packing.deterministicShuffle(toks, "id", "salt"))
    assertUnpinned("shuffleAndPack",
      Packing.shuffleAndPack(toks, "id", "n_tokens", 16, "salt"))
    assertUnpinned("tokenBudgetSelect",
      Sampling.tokenBudgetSelect(toks, "id", "n_tokens", Seq(col("n_tokens").desc), 100L))
  }

  test("similarity family returns unpinned frames") {
    val rng = new scala.util.Random(3)
    val vecs = (0L until 40L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat).toSeq))
    val df = vecs.toDF("vec_id", "embedding")
    assertUnpinned("semanticDedup",
      Similarity.semanticDedup(df, "vec_id", "embedding", nlist = 4, eps = 0.99))
  }

  test("gate boundary cache: same-session hit, restart evicts the superseded parquet dir — exactly one live dir per key") {
    def liveMine = SparkEntry.gateCacheLiveDirs.filter(_.contains("graft_gate_cachespec"))
    var runs = 0
    def chain(s: org.apache.spark.sql.SparkSession) = {
      runs += 1
      Seq("x" -> s.range(3).toDF("id"))
    }
    val r1 = SparkEntry.cachedBoundaries(spark, "spec://gatecache", "cachespec")(chain(spark))
    assert(r1.head._2.count() == 3L && runs == 1)
    val dirs1 = liveMine
    assert(dirs1.size == 1, s"one live dir expected: $dirs1")
    // same session: cache hit — no recompute, no new dir
    SparkEntry.cachedBoundaries(spark, "spec://gatecache", "cachespec")(chain(spark))
    assert(runs == 1 && liveMine == dirs1)
    // same-JVM session restart: recompute against the NEW session and
    // DELETE the superseded entry's parquet dir at replacement
    val s2 = spark.newSession()
    val r2 = SparkEntry.cachedBoundaries(s2, "spec://gatecache", "cachespec")(chain(s2))
    assert(r2.head._2.count() == 3L && runs == 2)
    val dirs2 = liveMine
    assert(dirs2.size == 1 && dirs2 != dirs1,
      s"exactly one live dir after restart: was=$dirs1 now=$dirs2")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dirs1.head)),
      s"superseded dir must be deleted: ${dirs1.head}")
  }

  test("store fixture cache: a lookup from a second live session keeps the first session's frame readable") {
    val made = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def build(s: org.apache.spark.sql.SparkSession) = {
      val d = java.nio.file.Files.createTempDirectory("graft_storefix_spec")
      made += d
      val p = d.resolve("t").toString
      s.range(5).write.parquet(p)
      (s.read.parquet(p), Seq(d))
    }
    try {
      val f1 = SparkEntry.cachedStoreFixture[DataFrame](spark, "spec://storefix", "live")(build(spark))
      val s2 = spark.newSession()
      val f2 = SparkEntry.cachedStoreFixture[DataFrame](s2, "spec://storefix", "live")(build(s2))
      assert(made.size == 2, "a different session must rebuild")
      assert(f2.collect().length == 5)
      // the first session is not stopped: its dir must survive the replacement
      assert(java.nio.file.Files.exists(made.head), s"live session's dir deleted: ${made.head}")
      assert(f1.collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))
    } finally made.foreach { d =>
      val walk = java.nio.file.Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
