package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Self-test of the input generator:
  *   - the same seed gives byte-identical files, another seed differs;
  *   - the planted truth the generator declares (duplicate clusters,
  *     near-duplicate pairs, true nearest neighbours, noise level) is
  *     what a recount of the written files finds.
  * Run with `python3 perfbench/test_gen.py`.
  */
object GenCheck {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def check(ok: Boolean, what: => String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += what
  }

  /** SHA-256 of each data file, in slice order (names carry a job uuid). */
  private def digests(dir: String): Seq[String] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(p => p.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(p => p.getFileName.toString.take(10) + p.getParent.toString)
      .map(p => MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
        .map("%02x".format(_)).mkString)
    finally s.close()
  }

  private def generateAll(spark: SparkSession, dir: String, seed: Long) = {
    val ml = Gen.ml(spark, dir, seed, 2000, 4000)
    val crawl = Gen.crawl(spark, dir, "crawl", seed, 1200, 60)
    val store = Gen.store(spark, dir, seed, 2000, 2, 300, 50, 20, 10)
    (ml, crawl, store)
  }

  def run(a: Main.Args): Int = {
    val spark = Main.session(a)
    val root = Paths.get(a.work, "gencheck")
    Main.deleteTree(root)
    val (dirA, dirB, dirC) = (s"$root/a", s"$root/b", s"$root/c")
    val (ml, crawl, store) = generateAll(spark, dirA, a.seed)
    generateAll(spark, dirB, a.seed)
    generateAll(spark, dirC, a.seed + 1)
    val sets = Seq("ml_train", "ml_score", "crawl", "store_base", "store_inc", "store_q")
    sets.foreach { s =>
      val (da, db, dc) = (digests(s"$dirA/$s"), digests(s"$dirB/$s"), digests(s"$dirC/$s"))
      check(da.nonEmpty && da == db, s"$s: same seed gives byte-identical files (${da.size} files)")
      check(da != dc, s"$s: another seed gives different files")
    }

    // ml: row counts and the planted noise level
    val train = spark.read.parquet(ml.trainPath).collect()
    check(train.length == ml.nTrain, s"ml_train holds ${train.length} of ${ml.nTrain} rows")
    val resid = train.map { r =>
      val x = r.getSeq[Float](1).toArray
      val d = r.getSeq[Float](2).head - Gen.signal(x)
      d * d
    }
    val noise = resid.sum / resid.length
    check(math.abs(noise / ml.noiseVar - 1) < 0.15,
      f"ml noise variance $noise%.5f matches the declared ${ml.noiseVar}%.5f")

    // crawl: recount clusters from the page bodies
    val Body = "(?s).*<p>(.*)</p>.*".r
    val pages = spark.read.parquet(crawl.path).collect()
      .map(r => r.getLong(0) -> (r.getString(1) match { case Body(b) => b; case _ => "" }))
      .toMap
    check(pages.size == crawl.nPages, s"crawl holds ${pages.size} of ${crawl.nPages} pages")
    val exactFound = pages.groupBy(_._2).values.filter(_.size > 1).map(_.keySet).toSet
    check(exactFound == crawl.exactClusters.map(_.toSet).toSet,
      s"${exactFound.size} exact-duplicate clusters found, ${crawl.exactClusters.size} declared")
    val links = crawl.nearClusters.flatMap(c => c.sliding(2).map(p => Gen.shingleJaccard(pages(p(0)), pages(p(1)))))
    check(links.forall(_ >= 0.8), f"every near-dup link has Jaccard ≥ 0.8 (min ${links.min}%.3f)")
    val ends = crawl.nearClusters.filter(_.size >= 3).map(c => Gen.shingleJaccard(pages(c.head), pages(c.last)))
    check(ends.count(_ < 0.8) * 2 >= ends.size,
      s"${ends.count(_ < 0.8)} of ${ends.size} near-dup chains link their ends only transitively")
    check(crawl.junk.forall(id => pages(id).startsWith("###") || pages(id).split(" ").length < 50),
      s"${crawl.junk.size} junk pages are symbol soup or too short")
    check(crawl.russian.forall(id => pages(id).exists(c => c >= 'а' && c <= 'я')),
      s"${crawl.russian.size} pages are Russian")
    check(crawl.pagesPerHost.values.max > crawl.maxPerHost,
      s"the largest host (${crawl.pagesPerHost.values.max} pages) exceeds the cap ${crawl.maxPerHost}")

    // store: recount near-duplicates of epoch 0 and true neighbours
    val base = spark.read.parquet(store.basePath).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getSeq[Float](2).toArray))).toMap
    def shingles(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    base.foreach { case (id, (t, _)) => shingles(t).foreach(s => index.getOrElseUpdate(s, mutable.ArrayBuffer()) += id) }
    val docIds = base.keySet ++ (store.warm +: store.increments).flatMap(_.ids)
    val queryIds = (store.warm +: store.increments).flatMap(_.querySource.keys)
    check(queryIds.forall(q => !docIds(q)), s"${queryIds.size} query ids share no id with a document")
    store.increments.zipWithIndex.foreach { case (inc, i) =>
      val docs = inc.docs(spark).collect().map(r => r.getLong(0) -> r.getString(1))
      val near = docs.filter { case (_, t) =>
        val cands = shingles(t).flatMap(s => index.getOrElse(s, Nil))
        cands.exists(c => Gen.shingleJaccard(t, base(c)._1) >= 0.8)
      }.map(_._1).toSet
      check(near == inc.nearDup.keySet,
        s"increment ${i + 1}: ${near.size} near-duplicates of epoch 0 found, ${inc.nearDup.size} declared")
      val qs = inc.queries(spark).collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val live = base.map { case (id, (_, v)) => id -> v }
      val top1 = qs.count { case (q, v) => Gen.exactTopK(v, live, 10).headOption.contains(inc.querySource(q)) }
      check(qs.length == inc.querySource.size && top1 == qs.length,
        s"increment ${i + 1}: $top1 of ${qs.length} queries have their planted source as true nearest neighbour")
    }
    spark.stop()
    if (failures.isEmpty) Main.deleteTree(root)
    println(if (failures.isEmpty) "generator self-test passed" else s"${failures.size} checks failed")
    if (failures.isEmpty) 0 else 1
  }
}
