package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, VectorStore}

/** The daily-ingest loop over both persisted stores. Set-up trains
  * IVF-PQ and writes epoch 0 of the MinHash signature store and the
  * coded-vector store. Each unit is one day's increment: open both
  * stores, probe the increment for near-duplicates, search a query
  * batch, commit the survivors into the next epoch and prune to the
  * latest two epochs. The epochs form one chain over the run; the
  * warm-up increment is its first link, so the first measured
  * increment already prunes.
  */
final class StoreEpochs extends Workload {
  val name = "store_epochs"
  val nBase = 1000
  val days = 4
  val perIncrement = 100
  val queries = 60
  val k = 10
  val nprobe = 8
  val refine = 10
  val threshold = 0.8
  val numBuckets = 8
  private var seed = 0L
  private var data: Gen.StoreSet = _
  private var inputBytes: Map[String, Long] = Map.empty
  // chain state, reset by every set-up
  private var epoch = 0
  private var nextDay = 0
  private var written = 0L
  private var ingested = 0L
  private val live = mutable.LinkedHashMap.empty[Long, Array[Float]]

  private def sigName(e: Int) = s"sig_e$e"
  private def vecName(e: Int) = s"vec_e$e"
  private def epochDir(dir: String, e: Int) = s"$dir/e$e"

  def generate(spark: SparkSession, dir: String, seed: Long): Map[String, Long] = {
    this.seed = seed
    data = Gen.store(spark, dir, seed, nBase, days, perIncrement, queries,
      warmDocs = 20, warmQueries = 20)
    inputBytes = (("store_base" -> data.basePath) +: (data.warm +: data.increments).flatMap { inc =>
      Seq(s"store_day${inc.day}" -> s"${inc.docsPath}/day=${inc.day}",
        s"store_day${inc.day}_queries" -> s"${inc.queriesPath}/day=${inc.day}")
    }).map { case (n, p) => n -> Fs.usage(spark, p)._1 }.toMap
    inputBytes
  }

  def setup(spark: SparkSession, tr: Tracer, dir: String, ops: Ops): Unit = {
    val base = epochDir(dir, 0)
    val corpus = spark.read.parquet(data.basePath)
    val (ivf, pq) = Similarity.trainIvfPq(corpus, "vec", nlist = 32, m = 8, ksub = 64,
      sampleRows = nBase, seed = seed)
    VectorStore.write(corpus, "doc_id", "vec", s"$base/vec", vecName(0), ivf, pq,
      numBuckets = numBuckets)
    Dedup.writeSignatures(Dedup.minHashSignatures(corpus, "doc_id", "text"),
      s"$base/sig", sigName(0), numBuckets = numBuckets)
    epoch = 0
    nextDay = 0
    written = Fs.usage(spark, base)._1
    ingested = inputBytes("store_base")
    live.clear()
    data.baseIds.foreach(id => live(id) = data.vectors(id))
  }

  override def exhausted: Boolean = nextDay >= data.increments.size

  private def dropEpoch(spark: SparkSession, dir: String, e: Int): Unit = {
    Seq(s"${sigName(e)}_banded", s"${sigName(e)}_grams", s"${vecName(e)}_coded",
      s"${vecName(e)}_vecs").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Fs.delete(spark, epochDir(dir, e))
  }

  def unit(spark: SparkSession, tr: Tracer, dir: String, ops: Ops,
      warm: Boolean): Seq[Cycle] = {
    val sc = spark.sparkContext
    val inc =
      if (warm) data.warm
      else {
        nextDay += 1
        data.increments(nextDay - 1)
      }
    val (src, dst) = (epoch, epoch + 1)
    val (srcDir, dstDir) = (epochDir(dir, src), epochDir(dir, dst))
    val ((sigs, vecs), openS) = ops.run("open") {
      (tr.span(sc, "Dedup.readSignatures") {
        Dedup.readSignatures(spark, s"$srcDir/sig", sigName(src))
      }, tr.span(sc, "VectorStore.read") {
        VectorStore.read(spark, s"$srcDir/vec", vecName(src))
      })
    }
    val docs = inc.docs(spark)
    val ((kept, keptIds), probeS) = ops.run("probe") {
      tr.span(sc, "Dedup.nearDupNewDocs") {
        val kf = Dedup.nearDupNewDocs(docs, "doc_id", "text", sigs, threshold)
        (kf, kf.select("doc_id").collect().map(_.getLong(0)).toSet)
      }
    }
    val planted = inc.nearDup.keySet
    val nearRecall =
      if (planted.isEmpty) 1.0 else planted.count(id => !keptIds(id)).toDouble / planted.size
    val falseDrops = inc.ids.count(id => !planted(id) && !keptIds(id))
    ops.check("probe", falseDrops == 0, s"$falseDrops fresh documents dropped as near-dups")
    ops.check("probe", nearRecall >= 0.95, f"near-dup recall $nearRecall%.3f below 0.95")

    val qdf = inc.queries(spark)
    val (hits, searchS) = ops.run("search") {
      tr.span(sc, "Similarity.ivfPqTopKFromStore") {
        Similarity.ivfPqTopKFromStore(vecs, qdf, "qid", "vec", k, nprobe, refine)
          .select(col("query_id"), col("neighbor_id")).collect()
          .map(r => r.getLong(0) -> r.getLong(1))
      }
    }
    // recall against the benchmark's own exact search over the live store
    val found = hits.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val recalls = inc.querySource.keys.toSeq.map { q =>
      val truth = Gen.exactTopK(data.queries(q), live, k)
      truth.count(found.getOrElse(q, Set.empty[Long])).toDouble / k
    }
    val annRecall = recalls.sum / recalls.size
    ops.check("search", found.size == inc.querySource.size && found.values.forall(_.size == k),
      s"${found.size} of ${inc.querySource.size} queries answered with $k neighbours")
    ops.check("search", annRecall >= 0.8, f"ANN recall@$k $annRecall%.3f below 0.8")
    // each query perturbs one stored vector, its true nearest neighbour
    val missed = inc.querySource.filter { case (q, s) => !found.get(q).exists(_(s)) }
    ops.check("search", missed.isEmpty, missed.map { case (q, s) =>
      val got = found.getOrElse(q, Set.empty[Long]).toSeq
        .map(n => f"${Gen.cosine(data.queries(q), data.vectors(n))}%.4f").sorted.mkString(",")
      f"day ${inc.day} query $q missed planted source $s (cosine ${Gen.cosine(data.queries(q), data.vectors(s))}%.4f); got $got"
    }.mkString("; "))

    val (_, sigS) = ops.run("sig_commit") {
      tr.span(sc, "Dedup.mergeSignatures") {
        Dedup.mergeSignatures(spark, s"$srcDir/sig", sigName(src),
          Dedup.minHashSignatures(kept, "doc_id", "text"), s"$dstDir/sig", sigName(dst))
      }
    }
    val (vstore, vecS) = ops.run("vec_commit") {
      tr.span(sc, "VectorStore.merge") {
        VectorStore.merge(spark, s"$srcDir/vec", vecName(src), kept.select("doc_id", "vec"),
          "doc_id", "vec", s"$dstDir/vec", vecName(dst))
      }
    }
    epoch = dst
    keptIds.foreach(id => live(id) = data.vectors(id))
    val (sigBytes, sigFiles) = Fs.usage(spark, s"$dstDir/sig")
    val (vecBytes, vecFiles) = Fs.usage(spark, s"$dstDir/vec")
    written += sigBytes + vecBytes
    ingested += inputBytes(s"store_day${inc.day}")
    val (stored, coded) = (vstore.vecs.count(), vstore.coded.count())
    ops.check("vec_commit", stored == live.size && coded == live.size,
      s"store holds $stored vectors and $coded codes, expected ${live.size}")

    // keep the latest two epochs: src and dst
    val (_, pruneS) = ops.run("prune") {
      if (src >= 1) dropEpoch(spark, dir, src - 1)
    }
    ops.check("prune", src < 1 || Fs.usage(spark, epochDir(dir, src - 1))._2 == 0,
      "pruned epoch still on disk")
    val liveBytes = Fs.usage(spark, srcDir)._1 + Fs.usage(spark, dstDir)._1

    val layer =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        tr.sync()
        def perCore(n: String, items: Double) = {
          val runS = tr.stats(tr.closedSpans.filter(_.name == n).last.id).runMs / 1e3
          if (runS > 0) items / runS else 0.0
        }
        Map(
          "Dedup.nearDupNewDocs.docs_per_core_s" -> perCore("Dedup.nearDupNewDocs", inc.ids.size),
          "Similarity.ivfPqTopKFromStore.queries_per_core_s" ->
            perCore("Similarity.ivfPqTopKFromStore", inc.querySource.size),
          "Dedup.mergeSignatures.bytes_written" -> sigBytes.toDouble,
          "Dedup.mergeSignatures.files_written" -> sigFiles.toDouble,
          "VectorStore.merge.bytes_written" -> vecBytes.toDouble,
          "VectorStore.merge.files_written" -> vecFiles.toDouble,
          "store.live_bytes" -> liveBytes.toDouble)
      }
    Seq(Cycle(
      ops = Map("open" -> openS, "probe" -> probeS, "search" -> searchS,
        "sig_commit" -> sigS, "vec_commit" -> vecS, "prune" -> pruneS),
      writeS = sigS + vecS,
      readS = openS + probeS + searchS,
      quality = (nearRecall + annRecall) / 2,
      workload = Map(
        "store_open_s" -> openS, "neardup_probe_s" -> probeS,
        "ann_query_batch_s" -> searchS, "sigstore_commit_s" -> sigS,
        "vecstore_commit_s" -> vecS, "neardup_recall" -> nearRecall,
        "ann_recall_at_10" -> annRecall,
        // bytes written to every epoch so far (epoch 0 included) over the
        // user bytes ingested so far (epoch-0 input plus increments)
        "store_write_amp" -> written.toDouble / ingested),
      layer = layer))
  }

  def describe: Map[String, Any] = Map(
    "base_docs" -> nBase, "days" -> days, "docs_per_increment" -> perIncrement,
    "queries_per_increment" -> queries, "warm_increment_docs" -> data.warm.ids.size,
    "planted_near_dups" -> data.increments.map(_.nearDup.size), "dim" -> data.dim,
    "k" -> k, "nprobe" -> nprobe, "refine" -> refine, "num_buckets" -> numBuckets,
    "input_bytes" -> inputBytes)
}
