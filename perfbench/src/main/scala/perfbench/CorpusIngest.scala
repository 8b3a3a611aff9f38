package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.CorpusPipeline
import graft.sources.ShardSink

/** A generated crawl through `CorpusPipeline.webIngest`, landed with
  * `ShardSink.writeShards`, then audited by
  * `CorpusPipeline.webIngestFunnel` over the same input.
  */
final class CorpusIngest extends Workload {
  val name = "corpus_ingest"
  val uniquePages = 200
  val maxPerHost = 20
  val langs = Seq("en", "ru")
  val seqLen = 256
  val packsPerShard = 8
  val warmPages = 30
  private var crawl: Gen.Crawl = _
  private var warmCrawl: Gen.Crawl = _
  private var firstManifest: Option[String] = None
  private var cycles = 0

  def generate(spark: SparkSession, dir: String, seed: Long): Map[String, Long] = {
    crawl = Gen.crawl(spark, dir, "crawl", seed, uniquePages, maxPerHost)
    warmCrawl = Gen.crawl(spark, dir, "crawl_warm", seed, warmPages, maxPerHost)
    Map("crawl" -> Fs.usage(spark, crawl.path)._1,
      "crawl_warm" -> Fs.usage(spark, warmCrawl.path)._1)
  }

  def setup(spark: SparkSession, tr: Tracer, dir: String, ops: Ops): Unit = {
    // warm-up: the program has no one-time set-up here; touch the input
    spark.read.parquet(crawl.path).count()
  }

  def unit(spark: SparkSession, tr: Tracer, dir: String, ops: Ops,
      warm: Boolean): Seq[Cycle] = {
    val sc = spark.sparkContext
    val c = if (warm) warmCrawl else crawl
    val input = spark.read.parquet(c.path)
    if (!warm) cycles += 1
    val out = if (warm) s"$dir/shards_warm" else s"$dir/shards_$cycles"
    val (manifest, ingestS) = ops.run("ingest") {
      val layout = tr.span(sc, "CorpusPipeline.webIngest") {
        CorpusPipeline.webIngest(input, "doc_id", "html", "url", langs = langs,
          maxPerHost = maxPerHost, seqLen = seqLen, shuffleSalt = "perfbench")
      }
      tr.span(sc, "ShardSink.writeShards") {
        ShardSink.writeShards(layout, "chunk_id", "n_chunk_tokens", "pack_first", out,
          packsPerShard).collect()
      }
    }
    val (funnel, funnelS) = ops.run("funnel") {
      tr.span(sc, "CorpusPipeline.webIngestFunnel") {
        CorpusPipeline.webIngestFunnel(input, "doc_id", "html", "url", langs = langs,
          maxPerHost = maxPerHost).collect()
      }
    }

    // checks, untimed: read the landed shards back
    val kept = spark.read.parquet(out).select(col("id"), col("url_host")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).distinct
    val keptIds = kept.map(_._1).toSet
    val overCap = kept.groupBy(_._2).collect { case (h, xs) if xs.length > maxPerHost => h }
    ops.check("ingest", overCap.isEmpty, s"host cap exceeded on ${overCap.mkString(",")}")
    val clusters = c.exactClusters ++ c.nearClusters
    val notCollapsed = clusters.filter(c => c.count(keptIds) > 1)
    ops.check("ingest", notCollapsed.isEmpty,
      s"${notCollapsed.size} planted duplicate clusters kept more than one page, " +
        s"e.g. ${notCollapsed.take(3).map(_.mkString("/")).mkString(" ")}")
    val junkKept = c.junk.intersect(keptIds)
    ops.check("ingest", junkKept.isEmpty, s"${junkKept.size} junk pages survived")
    ops.check("ingest", c.russian.isEmpty || c.russian.exists(keptIds), "no Russian page survived")
    if (!warm) {
      val digest = manifest.map(r => s"${r.get(0)}:${r.get(1)}:${r.get(5)}").mkString(";")
      if (firstManifest.isEmpty) firstManifest = Some(digest)
      ops.check("ingest", firstManifest.contains(digest), "shard manifest changed between cycles")
    }
    // funnel rows: (stage_ix, stage, docs_in, docs_dropped, docs_out, tokens_out)
    def num(r: org.apache.spark.sql.Row, c: String) = r.getAs[Number](c).longValue
    val chain = funnel.sortBy(num(_, "stage_ix"))
    ops.check("funnel",
      chain.nonEmpty && num(chain.head, "docs_in") == c.nPages &&
        num(chain.last, "docs_out") == keptIds.size,
      s"funnel ${chain.map(r => s"${r.getAs[String]("stage")}=${num(r, "docs_out")}")
        .mkString(",")} does not end at the ${keptIds.size} landed documents")
    val (outBytes, _) = Fs.usage(spark, out)
    if (warm) Fs.delete(spark, out)
    else if (cycles > 1) Fs.delete(spark, s"$dir/shards_${cycles - 1}")

    // dedup recall: redundant planted copies removed ÷ redundant copies planted
    val redundant = clusters.map(_.size - 1).sum
    val removed = clusters.map(c => math.min(c.size - 1, c.size - c.count(keptIds))).sum
    val layer =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        tr.sync()
        val ws = tr.stats(tr.closedSpans.filter(_.name == "ShardSink.writeShards").last.id)
        Map(
          "ShardSink.writeShards.docs_per_core_s" ->
            (if (ws.runMs > 0) crawl.nPages / (ws.runMs / 1e3) else 0.0),
          "ShardSink.writeShards.exchanges" -> ws.exchanges.toDouble,
          "ShardSink.writeShards.output_bytes" -> outBytes.toDouble)
      }
    Seq(Cycle(
      ops = Map("ingest" -> ingestS, "funnel" -> funnelS),
      writeS = ingestS,
      readS = funnelS,
      quality = removed.toDouble / redundant,
      workload = Map(
        "ingest_docs_per_s" -> crawl.nPages / ingestS,
        "funnel_docs_per_s" -> crawl.nPages / funnelS),
      layer = layer))
  }

  def describe: Map[String, Any] = Map(
    "pages" -> crawl.nPages, "hosts" -> crawl.hosts, "max_per_host" -> maxPerHost,
    "largest_host_pages" -> crawl.pagesPerHost.values.max,
    "exact_clusters" -> crawl.exactClusters.size, "near_clusters" -> crawl.nearClusters.size,
    "near_cluster_pages" -> crawl.nearClusters.map(_.size).sum,
    "junk_pages" -> crawl.junk.size, "russian_pages" -> crawl.russian.size,
    "seq_len" -> seqLen)
}
