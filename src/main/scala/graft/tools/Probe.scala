package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc perf probe: time a subset of SparkEntry queries, or stage
  * breakdowns of operator internals (local iteration only; the
  * driver-facing bench is [[graft.Bench]]).
  */
object Probe {

  /** Probe-only: thread-cached Deflater with reset() between docs —
    * the reuse variant measured against the shipped per-row kernel.
    */
  private val tlDeflater = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater = new java.util.zip.Deflater(6)
  }

  private[tools] def reusedDeflateLen(text: String): Long = {
    val bytes =
      (if (text == null) "" else text).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (bytes.isEmpty) return 0L
    val d = tlDeflater.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = new Array[Byte](8192)
    var out = 0L
    while (!d.finished()) out += d.deflate(buf)
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args(1).split(",").toSet else Set.empty[String]
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.SparkEntry.entry(spark).count() // warm-up

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    if (names.contains("vecstore")) {
      // store-served ANN vs from-floats: the store's claim is that a
      // search job skips the corpus re-encode (assign + PQ-encode per
      // vector) and the static-side exchange; measure both faces on
      // the same corpus/queries/models, store pre-built (write cost
      // reported separately — it amortizes over every later job)
      // 50x the sf0.1 embeddings (100k vectors) so per-vector work is
      // resolvable over the fixed job overheads; component 0 perturbed
      // per replica so replicas are not byte-duplicates
      val emb0 = graft.sources.Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val emb = (0 until 50)
        .map(i => emb0.select(
          (col("vec_id") + lit(i * 100000000L)).as("vec_id"),
          transform(col("embedding"),
            (x, ix) => when(ix === 0, (x + lit(i * 0.001f)).cast("float")).otherwise(x))
            .as("embedding")))
        .reduce(_ unionByName _)
        .repartition(32)
        .localCheckpoint(true)
      println("[probe] corpus=" + emb.count())
      val queries = emb.where(col("vec_id") % 100 === 0).localCheckpoint(true)
      println("[probe] queries=" + queries.count())
      val ivf = graft.operators.Similarity.trainIvf(emb, "embedding", nlist = 16)
      val pq = graft.operators.Similarity.trainPq(emb, "embedding", m = 8, ksub = 16)
      val dir = java.nio.file.Files.createTempDirectory("graft-probe-vecstore").toString
      timed("store write (once per corpus/epoch)") {
        graft.operators.VectorStore.write(emb, "vec_id", "embedding", dir, "probe_vs", ivf, pq)
      }
      val store = graft.operators.VectorStore.read(spark, dir, "probe_vs")
      (1 to 2).foreach { round =>
        timed(s"round $round: ivfPqTopK from floats (re-encodes corpus per job)") {
          println("[probe] rows=" + graft.operators.Similarity
            .ivfPqTopK(emb, queries, "vec_id", "embedding", k = 5, ivf, pq,
              nprobe = 4, refine = 4).count())
        }
        timed(s"round $round: ivfPqTopKFromStore (reads finished index rows)") {
          println("[probe] rows=" + graft.operators.Similarity
            .ivfPqTopKFromStore(store, queries, "vec_id", "embedding", k = 5,
              nprobe = 4, refine = 4).count())
        }
        timed(s"round $round: ivfHammingTopK from floats") {
          println("[probe] rows=" + graft.operators.Similarity
            .ivfHammingTopK(emb, queries, "vec_id", "embedding", k = 5, ivf,
              nprobe = 4, refine = 8).count())
        }
        timed(s"round $round: ivfHammingTopKFromStore") {
          println("[probe] rows=" + graft.operators.Similarity
            .ivfHammingTopKFromStore(store, queries, "vec_id", "embedding", k = 5,
              nprobe = 4, refine = 8).count())
        }
      }
      // the probe store holds full coded+vecs tables for the 100k-row
      // replicated corpus — delete it (the gate-fixture leak class)
      spark.sql("DROP TABLE IF EXISTS probe_vs_coded")
      spark.sql("DROP TABLE IF EXISTS probe_vs_vecs")
      spark.stop()
      val root = java.nio.file.Paths.get(dir)
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(q => java.nio.file.Files.deleteIfExists(q))
      finally walk.close()
      return
    }

    if (names.contains("opqstore")) {
      // OPQ store-served vs from-floats: ivfOpqTopK re-rotates AND
      // re-encodes the corpus every job — the most expensive per-job
      // encode in the ANN tree (d×d mat-vec + m sub-quantizer scans
      // per vector); the OPQ store pays it once at write. Same 100k
      // replicated corpus recipe as the `vecstore` probe.
      val emb0 = graft.sources.Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val emb = (0 until 50)
        .map(i => emb0.select(
          (col("vec_id") + lit(i * 100000000L)).as("vec_id"),
          transform(col("embedding"),
            (x, ix) => when(ix === 0, (x + lit(i * 0.001f)).cast("float")).otherwise(x))
            .as("embedding")))
        .reduce(_ unionByName _)
        .repartition(32)
        .localCheckpoint(true)
      println("[probe] corpus=" + emb.count())
      val queries = emb.where(col("vec_id") % 100 === 0).localCheckpoint(true)
      println("[probe] queries=" + queries.count())
      val (ivf, opq) = timed("trainIvfOpq (once per corpus)") {
        graft.operators.Similarity.trainIvfOpq(emb, "embedding", nlist = 16,
          m = 8, ksub = 16)
      }
      val dir = java.nio.file.Files.createTempDirectory("graft-probe-opqstore").toString
      timed("OPQ store write (once per corpus/epoch)") {
        graft.operators.VectorStore.writeOpq(emb, "vec_id", "embedding", dir,
          "probe_opqvs", ivf, opq)
      }
      val store = graft.operators.VectorStore.read(spark, dir, "probe_opqvs")
      (1 to 2).foreach { round =>
        timed(s"round $round: ivfOpqTopK from floats (re-rotates + re-encodes corpus per job)") {
          println("[probe] rows=" + graft.operators.Similarity
            .ivfOpqTopK(emb, queries, "vec_id", "embedding", k = 5, ivf, opq,
              nprobe = 4, refine = 4).count())
        }
        timed(s"round $round: ivfPqTopKFromStore on the OPQ store (rotates queries only)") {
          println("[probe] rows=" + graft.operators.Similarity
            .ivfPqTopKFromStore(store, queries, "vec_id", "embedding", k = 5,
              nprobe = 4, refine = 4).count())
        }
      }
      spark.sql("DROP TABLE IF EXISTS probe_opqvs_coded")
      spark.sql("DROP TABLE IF EXISTS probe_opqvs_vecs")
      spark.stop()
      val root = java.nio.file.Paths.get(dir)
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(q => java.nio.file.Files.deleteIfExists(q))
      finally walk.close()
      return
    }

    if (names.contains("vecstore_merge")) {
      // the merge (epoch compaction) claim is "one narrow
      // parquet-to-parquet pass over index rows — cost linear in
      // STANDING CORPUS SIZE, encode paid only by the increment":
      // measure a fixed 2k-vector increment folding into a 1x (2k)
      // vs 10x (20k) standing store; superlinear growth would mean
      // the standing rows are being re-encoded
      val emb0 = graft.sources.Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      def replicate(mult: Int, base: Long) = (0 until mult)
        .map(i => emb0.select(
          (col("vec_id") + lit(base + i * 100000000L)).as("vec_id"),
          transform(col("embedding"),
            (x, ix) => when(ix === 0, (x + lit(i * 0.001f)).cast("float")).otherwise(x))
            .as("embedding")))
        .reduce(_ unionByName _)
        .repartition(32)
        .localCheckpoint(true)
      val increment = replicate(1, 5000000000L)
      println("[probe] increment=" + increment.count())
      Seq(1, 10).foreach { mult =>
        val standing = replicate(mult, 0L)
        println(s"[probe] standing(${mult}x)=" + standing.count())
        val ivf = graft.operators.Similarity.trainIvf(standing, "embedding", nlist = 16)
        val pq = graft.operators.Similarity.trainPq(standing, "embedding", m = 8, ksub = 16)
        val d0 = java.nio.file.Files.createTempDirectory(s"graft-probe-vsm-e0-$mult").toString
        val d1 = java.nio.file.Files.createTempDirectory(s"graft-probe-vsm-e1-$mult").toString
        graft.operators.VectorStore.write(standing, "vec_id", "embedding", d0,
          s"probe_vsm_${mult}_e0", ivf, pq)
        timed(s"merge fixed 2k increment into ${mult}x standing store") {
          graft.operators.VectorStore.merge(spark, d0, s"probe_vsm_${mult}_e0",
            increment, "vec_id", "embedding", d1, s"probe_vsm_${mult}_e1")
        }
        Seq("e0", "e1").foreach { e =>
          spark.sql(s"DROP TABLE IF EXISTS probe_vsm_${mult}_${e}_coded")
          spark.sql(s"DROP TABLE IF EXISTS probe_vsm_${mult}_${e}_vecs")
        }
        import scala.jdk.CollectionConverters._
        Seq(d0, d1).foreach { d =>
          val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
          try walk.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(q => java.nio.file.Files.deleteIfExists(q))
          finally walk.close()
        }
      }
      spark.stop()
      return
    }

    if (names.contains("q167_stages")) {
      // stage breakdown of the q167 gate shape — which lifecycle leg
      // dominates a text→store→ingest gate at sf0.1
      val texts = graft.sources.Tables.load(spark, sfDir, "documents")
        .where(col("doc_id") % 2 === 0)
        .select(col("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(26)),
            k => concat(lit("the item"), col("doc_id").cast("string"), lit("x"),
              k.cast("string")))).as("text"))
      (1 to 2).foreach { round =>
        val emb = timed(s"round $round: hashEmbed + checkpoint") {
          graft.operators.TextAnalysis.hashEmbed(texts, "text", dim = 128, ngrams = 2)
            .select(col("doc_id").as("vec_id"), col("embedding"))
            .localCheckpoint(true)
        }
        val ivf = timed(s"round $round: trainIvf") {
          graft.operators.Similarity.trainIvf(emb, "embedding", nlist = 16)
        }
        val pq = timed(s"round $round: trainPq") {
          graft.operators.Similarity.trainPq(emb, "embedding", m = 8, ksub = 16)
        }
        val root = java.nio.file.Files.createTempDirectory(s"probe-q167-$round").toString
        timed(s"round $round: store write") {
          graft.operators.VectorStore.write(emb, "vec_id", "embedding",
            s"$root/epoch0", s"p167_${round}_e0", ivf, pq, numBuckets = 8)
        }
        val inc = emb.where(col("vec_id") % 10 === 0)
          .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
          .localCheckpoint(true)
        timed(s"round $round: ingestDedup") {
          graft.operators.VectorStore.ingestDedup(spark, s"$root/epoch0",
            s"p167_${round}_e0", inc, "vec_id", "embedding",
            s"$root/epoch1", s"p167_${round}_e1", threshold = 0.8,
            searchK = 4, nprobe = 8, refine = 8)
        }
      }
      spark.stop()
      return
    }

    if (names.contains("q176_stages")) {
      // stage breakdown of the q176 gate shape — where a dim-2048
      // frozen-IDF text→store→hits gate spends its time at sf0.1
      val bp = (0 until 100).map(k => s"common$k").mkString(" ")
      val texts = graft.sources.Tables.load(spark, sfDir, "documents")
        .where(col("doc_id") % 2 === 0)
        .select(col("doc_id"),
          concat(lit(bp), lit(" "),
            concat_ws(" ", transform(sequence(lit(0), lit(11)),
              k => concat(lit("a"), col("doc_id").cast("string"), lit("x"),
                k.cast("string"))))).as("text"))
      (1 to 2).foreach { round =>
        val model = timed(s"round $round: fitHashIdf") {
          graft.operators.TextAnalysis.fitHashIdf(texts, "text", dim = 2048, ngrams = 2)
        }
        val emb = timed(s"round $round: applyHashIdf + checkpoint") {
          graft.operators.TextAnalysis.applyHashIdf(texts, "text", model)
            .select(col("doc_id").as("vec_id"), col("embedding"))
            .localCheckpoint(true)
        }
        val ivf = timed(s"round $round: trainIvf") {
          graft.operators.Similarity.trainIvf(emb, "embedding", nlist = 16)
        }
        val pq = timed(s"round $round: trainPq") {
          graft.operators.Similarity.trainPq(emb, "embedding", m = 8, ksub = 16)
        }
        val root = java.nio.file.Files.createTempDirectory(s"probe-q176-$round").toString
        val store = timed(s"round $round: store write + read") {
          graft.operators.VectorStore.write(emb, "vec_id", "embedding",
            root, s"p176_${round}", ivf, pq, numBuckets = 8)
          graft.operators.VectorStore.read(spark, root, s"p176_${round}")
        }
        val incoming = timed(s"round $round: incoming embed") {
          graft.operators.TextAnalysis
            .applyHashIdf(texts.where(col("doc_id") % 10 === 0)
              .select((col("doc_id") + lit(1000000L)).as("doc_id"),
                concat(col("text"), lit(" zz")).as("text")), "text", model)
            .select(col("doc_id").as("vec_id"), col("embedding"))
            .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-06-01 10:00:00")))
            .localCheckpoint(true)
        }
        timed(s"round $round: corpusSemanticHits") {
          graft.streaming.StreamingVectorStore
            .corpusSemanticHits(incoming, "vec_id", "ts", "embedding", store,
              threshold = 0.8, nprobe = 8)
            .toDF().count()
        }
      }
      spark.stop()
      return
    }

    if (names.contains("para_scale")) {
      // the optional webIngest paragraph stage at 1x and 10x docs —
      // the claim is "one line-dedup-sized pass, nothing superlinear"
      val docs0 = graft.sources.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), concat_ws("\n\n",
          coalesce(col("text"), lit("")),
          lit("all rights reserved - generated boilerplate paragraph"),
          coalesce(col("text"), lit(""))).as("text"))
      def run(mult: Int): Unit = {
        val docs =
          if (mult == 1) docs0.localCheckpoint(true)
          else (0 until mult)
            .map(i => docs0.select((col("doc_id") + lit(i * 100000000L)).as("doc_id"),
              col("text")))
            .reduce(_ unionByName _).localCheckpoint(true)
        println("[probe] docs=" + docs.count())
        (1 to 2).foreach { round =>
          timed(s"round $round: paragraphDedup at ${mult}x") {
            println("[probe] rows=" + graft.operators.Dedup
              .paragraphDedup(docs, "doc_id", "text").count())
          }
        }
      }
      run(1); run(10)
      spark.stop()
      return
    }

    if (names.contains("deflater")) {
      // per-row Deflater (alloc + end per doc, the shipped kernel) vs
      // a thread-reused Deflater with reset() — the documented lever;
      // 10x docs so the pass is long enough to resolve a few percent
      val docs0 = graft.sources.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val docs = (0 until 10)
        .map(i => docs0.select((col("doc_id") + lit(i * 100000000L)).as("doc_id"), col("text")))
        .reduce(_ unionByName _)
        .localCheckpoint(true)
      println("[probe] docs=" + docs.count())
      (1 to 2).foreach { round =>
        timed(s"round $round: per-row Deflater deflate-only pass") {
          val u = udf { (t: String) =>
            graft.operators.QualityFilters.compressibilityKernel(t, 6).deflate_len }
          println("[probe] sum=" +
            docs.select(sum(u(col("text"))).as("s")).head().getLong(0))
        }
        timed(s"round $round: thread-reused Deflater deflate-only pass") {
          val u = udf { (t: String) => Probe.reusedDeflateLen(t) }
          println("[probe] sum=" +
            docs.select(sum(u(col("text"))).as("s")).head().getLong(0))
        }
        timed(s"round $round: fused withTextSignals (level 6, per-row Deflater)") {
          println("[probe] rows=" + graft.operators.TextAnalysis
            .withTextSignals(docs, "text", deflateLevel = 6)
            .select(col("doc_id"), col("deflate_len")).count())
        }
      }
      spark.stop()
      return
    }

    if (names.contains("mh_stages")) {
      val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      val numHashes = 128; val bands = 32; val shingleSize = 3
      val r = numHashes / bands
      val prep = udf { (text: String) =>
        val bases = graft.operators.Dedup.wordShingles(text, shingleSize)
          .map(graft.operators.Dedup.fnv64)
        val sig = Array.fill(numHashes)(Long.MaxValue)
        bases.foreach { base =>
          var i = 0
          while (i < numHashes) {
            val h = graft.operators.Dedup.mix64(base ^ (0x9e3779b97f4a7c15L * (i + 1)))
            if (h < sig(i)) sig(i) = h
            i += 1
          }
        }
        (sig, bases.map(graft.operators.Dedup.mix64).distinct.sorted)
      }
      val sets = docs
        .select(col("doc_id").as("id"), prep(col("text")).as("p"))
        .select(col("id"), col("p._1").as("sig"), col("p._2").as("grams"))
        .where(size(col("grams")) > 0)
        .persist()
      timed("prep+persist")(sets.count())
      val banded = sets.select(
        col("id"),
        explode(expr(s"transform(sequence(0, ${bands - 1}), b -> " +
          s"concat_ws(':', b, hash(slice(sig, b * $r + 1, $r))))")).as("bucket"))
      timed("banded count")(println("[probe] banded=" + banded.count()))
      val counts = banded.groupBy("bucket").agg(count(lit(1)).as("n"))
      val keptB = counts.where(col("n").between(2, 1000)).select("bucket")
      val kept = banded.join(keptB, "bucket")
      val raw = kept.select(col("bucket"), col("id").as("id_a"))
        .join(kept.select(col("bucket"), col("id").as("id_b")), "bucket")
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      timed("raw pairs")(println("[probe] raw=" + raw.count()))
      val pairs = raw.distinct()
      timed("distinct pairs")(println("[probe] distinct=" + pairs.count()))
      val ga = sets.select(col("id").as("id_a"), col("grams").as("grams_a"), size(col("grams")).as("sz_a"))
      val gb = sets.select(col("id").as("id_b"), col("grams").as("grams_b"), size(col("grams")).as("sz_b"))
      val out = pairs.join(ga, "id_a").join(gb, "id_b")
        .withColumn("inter", size(array_intersect(col("grams_a"), col("grams_b"))))
        .withColumn("jaccard", col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
        .where(col("jaccard") >= 0.7)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      timed("verify")(println("[probe] verified=" + out.count()))
      spark.stop()
      return
    }

    if (names.contains("pq_stages")) {
      import graft.operators.Similarity
      val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val copies = emb
        .where(col("vec_id") % 10 === 0)
        .select(
          (col("vec_id") + lit(1000000L)).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, (x + lit(0.01f)).cast("float")).otherwise(x)).as("embedding"))
      val corpus = emb.unionByName(copies).persist()
      val queries = copies.persist()
      println(s"[probe] corpus=${corpus.count()} queries=${queries.count()}")
      val model = timed("trainPq")(Similarity.trainPq(corpus, "embedding", m = 8, ksub = 16))
      timed("pqTopK full")(println("[probe] hits=" +
        Similarity.pqTopK(corpus, queries, "vec_id", "embedding", k = 5, model, refine = 4)
          .count()))
      timed("pqTopK again")(println("[probe] hits=" +
        Similarity.pqTopK(corpus, queries, "vec_id", "embedding", k = 5, model, refine = 4)
          .count()))
      spark.stop()
      return
    }

    if (names.contains("q35_stages")) {
      val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      val filtered = graft.operators.TextAnalysis
        .qualityScore(docs, "text")
        .where(col("lang").isInCollection(Seq("en", "de", "fr", "es", "it")) &&
          col("quality_score") >= 0.2)
        .select(docs.columns.map(col): _*)
      val redacted = graft.operators.TextAnalysis
        .redactPii(filtered, "text")
        .withColumn("text", col("redacted"))
        .drop("redacted", "pii_found")
      timed("filter+redact scan")(println("[probe] redacted=" + redacted.count()))
      val clean0 = timed("cleanCorpus transitive=false") {
        graft.operators.Dedup.cleanCorpus(redacted, "doc_id", "text", 0.7, transitive = false)
      }
      println("[probe] survivors=" + clean0.count()); clean0.unpersist()
      val clean1 = timed("cleanCorpus transitive=true") {
        graft.operators.Dedup.cleanCorpus(redacted, "doc_id", "text", 0.7, transitive = true)
      }
      val chunked = timed("chunkTokens") {
        val c = graft.operators.TextAnalysis.chunkTokens(clean1, "doc_id", "text", 128, 128)
        println("[probe] chunks=" + c.count()); c
      }
      spark.stop()
      return
    }

    if (names.contains("seq_stages")) {
      val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      val chunks = timed("prepare (q35 stage)") {
        val c = graft.operators.CorpusPipeline
          .prepare(docs, "doc_id", "text", window = 64, stride = 64)
          .withColumn("chunk_id", concat(col("doc_id").cast("string"), lit("#"), col("chunk_idx")))
          .persist()
        c.count()
        c
      }
      val shuffled = timed("deterministicShuffle") {
        graft.operators.Packing.deterministicShuffle(chunks, "chunk_id", "r4")
      }
      val packed = timed("sequencePackingByCount") {
        graft.operators.Packing.sequencePackingByCount(
          shuffled.withColumnRenamed("pos", "__pos").select(col("chunk_id"), col("__pos")).join(
            chunks.select(col("chunk_id"), col("n_chunk_tokens")), "chunk_id"),
          "__pos", "n_chunk_tokens", 64)
      }
      timed("final joins") {
        val out = chunks
          .join(shuffled.select(col("chunk_id"), col("pos")), "chunk_id")
          .join(
            packed.select(
              col("__pos").as("pos"), col("start_offset"), col("pack_first"), col("pack_last")),
            "pos")
        println("[probe] rows=" + out.count())
      }
      spark.stop()
      return
    }

    if (names.contains("q64_stages")) {
      val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      val grams = docs.select(
        col("doc_id"),
        explode(graft.operators.TextAnalysis.distinctWordNgrams(col("text"), 3)).as("gram"))
      timed("explode grams")(println("[probe] grams=" + grams.count()))
      val gp = grams.persist()
      timed("grams persist")(gp.count())
      val gramDf = gp.groupBy("gram").agg(count(lit(1)).as("gram_df"))
      timed("gram df agg")(println("[probe] distinct grams=" + gramDf.count()))
      val out = gp.join(gramDf, "gram").groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("gram_df") >= 2, 1L).otherwise(0L)).as("n_common"),
          max(col("gram_df")).as("max_gram_df"))
      timed("join-back + doc agg")(println("[probe] out=" + out.count()))
      gp.unpersist()
      timed("full operator (unpersisted grams)")(println("[probe] rows=" +
        graft.operators.TextAnalysis.commonNgramStats(docs, "doc_id", "text").count()))
      spark.stop()
      return
    }

    if (names.contains("q120_stages")) {
      val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      timed("exact commonNgramStats")(println("[probe] exact rows=" +
        graft.operators.TextAnalysis.commonNgramStats(docs, "doc_id", "text").count()))
      timed("approx commonNgramStatsApprox")(println("[probe] approx rows=" +
        graft.operators.TextAnalysis.commonNgramStatsApprox(docs, "doc_id", "text").count()))
      val grams = docs.select(
        col("doc_id"),
        explode(graft.operators.TextAnalysis.distinctWordNgrams(col("text"), 3)).as("gram"))
      timed("cms build alone")(
        graft.operators.Sketches.countMinSketch(grams, "gram", 4, 1 << 18, 42L))
      val exact = graft.operators.TextAnalysis
        .commonNgramStats(docs, "doc_id", "text", n = 3, minDf = 2L)
      val approx = timed("approx construct (eager CMS)")(
        graft.operators.TextAnalysis
          .commonNgramStatsApprox(docs, "doc_id", "text", n = 3, minDf = 2L)
          .select(col("doc_id"), col("n_grams").as("n_grams_approx"),
            col("n_common_est"), col("max_gram_df_est")))
      val joined = exact.join(approx, "doc_id")
        .select(col("doc_id"),
          (col("n_grams_approx") === col("n_grams")).as("grams_match"))
        .orderBy("doc_id")
      timed("gate join evaluate")(println("[probe] joined=" + joined.count()))
      spark.stop()
      return
    }

    if (names.contains("warc_split")) {
      // q130's sweep factor, attributed: the gate = serial driver-side
      // fixture BUILD (one gzip member per doc) + the actual Warc.read.
      // Timing them apart shows which side scales with doc count.
      val out = timed("q130 fixture BUILD (driver gzip loop)") {
        graft.SparkEntry.q130BuildFixture(spark, sfDir)
      }
      timed("q130 Warc.read + project") {
        val n = graft.sources.Warc.read(spark, out + "/*")
          .where(col("warc_type") === "response")
          .select(col("url"), col("body"), col("content_type"), col("http_status"))
          .count()
        println("[probe] warc records=" + n)
      }
      spark.stop()
      return
    }

    if (names.contains("ivfhamming")) {
      // Verdict-r12 #3: the kernel port vs the retired broadcast-join
      // formulation, at 1x and 10x docs — the join replica lives HERE
      // (probe-only) so the library keeps a single measured-fastest
      // face. Same pair population, same shortlist; timings compare.
      import graft.operators.{Quantize, Similarity}
      val base = graft.sources.Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val maxId = base.agg(max("vec_id")).head().getLong(0) + 1
      def corpusAt(mult: Int) =
        (0 until mult).map(i => base.select(
          (col("vec_id") + lit(i * maxId)).as("vec_id"), col("embedding")))
          .reduce(_ unionByName _)
          .localCheckpoint(true)
      val queries = base.orderBy("vec_id").limit(1000).localCheckpoint(true)
      // the retired formulation END-TO-END: broadcast-join candidate
      // generation + the same exact-cosine re-rank tail, so the two
      // timings cover identical work
      def joinFace(corpus: org.apache.spark.sql.DataFrame,
                   model: Similarity.IvfModel, k: Int, nprobe: Int, refine: Int) = {
        val bcM = spark.sparkContext.broadcast(model)
        val assignU = udf((v: Array[Float]) => bcM.value.nearestCentroid(v))
        val probeU = udf((v: Array[Float]) => bcM.value.nearestCentroids(v, nprobe))
        val c = corpus.select(col("vec_id").as("neighbor_id"),
          Quantize.signPack(col("embedding")).as("ccode"), assignU(col("embedding")).as("cell"))
        val q = queries.select(col("vec_id").as("query_id"),
          Quantize.signPack(col("embedding")).as("qcode"),
          explode(probeU(col("embedding"))).as("cell"))
        // the retired face verbatim: join-generated candidates into
        // the shared topKReduce heap, then the same exact re-rank
        val shortlist = Similarity.topKReduce(
          c.join(broadcast(q), "cell")
            .where(col("neighbor_id") =!= col("query_id"))
            .select(col("query_id"), col("neighbor_id"),
              (-Quantize.hammingDist(col("ccode"), col("qcode"))).cast("double").as("cosine")),
          k * refine).select("query_id", "neighbor_id")
        Similarity.topKReduce(
          shortlist
            .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cvec")),
              "neighbor_id")
            .join(broadcast(queries.select(col("vec_id").as("query_id"),
              col("embedding").as("qvec"))), "query_id")
            .select(col("query_id"), col("neighbor_id"),
              graft.functions.VectorExpressions.vecCosine(col("cvec"), col("qvec")).as("cosine")),
          k)
      }
      def runBoth(mult: Int, label: String): Unit = {
        val corpus = corpusAt(mult)
        println(s"[probe] === $label ${mult}x: corpus=" + corpus.count())
        val model = Similarity.trainIvf(corpus, "embedding", nlist = 16)
        timed(s"$label ${mult}x kernel ivfHammingTopK") {
          println("[probe] kernel rows=" + Similarity
            .ivfHammingTopK(corpus, queries, "vec_id", "embedding", k = 5, model,
              nprobe = 4, refine = 8).count())
        }
        timed(s"$label ${mult}x join-formulation e2e") {
          println("[probe] join rows=" + joinFace(corpus, model, 5, 4, 8).count())
        }
      }
      runBoth(1, "warmup") // JIT + codegen warm both paths off-clock
      Seq(1, 10, 50).foreach(m => runBoth(m, "measured"))
      spark.stop()
      return
    }

    if (names.contains("signals_fused")) {
      // withTextSignals vs the four chained faces — the pass-fusion
      // win (one tokenize, one UDF boundary) measured on real text
      import graft.operators.{QualityFilters, TextAnalysis}
      val docs = graft.sources.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      println("[probe] docs=" + docs.count())
      def chained() = QualityFilters.withCompressibility(
        QualityFilters.withLineSignals(
          TextAnalysis.withUnigramEntropy(
            TextAnalysis.withReadability(docs, "text"), "text"), "text"), "text")
      (1 to 2).foreach { round =>
        val label = if (round == 1) "warmup" else "measured"
        timed(s"$label chained 4-face pass")(println("[probe] rows=" +
          chained().select(col("doc_id"), col("unigram_entropy"), col("raw_len")).count()))
        timed(s"$label fused withTextSignals")(println("[probe] rows=" +
          TextAnalysis.withTextSignals(docs, "text")
            .select(col("doc_id"), col("unigram_entropy"), col("raw_len")).count()))
      }
      spark.stop()
      return
    }

    if (names.contains("q122_stages")) {
      import spark.implicits._
      val pages = graft.SparkEntry.q122PlantedPages(spark, sfDir)
      val blocklist = Seq("blocked.example.com").toDF("domain")
      // webIngest's internals, stage-by-stage with a localCheckpoint
      // boundary after each so the timings do not overlap
      val quality = timed("1. cleanedCrawlPrefix (extract+url+blocklist+lang+gopher)") {
        val q = graft.operators.CorpusPipeline
          .cleanedCrawlPrefix(pages, "doc_id", None, "html", "url",
            langs = Seq("en"), blocklist = Some(blocklist),
            canonicalizeNfc = false, c4 = false, soft404 = false,
            redactPii = false, mainContent = false, stripTracking = false)
          .localCheckpoint(true)
        println("[probe] quality rows=" + q.count()); q
      }
      val attrs = quality.select(col("id"), col("url_norm"), col("url_host"), col("lang_pred"))
      val lined = timed("2. lineDedup + attrs join") {
        val l = graft.operators.Dedup
          .lineDedup(quality, "id", "text", 5)
          .where(length(trim(col("clean_text"))) > 0)
          .select(col("id"), col("clean_text").as("text"))
          .join(attrs, "id")
          .localCheckpoint(true)
        println("[probe] lined rows=" + l.count()); l
      }
      val deduped = timed("3. cleanCorpus (exact + minhash neardup, transitive)") {
        val d = graft.operators.Dedup.cleanCorpus(lined, "id", "text", 0.8, transitive = true)
        println("[probe] deduped rows=" + d.count()); d
      }
      val chunks = timed("4. capPerStratum + chunkTokens") {
        val capped = graft.operators.Sampling.capPerStratum(deduped, "url_host", "id", 80)
        val c = graft.operators.TextAnalysis
          .chunkTokens(capped, "id", "text", window = 64, stride = 64)
          .withColumn("chunk_id", concat(col("id").cast("string"), lit("#"), col("chunk_idx")))
          .localCheckpoint(true)
        println("[probe] chunks rows=" + c.count()); c
      }
      timed("5. shuffleAndPack + final joins") {
        val layout = graft.operators.Packing
          .shuffleAndPack(chunks, "chunk_id", "n_chunk_tokens", 64, "epoch0")
        val out = chunks
          .join(layout.select(col("chunk_id"), col("pos"), col("start_offset"),
            col("pack_first"), col("pack_last")), "chunk_id")
          .join(attrs, "id")
        println("[probe] out rows=" + out.count())
      }
      spark.stop()
      return
    }

    if (names.contains("qvec_carry")) {
      // corpusSemanticHits carries the dim-float query vector through
      // the cell explode (×nprobe) and the coded join up to the
      // Hamming cut; the alternative drops qvec from the probed frame
      // and re-joins it by id AFTER the cut (one extra shuffle + join,
      // but nprobe× less float traffic through the widest stage).
      // Measure both at narrow and wide dim to find the crossover —
      // verdict r17 #4: measure before touching. NOTE the alternative
      // is BATCH-ONLY machinery: in a stream the rejoin is
      // stream-stream (watermark-bound, append-restricted), so even a
      // perf win here would only justify a bounded-frame fast path.
      import graft.operators.{Similarity, VectorStore}
      import graft.functions.VectorExpressions
      val sc = spark.sparkContext
      val threshold = 0.9
      val nprobe = 8
      val cutFrac = math.acos(math.min(1.0, threshold)) / math.Pi + 0.15
      // (dim, nlist): nlist 16 floods the cell join (nprobe/nlist = half
      // the corpus as candidates per query — the worst case for carried
      // bytes); nlist 256 is the realistic-selectivity regime
      for ((dim, nlist) <- Seq((64, 16), (1024, 16), (1024, 256))) {
        val nCorpus = 200000L
        val corpus = spark.range(nCorpus).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(dim - 1)),
            i => ((hash(col("id"), i).cast("double") % 1000.0) / 500.0).cast("float"))
            .as("embedding"))
          .repartition(32)
          .localCheckpoint(true)
        val ivf = Similarity.trainIvf(corpus, "embedding", nlist = nlist)
        val pq = Similarity.trainPq(corpus, "embedding", m = 8, ksub = 16)
        val dir = java.nio.file.Files.createTempDirectory(s"graft-probe-qvec$dim").toString
        VectorStore.write(corpus, "vec_id", "embedding", dir, "probe_qv", ivf, pq)
        val store = VectorStore.read(spark, dir, "probe_qv")
        // incoming = every 4th corpus vector, id-offset so no self-match
        val incoming = corpus.where(col("vec_id") % 4 === 0)
          .select((col("vec_id") + lit(10000000L)).as("id"),
            lit(java.sql.Timestamp.valueOf("2024-06-01 10:00:00")).as("ts"),
            col("embedding"))
          .localCheckpoint(true)
        println(s"[probe] dim=$dim nlist=$nlist corpus=${corpus.count()} incoming=${incoming.count()}")
        val bcIvf = sc.broadcast(store.ivf.centroids)
        val probeUdf = udf { (v: Array[Float]) =>
          Similarity.probeCells(bcIvf.value, v, nprobe)
        }
        def rejoinFace(): Long = {
          // probed WITHOUT qvec/ts: only (id, qcode, bits, cell)
          val probed = incoming.select(
            col("id"),
            VectorExpressions.signPack(col("embedding")).as("qcode"),
            size(col("embedding")).cast("double").as("bits"),
            explode(probeUdf(col("embedding"))).as("cell"))
          val cands = probed
            .join(store.coded.select(col("cell"), col("id").as("corpus_id"), col("hcode")),
              "cell")
            .where(col("corpus_id") =!= col("id"))
            .where(VectorExpressions.hammingDist(col("hcode"), col("qcode"))
              .cast("double") <= col("bits") * lit(cutFrac))
            .select(col("id"), col("corpus_id"))
          cands
            .join(incoming.select(col("id"), col("ts"), col("embedding").as("qvec")), "id")
            .join(store.vecs.select(col("id").as("corpus_id"), col("vec").as("cvec")),
              "corpus_id")
            .where(VectorExpressions.vecCosine(col("cvec"), col("qvec")) >= threshold)
            .count()
        }
        (1 to 2).foreach { round =>
          timed(s"dim=$dim nlist=$nlist carry-through (shipped) round $round") {
            println("[probe] hits=" + graft.streaming.StreamingVectorStore
              .corpusSemanticHits(incoming, "id", "ts", "embedding", store,
                threshold = threshold, nprobe = nprobe).toDF().count())
          }
          timed(s"dim=$dim nlist=$nlist hamming-cut-then-rejoin round $round") {
            println("[probe] hits=" + rejoinFace())
          }
        }
      }
      spark.stop()
      return
    }

    if (names.contains("hashembed_idf")) {
      import graft.operators.TextAnalysis
      // the IDF face's scale claim: the weighting costs one extra scan
      // over the landed raw projection plus a dim+1-long treeAggregate
      // whose state is corpus-size-independent — so hashEmbedIdf stays
      // a constant factor over hashEmbed at ANY corpus size. Measure
      // both at 1x and 10x real document text.
      val docs0 = graft.sources.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      Seq(10, 100).foreach { mult =>
        val docs = (0 until mult)
          .map(i => docs0.select(
            (col("doc_id") + lit(i * 100000000L)).as("doc_id"), col("text")))
          .reduce(_ unionByName _)
          .repartition(32)
          .localCheckpoint(true)
        val label = s"${mult}x (${docs.count()} docs)"
        (1 to 2).foreach { round =>
          timed(s"$label hashEmbed round $round") {
            println("[probe] rows=" + TextAnalysis
              .hashEmbed(docs, "text", dim = 256, ngrams = 2)
              .where(col("embedding").isNotNull).count())
          }
          timed(s"$label hashEmbedIdf round $round") {
            println("[probe] rows=" + TextAnalysis
              .hashEmbedIdf(docs, "text", dim = 256, ngrams = 2)
              .where(col("embedding").isNotNull).count())
          }
        }
      }
      spark.stop()
      return
    }

    if (names.contains("funnel_stages")) {
      // VERDICT r21 item 1: per-stage seconds for the web-ingest funnel
      // family's heavy gates (q104/q123/q156), each over ITS exact
      // planted corpus and option set, with a localCheckpoint boundary
      // after each stage so timings do not overlap
      import graft.operators.{CorpusPipeline, Dedup, Sampling, TextAnalysis, Packing}
      def chain(label: String, pages: org.apache.spark.sql.DataFrame,
                langs: Seq[String], maxPerHost: Int, seqLen: Int,
                minLineChars: Int, soft404: Boolean, redactPii: Boolean,
                paragraphBreaks: Boolean, paragraphDedup: Boolean): Unit = {
        println(s"[probe] === $label ===")
        val quality = timed(s"$label 1. cleanedCrawlPrefix + checkpoint") {
          val q = CorpusPipeline
            .cleanedCrawlPrefix(pages, "doc_id", None, "html", "url",
              langs = langs, blocklist = None, canonicalizeNfc = false,
              c4 = false, soft404 = soft404, redactPii = redactPii,
              mainContent = false, stripTracking = false,
              paragraphBreaks = paragraphBreaks)
            .localCheckpoint(true)
          println("[probe] quality rows=" + q.count()); q
        }
        val attrs = quality.select(col("id"), col("url_norm"), col("url_host"), col("lang_pred"))
        val lined0 =
          if (minLineChars < 0) quality
          else timed(s"$label 2. lineDedup + attrs join + checkpoint") {
            val l = Dedup
              .lineDedup(quality, "id", "text", minLineChars)
              .where(length(trim(col("clean_text"))) > 0)
              .select(col("id"), col("clean_text").as("text"))
              .join(attrs, "id")
              .localCheckpoint(true)
            println("[probe] lined rows=" + l.count()); l
          }
        val lined =
          if (!paragraphDedup) lined0
          else timed(s"$label 2b. paragraphDedup + attrs join + checkpoint") {
            val l = Dedup
              .paragraphDedup(lined0, "id", "text", 5)
              .where(length(trim(col("clean_text"))) > 0)
              .select(col("id"), col("clean_text").as("text"))
              .join(attrs, "id")
              .localCheckpoint(true)
            println("[probe] para rows=" + l.count()); l
          }
        val deduped = timed(s"$label 3. cleanCorpus (exact+minhash, transitive)") {
          val d = Dedup.cleanCorpus(lined, "id", "text", 0.8, transitive = true)
          println("[probe] deduped rows=" + d.count()); d
        }
        val chunks = timed(s"$label 4. capPerStratum + chunkTokens + checkpoint") {
          val capped = Sampling.capPerStratum(deduped, "url_host", "id", maxPerHost)
          val c = TextAnalysis
            .chunkTokens(capped, "id", "text", window = seqLen, stride = seqLen)
            .withColumn("chunk_id", concat(col("id").cast("string"), lit("#"), col("chunk_idx")))
            .localCheckpoint(true)
          println("[probe] chunks rows=" + c.count()); c
        }
        timed(s"$label 5. shuffleAndPack + final joins") {
          val layout = Packing
            .shuffleAndPack(chunks, "chunk_id", "n_chunk_tokens", seqLen, "epoch0")
          val out = chunks
            .join(layout.select(col("chunk_id"), col("pos"), col("start_offset"),
              col("pack_first"), col("pack_last")), "chunk_id")
            .join(attrs, "id")
          println("[probe] out rows=" + out.count())
        }
      }
      chain("q104", graft.SparkEntry.q104PlantedPages(spark, sfDir),
        langs = Seq.empty, maxPerHost = 40, seqLen = 128, minLineChars = 5,
        soft404 = false, redactPii = false, paragraphBreaks = false,
        paragraphDedup = false)
      chain("q123", graft.SparkEntry.q123PlantedPages(spark, sfDir),
        langs = Seq("en"), maxPerHost = 100000, seqLen = 128, minLineChars = 5,
        soft404 = true, redactPii = true, paragraphBreaks = false,
        paragraphDedup = false)
      chain("q156", graft.SparkEntry.q156PlantedPages(spark, sfDir),
        langs = Seq("en"), maxPerHost = 100000, seqLen = 128, minLineChars = -1,
        soft404 = false, redactPii = false, paragraphBreaks = true,
        paragraphDedup = true)
      spark.stop()
      return
    }

    if (names.contains("funnel_stages_r22")) {
      // the SHIPPED r22 chain's per-stage seconds, stage-for-stage
      // comparable with `funnel_stages` (which deliberately keeps the
      // pre-r22 spelling: lineDedup + attrs join, bare chunkTokens +
      // trailing attrs join, ordered shuffleAndPack): attrs carried
      // through dedup/chunk, unordered internal pack layout
      import graft.operators.{CorpusPipeline, Dedup, Sampling, TextAnalysis, Packing}
      val attrCols = Seq("url_norm", "url_host", "lang_pred")
      def chain(label: String, pages: org.apache.spark.sql.DataFrame,
                langs: Seq[String], maxPerHost: Int, seqLen: Int,
                minLineChars: Int, soft404: Boolean, redactPii: Boolean,
                paragraphBreaks: Boolean, paragraphDedup: Boolean): Unit = {
        println(s"[probe] === $label (r22 chain) ===")
        val quality = timed(s"$label 1. cleanedCrawlPrefix + checkpoint") {
          val q = CorpusPipeline
            .cleanedCrawlPrefix(pages, "doc_id", None, "html", "url",
              langs = langs, blocklist = None, canonicalizeNfc = false,
              c4 = false, soft404 = soft404, redactPii = redactPii,
              mainContent = false, stripTracking = false,
              paragraphBreaks = paragraphBreaks)
            .localCheckpoint(true)
          println("[probe] quality rows=" + q.count()); q
        }
        val lined0 =
          if (minLineChars < 0) quality
          else timed(s"$label 2. lineDedupCarry + checkpoint") {
            val l = Dedup
              .lineDedupCarry(quality, "id", "text", minLineChars, attrCols)
              .where(length(trim(col("clean_text"))) > 0)
              .select(col("id") +: col("clean_text").as("text") +: attrCols.map(col): _*)
              .localCheckpoint(true)
            println("[probe] lined rows=" + l.count()); l
          }
        val lined =
          if (!paragraphDedup) lined0
          else timed(s"$label 2b. paragraphDedupCarry + checkpoint") {
            val l = Dedup
              .paragraphDedupCarry(lined0, "id", "text", 5, attrCols)
              .where(length(trim(col("clean_text"))) > 0)
              .select(col("id") +: col("clean_text").as("text") +: attrCols.map(col): _*)
              .localCheckpoint(true)
            println("[probe] para rows=" + l.count()); l
          }
        val deduped = timed(s"$label 3. cleanCorpus (exact+minhash, transitive)") {
          val d = Dedup.cleanCorpus(lined, "id", "text", 0.8, transitive = true)
          println("[probe] deduped rows=" + d.count()); d
        }
        timed(s"$label 4+5. capPerStratum + webIngestFromCapped tail (carried attrs, unordered pack)") {
          val capped = Sampling.capPerStratum(deduped, "url_host", "id", maxPerHost)
          val out = CorpusPipeline.webIngestFromCapped(capped, seqLen, "epoch0")
          println("[probe] out rows=" + out.count())
        }
      }
      chain("q104", graft.SparkEntry.q104PlantedPages(spark, sfDir),
        langs = Seq.empty, maxPerHost = 40, seqLen = 128, minLineChars = 5,
        soft404 = false, redactPii = false, paragraphBreaks = false,
        paragraphDedup = false)
      chain("q123", graft.SparkEntry.q123PlantedPages(spark, sfDir),
        langs = Seq("en"), maxPerHost = 100000, seqLen = 128, minLineChars = 5,
        soft404 = true, redactPii = true, paragraphBreaks = false,
        paragraphDedup = false)
      chain("q156", graft.SparkEntry.q156PlantedPages(spark, sfDir),
        langs = Seq("en"), maxPerHost = 100000, seqLen = 128, minLineChars = -1,
        soft404 = false, redactPii = false, paragraphBreaks = true,
        paragraphDedup = true)
      spark.stop()
      return
    }

    if (names.contains("cc_stages")) {
      // cleanCorpus's per-action cost at gate scale: which of the ~4
      // jobs owns the ~3.5 s every funnel gate pays. Replicates the
      // operator's exact steps with a timing seam per action.
      import graft.operators.Dedup
      import org.apache.spark.sql.expressions.Window
      val pages = graft.SparkEntry.q123PlantedPages(spark, sfDir)
      val quality = graft.operators.CorpusPipeline
        .cleanedCrawlPrefix(pages, "doc_id", None, "html", "url",
          langs = Seq("en"), blocklist = None, canonicalizeNfc = false,
          c4 = false, soft404 = true, redactPii = true,
          mainContent = false, stripTracking = false)
        .localCheckpoint(true)
      val attrs = quality.select(col("id"), col("url_norm"), col("url_host"), col("lang_pred"))
      val lined = Dedup
        .lineDedup(quality, "id", "text", 5)
        .where(length(trim(col("clean_text"))) > 0)
        .select(col("id"), col("clean_text").as("text"))
        .join(attrs, "id")
        .localCheckpoint(true)
      println("[probe] lined=" + lined.count())
      val parts = sys.env.get("PROBE_SHUFFLE_PARTS")
      parts.foreach { p =>
        spark.conf.set("spark.sql.shuffle.partitions", p)
        println(s"[probe] shuffle.partitions=$p")
      }
      (1 to 3).foreach { round =>
        val grp = Window.partitionBy(col("__content_hash"))
        val withSig = lined
          .withColumn("__content_hash", md5(col("text")))
          .withColumn("__canonical_id", min(col("id")).over(grp))
          .where(col("id") === col("__canonical_id"))
          .select(lined.columns.map(col) :+
            graft.operators.Dedup.minHashPrep(col("text"), 128, 3).as("__p"): _*)
          .persist()
        timed(s"round $round A0. withSig materialize (md5 window + minHashPrep + persist)") {
          println("[probe] withSig=" + withSig.count())
        }
        val sets = withSig
          .select(col("id"), col("__p.sig").as("sig"), col("__p.grams").as("grams"))
          .where(size(col("grams")) > 0)
        timed(s"round $round A1. banded window count") {
          println("[probe] kept-banded=" + {
            val wb = org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))
            sets.select(col("id"), explode(Dedup.bandKeysCol(128, 32)).as("bucket"))
              .withColumn("__n", count(lit(1)).over(wb))
              .where(col("__n").between(2L, 1000L)).count()
          })
        }
        val (pairs0, handle) = Dedup.bucketedCandidatePairs(
          sets.select(col("id"), explode(Dedup.bandKeysCol(128, 32)).as("bucket")), 1000)
        val ga = sets.select(col("id").as("id_a"), col("grams").as("grams_a"), size(col("grams")).as("sz_a"))
        val gb = sets.select(col("id").as("id_b"), col("grams").as("grams_b"), size(col("grams")).as("sz_b"))
        val verified = pairs0
          .join(ga, "id_a").join(gb, "id_b")
          .withColumn("inter", graft.functions.VectorExpressions
            .sortedIntersectCount(col("grams_a"), col("grams_b")))
          .withColumn("jaccard", col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
          .where(col("jaccard") >= 0.8)
          .select(col("id_a"), col("id_b"), col("jaccard"))
        if (round == 1)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get("/tmp/probe_pairs_plan.txt"),
            verified.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        val pairs = timed(s"round $round A. pairs compute + checkpoint (sig+band+join+verify)") {
          val p = verified.localCheckpoint(true)
          handle.unpersist(blocking = false)
          p
        }
        val n = timed(s"round $round B. pairs.count()")(pairs.count())
        println("[probe] pairs=" + n)
        val cc = timed(s"round $round C. connectedComponents (collect + UF + createDF)") {
          Dedup.connectedComponents(pairs)
        }
        val losers = cc.where(col("id") =!= col("component")).select(col("id").as("loser"))
        timed(s"round $round D. anti-join + survivor checkpoint") {
          val out = withSig
            .join(losers, withSig("id") === losers("loser"), "left_anti")
            .select(lined.columns.map(col): _*)
            .localCheckpoint(true)
          println("[probe] survivors=" + out.count())
        }
        withSig.unpersist(blocking = false)
      }
      spark.stop()
      return
    }

    if (names.contains("model_io")) {
      // per-call cost of the KB-sized model/meta artifacts moved
      // through full Spark parquet jobs (saveIvf/savePq/meta + loads)
      import graft.operators.{IndexStore, Similarity}
      val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val ivf = Similarity.trainIvf(emb, "embedding", nlist = 16)
      val pq = Similarity.trainPq(emb, "embedding", m = 8, ksub = 16)
      (1 to 3).foreach { round =>
        val dir = java.nio.file.Files.createTempDirectory(s"probe-mio-$round").toString
        timed(s"round $round saveIvf")(IndexStore.saveIvf(spark, ivf, dir))
        timed(s"round $round savePq")(IndexStore.savePq(spark, pq, dir))
        timed(s"round $round loadIvf")(IndexStore.loadIvf(spark, dir))
        timed(s"round $round loadPq")(IndexStore.loadPq(spark, dir))
        timed(s"round $round meta write") {
          import spark.implicits._
          Seq(8).toDF("num_buckets").coalesce(1).write
            .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/meta")
        }
        timed(s"round $round meta read") {
          println("[probe] nb=" + spark.read.parquet(s"$dir/meta").head().getInt(0))
        }
      }
      spark.stop()
      return
    }

    if (names.contains("q144_stages")) {
      // the signature-store lifecycle's per-leg cost: epoch0 write,
      // incremental near-dup, sink, compaction (mergeSignatures), and
      // the second incremental pass — which leg owns q144's seconds
      import graft.operators.Dedup
      val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      val r = col("doc_id") % 10
      def content(d: org.apache.spark.sql.Column) = concat_ws(" ",
        transform(sequence(lit(0), lit(26)),
          k => concat(lit("the item"), d.cast("string"), lit("x"), k.cast("string"))))
      (1 to 2).foreach { round =>
        val corpus = docs.where(r === 3).select(col("doc_id"), content(col("doc_id")).as("text"))
        val root = java.nio.file.Files.createTempDirectory(s"probe-q144-$round").toString
        val incDir = java.nio.file.Files.createTempDirectory(s"probe-q144-inc-$round").toString
        val sigs = timed(s"round $round 1. minHashSignatures plan (lazy)") {
          Dedup.minHashSignatures(corpus, "doc_id", "text")
        }
        timed(s"round $round 2. writeSignatures epoch0") {
          Dedup.writeSignatures(sigs, s"$root/epoch0", s"p144_${round}_e0", numBuckets = 8)
        }
        val e0 = Dedup.readSignatures(spark, s"$root/epoch0", s"p144_${round}_e0")
        val inc1 = docs.where(r === 6 || r === 7).select(
          col("doc_id"),
          when(r === 6, concat(content(col("doc_id") - 3), lit(" graftinc")))
            .otherwise(content(col("doc_id"))).as("text"))
        val kept1 = timed(s"round $round 3. nearDupNewDocs + checkpoint") {
          val kk = Dedup.nearDupNewDocs(inc1, "doc_id", "text", e0, threshold = 0.8)
            .select(col("doc_id"), col("text")).localCheckpoint(true)
          println("[probe] kept1=" + kk.count()); kk
        }
        timed(s"round $round 4. signatureIncrementSink") {
          graft.streaming.StreamingDedup
            .signatureIncrementSink(incDir, "doc_id", "text")(kept1, 0L)
        }
        val e1 = timed(s"round $round 5. compactSignatureStore (mergeSignatures)") {
          graft.streaming.StreamingDedup
            .compactSignatureStore(spark, root, s"p144_$round", srcEpoch = 0,
              incDir = incDir, keepEpochs = 1)
        }
        timed(s"round $round 6. nearDupNewDocs vs e1") {
          val inc2 = docs.where(r === 8 || r === 9).select(
            col("doc_id"),
            when(r === 8, concat(content(col("doc_id") - 1), lit(" graftinc2")))
              .otherwise(content(col("doc_id"))).as("text"))
          println("[probe] kept2=" + Dedup
            .nearDupNewDocs(inc2, "doc_id", "text", e1, threshold = 0.8).count())
        }
      }
      spark.stop()
      return
    }

    if (names.contains("e2e_split")) {
      // q131/q160: driver-side archive fixture build vs archive read vs
      // the ingest/prepare chain — which side owns the gate's seconds
      import spark.implicits._
      val ids = timed("q131 ids collect") {
        graft.sources.Tables.load(spark, sfDir, "documents").select(col("doc_id"))
          .collect().map(_.getLong(0)).sorted
      }
      val warcDir = java.nio.file.Files.createTempDirectory("probe_warc_e2e")
      timed("q131 WARC fixture build (8 shards, driver gzip loop)") {
        (0L until 8L).foreach { shard =>
          val recs = ids.toSeq.filter(_ % 8 == shard).map(id =>
            (graft.SparkEntry.q122UrlScala(id), "2024-06-01T10:00:00Z",
              graft.SparkEntry.q122HtmlScala(id)))
          java.nio.file.Files.write(warcDir.resolve(s"shard$shard.warc.gz"),
            graft.sources.Warc.buildWarc(recs, gzipPerRecord = true))
        }
      }
      val pages = timed("q131 Warc.read + project + checkpoint") {
        val p = graft.sources.Warc.read(spark, warcDir.toString + "/*")
          .where(col("warc_type") === "response")
          .select(
            regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long").as("doc_id"),
            col("body").as("html"), col("url"))
          .localCheckpoint(true)
        println("[probe] pages=" + p.count()); p
      }
      timed("q131 webIngest chain over WARC pages") {
        val blocklist = Seq("blocked.example.com").toDF("domain")
        val n = graft.operators.CorpusPipeline
          .webIngest(pages, "doc_id", "html", "url",
            langs = Seq("en"), maxPerHost = 80, seqLen = 64, blocklist = Some(blocklist))
          .count()
        println("[probe] q131 out rows=" + n)
      }
      val texts = timed("q160 q142PlantedTexts collect") {
        graft.SparkEntry.q142PlantedTexts(spark, sfDir).collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) "" else r.getString(1)))
          .sortBy(_._1)
      }
      val wetDir = java.nio.file.Files.createTempDirectory("probe_wet_e2e")
      timed("q160 WET fixture build (4 shards, driver gzip loop)") {
        (0 until 4).foreach { shard =>
          val recs = texts.toSeq.filter(_._1 % 4 == shard).map { case (id, text) =>
            (s"http://wet.example.com/doc/$id", "2024-06-01T10:00:00Z", text)
          }
          java.nio.file.Files.write(wetDir.resolve(s"shard$shard.warc.wet.gz"),
            graft.sources.Warc.buildWet(recs, gzipPerRecord = true))
        }
      }
      val docs = timed("q160 readWet + project + checkpoint") {
        val d = graft.sources.Warc.readWet(spark, wetDir.toString + "/*")
          .select(
            regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
            col("text"))
          .localCheckpoint(true)
        println("[probe] docs=" + d.count()); d
      }
      timed("q160 prepare chain over WET docs") {
        println("[probe] q160 out rows=" + graft.operators.CorpusPipeline
          .prepare(docs, "doc_id", "text").count())
      }
      spark.stop()
      return
    }

    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
      .foreach { case (name, fn) =>
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          // same inter-run hygiene as Bench (outside the timed window)
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
          System.gc()
          dt
        }
        println(f"[probe] $name: best=${times.min}%.2f s (runs: ${times.map(t => f"$t%.2f").mkString(", ")})")
      }
    spark.stop()
  }
}
