package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, VectorStore}

/** The persisted coded-corpus ANN store contract: write-once codes
  * serve every search job with result-for-result parity against the
  * from-floats faces, the static side never re-shuffles (bucketed
  * scans), a fresh catalog re-registers from parquet + meta alone,
  * and compaction grows the corpus epoch-to-epoch without re-encoding
  * the standing rows.
  */
class VectorStoreSpec extends SparkTestBase {
  import spark.implicits._

  /** Clustered fixture (the SimilaritySpec ANN shape): 8 clusters ×
    * 25 members in 8 dims, queries = one member per cluster.
    */
  private def fixture(seed: Int): (DataFrame, DataFrame) = {
    val rng = new scala.util.Random(seed)
    val vecs = (0 until 8).flatMap { c =>
      val center = Array.fill(8)(rng.nextGaussian().toFloat)
      (0 until 25).map(m =>
        (c * 25L + m, center.map(x => x + 0.1f * rng.nextGaussian().toFloat).toSeq))
    }
    val df = vecs.toDF("vec_id", "embedding").repartition(5)
    (df, df.where($"vec_id" % 25 === 0))
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-vecstore-$tag").toString

  /** The allowed-id filter of the store-served faces over `vec_id`. */
  private def only(ids: DataFrame, broadcast: Boolean = true) =
    Some(Similarity.AllowedIds(ids, "vec_id", broadcast))

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.select("query_id", "neighbor_id", "rank", "cosine")
      .orderBy("query_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq

  test("store-served ivfPq and ivfHamming equal the from-floats faces row-for-row") {
    val (df, queries) = fixture(29)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    val dir = tmp("parity")
    VectorStore.write(df, "vec_id", "embedding", dir, "vs_parity", ivf, pq, numBuckets = 4)
    val store = VectorStore.read(spark, dir, "vs_parity")
    assert(store.numBuckets == 4)
    assert(store.ivf.centroids.map(_.toSeq).toSeq == ivf.centroids.map(_.toSeq).toSeq,
      "reopened centroids must be bit-exact")
    assert(store.pq == pq.copy(codebooks = store.pq.codebooks) &&
      store.pq.codebooks.toSeq == pq.codebooks.toSeq)

    val fromFloatsPq = Similarity
      .ivfPqTopK(df, queries, "vec_id", "embedding", k = 5, ivf, pq, nprobe = 2, refine = 4)
    val fromStorePq = Similarity
      .ivfPqTopKFromStore(store, queries, "vec_id", "embedding", k = 5, nprobe = 2, refine = 4)
    assert(rows(fromStorePq) == rows(fromFloatsPq),
      "store-served IVF-PQ must equal the from-floats face")

    val fromFloatsFlat = Similarity
      .pqTopK(df, queries, "vec_id", "embedding", k = 5, pq, refine = 4)
    val fromStoreFlat = Similarity
      .pqTopKFromStore(store, queries, "vec_id", "embedding", k = 5, refine = 4)
    assert(rows(fromStoreFlat) == rows(fromFloatsFlat),
      "store-served flat PQ must equal the from-floats face")

    val fromFloatsHam = Similarity
      .ivfHammingTopK(df, queries, "vec_id", "embedding", k = 5, ivf, nprobe = 2, refine = 4)
    val fromStoreHam = Similarity
      .ivfHammingTopKFromStore(store, queries, "vec_id", "embedding", k = 5,
        nprobe = 2, refine = 4)
    assert(rows(fromStoreHam) == rows(fromFloatsHam),
      "store-served IVF-Hamming must equal the from-floats face")

    // fresh-catalog reread: bucketed registration restores from
    // parquet + meta alone
    spark.sql("DROP TABLE vs_parity_coded")
    spark.sql("DROP TABLE vs_parity_vecs")
    val reread = VectorStore.read(spark, dir, "vs_parity")
    assert(rows(Similarity.ivfPqTopKFromStore(reread, queries, "vec_id", "embedding",
      k = 5, nprobe = 2, refine = 4)) == rows(fromFloatsPq))
  }

  test("filtered store-served ANN: top-k among allowed ids only, exact vs brute force at full coverage") {
    val (df, queries) = fixture(37)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    val dir = tmp("filtered")
    VectorStore.write(df, "vec_id", "embedding", dir, "vs_filt", ivf, pq, numBuckets = 4)
    val store = VectorStore.read(spark, dir, "vs_filt")
    val allowed = df.where($"vec_id" % 2 === 0).select($"vec_id")
    // full coverage (nprobe = nlist, shortlist ⊇ allowed corpus): the
    // filtered face must equal EXACT brute force over the allowed
    // subset — the "top-k among allowed" semantics, not "top-k then
    // filter"
    val filtered = Similarity.ivfPqTopKFromStore(store, queries, "vec_id",
      "embedding", k = 5, nprobe = 8, refine = 50, allowed = only(allowed))
    val brute = Similarity.bruteForceTopK(
      df.where($"vec_id" % 2 === 0), queries, "vec_id", "embedding", k = 5)
    assert(rows(filtered) == rows(brute),
      "filtered store search must equal brute force over the allowed subset")
    // no disallowed id may leak at stock (recall-limited) settings
    val stock = Similarity.ivfPqTopKFromStore(store, queries, "vec_id",
      "embedding", k = 5, nprobe = 2, refine = 4, allowed = only(allowed))
    assert(stock.where($"neighbor_id" % 2 =!= 0).count() == 0,
      "a filtered-out id must never appear in results")
    // the shuffle-path filter (corpus-scale allowed sets) agrees with
    // the broadcast path
    val shuffled = Similarity.ivfPqTopKFromStore(store, queries, "vec_id",
      "embedding", k = 5, nprobe = 8, refine = 50,
      allowed = only(allowed, broadcast = false))
    assert(rows(shuffled) == rows(filtered))
    // an all-allowed filter degrades to the unfiltered face exactly
    val all = Similarity.ivfPqTopKFromStore(store, queries, "vec_id",
      "embedding", k = 5, nprobe = 2, refine = 4, allowed = only(df.select($"vec_id")))
    val unfiltered = Similarity.ivfPqTopKFromStore(store, queries, "vec_id",
      "embedding", k = 5, nprobe = 2, refine = 4)
    assert(rows(all) == rows(unfiltered))
    // on the plain store the filtered face equals the from-floats
    // IVF-PQ search over the allowed rows
    val allowedDf = df.where($"vec_id" % 2 === 0)
    assert(rows(stock) == rows(Similarity.ivfPqTopK(allowedDf, queries, "vec_id",
      "embedding", k = 5, ivf, pq, nprobe = 2, refine = 4)))
    // OPQ store: allowed-only + all-allowed ≡ unfiltered parity
    val (ivfO, opqO) = Similarity.trainIvfOpq(df, "embedding", nlist = 8, m = 4,
      ksub = 16, seed = 3L)
    val dirO = tmp("filtered-opq")
    VectorStore.writeOpq(df, "vec_id", "embedding", dirO, "vs_filt_opq", ivfO, opqO,
      numBuckets = 4)
    val storeO = VectorStore.read(spark, dirO, "vs_filt_opq")
    val filtO = Similarity.ivfPqTopKFromStore(storeO, queries, "vec_id",
      "embedding", k = 5, nprobe = 2, refine = 4, allowed = only(allowed))
    assert(filtO.where($"neighbor_id" % 2 =!= 0).count() == 0)
    assert(rows(Similarity.ivfPqTopKFromStore(storeO, queries, "vec_id",
      "embedding", k = 5, nprobe = 2, refine = 4, allowed = only(df.select($"vec_id"))))
      == rows(Similarity.ivfPqTopKFromStore(storeO, queries, "vec_id", "embedding",
        k = 5, nprobe = 2, refine = 4)))
    // on the OPQ store the filtered face equals the from-floats IVF-OPQ
    // search over the allowed rows
    assert(rows(filtO) == rows(Similarity.ivfOpqTopK(allowedDf, queries, "vec_id",
      "embedding", k = 5, ivfO, opqO, nprobe = 2, refine = 4)))
  }

  test("filtered Hamming and flat store faces: allowed-only semantics via the shared pre-filter") {
    val (df, queries) = fixture(41)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    val dir = tmp("filtered-ham")
    VectorStore.write(df, "vec_id", "embedding", dir, "vs_filt_ham", ivf, pq, numBuckets = 4)
    val store = VectorStore.read(spark, dir, "vs_filt_ham")
    val allowedDf = df.where($"vec_id" % 2 === 0)
    val allowed = allowedDf.select($"vec_id")
    val brute = rows(Similarity.bruteForceTopK(
      allowedDf, queries, "vec_id", "embedding", k = 5))
    // full coverage (nprobe = nlist, shortlist ⊇ allowed corpus):
    // "top-k among allowed", not "top-k then filter"
    assert(rows(Similarity.ivfHammingTopKFromStore(store, queries, "vec_id",
      "embedding", k = 5, nprobe = 8, refine = 50, allowed = only(allowed))) == brute,
      "filtered Hamming face must equal brute force over the allowed subset")
    assert(rows(Similarity.pqTopKFromStore(store, queries, "vec_id",
      "embedding", k = 5, refine = 50, allowed = only(allowed))) == brute,
      "filtered flat-PQ face must equal brute force over the allowed subset")
    // no disallowed id may leak at stock (recall-limited) settings
    assert(Similarity.ivfHammingTopKFromStore(store, queries, "vec_id",
      "embedding", k = 5, nprobe = 2, refine = 4, allowed = only(allowed))
      .where($"neighbor_id" % 2 =!= 0).count() == 0)
    assert(Similarity.pqTopKFromStore(store, queries, "vec_id",
      "embedding", k = 5, refine = 4, allowed = only(allowed))
      .where($"neighbor_id" % 2 =!= 0).count() == 0)
    // an all-allowed filter degrades to the unfiltered face exactly;
    // the shuffle-path (corpus-scale) filter agrees with broadcast
    val allIds = df.select($"vec_id")
    assert(rows(Similarity.ivfHammingTopKFromStore(store, queries, "vec_id",
      "embedding", k = 5, nprobe = 2, refine = 4, allowed = only(allIds)))
      == rows(Similarity.ivfHammingTopKFromStore(store, queries, "vec_id",
        "embedding", k = 5, nprobe = 2, refine = 4)))
    assert(rows(Similarity.pqTopKFromStore(store, queries, "vec_id",
      "embedding", k = 5, refine = 4, allowed = only(allIds)))
      == rows(Similarity.pqTopKFromStore(store, queries, "vec_id",
        "embedding", k = 5, refine = 4)))
    assert(rows(Similarity.ivfHammingTopKFromStore(store, queries, "vec_id",
      "embedding", k = 5, nprobe = 8, refine = 50,
      allowed = only(allowed, broadcast = false))) == brute)
    // on the plain store the filtered flat face equals the from-floats
    // flat PQ search over the allowed rows; the same face serves a
    // rotated store with the same allowed-only + degradation contract
    assert(rows(Similarity.pqTopKFromStore(store, queries, "vec_id", "embedding",
      k = 5, allowed = only(allowed)))
      == rows(Similarity.pqTopK(allowedDf, queries, "vec_id", "embedding", k = 5, pq)))
    val (ivfO, opqO) = Similarity.trainIvfOpq(df, "embedding", nlist = 8, m = 4,
      ksub = 16, seed = 3L)
    val dirO = tmp("filtered-ham-opq")
    VectorStore.writeOpq(df, "vec_id", "embedding", dirO, "vs_fho", ivfO, opqO,
      numBuckets = 4)
    val storeO = VectorStore.read(spark, dirO, "vs_fho")
    assert(Similarity.pqTopKFromStore(storeO, queries, "vec_id",
      "embedding", k = 5, refine = 4, allowed = only(allowed))
      .where($"neighbor_id" % 2 =!= 0).count() == 0)
    assert(rows(Similarity.pqTopKFromStore(storeO, queries, "vec_id",
      "embedding", k = 5, refine = 4, allowed = only(allIds)))
      == rows(Similarity.pqTopKFromStore(storeO, queries, "vec_id",
        "embedding", k = 5, refine = 4)))
    // on the OPQ store the filtered flat face equals the from-floats
    // flat OPQ search over the allowed rows
    assert(rows(Similarity.pqTopKFromStore(storeO, queries, "vec_id", "embedding",
      k = 5, allowed = only(allowed)))
      == rows(Similarity.opqTopK(allowedDf, queries, "vec_id", "embedding", k = 5, opqO)))
  }

  test("one face per scan recipe: all five store faces serve plain and OPQ stores, and an all-ids filter equals no filter") {
    val (df, queries) = fixture(53)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    val (ivfO, opqO) = Similarity.trainIvfOpq(df, "embedding", nlist = 8, m = 4,
      ksub = 16, seed = 3L)
    val dir = tmp("matrix")
    val dirO = tmp("matrix-opq")
    VectorStore.write(df, "vec_id", "embedding", dir, "vs_matrix", ivf, pq, numBuckets = 4)
    VectorStore.writeOpq(df, "vec_id", "embedding", dirO, "vs_matrix_opq", ivfO, opqO,
      numBuckets = 4)
    def ordered(out: DataFrame) = out.orderBy(out.columns.map(col).toSeq: _*).collect().toSeq
    type Face = (VectorStore.CodedVectorStore, Option[Similarity.AllowedIds]) => DataFrame
    val faces: Seq[(String, Face)] = Seq(
      "pqTopKFromStore" -> ((st, a) =>
        Similarity.pqTopKFromStore(st, queries, "vec_id", "embedding", k = 5, allowed = a)),
      "ivfPqTopKFromStore" -> ((st, a) =>
        Similarity.ivfPqTopKFromStore(st, queries, "vec_id", "embedding", k = 5, allowed = a)),
      "ivfHammingTopKFromStore" -> ((st, a) =>
        Similarity.ivfHammingTopKFromStore(st, queries, "vec_id", "embedding", k = 5,
          allowed = a)),
      "mmrTopKFromStore" -> ((st, a) =>
        Similarity.mmrTopKFromStore(st, queries, "vec_id", "embedding", k = 3, allowed = a)),
      "semanticDedupFromStore" -> ((st, a) =>
        Similarity.semanticDedupFromStore(st, eps = 0.99, allowed = a)))
    val allIds = only(df.select($"vec_id"))
    for {
      store <- Seq(VectorStore.read(spark, dir, "vs_matrix"),
        VectorStore.read(spark, dirO, "vs_matrix_opq"))
      (name, face) <- faces
    } {
      val recipe = if (store.opq.isEmpty) "plain" else "OPQ"
      val unfiltered = ordered(face(store, None))
      assert(unfiltered.nonEmpty, s"$name on the $recipe store returned nothing")
      assert(ordered(face(store, allIds)) == unfiltered,
        s"$name on the $recipe store: an all-ids filter must equal no filter")
    }
  }

  test("store tables: static side joins with NO shuffle exchange and bucketed scans") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val (df, queries) = fixture(31)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    val dir = tmp("plan")
    VectorStore.write(df, "vec_id", "embedding", dir, "vs_plan", ivf, pq, numBuckets = 4)
    val store = VectorStore.read(spark, dir, "vs_plan")
    // pin the at-scale shape: AQE off, broadcast off, and the
    // huge-query-set path (broadcastQueries = false) — the corpus
    // side must never exchange
    val saved = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val hits = Similarity.ivfPqTopKFromStore(store, queries, "vec_id", "embedding",
        k = 5, nprobe = 2, refine = 4, broadcastQueries = false)
      val plan = hits.queryExecution.executedPlan
      def isStoreScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists { rp =>
            val s = rp.toString
            s.contains("vecstore") && (s.contains("coded") || s.contains("vecs"))
          }
        case _ => false
      }
      val offending = plan.collect {
        case e: ShuffleExchangeExec
            if e.collectLeaves().nonEmpty && e.collectLeaves().forall(isStoreScan) => e
      }
      assert(offending.isEmpty, s"static store side must not re-shuffle per job:\n$plan")
      val storeScans = plan.collectLeaves().filter(isStoreScan)
      assert(storeScans.nonEmpty, s"expected bucketed store scans in:\n$plan")
      assert(storeScans.collect { case f: FileSourceScanExec => f }
        .forall(_.bucketedScan), s"store scans must be bucketed:\n$plan")
      // the corpus-vs-corpus path must also agree on RESULTS: the
      // merge-join formulation equals the broadcast one, from the store
      val viaBroadcast = Similarity.ivfPqTopKFromStore(store, queries, "vec_id",
        "embedding", k = 5, nprobe = 2, refine = 4, broadcastQueries = true)
      assert(rows(hits) == rows(viaBroadcast),
        "store-served merge-join path must equal the broadcast path")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", saved._1)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved._2)
    }
  }

  test("merge: epoch compaction equals a from-floats search over the union; no id overlap allowed") {
    val (df, _) = fixture(37)
    val epoch0 = df.where($"vec_id" < 150L)
    val increment = df.where($"vec_id" >= 150L)
    val queries = df.where($"vec_id" % 25 === 0)
    val ivf = Similarity.trainIvf(epoch0, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(epoch0, "embedding", m = 4, ksub = 16, seed = 3L)
    val d0 = tmp("e0")
    val d1 = tmp("e1")
    VectorStore.write(epoch0, "vec_id", "embedding", d0, "vs_e0", ivf, pq, numBuckets = 4)
    val e1 = VectorStore.merge(spark, d0, "vs_e0", increment, "vec_id", "embedding",
      d1, "vs_e1")
    assert(e1.vecs.count() == df.count(), "merged store holds the full union")
    // r22 file-granularity compaction: the standing tables' part files
    // land in the destination VERBATIM (byte copy — the `_NNNNN`
    // bucket suffix carries membership), and the union's ids are exact
    def partNames(dir: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.isFile).map(_.getPath.getName)
        .filter(_.startsWith("part-")).toSet
    }
    assert(partNames(s"$d0/coded").subsetOf(partNames(s"$d1/coded")),
      "standing coded part files must be copied verbatim into the next epoch")
    assert(partNames(s"$d0/vecs").subsetOf(partNames(s"$d1/vecs")),
      "standing vecs part files must be copied verbatim into the next epoch")
    assert(e1.coded.select($"id").collect().map(_.getLong(0)).sorted.toSeq ==
      df.select($"vec_id").collect().map(_.getLong(0)).sorted.toSeq,
      "merged coded table holds exactly the union's ids")
    // the grown store serves the union with the SOURCE models — equal
    // to a from-floats search over the union under those models
    val fromFloats = Similarity
      .ivfPqTopK(df, queries, "vec_id", "embedding", k = 5, ivf, pq, nprobe = 8, refine = 8)
    val fromStore = Similarity
      .ivfPqTopKFromStore(e1, queries, "vec_id", "embedding", k = 5, nprobe = 8, refine = 8)
    assert(rows(fromStore) == rows(fromFloats),
      "epoch-1 store must equal the from-floats union search")
    // overlapping increments fail actionably, before any write
    val err = intercept[IllegalArgumentException] {
      VectorStore.merge(spark, d1, "vs_e1", epoch0.limit(1), "vec_id", "embedding",
        tmp("e2"), "vs_e2")
    }
    assert(err.getMessage.contains("disjoint"))
    // stale-registration guard: a name registered at ANOTHER path must
    // fail actionably instead of silently serving that path's rows
    // (d0 has a valid meta, but vs_e1_* point at d1)
    val err2 = intercept[IllegalArgumentException] {
      VectorStore.read(spark, d0, "vs_e1")
    }
    assert(err2.getMessage.contains("already registered"))
  }

  test("merge: a crash in the standing copy leaves no meta/_SUCCESS — meta lands last") {
    val (df, _) = fixture(43)
    val epoch0 = df.where($"vec_id" < 150L)
    val ivf = Similarity.trainIvf(epoch0, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(epoch0, "embedding", m = 4, ksub = 16, seed = 3L)
    val d0 = tmp("ml0")
    val d1 = tmp("ml1")
    VectorStore.write(epoch0, "vec_id", "embedding", d0, "vs_ml_e0", ivf, pq, numBuckets = 4)
    // merge reads only vecs and the models before the copy, so with the
    // standing coded files gone the copy is the step that throws
    val coded = new org.apache.hadoop.fs.Path(s"$d0/coded")
    coded.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(coded, true)
    intercept[java.io.FileNotFoundException] {
      VectorStore.merge(spark, d0, "vs_ml_e0", df.where($"vec_id" >= 150L),
        "vec_id", "embedding", d1, "vs_ml_e1")
    }
    assert(!new java.io.File(s"$d1/meta/_SUCCESS").exists,
      "an epoch whose standing copy failed must not look complete")
  }

  test("OPQ store: store-served faces equal the from-floats opq/ivfOpq faces; merge keeps the rotated space; one face serves both recipes") {
    val (df, queries) = fixture(43)
    val (ivf, opq) = Similarity.trainIvfOpq(df, "embedding", nlist = 8, m = 4,
      ksub = 16, seed = 3L)
    val dir = tmp("opq")
    VectorStore.writeOpq(df, "vec_id", "embedding", dir, "vs_opq", ivf, opq,
      numBuckets = 4)
    val store = VectorStore.read(spark, dir, "vs_opq")
    assert(store.opq.nonEmpty, "reopened store must detect the persisted rotation")
    assert(store.opq.get.r.toSeq == opq.r.toSeq, "rotation must roundtrip bit-exact")
    assert(store.pq.codebooks.toSeq == opq.pq.codebooks.toSeq,
      "store.pq must be the rotated-space codebooks")

    val fromFloatsIvfOpq = Similarity
      .ivfOpqTopK(df, queries, "vec_id", "embedding", k = 5, ivf, opq,
        nprobe = 2, refine = 4)
    val fromStoreIvfOpq = Similarity
      .ivfPqTopKFromStore(store, queries, "vec_id", "embedding", k = 5,
        nprobe = 2, refine = 4)
    assert(rows(fromStoreIvfOpq) == rows(fromFloatsIvfOpq),
      "store-served IVF-OPQ must equal the from-floats face")

    val fromFloatsOpq = Similarity
      .opqTopK(df, queries, "vec_id", "embedding", k = 5, opq, refine = 4)
    val fromStoreOpq = Similarity
      .pqTopKFromStore(store, queries, "vec_id", "embedding", k = 5, refine = 4)
    assert(rows(fromStoreOpq) == rows(fromFloatsOpq),
      "store-served flat OPQ must equal the from-floats face")

    // hamming on an OPQ store = from-floats hamming over the ROTATED
    // corpus/queries (sign codes were packed in rotated space)
    val rotAll = Similarity.rotateColumn(df, "embedding", opq)
    val rotQ = Similarity.rotateColumn(queries, "embedding", opq)
    val fromFloatsHam = Similarity
      .ivfHammingTopK(rotAll, rotQ, "vec_id", "embedding", k = 5, ivf,
        nprobe = 2, refine = 4)
    val fromStoreHam = Similarity
      .ivfHammingTopKFromStore(store, queries, "vec_id", "embedding", k = 5,
        nprobe = 2, refine = 4)
    assert(rows(fromStoreHam).map(t => (t._1, t._2, t._3)) ==
      rows(fromFloatsHam).map(t => (t._1, t._2, t._3)),
      "store-served hamming on an OPQ store must equal the rotated from-floats face")

    // merge rotates the increment with the STANDING rotation: the
    // grown store equals a from-floats IVF-OPQ search over the union
    val epoch0 = df.where($"vec_id" < 150L)
    val increment = df.where($"vec_id" >= 150L)
    val d0 = tmp("opq-e0")
    val d1 = tmp("opq-e1")
    VectorStore.writeOpq(epoch0, "vec_id", "embedding", d0, "vs_opq_e0", ivf, opq,
      numBuckets = 4)
    val e1 = VectorStore.merge(spark, d0, "vs_opq_e0", increment, "vec_id",
      "embedding", d1, "vs_opq_e1")
    assert(e1.opq.nonEmpty, "merged store must carry the rotation forward")
    val unionFloats = Similarity
      .ivfOpqTopK(df, queries, "vec_id", "embedding", k = 5, ivf, opq,
        nprobe = 8, refine = 8)
    val unionStore = Similarity
      .ivfPqTopKFromStore(e1, queries, "vec_id", "embedding", k = 5,
        nprobe = 8, refine = 8)
    assert(rows(unionStore) == rows(unionFloats),
      "epoch-1 OPQ store must equal the from-floats union search")

    // one face per recipe: at default knobs the face equals the
    // from-floats OPQ search on the OPQ store ...
    assert(rows(Similarity.ivfPqTopKFromStore(store, queries, "vec_id", "embedding", k = 5))
      == rows(Similarity.ivfOpqTopK(df, queries, "vec_id", "embedding", k = 5, ivf, opq)))
    assert(rows(Similarity.pqTopKFromStore(store, queries, "vec_id", "embedding", k = 5))
      == rows(Similarity.opqTopK(df, queries, "vec_id", "embedding", k = 5, opq)))
    val (dfP, queriesP) = fixture(29)
    val ivfP = Similarity.trainIvf(dfP, "embedding", nlist = 8, seed = 3L)
    val pqP = Similarity.trainPq(dfP, "embedding", m = 4, ksub = 16, seed = 3L)
    val dirP = tmp("plainguard")
    VectorStore.write(dfP, "vec_id", "embedding", dirP, "vs_plainguard", ivfP, pqP,
      numBuckets = 4)
    val plainStore = VectorStore.read(spark, dirP, "vs_plainguard")
    // ... and the from-floats plain search on a plain store
    assert(rows(Similarity.ivfPqTopKFromStore(plainStore, queriesP, "vec_id", "embedding",
      k = 5)) == rows(Similarity.ivfPqTopK(dfP, queriesP, "vec_id", "embedding", k = 5,
        ivfP, pqP)))
  }

  test("ingestDedup: near-dup increments drop with a victim ledger, fresh rows merge; pruneEpochs retires dirs AND catalog entries") {
    // 32 dims, not the 8-dim shared fixture: cosine concentrates as
    // 1/√d, so at d=8 a deterministic ±1 "fresh" pattern can land
    // within 0.9 of a corpus vector (observed at seed 47); at d=32
    // the max spurious cosine over this fixture is ≈0.6
    val rng = new scala.util.Random(47)
    val df = (0 until 8).flatMap { c =>
      val center = Array.fill(32)(rng.nextGaussian().toFloat)
      (0 until 25).map(m =>
        (c * 25L + m, center.map(x => x + 0.1f * rng.nextGaussian().toFloat).toSeq))
    }.toDF("vec_id", "embedding").repartition(5)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    val root = java.nio.file.Files.createTempDirectory("graft-vs-ingest").toString
    VectorStore.write(df, "vec_id", "embedding", s"$root/epoch0", "vsing_e0",
      ivf, pq, numBuckets = 4)
    // increment: 3 perturbed copies (near-dups of standing rows, must
    // drop with dup_of = their original) + 3 far sign-pattern rows
    // (must survive into epoch 1)
    val copies = df.where($"vec_id".isin(0L, 25L, 50L))
      .select(($"vec_id" + 1000L).as("vec_id"),
        transform($"embedding",
          (x, i) => when(i === 0, (x + lit(0.01f)).cast("float")).otherwise(x))
          .as("embedding"))
    val fresh = df.where($"vec_id".isin(75L, 100L, 125L))
      .select(($"vec_id" + 2000L).as("vec_id"),
        transform($"embedding",
          (x, i) => when(pmod(hash($"vec_id", i), lit(2)) === 0, lit(1.0f))
            .otherwise(lit(-1.0f))).as("embedding"))
    val (grown, victims) = VectorStore.ingestDedup(spark, s"$root/epoch0", "vsing_e0",
      copies.unionByName(fresh), "vec_id", "embedding", s"$root/epoch1", "vsing_e1",
      threshold = 0.9, searchK = 4, nprobe = 8, refine = 8)
    val vrows = victims.select($"id", $"dup_of").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(vrows == Map(1000L -> 0L, 1025L -> 25L, 1050L -> 50L),
      s"victim ledger must name each copy's original: $vrows")
    val grownIds = grown.vecs.select($"id").collect().map(_.getLong(0)).toSet
    assert(Seq(2075L, 2100L, 2125L).forall(grownIds.contains),
      "fresh rows must survive into the epoch-1 store")
    assert(Seq(1000L, 1025L, 1050L).forall(id => !grownIds.contains(id)),
      "near-dup copies must not reach the epoch-1 store")
    assert(grown.vecs.count() == df.count() + 3)
    // ParquetDir mode: the verb's TWO landings (increment + merge's
    // encode projection) must use distinct directories — a shared one
    // would be overwritten while the survivors frame still reads it;
    // the durable-landing run must reproduce the default run exactly
    val (grownP, victimsP) = VectorStore.ingestDedup(spark, s"$root/epoch0", "vsing_e0",
      copies.unionByName(fresh), "vec_id", "embedding", s"$root/epoch1p", "vsing_e1p",
      threshold = 0.9, searchK = 4, nprobe = 8, refine = 8,
      materialize = graft.operators.Materialize.ParquetDir(tmp("ingest-land")))
    assert(victimsP.select($"id").as[Long].collect().toSet == vrows.keySet &&
      grownP.vecs.count() == grown.vecs.count(),
      "ParquetDir landing must reproduce the LocalCheckpoint run")
    // a grown store serves searches like any other (parity contract)
    val q = df.where($"vec_id" % 50 === 0)
    assert(rows(Similarity.ivfPqTopKFromStore(grown, q, "vec_id", "embedding",
      k = 3, nprobe = 8, refine = 8)).nonEmpty)
    // retention: epoch0 dir is deleted and its catalog entries retired;
    // epoch1 (the live store) is untouched
    assert(spark.catalog.tableExists("vsing_e0_coded"))
    val removed = VectorStore.pruneEpochs(spark, root, "vsing", keepLatest = 1, upTo = 1L)
    assert(removed == Seq(0L), s"pruned epochs: $removed")
    assert(!spark.catalog.tableExists("vsing_e0_coded") &&
      !spark.catalog.tableExists("vsing_e0_vecs"),
      "retired epoch's catalog registrations must drop with the dir")
    assert(spark.catalog.tableExists("vsing_e1_coded"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/epoch0")))
    val reread = VectorStore.read(spark, s"$root/epoch1", "vsing_e1")
    assert(reread.vecs.count() == df.count() + 3, "live epoch survives pruning")
    // recipe dispatch: against an OPQ store the search face is the
    // rotated one — the same copies must still drop
    val (ivfO, opqO) = Similarity.trainIvfOpq(df, "embedding", nlist = 8, m = 4,
      ksub = 16, seed = 3L)
    VectorStore.writeOpq(df, "vec_id", "embedding", s"$root/oe0", "vsingo_e0",
      ivfO, opqO, numBuckets = 4)
    val (grownO, victimsO) = VectorStore.ingestDedup(spark, s"$root/oe0", "vsingo_e0",
      copies, "vec_id", "embedding", s"$root/oe1", "vsingo_e1",
      threshold = 0.9, searchK = 4, nprobe = 8, refine = 8)
    assert(victimsO.count() == 3 && grownO.vecs.count() == df.count(),
      "OPQ-store ingest must drop the same near-dup copies")
  }

  test("semanticDedupFromStore: planted ε-balls collapse to one kept member; plain and OPQ stores agree on the contract") {
    val (df, _) = fixture(61)
    // the planted ε-ball lives on an OUTLIER (a ±1 sign pattern far
    // from every natural cluster — the fixture's own 0.1-noise
    // cluster members sit ≈0.992 cosine apart, ABOVE eps 0.99, so a
    // ball planted on a member would merge into its whole cluster's
    // component and the keeper could be any member): outlier A with
    // three near-identical copies = one 4-member component; outlier
    // B untouched = a kept singleton
    def pattern(seedId: Long) = df.limit(1)
      .select(lit(seedId).as("vec_id"),
        transform($"embedding",
          (x, i) => when(pmod(hash(lit(seedId), i), lit(2)) === 0, lit(1.0f))
            .otherwise(lit(-1.0f))).as("embedding"))
    val outlierA = pattern(9000L)
    val outlierB = pattern(9100L)
    val copies = (1 to 3).map(j =>
      outlierA.select(lit(9000L + j).as("vec_id"),
        transform($"embedding",
          (x, i) => when(i === 0, (x + lit(0.001f * j)).cast("float")).otherwise(x))
          .as("embedding")))
      .reduce(_ unionByName _)
    val corpus = df.unionByName(outlierA).unionByName(outlierB).unionByName(copies)
    def contract(out: org.apache.spark.sql.DataFrame): Unit = {
      val ball = out.where($"id".isin(9000L, 9001L, 9002L, 9003L))
        .select($"id", $"component", $"is_kept")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      assert(ball.map(_._2).distinct.length == 1,
        s"planted copies must share one component: ${ball.toSeq}")
      assert(ball.count(_._3) == 1,
        s"exactly one ε-ball member is kept: ${ball.toSeq}")
      val singleton = out.where($"id" === 9100L)
        .select($"is_kept").head().getBoolean(0)
      assert(singleton, "an untouched outlier survives as kept")
      assert(out.count() == corpus.count(), "every corpus row gets a verdict")
    }
    val ivf = Similarity.trainIvf(corpus, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(corpus, "embedding", m = 4, ksub = 16, seed = 3L)
    val d1 = tmp("semdedup")
    VectorStore.write(corpus, "vec_id", "embedding", d1, "vs_sd", ivf, pq, numBuckets = 4)
    contract(Similarity.semanticDedupFromStore(
      VectorStore.read(spark, d1, "vs_sd"), eps = 0.99))
    // the OPQ store's rotated space changes nothing: cosines are
    // rotation-invariant, so the ε-ball contract holds unchanged
    val (ivfO, opqO) = Similarity.trainIvfOpq(corpus, "embedding", nlist = 8, m = 4,
      ksub = 16, seed = 3L)
    val d2 = tmp("semdedup-opq")
    VectorStore.writeOpq(corpus, "vec_id", "embedding", d2, "vs_sd_opq", ivfO, opqO,
      numBuckets = 4)
    contract(Similarity.semanticDedupFromStore(
      VectorStore.read(spark, d2, "vs_sd_opq"), eps = 0.99))
    // filtered slice dedup: exclude copy 9001 from the allowed set —
    // the verdict frame covers exactly the slice, the remaining ball
    // members still collapse to one keeper, and the excluded id never
    // appears (neither as a row nor as a component anchor)
    val store1 = VectorStore.read(spark, d1, "vs_sd")
    val allowed = corpus.select($"vec_id").where($"vec_id" =!= 9001L)
    val filt = Similarity.semanticDedupFromStore(store1, eps = 0.99, allowed = only(allowed))
    assert(filt.count() == corpus.count() - 1, "verdicts cover exactly the allowed slice")
    assert(filt.where($"id" === 9001L).isEmpty)
    val ballF = filt.where($"id".isin(9000L, 9002L, 9003L))
      .select($"component", $"is_kept")
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(ballF.map(_._1).distinct.length == 1 && ballF.count(_._2) == 1,
      s"allowed ball members still collapse to one keeper: ${ballF.toSeq}")
    // all-allowed degrades to the unfiltered face exactly
    def verdicts(out: org.apache.spark.sql.DataFrame) = out
      .select($"id", $"component", $"is_kept").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(verdicts(Similarity.semanticDedupFromStore(
      store1, eps = 0.99, allowed = only(corpus.select($"vec_id"))))
      == verdicts(Similarity.semanticDedupFromStore(store1, eps = 0.99)))
  }

  test("mmrTopKFromStore: exhaustive pool equals the from-floats MMR; OPQ store preserves the selection") {
    val (df, queries) = fixture(71)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    val dir = tmp("mmr")
    VectorStore.write(df, "vec_id", "embedding", dir, "vs_mmr", ivf, pq, numBuckets = 4)
    val store = VectorStore.read(spark, dir, "vs_mmr")
    // nprobe = nlist and refine·poolSize ≥ corpus make the store pool
    // EXACT (provably equal to brute force) — the greedy then sees the
    // identical pool and must reproduce the from-floats selection
    // row-for-row, scores included
    def sel(out: org.apache.spark.sql.DataFrame) = out
      .select($"query_id", $"neighbor_id", $"mmr_rank", $"relevance", $"mmr_score")
      .orderBy("query_id", "mmr_rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    val fromFloats = Similarity
      .mmrTopK(df, queries, "vec_id", "embedding", k = 4, poolSize = 12, lambda = 0.5)
    val fromStore = Similarity
      .mmrTopKFromStore(store, queries, "vec_id", "embedding", k = 4, poolSize = 12,
        lambda = 0.5, nprobe = 8, refine = 17)
    assert(sel(fromStore) == sel(fromFloats),
      "store-served MMR with an exact pool must equal the from-floats face")
    // OPQ store: relevances and pairwise cosines are rotation-invariant
    // up to float error — the SELECTION (ids + ranks) must match
    val (ivfO, opqO) = Similarity.trainIvfOpq(df, "embedding", nlist = 8, m = 4,
      ksub = 16, seed = 3L)
    val dirO = tmp("mmr-opq")
    VectorStore.writeOpq(df, "vec_id", "embedding", dirO, "vs_mmr_opq", ivfO, opqO,
      numBuckets = 4)
    val storeO = VectorStore.read(spark, dirO, "vs_mmr_opq")
    val fromStoreO = Similarity
      .mmrTopKFromStore(storeO, queries, "vec_id", "embedding", k = 4, poolSize = 12,
        lambda = 0.5, nprobe = 8, refine = 17)
    assert(sel(fromStoreO).map(t => (t._1, t._2, t._3)) ==
      sel(fromFloats).map(t => (t._1, t._2, t._3)),
      "OPQ-store MMR must select the same ids in the same order")

    // filtered MMR: with an exact pool over the allowed subset the
    // selection equals the from-floats MMR run on ONLY the allowed
    // rows — "diversify among allowed", not "diversify then filter"
    val allowedDf = df.where($"vec_id" % 2 === 0)
    val filtF = Similarity.mmrTopKFromStore(store, queries, "vec_id",
      "embedding", k = 4, poolSize = 12, lambda = 0.5, nprobe = 8, refine = 17,
      allowed = only(allowedDf.select($"vec_id")))
    val floatsAllowed = Similarity
      .mmrTopK(allowedDf, queries, "vec_id", "embedding", k = 4, poolSize = 12,
        lambda = 0.5)
    assert(sel(filtF) == sel(floatsAllowed),
      "filtered store MMR must equal the from-floats MMR over the allowed subset")
    assert(filtF.where($"neighbor_id" % 2 =!= 0).count() == 0)
    // all-allowed degrades to the unfiltered face exactly; the OPQ
    // store routes through its filtered pool recipe
    assert(sel(Similarity.mmrTopKFromStore(store, queries, "vec_id",
      "embedding", k = 4, poolSize = 12, lambda = 0.5, nprobe = 8, refine = 17,
      allowed = only(df.select($"vec_id")))) == sel(fromStore))
    assert(Similarity.mmrTopKFromStore(storeO, queries, "vec_id",
      "embedding", k = 4, poolSize = 12, lambda = 0.5, nprobe = 8, refine = 17,
      allowed = only(allowedDf.select($"vec_id")))
      .where($"neighbor_id" % 2 =!= 0).count() == 0)
  }

  test("tuneNprobe: doubling walk measures the recall curve and stops at the target") {
    val (df, queries) = fixture(83)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    val dir = tmp("tune")
    VectorStore.write(df, "vec_id", "embedding", dir, "vs_tune", ivf, pq, numBuckets = 4)
    val store = VectorStore.read(spark, dir, "vs_tune")
    def curve(target: Double, refine: Int) = Similarity
      .tuneNprobe(store, queries, "vec_id", "embedding", k = 4, target, refine)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getBoolean(2))).toSeq
    // exhaustive refine: nested probe sets make the curve monotone and
    // the full-probe endpoint equals brute force → recall exactly 1.0
    val full = curve(1.0, refine = 50)
    assert(full.map(_._1) == Seq(1, 2, 4, 8).take(full.length),
      s"doubling walk capped at nlist: $full")
    assert(full.map(_._2) == full.map(_._2).sorted,
      s"monotone at exhaustive refine: $full")
    assert(full.last._2 == 1.0 && full.last._3,
      s"the curve must END met — full probe + exhaustive refine IS brute force: $full")
    assert(full.init.forall(!_._3), s"only the stopping row is met: $full")
    // a modest target stops the walk early (each step is a measured
    // distributed job — the loop must not keep spending after meeting)
    val early = curve(0.05, refine = 50)
    assert(early.length == 1 && early.head._3, s"0.05 target met at nprobe=1: $early")
    // empty sample: nothing to measure, empty curve
    assert(Similarity.tuneNprobe(store, df.where(lit(false)), "vec_id",
      "embedding", k = 4, targetRecall = 1.0).isEmpty)
    // a store with ZERO IVF centroids is a NAMED error, not a silent
    // all-zero curve measured at nprobe = 0
    val errNoCells = intercept[IllegalArgumentException] {
      Similarity.tuneNprobe(store.copy(ivf = Similarity.IvfModel(Array.empty)),
        queries, "vec_id", "embedding", k = 4, targetRecall = 1.0)
    }
    assert(errNoCells.getMessage.contains("no IVF centroids"))
    // OPQ store: truth measured in rotated space, same 1.0 endpoint
    val (ivfO, opqO) = Similarity.trainIvfOpq(df, "embedding", nlist = 8, m = 4,
      ksub = 16, seed = 3L)
    val dirO = tmp("tune-opq")
    VectorStore.writeOpq(df, "vec_id", "embedding", dirO, "vs_tune_opq", ivfO, opqO,
      numBuckets = 4)
    val curveO = Similarity
      .tuneNprobe(VectorStore.read(spark, dirO, "vs_tune_opq"), queries,
        "vec_id", "embedding", k = 4, targetRecall = 1.0, refine = 50)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getBoolean(2))).toSeq
    assert(curveO.last._2 == 1.0 && curveO.last._3,
      s"OPQ tuner must also end at measured 1.0: $curveO")
  }

  test("tuneRefine: fixed-nprobe budget walk — monotone by construction, exhaustive cap, ceiling = probed-cell truth") {
    val (df, queries) = fixture(89)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    val dir = tmp("tune-refine")
    VectorStore.write(df, "vec_id", "embedding", dir, "vs_tune_rf", ivf, pq, numBuckets = 4)
    val store = VectorStore.read(spark, dir, "vs_tune_rf")
    def curve(target: Double, nprobe: Int) = Similarity
      .tuneRefine(store, queries, "vec_id", "embedding", k = 4, target, nprobe)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getBoolean(2))).toSeq
    val ex = ((store.vecs.count() + 3) / 4).toInt // exhaustive: refine·k ≥ corpus
    val doubling = Iterator.iterate(1)(_ * 2).takeWhile(_ < ex).toSeq :+ ex
    // full probe: the probed pool is the whole corpus, so the
    // exhaustive endpoint IS brute force — recall exactly 1.0
    val full = curve(1.0, nprobe = 8)
    assert(full.map(_._1) == doubling.take(full.length),
      s"doubling walk capped at the exhaustive budget: $full")
    assert(full.map(_._2) == full.map(_._2).sorted,
      s"monotone BY CONSTRUCTION at fixed nprobe (the pool only grows): $full")
    assert(full.last._2 == 1.0 && full.last._3,
      s"full probe + exhaustive budget must measure exactly 1.0: $full")
    assert(full.init.forall(!_._3), s"only the stopping row is met: $full")
    // a modest target stops the walk on the first measured row
    val early = curve(0.05, nprobe = 8)
    assert(early.length == 1 && early.head._3, s"0.05 target met at refine=1: $early")
    // the pinned-nprobe CEILING claim, verified independently: at
    // nprobe = 1 the endpoint recall must equal the mean fraction of
    // each query's exact truth that lives in its single probed cell —
    // computed here from the coded table + probeCells directly, no
    // search involved
    val pinned = curve(1.0, nprobe = 1)
    assert(pinned.map(_._2) == pinned.map(_._2).sorted,
      s"pinned-nprobe curve is monotone too: $pinned")
    val cellOf = store.coded.select($"id", $"cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val exact = Similarity
      .bruteForceTopK(df, queries, "vec_id", "embedding", k = 4)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val qcells = queries.select($"vec_id", $"embedding").collect().map { r =>
      r.getLong(0) -> Similarity
        .probeCells(ivf.centroids, r.getSeq[Float](1).toArray, 1).head
    }.toMap
    val ceiling = exact.map { case (q, truth) =>
      truth.count(n => cellOf(n) == qcells(q)).toDouble / truth.size
    }.sum / exact.size
    assert(pinned.last._2 == ceiling,
      s"nprobe=1 exhaustive endpoint ${pinned.last._2} must equal the " +
        s"probed-cell truth fraction $ceiling — the ceiling is the cell " +
        "assignment, not the budget")
    // degenerate knob: a named error, not a zero-candidate walk
    val errNp = intercept[IllegalArgumentException] {
      Similarity.tuneRefine(store, queries, "vec_id", "embedding", k = 4,
        targetRecall = 1.0, nprobe = 0)
    }
    assert(errNp.getMessage.contains("nprobe must be >= 1"))
    // empty sample: nothing to measure, empty curve
    assert(Similarity.tuneRefine(store, df.where(lit(false)), "vec_id",
      "embedding", k = 4, targetRecall = 1.0, nprobe = 8).isEmpty)
    // OPQ store: the dispatch branch rotates queries into the store's
    // space — same full-probe exhaustive endpoint of exactly 1.0
    val (ivfO, opqO) = Similarity.trainIvfOpq(df, "embedding", nlist = 8, m = 4,
      ksub = 16, seed = 3L)
    val dirO = tmp("tune-refine-opq")
    VectorStore.writeOpq(df, "vec_id", "embedding", dirO, "vs_tune_rf_opq", ivfO,
      opqO, numBuckets = 4)
    val curveO = Similarity
      .tuneRefine(VectorStore.read(spark, dirO, "vs_tune_rf_opq"), queries,
        "vec_id", "embedding", k = 4, targetRecall = 1.0, nprobe = 8)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getBoolean(2))).toSeq
    assert(curveO.last._2 == 1.0 && curveO.last._3,
      s"OPQ refine tuner must also end at measured 1.0: $curveO")
  }

  test("tuner walks ≡ per-step reference searches (r22 hoisted prep is bit-identical)") {
    // r22 hoists the step-invariant query prep out of both knob walks
    // (tuneNprobe pools ADC deltas by probe rank; tuneRefine lands one
    // fixed-nprobe ADC pool) — this pins the WHOLE measured curve,
    // value for value, against the former formulation: one full
    // ivfPqTopKFromStore search per knob value + recallAtK, walked
    // with the same doubling and early-stop.
    val (df, queries) = fixture(97)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    val dir = tmp("tune-ref")
    VectorStore.write(df, "vec_id", "embedding", dir, "vs_tune_ref", ivf, pq,
      numBuckets = 4)
    val store = VectorStore.read(spark, dir, "vs_tune_ref")
    val k = 4
    val sample = queries.localCheckpoint(true)
    val exact = Similarity
      .bruteForceTopK(
        store.vecs.select($"id".as("vec_id"), $"vec".as("embedding")),
        sample, "vec_id", "embedding", k)
      .localCheckpoint(true)
    def meanRecall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(approx, exact, k)
        .agg(avg($"recall")).head().getDouble(0)
    def referenceWalk(candidates: Seq[Int], target: Double)(
        search: Int => org.apache.spark.sql.DataFrame): Seq[(Int, Double, Boolean)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
      var met = false
      val it = candidates.iterator
      while (it.hasNext && !met) {
        val v = it.next()
        val m = meanRecall(search(v))
        met = m >= target
        buf += ((v, m, met))
      }
      buf.toSeq
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Int, Double, Boolean)] =
      df.collect().map(r => (r.getInt(0), r.getDouble(1), r.getBoolean(2))).toSeq
    // tuneNprobe vs reference at a mid target (exercises early stop)
    for (target <- Seq(0.6, 1.0)) {
      val ref = referenceWalk(Seq(1, 2, 4, 8), target) { np =>
        Similarity.ivfPqTopKFromStore(store, sample, "vec_id", "embedding", k,
          nprobe = np, refine = 4)
      }
      val got = rows(Similarity.tuneNprobe(store, sample, "vec_id", "embedding",
        k, target, refine = 4))
      assert(got == ref, s"tuneNprobe(target=$target) diverged:\n$got\nvs\n$ref")
    }
    // exhaustive-cut regime (k·refine ≥ corpus rows): the
    // once-per-candidate re-rank path must reproduce the same curve
    // as full per-step searches
    val refEx = referenceWalk(Seq(1, 2, 4, 8), 1.0) { np =>
      Similarity.ivfPqTopKFromStore(store, sample, "vec_id", "embedding", k,
        nprobe = np, refine = 50)
    }
    val gotEx = rows(Similarity.tuneNprobe(store, sample, "vec_id", "embedding",
      k, 1.0, refine = 50))
    assert(gotEx == refEx, s"tuneNprobe exhaustive-cut diverged:\n$gotEx\nvs\n$refEx")
    // tuneRefine vs reference (fixed nprobe = 2 so the pool is partial)
    val ex = ((store.vecs.count() + k - 1) / k).toInt
    val doubling = Iterator.iterate(1)(_ * 2).takeWhile(_ < ex).toSeq :+ ex
    for (target <- Seq(0.5, 1.0)) {
      val ref = referenceWalk(doubling, target) { rf =>
        Similarity.ivfPqTopKFromStore(store, sample, "vec_id", "embedding", k,
          nprobe = 2, refine = rf)
      }
      val got = rows(Similarity.tuneRefine(store, sample, "vec_id", "embedding",
        k, target, nprobe = 2))
      assert(got == ref, s"tuneRefine(target=$target) diverged:\n$got\nvs\n$ref")
    }
    // OPQ store: the hoisted prep rotates the sample once — curves must
    // still match the per-step OPQ searches
    val (ivfO, opqO) = Similarity.trainIvfOpq(df, "embedding", nlist = 8, m = 4,
      ksub = 16, seed = 3L)
    val dirO = tmp("tune-ref-opq")
    VectorStore.writeOpq(df, "vec_id", "embedding", dirO, "vs_tune_ref_opq", ivfO,
      opqO, numBuckets = 4)
    val storeO = VectorStore.read(spark, dirO, "vs_tune_ref_opq")
    val exactO = Similarity
      .bruteForceTopK(
        storeO.vecs.select($"id".as("vec_id"), $"vec".as("embedding")),
        Similarity.rotateColumn(sample, "embedding", opqO),
        "vec_id", "embedding", k)
      .localCheckpoint(true)
    def meanRecallO(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(approx, exactO, k)
        .agg(avg($"recall")).head().getDouble(0)
    val refO = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
      var met = false
      val it = Seq(1, 2, 4, 8).iterator
      while (it.hasNext && !met) {
        val np = it.next()
        val m = meanRecallO(Similarity.ivfPqTopKFromStore(storeO, sample,
          "vec_id", "embedding", k, nprobe = np, refine = 4))
        met = m >= 0.6
        buf += ((np, m, met))
      }
      buf.toSeq
    }
    val gotO = rows(Similarity.tuneNprobe(storeO, sample, "vec_id", "embedding",
      k, 0.6, refine = 4))
    assert(gotO == refO, s"OPQ tuneNprobe diverged:\n$gotO\nvs\n$refO")
  }

  test("stats: one row of cell-population shape, consistent with the coded table") {
    val (df, _) = fixture(67)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    val dir = tmp("stats")
    VectorStore.write(df, "vec_id", "embedding", dir, "vs_stats", ivf, pq, numBuckets = 4)
    val store = VectorStore.read(spark, dir, "vs_stats")
    val r = VectorStore.stats(store).head()
    val per = store.coded.groupBy($"cell").count()
      .collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(r.getAs[Long]("n_rows") == 200L)
    assert(r.getAs[Int]("nlist") == 8)
    assert(r.getAs[Long]("cells_used") == per.size.toLong)
    assert(r.getAs[Long]("empty_cells") == 8L - per.size)
    assert(r.getAs[Long]("min_cell_rows") == per.values.min)
    assert(r.getAs[Long]("max_cell_rows") == per.values.max)
    val hottest = r.getAs[Int]("max_cell_id")
    assert(per(hottest) == per.values.max, s"hottest=$hottest per=$per")
  }

  test("guards: Lazy rejected, same-name merge rejected, write collision, identifier/path validation") {
    val (df, _) = fixture(41)
    val ivf = Similarity.trainIvf(df, "embedding", nlist = 8, seed = 3L)
    val pq = Similarity.trainPq(df, "embedding", m = 4, ksub = 16, seed = 3L)
    // Lazy would run the corpus plan once per table write — the
    // coded/vecs row-parity invariant requires a landing
    val lazyErr = intercept[IllegalArgumentException] {
      VectorStore.write(df, "vec_id", "embedding", tmp("lazy"), "vs_lazy", ivf, pq,
        numBuckets = 4, materialize = graft.operators.Materialize.Lazy)
    }
    assert(lazyErr.getMessage.contains("Lazy"))
    val dg = tmp("guards")
    VectorStore.write(df, "vec_id", "embedding", dg, "vs_guards", ivf, pq, numBuckets = 4)
    // a same-NAME epoch merge must fail with the store's own message
    // (not Spark's generic cannot-overwrite-read-table analysis error)
    val nameErr = intercept[IllegalArgumentException] {
      VectorStore.merge(spark, dg, "vs_guards",
        df.select(($"vec_id" + 10000L).as("vec_id"), $"embedding").limit(5),
        "vec_id", "embedding", tmp("guards2"), "vs_guards")
    }
    assert(nameErr.getMessage.contains("dstName"))
    // write is the store-CREATION verb: re-writing a registered name
    // at a NEW path re-points the registration (saveAsTable Overwrite
    // semantics, the writeSignatures symmetry — this is what keeps a
    // re-run of the same gate/job idempotent in one session), and the
    // reopened store serves the new path's rows
    val elsewhere = tmp("elsewhere")
    VectorStore.write(df.where($"vec_id" < 50L), "vec_id", "embedding", elsewhere,
      "vs_guards", ivf, pq, numBuckets = 4)
    val repointed = VectorStore.read(spark, elsewhere, "vs_guards")
    assert(repointed.vecs.count() == 50L,
      "re-created store must serve the new path's rows")
    // ...while reopening the name against the OLD path now fails
    // actionably instead of silently serving stale rows
    val staleErr = intercept[IllegalArgumentException] {
      VectorStore.read(spark, dg, "vs_guards")
    }
    assert(staleErr.getMessage.contains("already registered"))
    // DDL-injection surface: non-identifier names and quoted paths are
    // rejected up front with the store's message
    val idErr = intercept[IllegalArgumentException] {
      VectorStore.read(spark, dg, "vs; DROP TABLE x")
    }
    assert(idErr.getMessage.contains("identifier"))
    val quoteErr = intercept[IllegalArgumentException] {
      VectorStore.write(df, "vec_id", "embedding", "/tmp/it's-a-path", "vs_q", ivf, pq)
    }
    assert(quoteErr.getMessage.contains("quote"))
  }
}
