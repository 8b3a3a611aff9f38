package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.operators.{Dedup, Similarity, StoreEpoch, VectorStore}

/** The epoch protocol both persisted stores share: the commit order
  * (meta lands last), the idempotent standing copy, and the
  * registration guard's cost and message.
  */
class StoreEpochSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-storeepoch-$tag").toString

  private def partFiles(dir: String): Map[String, Long] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(st => st.getPath.getName -> st.getLen).toMap
  }

  /** Jobs `body` starts (with `metaOnly`, only those whose call site is
    * [[StoreEpoch.readMeta]]). Counted by job group; a marker job in a
    * second group runs after `body`, and the listener bus delivers
    * events in order, so once the marker is seen every job of `body`
    * has been.
    */
  private def jobsOf(body: => Any, metaOnly: Boolean = false): Int = {
    val sc = spark.sparkContext
    val group = s"storeepoch-${java.util.UUID.randomUUID()}"
    val counted = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case g if g == group =>
            // a stage's details are its job's long-form call site, whose
            // top frame is the first frame outside Spark
            if (!metaOnly ||
              e.stageInfos.exists(_.details.contains("graft.operators.StoreEpoch$.readMeta(")))
              counted.incrementAndGet()
          case g if g == s"$group-marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "listener never saw the marker job")
      counted.get
    } finally sc.removeSparkListener(listener)
  }

  test("commit: a failing standing copy leaves the epoch incomplete — meta lands last") {
    val dst = tmp("commit")
    intercept[java.io.FileNotFoundException] {
      StoreEpoch.commit(spark, dst, "se_commit", Seq("num_buckets" -> 4),
        Some(StoreEpoch.Standing(s"${tmp("nosrc")}/absent", Seq("grams")))) {
        Seq(1L).toDF("id").write.parquet(s"$dst/grams")
      }
    }
    assert(partFiles(s"$dst/grams").nonEmpty, "the table step runs before the copy")
    assert(!StoreEpoch.complete(spark, dst), "meta must not land when the copy throws")
    // the same commit with a standing side that exists lands meta last
    // and refreshes the registration the copied files joined
    val src = tmp("src")
    Seq(2L).toDF("id").write.mode("overwrite").parquet(s"$src/grams")
    StoreEpoch.commit(spark, dst, "se_commit", Seq("num_buckets" -> 4, "bands" -> 2),
      Some(StoreEpoch.Standing(src, Seq("grams")))) {
      Seq(1L).toDF("id").write.mode("overwrite").option("path", s"$dst/grams")
        .saveAsTable("se_commit_grams")
    }
    assert(StoreEpoch.complete(spark, dst))
    val meta = StoreEpoch.readMeta(spark, dst)
    assert((meta.getInt(0), meta.getInt(1)) == (4, 2))
    assert(spark.table("se_commit_grams").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("copyBucketFiles: copying the same directory twice succeeds and leaves the same files") {
    val src = tmp("copysrc")
    spark.range(40).repartition(3).write.mode("overwrite").parquet(s"$src/t")
    val dst = tmp("copydst")
    StoreEpoch.copyBucketFiles(spark, s"$src/t", dst)
    val first = partFiles(dst)
    assert(first == partFiles(s"$src/t") && first.size == 3)
    // a re-run after a partial (here: complete) copy converges
    StoreEpoch.copyBucketFiles(spark, s"$src/t", dst)
    assert(partFiles(dst) == first)
  }

  test("registration guard: reopening a registered store starts only the meta read's jobs; a name registered elsewhere fails under its face") {
    val docs = Seq((1L, "the quick brown fox jumps"), (2L, "over the lazy dog today"))
      .toDF("doc_id", "text")
    val sigDir = tmp("sig")
    Dedup.writeSignatures(Dedup.minHashSignatures(docs, "doc_id", "text"), sigDir, "se_guard_sig")
    val rng = new scala.util.Random(5)
    val vecs = (0L until 64L).map(i => (i, Seq.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val ivf = Similarity.trainIvf(vecs, "embedding", nlist = 4, seed = 3L)
    val pq = Similarity.trainPq(vecs, "embedding", m = 4, ksub = 8, seed = 3L)
    val vecDir = tmp("vec")
    VectorStore.write(vecs, "vec_id", "embedding", vecDir, "se_guard_vec", ivf, pq,
      numBuckets = 4)
    // both stores are registered by their writes: reopening checks two
    // registrations each, through the catalog, with no job
    assert(jobsOf(Dedup.readSignatures(spark, sigDir, "se_guard_sig")) ==
      jobsOf(spark.read.parquet(s"$sigDir/meta").head()))
    assert(jobsOf(VectorStore.read(spark, vecDir, "se_guard_vec")) ==
      jobsOf(spark.read.parquet(s"$vecDir/meta").head()))
    // a name registered at another path still fails, named by the face
    val sigDir2 = tmp("sig2")
    Dedup.writeSignatures(Dedup.minHashSignatures(docs, "doc_id", "text"), sigDir2, "se_guard_sig2")
    val sigErr = intercept[IllegalArgumentException] {
      Dedup.readSignatures(spark, sigDir2, "se_guard_sig")
    }
    assert(sigErr.getMessage.contains("readSignatures: table se_guard_sig_banded is " +
      "already registered at"), sigErr.getMessage)
    val vecDir2 = tmp("vec2")
    VectorStore.write(vecs, "vec_id", "embedding", vecDir2, "se_guard_vec2", ivf, pq,
      numBuckets = 4)
    val vecErr = intercept[IllegalArgumentException] {
      VectorStore.read(spark, vecDir2, "se_guard_vec")
    }
    assert(vecErr.getMessage.contains("VectorStore.read: table se_guard_vec_coded is " +
      "already registered at"), vecErr.getMessage)
  }

  test("merge, mergeSignatures and ingestDedup read each epoch's meta once") {
    val docs = Seq((1L, "the quick brown fox jumps"), (2L, "over the lazy dog today"))
      .toDF("doc_id", "text")
    val more = Seq((3L, "a wholly different sentence here")).toDF("doc_id", "text")
    val sig0 = tmp("once-sig0")
    Dedup.writeSignatures(Dedup.minHashSignatures(docs, "doc_id", "text"), sig0, "se_once_s0")
    val rng = new scala.util.Random(7)
    val vecs = (0L until 64L).map(i => (i, Seq.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val ivf = Similarity.trainIvf(vecs, "embedding", nlist = 4, seed = 3L)
    val pq = Similarity.trainPq(vecs, "embedding", m = 4, ksub = 8, seed = 3L)
    val vec0 = tmp("once-vec0")
    VectorStore.write(vecs.where($"vec_id" < 48L), "vec_id", "embedding", vec0, "se_once_v0",
      ivf, pq, numBuckets = 4)
    val oneRead = jobsOf(StoreEpoch.readMeta(spark, sig0), metaOnly = true)
    assert(oneRead > 0, "a meta read runs at least one job")
    // each call opens its source epoch and builds the destination store
    // from the values its meta was written from
    assert(jobsOf(Dedup.mergeSignatures(spark, sig0, "se_once_s0",
      Dedup.minHashSignatures(more, "doc_id", "text"), tmp("once-sig1"), "se_once_s1"),
      metaOnly = true) == oneRead)
    assert(jobsOf(VectorStore.merge(spark, vec0, "se_once_v0", vecs.where($"vec_id" >= 56L),
      "vec_id", "embedding", tmp("once-vec1"), "se_once_v1"), metaOnly = true) == oneRead)
    // ingestDedup hands the source it searched to the merge
    assert(jobsOf(VectorStore.ingestDedup(spark, vec0, "se_once_v0",
      vecs.where($"vec_id" >= 48L && $"vec_id" < 56L), "vec_id", "embedding",
      tmp("once-vec2"), "se_once_v2"), metaOnly = true) == oneRead)
    // the stores built without the read are the stores a reopen sees
    val sig3 = tmp("once-sig3")
    val sigs = Dedup.mergeSignatures(spark, sig0, "se_once_s0",
      Dedup.minHashSignatures(more, "doc_id", "text"), sig3, "se_once_s3")
    val sigsReread = Dedup.readSignatures(spark, sig3, "se_once_s3")
    assert(sigs.copy(banded = null, grams = null) ==
      sigsReread.copy(banded = null, grams = null))
    assert(sigs.grams.count() == 3L && sigsReread.grams.count() == 3L)
    val vec3 = tmp("once-vec3")
    val grown = VectorStore.merge(spark, vec0, "se_once_v0", vecs.where($"vec_id" >= 56L),
      "vec_id", "embedding", vec3, "se_once_v3")
    val reread = VectorStore.read(spark, vec3, "se_once_v3")
    assert(grown.numBuckets == reread.numBuckets && grown.opq == reread.opq &&
      grown.pq.codebooks.toSeq == reread.pq.codebooks.toSeq &&
      grown.ivf.centroids.map(_.toSeq).toSeq == reread.ivf.centroids.map(_.toSeq).toSeq)
    assert(grown.vecs.count() == 56L && reread.vecs.count() == 56L)
  }
}
