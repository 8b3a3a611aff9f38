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

  /** Jobs `body` starts. Counted by job group; a marker job in a second
    * group runs after `body`, and the listener bus delivers events in
    * order, so once the marker is seen every job of `body` has been.
    */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"storeepoch-${java.util.UUID.randomUUID()}"
    val counted = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case g if g == group => counted.incrementAndGet()
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
}
