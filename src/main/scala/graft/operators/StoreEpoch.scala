package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.streaming.StreamingDedup

/** The epoch protocol both persisted stores share — the MinHash
  * signature store ([[Dedup.writeSignatures]]) and the coded-vector
  * ANN store ([[VectorStore.write]]). An epoch is one directory:
  * bucketed parquet tables `<path>/<sub>` registered in the session
  * catalog as `<name>_<sub>`, plus a one-row `meta` parquet of named
  * ints whose job-commit marker `meta/_SUCCESS` is the ONE signal that
  * the epoch is complete.
  *
  *   - [[register]] — open a table of an epoch: register it over the
  *     epoch directory, or check that an existing registration points
  *     there (catalog metadata, no Spark job);
  *   - [[commit]] — land an epoch in one fixed order: data tables, the
  *     standing files a merge carries over, catalog refresh, `meta`
  *     LAST (the rule Delta Lake's commit protocol rests on: the
  *     completeness marker lands after everything it vouches for);
  *   - [[compactionTurn]] — the crash-recoverable streaming compaction
  *     turn both stores run, parameterised by the store's open and fold.
  */
object StoreEpoch {

  /** Default ports for the schemes whose URIs commonly appear both
    * with and without one ([[normalizeStoreLocation]] strips them).
    * Not exhaustive — an unlisted scheme just compares its authority
    * verbatim.
    */
  private val defaultFsPorts: Map[String, Int] =
    Map("hdfs" -> 8020, "webhdfs" -> 9870, "ftp" -> 21)

  /** The [[register]] guard's canonical spelling of a store location:
    * qualified (schemeful paths as-is — qualifying would instantiate a
    * live FS client for a cluster we may only be COMPARING against;
    * scheme-less via the session conf's default FS), scheme and
    * authority lower-cased (DNS hostnames compare case-insensitively),
    * the scheme's default port stripped ([[defaultFsPorts]] —
    * `hdfs://nn:8020/x` and `hdfs://nn/x` name the same filesystem),
    * trailing slash dropped. Two locations are "the same store" iff
    * their normalized spellings are equal. Hadoop Path, NOT java.nio:
    * catalog locations are qualified URIs on whatever filesystem the
    * store lives on (hdfs/s3a/file), and NIO has no provider for
    * cluster schemes.
    */
  private[graft] def normalizeStoreLocation(p: Path, hadoopConf: Configuration): String = {
    val q =
      if (p.toUri.getScheme != null) p
      else p.getFileSystem(hadoopConf).makeQualified(p)
    val u = q.toUri
    val scheme = Option(u.getScheme).map(_.toLowerCase).getOrElse("")
    val auth = Option(u.getAuthority).getOrElse("").toLowerCase
    val authNorm = defaultFsPorts.get(scheme) match {
      case Some(dp) if auth.endsWith(s":$dp") =>
        auth.dropRight(dp.toString.length + 1)
      case _ => auth
    }
    s"$scheme://$authNorm${u.getPath.stripSuffix("/")}"
  }

  /** Table `<name>_<sub>` of the epoch at `path`. In a fresh session it
    * is registered over `<path>/<sub>` (DDL with the meta's bucket
    * spec — bucketing metadata lives in the catalog, not the files, so
    * this is what restores the no-exchange join property after a
    * restart). A name already registered at a DIFFERENT location fails
    * actionably under the caller's `face` instead of silently serving
    * stale rows — epoch directories with reused names are exactly the
    * merge workflow. The registered location comes from the session
    * catalog, so checking an open store runs no Spark job.
    */
  private[graft] def register(
      spark: SparkSession,
      face: String,
      path: String,
      name: String,
      sub: String,
      schema: String,
      key: String,
      numBuckets: Int,
  ): DataFrame = {
    val table = s"${name}_$sub"
    if (!spark.catalog.tableExists(table))
      spark.sql(
        s"CREATE TABLE $table ($schema) USING PARQUET " +
          s"CLUSTERED BY ($key) SORTED BY ($key) INTO $numBuckets BUCKETS " +
          s"LOCATION '$path/$sub'")
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val registered = normalizeStoreLocation(
        new Path(spark.sessionState.catalog.getTableMetadata(ident).location), conf)
      val expected = normalizeStoreLocation(new Path(s"$path/$sub"), conf)
      require(registered == expected,
        s"$face: table $table is already registered at $registered, not $expected — " +
          "use a distinct name per store path (epoch-suffixed names) " +
          "or DROP TABLE the stale registration first")
    }
    spark.table(table)
  }

  /** The epoch's meta row, written by [[commit]]. */
  private[graft] def readMeta(spark: SparkSession, path: String): Row =
    spark.read.parquet(s"$path/meta").head()

  /** Whether the epoch at `path` is complete: its meta job committed.
    * The marker, not the directory — Spark creates the output dir at
    * job setup, so a crash DURING the meta write leaves an empty meta
    * dir that a bare existence test would trust.
    */
  private[graft] def complete(spark: SparkSession, path: String): Boolean = {
    val p = new Path(s"$path/meta/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The standing side of a merge: the source epoch directory and the
    * table subdirectories whose part files move verbatim into the
    * destination epoch.
    */
  private[graft] final case class Standing(srcPath: String, subs: Seq[String])

  /** Land the epoch `name` at `path`: `writeTables` (the bucketed table
    * writes and any side files), then the `standing` part files, then
    * a catalog refresh of the tables those files joined, then `meta`
    * (one row, one int column per entry) LAST. A crash at any step
    * before the meta job commits leaves an epoch that [[complete]]
    * reports incomplete, and every step is safe to re-run: the table
    * writes overwrite, the copy overwrites (see [[copyBucketFiles]]).
    */
  private[graft] def commit(
      spark: SparkSession,
      path: String,
      name: String,
      meta: Seq[(String, Int)],
      standing: Option[Standing] = None,
  )(writeTables: => Unit): Unit = {
    writeTables
    standing.foreach { s =>
      s.subs.foreach(sub => copyBucketFiles(spark, s"${s.srcPath}/$sub", s"$path/$sub"))
      s.subs.foreach(sub => spark.catalog.refreshTable(s"${name}_$sub"))
    }
    spark
      .createDataFrame(
        java.util.List.of(Row.fromSeq(meta.map(_._2))),
        StructType(meta.map { case (col, _) => StructField(col, IntegerType, nullable = false) }))
      .coalesce(1)
      .write
      .mode(SaveMode.Overwrite)
      .parquet(s"$path/meta")
  }

  /** Copy a bucketed table directory's data files into another
    * bucketed table directory of the SAME bucket spec — the standing
    * side of a store merge. Only `part-*` data files move (commit
    * markers stay); names are kept verbatim — the `_NNNNN` bucket
    * suffix is what assigns a file to its bucket. Every write job
    * stamps a fresh UUID into its part names, so a same-name file at
    * the destination is an earlier attempt's copy of the same bytes:
    * the copy overwrites it, and a re-run after a partial copy
    * converges instead of failing on the name.
    */
  private[graft] def copyBucketFiles(spark: SparkSession, srcDir: String, dstDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val srcPath = new Path(srcDir)
    val fs = srcPath.getFileSystem(conf)
    fs.listStatus(srcPath).foreach { st =>
      val name = st.getPath.getName
      if (st.isFile && name.startsWith("part-")) {
        val ok = FileUtil.copy(fs, st.getPath, fs, new Path(dstDir, name),
          false, true, conf)
        require(ok, s"copyBucketFiles: failed to copy standing file $name to $dstDir")
      }
    }
  }

  /** One epoch of a store: its directory and catalog name. */
  private[graft] final case class Epoch(path: String, name: String)

  /** ONE compaction turn of a store whose increments land as
    * `inc_<batchId>` parquet dirs under `incDir` and whose epochs live
    * as `epoch<n>` dirs under `epochRoot`, registered as
    * `<baseName>_e<n>_<sub>` for each of `tableSubs`. `open` reads an
    * epoch; `fold` merges an increment frame from the source epoch into
    * the next one. Returns the store every later call should use;
    * `face` names the public wrapper in the stale-caller refusal.
    * Recovery is decided from metadata alone — the listed batchIds,
    * the `foldmark` landed before the fold, and [[complete]] — with the
    * crash windows documented on
    * [[graft.streaming.StreamingDedup.compactSignatureStore]].
    * Retirement is a catalog-vs-directory diff: every
    * `<baseName>_e<n>_<sub>` registration (n ≤ the live epoch) whose
    * epoch dir no longer exists is dropped, so strands left by a turn
    * that died between the directory deletion and the DROPs heal on
    * the next turn.
    */
  private[graft] def compactionTurn[S](
      spark: SparkSession,
      face: String,
      epochRoot: String,
      baseName: String,
      tableSubs: Seq[String],
      srcEpoch: Int,
      incDir: String,
      keepEpochs: Int,
      upToBatchId: Long,
  )(open: Epoch => S, fold: (Epoch, DataFrame, Epoch) => S): S = {
    val src = Epoch(s"$epochRoot/epoch$srcEpoch", s"${baseName}_e$srcEpoch")
    val next = Epoch(s"$epochRoot/epoch${srcEpoch + 1}", s"${baseName}_e${srcEpoch + 1}")
    def finishTurn(live: S): S = {
      Dedup.pruneSignatureEpochs(spark, epochRoot, keepEpochs, upTo = srcEpoch + 1L)
      val fs = new Path(epochRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val epochTable = (s"^${java.util.regex.Pattern.quote(baseName)}_e(\\d+)_" +
        tableSubs.mkString("(?:", "|", ")$")).r
      spark.sql(s"SHOW TABLES LIKE '${baseName}_e*'").collect().foreach { row =>
        val t = row.getString(1)
        epochTable.findFirstMatchIn(t).map(_.group(1).toLong).foreach { n =>
          // higher-than-live indices are an aborted future run's
          // business, the same cap as the directory prune
          if (n <= srcEpoch + 1L && !fs.exists(new Path(s"$epochRoot/epoch$n")))
            spark.sql(s"DROP TABLE IF EXISTS $t")
        }
      }
      live
    }
    val listed = StreamingDedup.listSignatureIncrements(spark, incDir)
    // a complete next epoch is never answered with the source store:
    // resurrecting it would let the next fold clobber the live epoch
    if (listed.isEmpty)
      // a complete next epoch here is a turn that crashed after its
      // increment prune: finish retirement, hand back the LIVE epoch
      if (complete(spark, next.path)) finishTurn(open(next)) else open(src)
    else {
      val lastListed = listed.map(_._1).max
      def pruneAndFinish(live: S): S = {
        StreamingDedup.pruneSignatureIncrements(spark, incDir, math.min(upToBatchId, lastListed))
        finishTurn(live)
      }
      if (complete(spark, next.path)) {
        // its foldmark landed before its data and its meta after, so it
        // is trusted: listed batchIds at or under it were folded by the
        // crashed turn, any above it mean the caller lags the live store
        val mark = StreamingDedup.readFoldmark(spark, next.path)
        val unFolded = listed.map(_._1).filter(_ > mark)
        require(unFolded.isEmpty,
          s"$face: ${next.path} already holds a complete epoch whose " +
            s"foldmark ($mark) predates landed increments ${unFolded.mkString(",")} — " +
            s"srcEpoch=$srcEpoch is stale (the live store is epoch ${srcEpoch + 1} " +
            "or later); re-run with the current epoch index, or the fold would " +
            "clobber the live epoch")
        pruneAndFinish(open(next))
      } else {
        // increments at or under the source epoch's own foldmark were
        // folded into it by a turn whose prune crashed: skipped by
        // batchId, so recovery never trips the fold's disjointness check
        val srcMark = StreamingDedup.readFoldmark(spark, src.path)
        val freshPaths = listed.collect { case (b, p) if b > srcMark => p }
        lazy val inc = spark.read.parquet(freshPaths: _*)
        // nothing fresh, or only zero-row batches: no copy epoch, but the
        // turn completes, so retirement runs as on every other branch
        if (freshPaths.isEmpty || inc.isEmpty) pruneAndFinish(open(src))
        else {
          // foldmark FIRST: a crash before the fold's meta leaves an
          // incomplete epoch whose foldmark the re-run overwrites
          StreamingDedup.writeFoldmark(spark, next.path, lastListed)
          pruneAndFinish(fold(src, inc, next))
        }
      }
    }
  }
}
