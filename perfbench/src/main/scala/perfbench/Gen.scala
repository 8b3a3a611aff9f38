package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Seeded input generator with planted truth. It writes parquet files
  * only; the program reads nothing else. The planted truth (noise
  * level, duplicate clusters, near-duplicate pairs, query sources)
  * stays in these objects, on the benchmark's side.
  *
  * Every value is a pure function of the seed, and every file set is
  * written from a fixed number of slices, so the same seed gives
  * byte-identical files on any machine.
  */
object Gen {
  val Slices = 8

  /** murmur3's 64-bit finalizer: nearby seeds give unrelated streams. */
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  private def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) + salt))

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String,
      partitionBy: Seq[String] = Nil): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, Slices), schema)
      .write.mode("overwrite").partitionBy(partitionBy: _*).parquet(path)

  // ------------------------------------------------------------ ml_sql

  /** Regression tables for the 5→64→32→1 demo net: y = f(x) + N(0, σ²). */
  final case class MlSet(trainPath: String, scorePath: String, nTrain: Int, nScore: Int,
      noiseVar: Double, scoreTargetVar: Double)

  val MlNoiseSd = 0.1

  def signal(x: Array[Float]): Double =
    math.sin(2.0 * x(0)) + 0.5 * x(1) * x(2) - 0.3 * x(3) * x(3) + 0.4 * x(4)

  private val mlSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false)),
    StructField("targets", ArrayType(FloatType, containsNull = false))))

  /** Row `i` of an ML table: a pure function of (seed, salt, i), so the
    * rows can be generated in parallel, in any order.
    */
  private def mlRow(seed: Long, salt: Long, i: Long): Row = {
    val r = rng(seed, salt * 0x100000001B3L + i)
    val x = Array.fill(5)((r.nextDouble() * 2 - 1).toFloat)
    val y = (signal(x) + MlNoiseSd * r.nextGaussian()).toFloat
    Row(i, x.toSeq, Seq(y))
  }

  def ml(spark: SparkSession, dir: String, seed: Long, nTrain: Int, nScore: Int): MlSet = {
    def table(salt: Long, n: Int, path: String) = {
      val rows = spark.sparkContext.range(0L, n.toLong, 1L, Slices).map(i => mlRow(seed, salt, i))
      spark.createDataFrame(rows, mlSchema).write.mode("overwrite").parquet(path)
    }
    table(11, nTrain, s"$dir/ml_train")
    table(12, nScore, s"$dir/ml_score")
    val targetVar = spark.read.parquet(s"$dir/ml_score")
      .selectExpr("var_pop(targets[0])").head().getDouble(0)
    MlSet(s"$dir/ml_train", s"$dir/ml_score", nTrain, nScore, MlNoiseSd * MlNoiseSd, targetVar)
  }

  // ----------------------------------------------------- corpus_ingest

  /** A crawl: Zipf host popularity, per-host boilerplate lines, a
    * Russian share, tracking-parameter URL variants, junk pages, exact
    * duplicates and near-duplicate chains. `exactClusters` and
    * `nearClusters` list page ids; each must keep at most one survivor.
    */
  final case class Crawl(path: String, nPages: Int, hosts: Int, maxPerHost: Int,
      exactClusters: Seq[Seq[Long]], nearClusters: Seq[Seq[Long]], junk: Set[Long],
      russian: Set[Long], pagesPerHost: Map[String, Int])

  private val en = ("time person year way day thing man world life hand part child eye " +
    "woman place work week case point government company number group problem fact " +
    "river mountain garden window kitchen letter market winter summer morning evening " +
    "doctor teacher student village city country road bridge forest island ocean " +
    "station library museum theatre concert painting picture story history science " +
    "music language question answer reason result change system program data model " +
    "engine signal pattern record report detail method effect figure surface table " +
    "paper stone metal glass water light sound color weather season harvest market " +
    "travel journey friend family neighbor animal horse bird flower tree field farm " +
    "build carry follow bring begin keep hold write stand learn change lead understand " +
    "watch speak grow open walk offer remember consider appear serve expect create " +
    "quiet bright early heavy simple strong narrow gentle ancient modern careful " +
    "famous common public private local natural social special certain several").split(" ")
  private val enStop = Array("the", "and", "of", "to", "in", "is", "that", "with", "for", "was",
    "be", "have", "it", "on", "as")
  private val ru = ("время человек город дорога работа жизнь мир вопрос история семья " +
    "дом земля вода книга рука страна солнце утро вечер зима лето лес поле река " +
    "музыка школа учитель письмо окно улица деревня праздник погода машина слово " +
    "говорить делать знать видеть думать читать писать работать строить светлый " +
    "новый старый большой тихий ранний долгий простой добрый").split(" ")
  private val ruStop = Array("и", "в", "не", "на", "что", "он", "как", "мы", "это", "с", "по", "но")

  private def prose(r: SplittableRandom, words: Array[String], stops: Array[String],
      n: Int): Array[String] =
    Array.fill(n)(if (r.nextInt(10) < 3) stops(r.nextInt(stops.length))
                  else words(r.nextInt(words.length)))

  /** `k` single-word substitutions at distinct random positions. */
  private def edit(r: SplittableRandom, w: Array[String], k: Int): Array[String] = {
    val out = w.clone()
    val pos = mutable.LinkedHashSet.empty[Int]
    while (pos.size < k) pos += r.nextInt(w.length)
    pos.foreach(p => out(p) = s"${out(p)}${r.nextInt(9000) + 1000}")
    out
  }

  private def page(host: Int, body: String): String =
    "<html><head><script>var t = 1 < 2;</script></head><body>" +
      s"<div>Home | News | About site$host | Contact the site$host editors</div>" +
      s"<p>$body</p>" +
      s"<div>Copyright site$host media group all rights reserved worldwide</div>" +
      "</body></html>"

  private val crawlSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("html", StringType),
    StructField("url", StringType)))

  def crawl(spark: SparkSession, dir: String, name: String, seed: Long, uniquePages: Int,
      maxPerHost: Int): Crawl = {
    val r = rng(seed, 21 + name.hashCode)
    val hosts = 40
    val zipf = (1 to hosts).map(k => 1.0 / math.pow(k, 1.1))
    val cum = zipf.scanLeft(0.0)(_ + _).tail.map(_ / zipf.sum)
    def pickHost(): Int = { val u = r.nextDouble(); cum.indexWhere(_ >= u) max 0 }
    val rows = mutable.ArrayBuffer.empty[(Long, String, String)]
    var nextId = 1L
    def add(host: Int, body: String, query: String = ""): Long = {
      val id = nextId
      nextId += 1
      rows += ((id, page(host, body), s"http://site$host.example/p/$id$query"))
      id
    }
    def enBody(): Array[String] = prose(r, en, enStop, 120 + r.nextInt(100))
    // each host's landing page comes first: it holds the first
    // occurrence of the host's boilerplate lines, which line dedup keeps
    (0 until hosts).foreach(h => add(h, enBody().mkString(" ")))
    val exact = mutable.ArrayBuffer.empty[Seq[Long]]
    val near = mutable.ArrayBuffer.empty[Seq[Long]]
    val junk = mutable.Set.empty[Long]
    val russian = mutable.Set.empty[Long]
    (0 until uniquePages).foreach { _ =>
      val h = pickHost()
      r.nextInt(100) match {
        case x if x < 15 =>
          russian += add(h, prose(r, ru, ruStop, 100 + r.nextInt(80)).mkString(" "))
        case x if x < 18 => // symbol soup: no language, dropped at the language gate
          junk += add(h, Seq.fill(40)(s"### ${r.nextInt(99999)} ...").mkString(" "))
        case x if x < 20 => // too short: fails the quality rules
          junk += add(h, prose(r, en, enStop, 12).mkString(" "))
        case x if x < 23 => // exact copies under other urls, possibly other hosts
          val body = enBody().mkString(" ")
          val first = add(h, body)
          exact += first +: Seq.fill(1 + r.nextInt(2))(add(pickHost(), body))
        case x if x < 25 => // the same page behind tracking parameters
          val body = enBody().mkString(" ")
          val first = add(h, body)
          exact += Seq(first,
            add(h, body, s"?utm_source=mail&utm_campaign=c${r.nextInt(50)}"),
            add(h, body, s"?gclid=g${r.nextInt(100000)}"))
        case x if x < 28 => // near-dup chain of 4: each link edits 3 words of the
          // previous page, so neighbours are near-dups and the ends mostly not
          var w = enBody()
          val ids = mutable.ArrayBuffer(add(h, w.mkString(" ")))
          (1 until 4).foreach { _ =>
            w = edit(r, w, 3)
            ids += add(pickHost(), w.mkString(" "))
          }
          near += ids.toSeq
        case _ => add(h, enBody().mkString(" "))
      }
    }
    write(spark, rows.toSeq.map { case (i, h, u) => Row(i, h, u) }, crawlSchema, s"$dir/$name")
    val perHost = rows.groupBy { case (_, _, u) => u.stripPrefix("http://").takeWhile(_ != '/') }
      .map { case (k, v) => k -> v.size }
    Crawl(s"$dir/$name", rows.size, hosts, maxPerHost, exact.toSeq, near.toSeq, junk.toSet,
      russian.toSet, perHost)
  }

  // ------------------------------------------------------ store_epochs

  /** One day's increment: `nearDup` maps each planted near-duplicate's
    * id to the standing (epoch-0) document it copies; every other doc
    * is fresh. `querySource` maps each query id to the epoch-0 vector
    * it perturbs (its true nearest neighbour).
    */
  final case class Increment(day: Int, docsPath: String, queriesPath: String, ids: Seq[Long],
      nearDup: Map[Long, Long], querySource: Map[Long, Long]) {
    def docs(spark: SparkSession): DataFrame = Gen.day(spark, docsPath, day)
    def queries(spark: SparkSession): DataFrame = Gen.day(spark, queriesPath, day)
  }

  /** One day's rows of a day-partitioned input set (increments and
    * query batches are one parquet set each, partitioned by `day`).
    */
  def day(spark: SparkSession, path: String, d: Int): DataFrame =
    spark.read.parquet(path).where(col("day") === d).drop("day")

  /** `warm` is a small extra increment (day 0) for the untimed warm-up. */
  final case class StoreSet(basePath: String, baseIds: Seq[Long], increments: Seq[Increment],
      warm: Increment, vectors: Map[Long, Array[Float]], texts: Map[Long, String],
      queries: Map[Long, Array[Float]], dim: Int)

  val Dim = 32

  /** Query ids start here, above every document id: the program's
    * search drops a candidate whose id equals the query's, so the two
    * id ranges must not meet.
    */
  val QueryIdBase = 1000000000L

  private val storeSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("vec", ArrayType(FloatType, containsNull = false))))
  private val querySchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false))))
  private def byDay(schema: StructType) = schema.add(StructField("day", IntegerType, nullable = false))

  def store(spark: SparkSession, dir: String, seed: Long, nBase: Int, increments: Int,
      perIncrement: Int, queries: Int, warmDocs: Int, warmQueries: Int): StoreSet = {
    val r = rng(seed, 31)
    val syll = Array("ka", "lo", "mi", "ten", "ra", "vo", "shi", "du", "pe", "na", "gor", "el",
      "tu", "bra", "si", "om", "ze", "ca", "fin", "ru")
    val vocab = Array.fill(4000)(Seq.fill(2 + r.nextInt(2))(syll(r.nextInt(syll.length))).mkString)
    val centers = Array.fill(48)(Array.fill(Dim)(r.nextGaussian().toFloat))
    def words(): Array[String] = Array.fill(60 + r.nextInt(40))(vocab(r.nextInt(vocab.length)))
    def jitter(v: Array[Float], sd: Double): Array[Float] =
      v.map(x => (x + sd * r.nextGaussian()).toFloat)
    val texts = mutable.LinkedHashMap.empty[Long, String]
    val vecs = mutable.LinkedHashMap.empty[Long, Array[Float]]
    val qvecs = mutable.LinkedHashMap.empty[Long, Array[Float]]
    val baseIds = (1 to nBase).map(_.toLong)
    baseIds.foreach { id =>
      texts(id) = words().mkString(" ")
      vecs(id) = jitter(centers(r.nextInt(centers.length)), 0.6)
    }
    def rowsOf(ids: Seq[Long]) = ids.map(i => Row(i, texts(i), vecs(i).toSeq))
    write(spark, rowsOf(baseIds), storeSchema, s"$dir/store_base")
    var nextQ = QueryIdBase
    var nextId = nBase + 1L
    val (docsPath, queriesPath) = (s"$dir/store_inc", s"$dir/store_q")
    val docRows = mutable.ArrayBuffer.empty[Row]
    val queryRows = mutable.ArrayBuffer.empty[Row]
    // day 0 is the small warm-up increment
    val sizes = ((warmDocs, warmQueries)) +: Seq.fill(increments)((perIncrement, queries))
    val incs = sizes.zipWithIndex.map { case ((nDocs, nQueries), e) =>
      val ids = (0 until nDocs).map(j => nextId + j)
      nextId += nDocs
      val nearDup = mutable.LinkedHashMap.empty[Long, Long]
      ids.foreach { id =>
        if (r.nextInt(5) == 0) {
          val src = baseIds(r.nextInt(nBase))
          val w = texts(src).split(" ")
          texts(id) = edit(r, w, 1).mkString(" ")
          vecs(id) = jitter(vecs(src), 0.05)
          nearDup(id) = src
        } else {
          texts(id) = words().mkString(" ")
          vecs(id) = jitter(centers(r.nextInt(centers.length)), 0.6)
        }
      }
      val qs = (0 until nQueries).map { _ =>
        val q = nextQ
        nextQ += 1
        val src = baseIds(r.nextInt(nBase))
        qvecs(q) = jitter(vecs(src), 0.02)
        q -> src
      }
      docRows ++= ids.map(i => Row(i, texts(i), vecs(i).toSeq, e))
      queryRows ++= qs.map { case (q, _) => Row(q, qvecs(q).toSeq, e) }
      Increment(e, docsPath, queriesPath, ids, nearDup.toMap, qs.toMap)
    }
    write(spark, docRows.toSeq, byDay(storeSchema), docsPath, Seq("day"))
    write(spark, queryRows.toSeq, byDay(querySchema), queriesPath, Seq("day"))
    StoreSet(s"$dir/store_base", baseIds, incs.tail, incs.head, vecs.toMap, texts.toMap,
      qvecs.toMap, Dim)
  }

  // -------------------------------------------------- shared truth math

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-k ids by cosine, ties broken by the smaller id. */
  def exactTopK(q: Array[Float], live: Iterable[(Long, Array[Float])], k: Int): Seq[Long] =
    live.iterator.map { case (id, v) => (cosine(q, v), id) }.toSeq
      .sortBy { case (c, id) => (-c, id) }.take(k).map(_._2)

  /** Word-3-shingle Jaccard, the similarity near-dup dedup verifies. */
  def shingleJaccard(a: String, b: String): Double = {
    def sh(s: String) = s.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }
}
