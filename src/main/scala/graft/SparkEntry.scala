package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.operators.{Dedup, Multimodal, Quantize, QualityFilters, Similarity, TextAnalysis}
import graft.sql.Macros
import graft.streaming.EventStreams

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Numeric-parity rules used throughout (the DuckDB oracle compares
  * value hashes, so results must be BIT-equal, not approximately
  * equal):
  *   - Aggregated doubles are summed as exact DECIMAL and only then
  *     cast to double — decimal addition is associative, so the result
  *     is independent of Spark's partitioning and matches DuckDB's
  *     sequential sum exactly.
  *   - Per-row scalar arithmetic (casts, ratios, cosines on DOUBLE)
  *     uses the same IEEE-754 operation sequence in both engines.
  *   - Every query ORDER BYs a unique key so row order matches.
  */
object SparkEntry {

  private def load(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.load(s, dir, name)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q1PricingSummary(spark, "/root/testdata/sf0.001")

  // ======================================================== §2.2 relational

  /** TPC-H-Q1-style pricing summary: S7 aggregates over lineitem.
    * One hash aggregation — partial agg map-side, 4-group output.
    */
  private def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"), // integral doubles: exact in any order
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)"))
          .cast("double")
          .as("sum_disc_price"),
        (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(lit(1)))
          .as("avg_qty"),
        count(lit(1)).as("count_order"),
      )
      .orderBy("l_returnflag", "l_linestatus")

  private val q1Oracle =
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** S7 global (no GROUP BY) aggregates with order-independent
    * stddev_pop derived from exact decimal moments.
    */
  private def q2GlobalStats(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
    val qDec = col("l_quantity").cast("decimal(18,2)")
    val sumQ = sum(qDec).cast("double")
    val sumQ2 = sum(qDec * qDec).cast("double")
    val n = count(lit(1)).cast("double")
    li.agg(
      (sumQ / n).as("avg_qty"),
      sqrt(sumQ2 / n - (sumQ / n) * (sumQ / n)).as("stddev_qty"),
      min(col("l_quantity")).as("min_qty"),
      max(col("l_quantity")).as("max_qty"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"),
      count(lit(1)).as("n_rows"),
    )
  }

  private val q2Oracle =
    """SELECT
      |  CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty,
      |  sqrt(CAST(sum(q*q) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |       - (CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE))
      |         * (CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE))) AS stddev_qty,
      |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
      |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
      |  count(*) AS n_rows
      |FROM (SELECT l_quantity, l_extendedprice, CAST(l_quantity AS DECIMAL(18,2)) AS q FROM lineitem)""".stripMargin

  /** S5/S6: the reference's `scaling_params` table macro
    * (test/sql/autompg.sql:4-10) over lineitem numerics.
    */
  private def q3ScalingParams(s: SparkSession, dir: String): DataFrame =
    Macros.scalingParams(
      load(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    )

  private val q3Oracle = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val exprs = cols.flatMap { c =>
      Seq(
        s"min($c) AS min_$c",
        s"max($c) AS max_$c",
        s"CAST(sum(CAST($c AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_$c",
      )
    }
    s"SELECT ${exprs.mkString(", ")} FROM lineitem"
  }

  /** S4 + S10 + S11: `min_max_scaler` macro applied through a
    * broadcast cross join of the 1-row params relation
    * (reference test/sql/autompg.sql:60-72).
    */
  private def q4MinMaxScaled(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
    val params = li.agg(
      min("l_quantity").as("mn_q"),
      max("l_quantity").as("mx_q"),
      min("l_extendedprice").as("mn_p"),
      max("l_extendedprice").as("mx_p"),
    )
    li.crossJoin(broadcast(params))
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        Macros.minMaxScaler(col("l_quantity"), col("mn_q"), col("mx_q")).as("q_scaled"),
        Macros.minMaxScaler(col("l_extendedprice"), col("mn_p"), col("mx_p")).as("p_scaled"),
      )
      .orderBy("l_orderkey", "l_linenumber")
  }

  private val q4Oracle =
    """SELECT l_orderkey, l_linenumber,
      |  (l_quantity - mn_q) / nullif(mx_q - mn_q, 0) AS q_scaled,
      |  (l_extendedprice - mn_p) / nullif(mx_p - mn_p, 0) AS p_scaled
      |FROM lineitem CROSS JOIN (
      |  SELECT min(l_quantity) mn_q, max(l_quantity) mx_q,
      |         min(l_extendedprice) mn_p, max(l_extendedprice) mx_p
      |  FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** S9/S2/S8: CTE + join + group — the identical SQL text runs on
    * both engines (Spark SQL's declarative surface IS the operator
    * here).
    */
  private val q5Sql =
    """WITH order_totals AS (
      |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS tot
      |  FROM orders GROUP BY o_custkey)
      |SELECT c.c_custkey, c.c_name, CAST(t.tot AS DOUBLE) AS total_spent
      |FROM customer c JOIN order_totals t ON c.c_custkey = t.o_custkey
      |ORDER BY total_spent DESC, c_custkey LIMIT 100""".stripMargin

  private def q5TopCustomers(s: SparkSession, dir: String): DataFrame = {
    load(s, dir, "orders").createOrReplaceTempView("orders")
    load(s, dir, "customer").createOrReplaceTempView("customer")
    s.sql(q5Sql)
  }

  /** S3: `SELECT *,` extra derived columns. */
  private def q6RegionStar(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "region")
      .select(col("*"), upper(col("r_name")).as("r_name_upper"), length(col("r_name")).cast("bigint").as("r_name_len"))
      .orderBy("r_regionkey")

  private val q6Oracle =
    """SELECT *, upper(r_name) AS r_name_upper, length(r_name) AS r_name_len
      |FROM region ORDER BY r_regionkey""".stripMargin

  /** S12/S13/S14: array literal, 1-based indexing, ::float casts. */
  private def q7ArrayOps(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        array(
          col("l_quantity").cast("float"),
          col("l_discount").cast("float"),
          col("l_tax").cast("float"),
        ).as("feats"),
      )
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        element_at(col("feats"), 1).as("f1"),
        element_at(col("feats"), 3).as("f3"),
        size(col("feats")).cast("bigint").as("n_feats"),
      )
      .orderBy("l_orderkey", "l_linenumber")

  private val q7Oracle =
    """SELECT l_orderkey, l_linenumber,
      |  ([l_quantity::FLOAT, l_discount::FLOAT, l_tax::FLOAT])[1] AS f1,
      |  ([l_quantity::FLOAT, l_discount::FLOAT, l_tax::FLOAT])[3] AS f3,
      |  len([l_quantity, l_discount, l_tax]) AS n_feats
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** S15: struct literal → JSON cast. */
  private def q8StructJson(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "nation")
      .select(
        col("n_nationkey"),
        to_json(struct(col("n_nationkey").as("key"), col("n_name").as("name"))).as("as_json"),
      )
      .orderBy("n_nationkey")

  private val q8Oracle =
    """SELECT n_nationkey,
      |  concat('{"key":', n_nationkey, ',"name":"', n_name, '"}') AS as_json
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** S17/S18: range() generator (random() excluded from compare —
    * nondeterministic by definition; exercised in tests instead).
    */
  private def q9RangeGen(s: SparkSession, dir: String): DataFrame =
    s.range(1000)
      .select(
        col("id"),
        (col("id") * 2).as("doubled"),
        (col("id") % 7).as("mod7"),
      )
      .orderBy("id")

  private val q9Oracle =
    """SELECT range AS id, range * 2 AS doubled, range % 7 AS mod7
      |FROM range(1000) ORDER BY id""".stripMargin

  /** S11: nullif as div-by-zero guard over real data. */
  private def q10NullifGuard(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        (col("l_extendedprice") / nullif(col("l_discount"), lit(0.0))).as("price_per_disc"),
      )
      .orderBy("l_orderkey", "l_linenumber")

  private val q10Oracle =
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice / nullif(l_discount, 0.0) AS price_per_disc
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Multi-way dimension join rollup — nation/region are tiny and
    * broadcast; only customer streams.
    */
  private def q11JoinRollup(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "customer")
      .join(broadcast(load(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(load(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_acctbal"),
      )
      .orderBy("r_name")

  private val q11Oracle =
    """SELECT r_name, count(*) AS n_customers,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** 3-way fact⋈dim⋈dim join rollup over part + supplier (broadcast
    * both dims; only lineitem streams — the canonical star-join shape).
    */
  private def q28BrandRevenue(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .join(broadcast(load(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(load(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_brand"), col("s_name"))
      .agg(
        count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)"))
          .cast("double")
          .as("revenue"),
        max(col("p_retailprice")).as("max_retail"),
      )
      .orderBy("p_brand", "s_name")

  private val q28Oracle =
    """SELECT p_brand, s_name, count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  max(p_retailprice) AS max_retail
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY p_brand, s_name
      |ORDER BY p_brand, s_name""".stripMargin

  // ========================================================== events/streams

  /** Sessionization (batch form of the streaming operator): window
    * lag + running sum, integer output only.
    */
  private def q12Sessions(s: SparkSession, dir: String): DataFrame =
    EventStreams
      .sessionize(load(s, dir, "events"), gapSeconds = 1800L)
      .select("event_id", "user_id", "session_seq")
      .orderBy("event_id")

  private val q12Oracle =
    """SELECT event_id, user_id,
      |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |FROM (
      |  SELECT event_id, user_id, ts,
      |    CASE WHEN lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch_ms(CAST(ts AS TIMESTAMP))
      |              - lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > 1800000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events)
      |ORDER BY event_id""".stripMargin

  /** Hourly rollup (shared batch/stream aggregation). */
  private def q13EventsHourly(s: SparkSession, dir: String): DataFrame =
    EventStreams
      .hourlyRollup(load(s, dir, "events"))
      .select(
        col("hour"),
        col("event_type"),
        col("n_events"),
        col("sum_value").cast("double").as("sum_value"),
      )
      .orderBy("hour", "event_type")

  private val q13Oracle =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Event-time session windows (native `session_window` aggregation,
    * the same code path Structured Streaming runs) — oracle rebuilt in
    * DuckDB from the lag/cumsum sessionization.
    */
  private def q30SessionWindows(s: SparkSession, dir: String): DataFrame =
    EventStreams
      .sessionWindows(load(s, dir, "events"), gap = "30 minutes", watermark = None)
      .select(
        col("user_id"),
        col("session_start"),
        col("session_end"),
        col("n_events"),
        col("sum_value").cast("double").as("sum_value"),
      )
      .orderBy("user_id", "session_start")

  private val q30Oracle =
    """WITH assigned AS (
      |  SELECT user_id, ts, value,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM (
      |    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |      CASE WHEN lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w IS NULL
      |             OR epoch_ms(CAST(ts AS TIMESTAMP)) - lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w > 1800000
      |           THEN 1 ELSE 0 END AS new_session
      |    FROM events
      |    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)))
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM assigned
      |GROUP BY user_id, session_seq
      |ORDER BY user_id, session_start""".stripMargin

  /** JSON property extraction from the events props column. */
  private def q14EventsJson(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("prop_k"),
      )
      .orderBy("event_id")

  private val q14Oracle =
    """SELECT event_id, CAST(props->>'$.k' AS INT) AS prop_k
      |FROM events ORDER BY event_id""".stripMargin

  // ============================================================ dedup suite

  private def q15DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup
      .exactDedup(load(s, dir, "documents"), "doc_id", "text")
      .select("doc_id", "content_hash", "canonical_id", "group_size", "is_canonical")
      .orderBy("doc_id")

  private val q15Oracle =
    """SELECT d.doc_id, md5(d.text) AS content_hash, g.canonical_id,
      |  g.group_size, d.doc_id = g.canonical_id AS is_canonical
      |FROM documents d
      |JOIN (SELECT md5(text) AS h, min(doc_id) AS canonical_id, count(*) AS group_size
      |      FROM documents GROUP BY 1) g
      |  ON md5(d.text) = g.h
      |ORDER BY d.doc_id""".stripMargin

  private def q16DedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup
      .minHashDedup(load(s, dir, "documents"), "doc_id", "text", threshold = 0.7)
      .orderBy("id")

  private def q17DedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup
      .simHashDedup(load(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
      .orderBy("id")

  /** N-gram Jaccard near-dup pairs — exact-verified, ORACLE-checkable
    * (DuckDB recomputes the same shingle sets with list functions).
    */
  private def q18DedupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup
      .ngramJaccardPairs(load(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.7)
      .orderBy("id_a", "id_b")

  private val q18Oracle =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                   for i in range(1, len(w) - 1)]) AS grams
      |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
      |                                   x -> x <> '') AS w
      |        FROM documents))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      |    / len(list_distinct(a.grams || b.grams)) AS jaccard
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      |    / len(list_distinct(a.grams || b.grams)) >= 0.7
      |ORDER BY id_a, id_b""".stripMargin

  /** Embedding near-dup pairs, exact (brute-force) — oracle-checkable
    * because both engines accumulate the cosine in DOUBLE in the same
    * order. The LSH scale path is q20.
    */
  private def q19NeardupEmbedding(s: SparkSession, dir: String): DataFrame =
    Similarity
      .bruteForceNearDupPairs(load(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.3)
      .orderBy("id_a", "id_b")

  private val q19Oracle =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                         CAST(b.embedding AS DOUBLE[])) AS cosine
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                             CAST(b.embedding AS DOUBLE[])) >= 0.3
      |ORDER BY id_a, id_b""".stripMargin

  /** Same operator through the SRP-LSH scale path (approximate —
    * rows-only check; recall asserted in ScalaTest vs q19).
    */
  private def q20NeardupEmbeddingLsh(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
    Dedup
      .embeddingNearDupPairs(e, "vec_id", "embedding", dim = 64, threshold = 0.3,
        numBits = 64, bands = 16)
      .orderBy("id_a", "id_b")
  }

  // ====================================================== similarity search

  private def q21SimTopk(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
    Similarity
      .bruteForceTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 10)
      .orderBy("query_id", "rank")
  }

  private val q21Oracle =
    """SELECT query_id, neighbor_id, rank, cosine FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
      |                           CAST(q.embedding AS DOUBLE[])) AS cosine,
      |    row_number() OVER (
      |      PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
      |                                      CAST(q.embedding AS DOUBLE[])) DESC,
      |               c.vec_id) AS rank
      |  FROM embeddings c
      |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
      |  WHERE c.vec_id <> q.vec_id)
      |WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** IVF ANN variant (approximate — rows-only; recall vs q21 asserted
    * in ScalaTest).
    */
  private def q22SimIvf(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
    val model = Similarity.trainIvf(e, "embedding", nlist = 16)
    Similarity
      .ivfTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 10, model, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  // =========================================================== text analysis

  private def q23TextStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis
      .qualityScore(load(s, dir, "documents"), "text")
      .select(
        col("doc_id"),
        col("n_tokens").cast("bigint").as("n_tokens"),
        TextAnalysis.bpeTokenEstimate(col("text")).cast("bigint").as("bpe_tokens"),
        col("punct_ratio"),
        col("digit_ratio"),
        col("upper_ratio"),
        col("mean_token_len"),
        col("stopword_ratio"),
        col("quality_score"),
      )
      .orderBy("doc_id")

  private val q23Oracle = {
    val stop = TextAnalysis.EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id, n_tokens,
       |  greatest(n_tokens, CAST(ceil(CAST(nws_chars AS DOUBLE) / 4) AS INT)) + punct_all AS bpe_tokens,
       |  punct / safe_chars AS punct_ratio,
       |  digits / safe_chars AS digit_ratio,
       |  uppers / safe_chars AS upper_ratio,
       |  CASE WHEN n_tokens = 0 THEN 0.0
       |       ELSE CAST(nws_chars AS DOUBLE) / n_tokens END AS mean_token_len,
       |  CASE WHEN n_tokens = 0 THEN 0.0
       |       ELSE CAST(stop_hits AS DOUBLE) / n_tokens END AS stopword_ratio,
       |  least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
       |    * (1.0 - least(punct / safe_chars * 4.0, 1.0) * 0.5)
       |    * (1.0 - least(digits / safe_chars * 4.0, 1.0) * 0.5)
       |    * (0.5 + least(CASE WHEN n_tokens = 0 THEN 0.0
       |                        ELSE CAST(stop_hits AS DOUBLE) / n_tokens END * 3.0, 1.0) * 0.5)
       |    AS quality_score
       |FROM (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       |    length(regexp_replace(text, '\\s+', '', 'g')) AS nws_chars,
       |    length(regexp_replace(text, '[\\p{L}\\p{N}\\s]+', '', 'g')) AS punct_all,
       |    CAST(greatest(length(text), 1) AS DOUBLE) AS safe_chars,
       |    length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS punct,
       |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
       |    length(regexp_replace(text, '[^A-Z]', '', 'g')) AS uppers,
       |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |                    x -> list_contains($stop, x))) AS stop_hits
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  private def q24LangId(s: SparkSession, dir: String): DataFrame =
    TextAnalysis
      .withLangId(load(s, dir, "documents"), "text")
      .select("doc_id", "lang", "lang_pred")
      .orderBy("doc_id")

  private def q25Fingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis
      .withFingerprints(load(s, dir, "documents"), "text")
      .select(
        col("doc_id"),
        col("fingerprint"),
        size(col("winnow_sig")).as("n_winnow"),
      )
      .orderBy("doc_id")

  /** PII redaction over documents — oracle-checkable because the
    * patterns are restricted to Java-regex/RE2-identical syntax.
    */
  private def q31PiiRedact(s: SparkSession, dir: String): DataFrame =
    TextAnalysis
      .redactPii(load(s, dir, "documents"), "text")
      .select(col("doc_id"), col("redacted"), col("pii_found"))
      .orderBy("doc_id")

  private val q31Oracle = {
    val e = TextAnalysis.EmailRe
    val i = TextAnalysis.Ipv4Re
    val p = TextAnalysis.PhoneRe
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$e', '[EMAIL]', 'g'),
       |    '$i', '[IP]', 'g'),
       |    '$p', '[PHONE]', 'g') AS redacted,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$e', '[EMAIL]', 'g'),
       |    '$i', '[IP]', 'g'),
       |    '$p', '[PHONE]', 'g') <> text AS pii_found
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Context-window chunking (64-token windows, stride 48) — the
    * pre-training segmentation fan-out, fully codegen (no UDF).
    */
  private def q32ChunkWindows(s: SparkSession, dir: String): DataFrame =
    TextAnalysis
      .chunkTokens(load(s, dir, "documents"), "doc_id", "text", window = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx")

  private val q32Oracle =
    """WITH t AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, w,
      |    unnest(range(0, CASE WHEN len(w) = 0 THEN 0 ELSE (len(w) - 1) // 48 + 1 END)) AS i
      |  FROM t)
      |SELECT doc_id, i AS chunk_idx,
      |  array_to_string(w[(i*48 + 1):least(i*48 + 64, len(w))], ' ') AS chunk_text,
      |  least(i*48 + 64, len(w)) - i*48 AS n_chunk_tokens
      |FROM c
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Deterministic content-addressed sample (md5 prefix '0' ≈ 1/16)
    * with a per-language rollup — reproducible-subcorpus primitive.
    */
  private def q33ContentSample(s: SparkSession, dir: String): DataFrame =
    TextAnalysis
      .contentSample(load(s, dir, "documents"), "text")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")

  private val q33Oracle =
    """SELECT lang, count(*) AS n_docs
      |FROM documents
      |WHERE substr(md5(text), 1, 1) = '0'
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Per-language corpus statistics rollup — the corpus report. */
  private def q34CorpusStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis
      .corpusStats(load(s, dir, "documents"), "text", Seq("lang"))
      .orderBy("lang")

  private val q34Oracle =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
      |               ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) END) AS BIGINT)
      |    AS total_tokens,
      |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
      |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
      |               ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) END) AS DOUBLE)
      |    / count(*) AS mean_tokens_per_doc
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Full corpus-preparation composition (filter → redact → dedup →
    * chunk) — rows-only (MinHash stage is engine-internal); stage
    * semantics are each oracle-checked individually (q15/q18/q23/q31/
    * q32) and the composition is asserted in CorpusPipelineSpec.
    */
  private def q35CorpusPipeline(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusPipeline
      .prepare(
        load(s, dir, "documents"),
        "doc_id",
        "text",
        langs = Seq("en", "de", "fr", "es", "it"),
        langCol = Some("lang"),
        minQuality = 0.2,
        jaccardThreshold = 0.7,
        window = 128,
        stride = 128,
      )
      .orderBy("doc_id", "chunk_idx")

  // ==================================================== temporal + sampling

  /** As-of join: every purchase event annotated with the user's most
    * recent prior (or simultaneous) 'view' event — the point-in-time
    * feature-lookup primitive. Union + one window shuffle (see
    * [[graft.operators.AsofJoin]]); oracle is DuckDB's native
    * ASOF LEFT JOIN over the identically pre-deduped right side.
    */
  private def q36AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "events")
    val purchases = e
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    // dedupe right side to one row per (user, ts) — deterministic
    // as-of ties in both engines (keep max event_id's row)
    val views = e
      .where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("event_id"), max_by(col("value"), col("event_id")).as("value"))
    graft.operators.AsofJoin
      .asofBackward(purchases, views, Seq("user_id"), "ts", "ts", Seq("event_id", "value"))
      .select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        col("asof_ts").as("asof_view_ts"),
        col("asof_event_id").as("asof_view_event_id"),
        col("asof_value").as("asof_view_value"),
      )
      .orderBy("event_id")
  }

  private val q36Oracle =
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |           FROM events),
      |p AS (SELECT event_id, user_id, ts, value FROM e WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, ts, max(event_id) AS event_id, max_by(value, event_id) AS value
      |      FROM e WHERE event_type = 'view' GROUP BY user_id, ts)
      |SELECT p.event_id, p.user_id, p.ts, p.value,
      |       v.ts AS asof_view_ts, v.event_id AS asof_view_event_id,
      |       v.value AS asof_view_value
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.event_id""".stripMargin

  /** Forward as-of join — the "next view at-or-after the purchase"
    * direction; same fixture and tie discipline as q36, oracle via
    * DuckDB ASOF with the inequality flipped.
    */
  private def q69AsofForward(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "events")
    val purchases = e
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = e
      .where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("event_id"), max_by(col("value"), col("event_id")).as("value"))
    graft.operators.AsofJoin
      .asofForward(purchases, views, Seq("user_id"), "ts", "ts", Seq("event_id", "value"))
      .select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        col("asof_ts").as("asof_view_ts"),
        col("asof_event_id").as("asof_view_event_id"),
        col("asof_value").as("asof_view_value"),
      )
      .orderBy("event_id")
  }

  private val q69Oracle =
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |           FROM events),
      |p AS (SELECT event_id, user_id, ts, value FROM e WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, ts, max(event_id) AS event_id, max_by(value, event_id) AS value
      |      FROM e WHERE event_type = 'view' GROUP BY user_id, ts)
      |SELECT p.event_id, p.user_id, p.ts, p.value,
      |       v.ts AS asof_view_ts, v.event_id AS asof_view_event_id,
      |       v.value AS asof_view_value
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts <= v.ts
      |ORDER BY p.event_id""".stripMargin

  /** Nearest as-of join — closer of the backward/forward matches,
    * equidistant → backward (pandas merge_asof 'nearest' rule);
    * oracle combines both DuckDB ASOF directions.
    */
  private def q70AsofNearest(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "events")
    val purchases = e
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = e
      .where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("event_id"), max_by(col("value"), col("event_id")).as("value"))
    graft.operators.AsofJoin
      .asofNearest(purchases, views, Seq("user_id"), "ts", "ts", Seq("event_id", "value"))
      .select(
        col("event_id"), col("user_id"), col("ts"), col("value"),
        col("asof_ts").as("asof_view_ts"),
        col("asof_event_id").as("asof_view_event_id"),
        col("asof_value").as("asof_view_value"),
      )
      .orderBy("event_id")
  }

  private val q70Oracle =
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |           FROM events),
      |p AS (SELECT event_id, user_id, ts, value FROM e WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, ts, max(event_id) AS event_id, max_by(value, event_id) AS value
      |      FROM e WHERE event_type = 'view' GROUP BY user_id, ts),
      |b AS (SELECT p.event_id, v.ts AS bts, v.event_id AS bid, v.value AS bval
      |      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts),
      |f AS (SELECT p.event_id, v.ts AS fts, v.event_id AS fid, v.value AS fval
      |      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts <= v.ts)
      |SELECT p.event_id, p.user_id, p.ts, p.value,
      |  CASE WHEN bts IS NOT NULL AND (fts IS NULL OR (p.ts - bts) <= (fts - p.ts))
      |       THEN bts ELSE fts END AS asof_view_ts,
      |  CASE WHEN bts IS NOT NULL AND (fts IS NULL OR (p.ts - bts) <= (fts - p.ts))
      |       THEN bid ELSE fid END AS asof_view_event_id,
      |  CASE WHEN bts IS NOT NULL AND (fts IS NULL OR (p.ts - bts) <= (fts - p.ts))
      |       THEN bval ELSE fval END AS asof_view_value
      |FROM p JOIN b USING (event_id) JOIN f USING (event_id)
      |ORDER BY p.event_id""".stripMargin

  /** Corpus token vocabulary (term + document frequency) — the
    * vocabulary-building scan; tokenization identical to the dedup
    * operators and the q18 oracle.
    */
  private def q37TokenVocab(s: SparkSession, dir: String): DataFrame =
    TextAnalysis
      .tokenVocabulary(load(s, dir, "documents"), "doc_id", "text")
      .orderBy("token")

  private val q37Oracle =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'), x -> x <> '')) AS token
      |  FROM documents)
      |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
      |FROM toks GROUP BY token ORDER BY token""".stripMargin

  /** Exact proportional stratified sample (20% per language, md5-of-id
    * order) — deterministic subcorpus with per-stratum quotas.
    */
  private def q38StratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .stratifiedSample(load(s, dir, "documents"), "lang", "doc_id", 0.2)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  private val q38Oracle =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |WHERE rn <= ceil(n * 0.2)
      |ORDER BY doc_id""".stripMargin

  /** Deterministic 80/10/10 train/val/test split by md5 bucket —
    * shuffle-free projection; rollup proves the assignment.
    */
  private def q39HashSplit(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .hashSplit(load(s, dir, "documents"), "doc_id", Seq(0.8, 0.1, 0.1),
        Seq("train", "val", "test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("split")

  private val q39Oracle = {
    val splitCase = graft.operators.Sampling
      .hashSplitSql("doc_id", Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"))
    s"""SELECT split, count(*) AS n_docs
       |FROM (SELECT $splitCase AS split FROM documents)
       |GROUP BY split ORDER BY split""".stripMargin
  }

  /** Interval (range) join rollup: every purchase with the count/sum
    * of the same user's clicks in the preceding 10 minutes — bin-
    * bucketed equi-join ([[graft.operators.RangeJoin]]), never the
    * quadratic same-key inequality join the oracle runs.
    */
  private def q40RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "events")
    val purchases = e
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e
      .where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"), col("value"))
    val pairs = graft.operators.RangeJoin.intervalJoin(
      purchases, clicks, Seq("user_id"), "ts", "ts",
      lowerMicros = -600L * 1000000L, upperMicros = 0L,
      rightPayloadCols = Seq("click_id", "value"),
    )
    val rollup = pairs
      .groupBy(col("event_id"))
      .agg(
        count(lit(1)).as("n_clicks"),
        sum(col("right_value").cast("decimal(18,6)")).cast("double").as("sum_click_value"),
      )
    purchases
      .join(rollup, Seq("event_id"), "left")
      .select(
        col("event_id"), col("user_id"), col("ts"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        col("sum_click_value"), // NULL when no clicks — matches SQL sum
      )
      .orderBy("event_id")
  }

  private val q40Oracle =
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
      |           FROM events),
      |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts, value FROM e WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, p.ts,
      |  count(c.ts) AS n_clicks,
      |  CAST(sum(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_click_value
      |FROM p LEFT JOIN c
      |  ON p.user_id = c.user_id
      | AND c.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts
      |GROUP BY p.event_id, p.user_id, p.ts
      |ORDER BY p.event_id""".stripMargin

  /** Benchmark decontamination: corpus docs scored by 5-gram overlap
    * with a benchmark pool (docs where doc_id % 50 = 0 play the held-
    * out eval set) — broadcast pool + shuffle-free scan
    * ([[graft.operators.Dedup.decontaminate]]); the oracle recomputes
    * the same pool intersection with DuckDB list algebra on STRING
    * shingles (engine uses 64-bit hashes internally; counts agree
    * unless a 2⁻⁵⁰ collision).
    */
  private def q41Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val bench = docs.where(col("doc_id") % 50 === 0)
    Dedup
      .decontaminate(docs.where(col("doc_id") % 50 =!= 0), bench, "text", "text", n = 5)
      .select(
        col("doc_id"),
        col("n_contaminated_grams").cast("bigint").as("n_contaminated_grams"),
        col("is_clean"),
      )
      .orderBy("doc_id")
  }

  private val q41Oracle =
    """WITH g AS (
      |  SELECT doc_id,
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
      |                   for i in range(1, len(w) - 3)]) AS grams
      |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
      |                                   x -> x <> '') AS w
      |        FROM documents)),
      |plist AS (SELECT list(DISTINCT gram) AS pl
      |          FROM (SELECT unnest(grams) AS gram FROM g WHERE doc_id % 50 = 0))
      |SELECT g.doc_id,
      |  len(list_intersect(g.grams, plist.pl)) AS n_contaminated_grams,
      |  len(list_intersect(g.grams, plist.pl)) = 0 AS is_clean
      |FROM g, plist
      |WHERE g.doc_id % 50 <> 0
      |ORDER BY g.doc_id""".stripMargin

  /** Per-source cap (each source keeps ≤10 docs by md5-of-id order) —
    * the domain-balancing primitive.
    */
  private def q42SourceCap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .capPerStratum(load(s, dir, "documents"), "source", "doc_id", maxRows = 10)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  private val q42Oracle =
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 10
      |ORDER BY doc_id""".stripMargin

  /** Deterministic mixture rebalancing (per-language keep fractions,
    * md5-threshold) — shuffle-free domain-mix primitive; the rollup
    * proves the realized mix.
    */
  private val q43Fractions =
    Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1, "es" -> 1.0, "it" -> 0.0)

  private def q43MixtureSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .mixtureSample(load(s, dir, "documents"), "lang", "doc_id", q43Fractions)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")

  private val q43Oracle = {
    val pred = graft.operators.Sampling.mixtureSampleSql("lang", "doc_id", q43Fractions)
    s"""SELECT lang, count(*) AS n_docs
       |FROM documents WHERE $pred
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Sequence-packing layout at a 512-token budget: where each
    * document lands in the contiguous packed token stream. The Spark
    * side runs the DISTRIBUTED prefix sum (range partitions + offset
    * broadcast); the oracle is the equivalent single-window SQL —
    * passing means the parallel decomposition is bit-exact.
    */
  private def q44SeqPack(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.sequencePacking(load(s, dir, "documents"), "doc_id", "text", 512)

  private val q44Oracle =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS BIGINT)
      |      AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
      |  FROM t)
      |SELECT doc_id, n_tokens, start_offset,
      |  start_offset // 512 AS pack_first,
      |  CASE WHEN n_tokens > 0 THEN (start_offset + n_tokens - 1) // 512
      |       ELSE start_offset // 512 END AS pack_last
      |FROM c ORDER BY doc_id""".stripMargin

  /** Exact-dup groups keeping the LONGEST copy (n_chars desc, id
    * tiebreak) instead of the first — canonical-selection policy for
    * truncated scrapes.
    */
  private def q45DupCanonical(s: SparkSession, dir: String): DataFrame =
    Dedup
      .exactDedupBest(load(s, dir, "documents"), "doc_id", "text", Seq(col("n_chars").desc))
      .select(col("doc_id"), col("content_hash"), col("group_size"), col("is_kept"))
      .orderBy("doc_id")

  private val q45Oracle =
    """SELECT doc_id, md5(text) AS content_hash,
      |  COUNT(*) OVER (PARTITION BY md5(text)) AS group_size,
      |  ROW_NUMBER() OVER (PARTITION BY md5(text)
      |    ORDER BY n_chars DESC, doc_id) = 1 AS is_kept
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Seeded deterministic corpus interleave: reproducible global
    * shuffle positions from md5(id:salt). Same distributed-prefix-sum
    * machinery as q44, exercised over a hash order instead of id
    * order.
    */
  private def q46Interleave(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.deterministicShuffle(load(s, dir, "documents"), "doc_id", "s42")

  private val q46Oracle =
    """SELECT doc_id,
      |  md5(CAST(doc_id AS VARCHAR) || ':s42') AS shuffle_key,
      |  CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':s42'), doc_id)
      |    AS BIGINT) AS pos
      |FROM documents ORDER BY doc_id""".stripMargin

  /** SemDeDup semantic dedup over embeddings: k-means cells + ε-ball
    * collapse (keep lowest centroid-sim). Rows-only (k-means cells are
    * engine-internal); DedupSpec-style properties in SimilaritySpec.
    * ε matches q19's near-dup threshold so the pair universe is the
    * same one the exact path oracles.
    */
  private def q47SemanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity
      .semanticDedup(load(s, dir, "embeddings"), "vec_id", "embedding", nlist = 16, eps = 0.3)
      .select(col("id"), col("cell"), col("component"), col("is_kept"))
      .orderBy("id")

  /** PQ-ANN top-k (8-byte codes over 64-dim vectors, exact re-rank of
    * the ADC shortlist). Rows-only (codebooks engine-internal);
    * SimilaritySpec locks exhaustive-refine ≡ brute force + recall.
    */
  private def q48PqAnn(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
    val model = Similarity.trainPq(e, "embedding", m = 8, ksub = 16)
    Similarity
      .pqTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 10, model, refine = 4)
      .orderBy("query_id", "rank")
  }

  /** BPE subword tokenization: merges learned from a corpus sample,
    * applied corpus-wide. Per-doc subword counts + compression vs
    * whitespace tokens. Rows-only (learned merges are engine-internal;
    * BpeSpec hand-checks the merge sequence and round-trip).
    */
  private def q49BpeTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val model = graft.operators.Bpe.train(docs, "text", numMerges = 200)
    graft.operators.Bpe
      .withBpeTokens(docs, "text", model)
      .select(
        col("doc_id"),
        col("n_bpe_tokens"),
        size(expr("filter(split(trim(text), '\\\\s+'), x -> x != '')")).as("n_ws_tokens"),
      )
      .orderBy("doc_id")
  }

  /** Misra-Gries heavy hitters over corpus tokens. Capacity exceeds
    * the distinct-key count at test scale, so counts are provably
    * EXACT and the oracle checks them; SketchesSpec covers the
    * approximate (capacity < distinct) regime's guarantees.
    */
  private def q50HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = load(s, dir, "documents").select(
      explode(filter(split(lower(col("text")), graft.textutil.TextHash.WordSplitRe), t => t =!= lit(""))).as("key"),
    )
    graft.operators.Sketches.heavyHitters(toks, "key", capacity = 1000, topN = 20)
  }

  private val q50Oracle =
    """WITH toks AS (
      |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'), x -> x <> '')) AS key
      |  FROM documents)
      |SELECT key, count(*) AS approx_count FROM toks GROUP BY key
      |ORDER BY approx_count DESC, key LIMIT 20""".stripMargin

  /** Key-skew profile of lineitem.l_partkey — the pre-join skew
    * diagnostic (share + ratio-to-uniform per heavy key).
    */
  private def q51KeySkew(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.keySkewProfile(load(s, dir, "lineitem"), "l_partkey", topN = 25)

  private val q51Oracle =
    """WITH c AS (
      |  SELECT CAST(l_partkey AS VARCHAR) AS key, count(*) AS cnt
      |  FROM lineitem GROUP BY 1),
      |t AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys FROM c)
      |SELECT key, cnt,
      |  CAST(cnt AS DOUBLE) / total AS share,
      |  CAST(cnt AS DOUBLE) * n_keys / total AS skew_factor
      |FROM c, t ORDER BY cnt DESC, key LIMIT 25""".stripMargin

  /** Z-order (Morton) clustering key for (l_orderkey, l_partkey) —
    * the multi-column data-skipping layout. The oracle recomputes the
    * bit interleave with naive shift/mask arithmetic, checking the
    * magic-constant spreading bit-for-bit.
    */
  private def q52ZOrder(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_partkey"),
        graft.operators.Layout.zValue(col("l_orderkey"), col("l_partkey")).as("z_value"),
      )
      .orderBy("l_orderkey", "l_linenumber")

  private val q52Oracle = {
    val terms = (0 until 32).flatMap(i =>
      Seq(
        s"(((l_orderkey >> $i) & 1) << ${2 * i})",
        s"(((l_partkey >> $i) & 1) << ${2 * i + 1})",
      ))
    s"""SELECT l_orderkey, l_linenumber, l_partkey,
       |  (${terms.mkString(" | ")}) AS z_value
       |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
  }

  /** Symmetric int8 embedding quantization — byte codes + per-vector
    * scale, all expression arithmetic, oracle-checked bit-for-bit.
    * Compared output is posexploded to scalar (vec_id, idx, q) rows —
    * the driver comparator cannot sort ARRAY cells.
    */
  private def q53Int8Quant(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantize
      .int8Symmetric(load(s, dir, "embeddings"), "embedding")
      .select(
        col("vec_id"),
        col("max_abs"),
        col("scale"),
        posexplode(col("vec_q")).as(Seq("idx", "q")))
      .orderBy("vec_id", "idx")

  private val q53Oracle =
    """WITH t AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (
      |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS max_abs FROM t),
      |sc AS (
      |  SELECT vec_id, v, max_abs,
      |    CASE WHEN max_abs > 0 THEN 127.0 / max_abs ELSE 0.0 END AS scale
      |  FROM s),
      |e AS (
      |  SELECT vec_id, max_abs, scale,
      |    unnest(generate_series(0, len(v) - 1)) AS idx,
      |    unnest(list_transform(v, x ->
      |      CAST(GREATEST(-127, LEAST(127, FLOOR(x * scale + 0.5))) AS TINYINT))) AS q
      |  FROM sc)
      |SELECT vec_id, max_abs, scale, CAST(idx AS INT) AS idx, q
      |FROM e ORDER BY vec_id, idx""".stripMargin

  /** Full training-data layout: clean corpus → seqLen-token chunks →
    * seeded global shuffle → packed-sequence intervals. Rows-only (the
    * near-dup stage is approximate); layout invariants are locked by
    * CorpusPipelineSpec.
    */
  private def q54TrainLayout(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusPipeline
      .prepareSequences(load(s, dir, "documents"), "doc_id", "text", seqLen = 512,
        shuffleSalt = "r4")
      .select(
        col("chunk_id"), col("pos"), col("n_chunk_tokens"),
        col("start_offset"), col("pack_first"), col("pack_last"))
      .orderBy("pos")

  /** Per-source token-length quantiles via the ADAPTIVE operator: at
    * gate scale every group fits the exact bound, so the EXACT
    * percentile runs ((n−1)·p linear interpolation — same definition
    * as DuckDB quantile_cont, so values hash-match); above the bound
    * the same call switches to the bounded-state GK sketch (q68's
    * engine) instead of buffering a whole group per task.
    */
  private def q55TokenQuantiles(s: SparkSession, dir: String): DataFrame =
    TextAnalysis
      .tokenQuantiles(load(s, dir, "documents"), "text", Seq("source"))
      .orderBy("source")

  private val q55Oracle =
    """WITH t AS (
      |  SELECT source,
      |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))
      |      AS DOUBLE) AS n
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  quantile_cont(n, 0.5) AS p50,
      |  quantile_cont(n, 0.95) AS p95,
      |  quantile_cont(n, 0.99) AS p99
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  /** q55's unbounded-group scale face: Greenwald-Khanna
    * `approx_percentile` keeps O(1/ε) state per group regardless of
    * group size (the exact `percentile` buffers a whole group's
    * values — fine for a bounded per-source panel, not for open-web
    * domains). Rows-only (GK picks observed values, the exact form
    * interpolates); TextAnalysisSpec locks it against the exact
    * percentiles.
    */
  private def q68TokenQuantilesApprox(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis
      .tokenQuantilesApprox(load(s, dir, "documents"), "text", Seq("source"))
      .orderBy("source")

  /** Gopher-style n-gram repetition signals (native one-pass
    * expression, shuffle-free): token counts, top-token share,
    * duplicate bigram/trigram occurrence fractions. Oracle-exact —
    * the ratios are single int/int IEEE divisions over exact string
    * identity.
    */
  private def q57NgramRepetition(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis
      .withNgramRepetition(load(s, dir, "documents"), "text")
      .select(
        col("doc_id"), col("n_word_tokens"), col("n_distinct_words"),
        col("top_token_frac"), col("dup_bigram_frac"), col("dup_trigram_frac"))
      .orderBy("doc_id")

  private val q57Oracle =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'), x -> x <> '') AS w
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, w, len(w) AS n,
      |    CASE WHEN len(w) >= 2 THEN list_transform(generate_series(1, len(w)-1),
      |      i -> w[i] || ' ' || w[i+1]) ELSE [] END AS bg,
      |    CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w)-2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END AS tg
      |  FROM t)
      |SELECT doc_id, n AS n_word_tokens,
      |  len(list_distinct(w)) AS n_distinct_words,
      |  CASE WHEN n = 0 THEN 0.0 ELSE
      |    list_max(list_transform(list_distinct(w),
      |      x -> len(list_filter(w, y -> y = x)))) / n END AS top_token_frac,
      |  CASE WHEN len(bg) = 0 THEN 0.0 ELSE
      |    (len(bg) - len(list_distinct(bg))) / len(bg) END AS dup_bigram_frac,
      |  CASE WHEN len(tg) = 0 THEN 0.0 ELSE
      |    (len(tg) - len(list_distinct(tg))) / len(tg) END AS dup_trigram_frac
      |FROM g ORDER BY doc_id""".stripMargin

  /** Distilled quality classifier: the heuristic score labels a
    * training sample, a tiny MLP over hashed n-gram features learns
    * it, and the whole corpus is scored as a shuffle-free map.
    * Rows-only (ML output); QualityClassifierSpec locks separation on
    * planted good/bad corpora.
    */
  private def q58QualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val labeled = graft.operators.TextAnalysis
      .qualityScore(docs, "text")
      .withColumn("label", (col("quality_score") >= 0.5).cast("int"))
    graft.operators.QualityClassifier
      .train(labeled, "text", "label", "q58_quality", dim = 128, hidden = 16,
        configJson = """{"epochs":20}""")
    graft.operators.QualityClassifier
      .score(docs, "text", "q58_quality", dim = 128)
      .select(col("doc_id"), col("quality_prob"))
      .orderBy("doc_id")
  }

  /** Greedy token-budget selection: longest documents first until the
    * 20k-token budget fills. Oracle-exact (integer running sum over a
    * total order).
    */
  private def q62TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").withColumn(
      "n_tokens",
      expr("size(filter(split(trim(text), '\\\\s+'), x -> x != ''))").cast("long"),
    )
    graft.operators.Sampling
      .tokenBudgetSelect(docs, "doc_id", "n_tokens",
        Seq(col("n_chars").desc), budget = 20000L)
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  private val q62Oracle =
    """WITH t AS (
      |  SELECT doc_id, n_chars,
      |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))
      |      AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |  FROM t)
      |SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
      |FROM c WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin

  /** Lexical retrieval statistics for a fixed query-term set: exact
    * per-(doc, term) tf, corpus df, and doc length — the integer
    * inputs BM25 is computed from, oracle-checked bit-for-bit (pure
    * counts, no logarithms). The float BM25 scoring over the same
    * stats is q65 (rows-only).
    */
  private def q63TermStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Lexical
      .termStats(load(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "hash", "window", "vector"))
      .orderBy("doc_id", "term")

  private val q63Oracle =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'), x -> x <> '') AS w
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, term,
      |    CAST(len(list_filter(w, x -> x = term)) AS BIGINT) AS tf
      |  FROM t, unnest(list_intersect(list_distinct(w),
      |    ['spark', 'hash', 'window', 'vector'])) AS u(term)),
      |d AS (SELECT term, count(*) AS df FROM p GROUP BY term)
      |SELECT p.doc_id, p.term, p.tf, d.df, p.dl
      |FROM p JOIN d USING (term) ORDER BY doc_id, term""".stripMargin

  /** Cross-document n-gram commonality (boilerplate-contamination
    * signal): per doc, distinct trigram count, how many of them occur
    * in ≥2 docs corpus-wide, and the df of the most shared one. All
    * exact counts — full oracle.
    */
  private def q64CommonNgrams(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis
      .commonNgramStats(load(s, dir, "documents"), "doc_id", "text", n = 3, minDf = 2L)
      .orderBy("doc_id")

  private val q64Oracle =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'), x -> x <> '') AS w
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3
      |    THEN list_transform(generate_series(1, len(w)-2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END)) AS gram
      |  FROM t),
      |d AS (SELECT gram, count(*) AS gram_df FROM g GROUP BY gram)
      |SELECT g.doc_id,
      |  count(*) AS n_grams,
      |  CAST(sum(CASE WHEN d.gram_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
      |  max(d.gram_df) AS max_gram_df,
      |  CAST(sum(CASE WHEN d.gram_df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
      |    AS common_frac
      |FROM g JOIN d USING (gram)
      |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin

  /** BM25 top-k over the same term set as q63, ORACLE-CHECKED at fixed
    * precision: top-k selection runs on the exact double score (both
    * engines compute the same `ln`-based Okapi formula over the q63
    * integer stats), and the emitted score is `round(score, 6)` — wide
    * enough to absorb sub-ulp summation-order differences between
    * engines, tight enough that any arithmetic regression (wrong idf,
    * wrong saturation, wrong avgdl) flips the hash. LexicalSpec
    * additionally locks the scoring against a hand-computed fixture.
    */
  private def q65Bm25TopK(s: SparkSession, dir: String): DataFrame =
    graft.operators.Lexical
      .bm25TopK(load(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "hash", "window", "vector"), k = 20)
      .select(col("doc_id"), round(col("score"), 6).as("score"), col("n_terms_hit"))
      .orderBy("doc_id")

  private val q65Oracle =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'), x -> x <> '') AS w
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, term,
      |    CAST(len(list_filter(w, x -> x = term)) AS BIGINT) AS tf
      |  FROM t, unnest(list_intersect(list_distinct(w),
      |    ['spark', 'hash', 'window', 'vector'])) AS u(term)),
      |d AS (SELECT term, count(*) AS df FROM p GROUP BY term),
      |c AS (SELECT count(*) AS n_docs, avg(CAST(len(w) AS DOUBLE)) AS avgdl FROM t),
      |s AS (
      |  SELECT p.doc_id,
      |    sum(ln(1 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
      |        * (p.tf * (1.2 + 1.0))
      |        / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / c.avgdl))) AS score,
      |    count(*) AS n_terms_hit
      |  FROM p JOIN d USING (term) CROSS JOIN c
      |  GROUP BY p.doc_id)
      |SELECT doc_id, round(score, 6) AS score, n_terms_hit
      |FROM (SELECT * FROM s ORDER BY score DESC, doc_id LIMIT 20)
      |ORDER BY doc_id""".stripMargin

  /** Planted-recall gate for the MinHash-OPH/LSH near-dup path (q16's
    * scale face, which is otherwise rows-only — signature values are
    * engine-internal): every 10th document gets a deterministic
    * near-duplicate (one appended token; shingle Jaccard ≥ 8/9 even
    * for the shortest 10-token docs, above the 0.8 verify threshold),
    * and the query reports per planted pair whether the banded
    * pipeline recovered it. The oracle is the full planted pair list
    * with recovered = true, so any candidate-generation or verify
    * regression flips a row to false and hash-fails the driver gate.
    */
  private def q66MinhashPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val copies = docs
      .where(col("doc_id") % 10 === 0)
      .select(
        (col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(col("text"), lit(" graftplant")).as("text"))
    val pairs =
      Dedup.minHashNearDupPairs(docs.unionByName(copies), "doc_id", "text", threshold = 0.8)
    val planted = docs
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") + lit(1000000L)).as("id_b"))
    val out = planted
      .join(
        pairs.select(col("id_a"), col("id_b"), lit(true).as("recovered")),
        Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), coalesce(col("recovered"), lit(false)).as("recovered"))
      .orderBy("id_a")
      .localCheckpoint(true)
    out
  }

  private val q66Oracle =
    """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, true AS recovered
      |FROM documents WHERE doc_id % 10 = 0 ORDER BY id_a""".stripMargin

  /** Same planted-recall construction for the SRP-LSH embedding
    * near-dup path (q20's scale face): copies perturb one vector
    * component by +0.01 (cosine ≈ 1 ≫ the 0.3 threshold; at most a
    * couple of the 64 SRP bits flip, so ≥1 of the 16 bands still
    * collides). Oracle = all planted pairs recovered.
    */
  private def q67EmbeddingLshPlanted(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val copies = emb
      .where(col("vec_id") % 10 === 0)
      .select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(
          col("embedding"),
          (x, i) => when(i === 0, (x + lit(0.01f)).cast("float")).otherwise(x),
        ).as("embedding"))
    val pairs = Dedup.embeddingNearDupPairs(emb.unionByName(copies), "vec_id", "embedding",
      dim = 64, threshold = 0.3, numBits = 64, bands = 16)
    val planted = emb
      .where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("id_a"), (col("vec_id") + lit(1000000L)).as("id_b"))
    val out = planted
      .join(
        pairs.select(col("id_a"), col("id_b"), lit(true).as("recovered")),
        Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), coalesce(col("recovered"), lit(false)).as("recovered"))
      .orderBy("id_a")
      .localCheckpoint(true)
    out
  }

  private val q67Oracle =
    """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, true AS recovered
      |FROM embeddings WHERE vec_id % 10 = 0 ORDER BY id_a""".stripMargin

  /** Planted-recall gate for the SimHash near-dup path (q17's scale
    * face): every 10th document gets a surface-variant duplicate —
    * uppercased with trailing punctuation. The tokenizer lowercases
    * and splits on non-word chars, so the token multiset (and hence
    * the 64-bit SimHash) is IDENTICAL: Hamming distance 0 ≤
    * maxHamming deterministically, the classic SimHash use case
    * (same content, different formatting). Recovery still exercises
    * the whole pipeline — signature invariance, pigeonhole banding,
    * bucket join, Hamming verify. Recall at Hamming 1–3 is asserted
    * in ScalaTest instead: near-zero bit margins are data-dependent,
    * so no text-level plant can guarantee a fixed nonzero distance.
    */
  private def q71SimhashPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val copies = docs
      .where(col("doc_id") % 10 === 0)
      .select(
        (col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(upper(col("text")), lit(" !!!")).as("text"))
    val pairs =
      Dedup.simHashNearDupPairs(docs.unionByName(copies), "doc_id", "text", maxHamming = 3)
    val planted = docs
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") + lit(1000000L)).as("id_b"))
    planted
      .join(
        pairs.select(col("id_a"), col("id_b"), lit(true).as("recovered")),
        Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), coalesce(col("recovered"), lit(false)).as("recovered"))
      .orderBy("id_a")
      .localCheckpoint(true)
  }

  /** Shared construction for the ANN planted-recall gates (q72–q74):
    * every 10th vector gets a copy perturbed by +0.01 in component 0
    * (cosine to its original ≈ 1), the planted copies become the
    * query set over the corpus∪copies index, and each gate row
    * records whether the original appears in its copy's top-k. k = 5
    * leaves slack for the self-match and any coincidental neighbor.
    */
  private def annPlantedGate(
      emb: DataFrame,
      topK: (DataFrame, DataFrame) => DataFrame,
  ): DataFrame = {
    val copies = emb
      .where(col("vec_id") % 10 === 0)
      .select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(
          col("embedding"),
          (x, i) => when(i === 0, (x + lit(0.01f)).cast("float")).otherwise(x),
        ).as("embedding"))
    val hits = topK(emb.unionByName(copies), copies)
    val planted = emb
      .where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + lit(1000000L)).as("query_id"), col("vec_id").as("expected_id"))
    planted
      .join(
        hits.select(col("query_id"), col("neighbor_id").as("expected_id"),
          lit(true).as("recovered")),
        Seq("query_id", "expected_id"), "left")
      .select(col("query_id"), col("expected_id"),
        coalesce(col("recovered"), lit(false)).as("recovered"))
      .orderBy("query_id")
      .localCheckpoint(true)
  }

  /** IVF planted recall (q22's driver-visible gate): the copy lands in
    * its original's cell, so any nprobe ≥ 1 must recover it.
    */
  private def q72IvfPlanted(s: SparkSession, dir: String): DataFrame =
    annPlantedGate(
      load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      (corpus, queries) => {
        val model = Similarity.trainIvf(corpus, "embedding", nlist = 16)
        Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", k = 5, model, nprobe = 4)
      })

  /** PQ planted recall (q48's gate): the original's ADC distance to
    * its copy is ≈ the quantization floor, so it makes the refine·k
    * shortlist and the exact re-rank surfaces it.
    */
  private def q73PqPlanted(s: SparkSession, dir: String): DataFrame =
    annPlantedGate(
      load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      (corpus, queries) => {
        val model = Similarity.trainPq(corpus, "embedding", m = 8, ksub = 16)
        Similarity.pqTopK(corpus, queries, "vec_id", "embedding", k = 5, model, refine = 4)
      })

  /** IVF-PQ planted recall (q56's gate): cell probe + code shortlist +
    * exact re-rank, end to end.
    */
  private def q74IvfPqPlanted(s: SparkSession, dir: String): DataFrame =
    annPlantedGate(
      load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      (corpus, queries) => {
        val (ivf, pq) = Similarity.trainIvfPq(corpus, "embedding", nlist = 16, m = 8, ksub = 16)
        Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding", k = 5, ivf, pq,
          nprobe = 4, refine = 4)
      })

  /** OPQ planted recall (the rotated-space face of q48's PQ gate):
    * the learned rotation preserves cosines, so the copy's ADC
    * shortlist must surface its original exactly as PQ's does —
    * pinning the rotation train, the rotate-then-encode path, and
    * the shared re-rank end-to-end.
    */
  private def q85OpqPlanted(s: SparkSession, dir: String): DataFrame =
    annPlantedGate(
      load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      (corpus, queries) => {
        val model = Similarity.trainOpq(corpus, "embedding", m = 8, ksub = 16,
          opqIterations = 3)
        Similarity.opqTopK(corpus, queries, "vec_id", "embedding", k = 5, model, refine = 4)
      })

  private val annPlantedOracle =
    """SELECT vec_id + 1000000 AS query_id, vec_id AS expected_id, true AS recovered
      |FROM embeddings WHERE vec_id % 10 = 0 ORDER BY query_id""".stripMargin

  /** IVF+OPQ planted recall — completes the ANN composition matrix
    * (q72 IVF, q73 PQ, q74 IVF-PQ, q85 OPQ): rotation preserves the
    * copy's cell co-location AND its quantization-floor ADC margin,
    * so the composed index must still recover every plant.
    */
  private def q99IvfOpqPlanted(s: SparkSession, dir: String): DataFrame =
    annPlantedGate(
      load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      (corpus, queries) => {
        val (ivf, opq) = Similarity.trainIvfOpq(corpus, "embedding", nlist = 16,
          m = 8, ksub = 16)
        Similarity.ivfOpqTopK(corpus, queries, "vec_id", "embedding", k = 5, ivf, opq,
          nprobe = 4, refine = 4)
      })

  /** Planted-recall gate for the winnowing passage-overlap path (q29's
    * scale face): every 20th sufficiently long document spawns a
    * "quoting" doc — a 300-char excerpt plus a short foreign tail.
    * The excerpt's winnowing fingerprints are (near-all of) the
    * copy's fingerprint set and a subset of the original's, so the
    * containment overlap far exceeds the 0.4 threshold; recovery
    * exercises signature selection, bucket join, and the overlap
    * verify end-to-end.
    */
  private def q75WinnowPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"), col("n_chars"))
    val eligible = col("doc_id") % 20 === 0 && col("n_chars") >= 400
    val copies = docs
      .where(eligible)
      .select(
        (col("doc_id") + lit(2000000L)).as("doc_id"),
        concat(substring(col("text"), 51, 300), lit(" planted excerpt tail")).as("text"))
    val pairs = Dedup.winnowingNearDupPairs(
      docs.select(col("doc_id"), col("text")).unionByName(copies),
      "doc_id", "text", minOverlap = 0.4)
    val planted = docs
      .where(eligible)
      .select(col("doc_id").as("id_a"), (col("doc_id") + lit(2000000L)).as("id_b"))
    planted
      .join(
        pairs.select(col("id_a"), col("id_b"), lit(true).as("recovered")),
        Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), coalesce(col("recovered"), lit(false)).as("recovered"))
      .orderBy("id_a")
      .localCheckpoint(true)
  }

  private val q75Oracle =
    """SELECT doc_id AS id_a, doc_id + 2000000 AS id_b, true AS recovered
      |FROM documents WHERE doc_id % 20 = 0 AND n_chars >= 400 ORDER BY id_a""".stripMargin

  /** Planted-language gate for the lang-id heuristic (q24's scale
    * face): every 25th document's text is replaced by a FIXED sentence
    * cycling through 8 languages (4 scripts + 4 Latin stopword
    * profiles); the classifier output must match the plant exactly —
    * a driver-visible end-to-end check on both the script-ratio and
    * stopword-profile paths.
    */
  private val plantedLangSentences: Seq[(String, String)] = Seq(
    "fr" -> ("le chat est dans la maison et il ne veut pas sortir avec nous " +
      "pour le moment mais nous restons avec lui dans la maison"),
    "de" -> ("der hund ist nicht in dem haus und er will mit uns nicht auf die " +
      "straße gehen aber wir bleiben mit ihm in dem haus"),
    "es" -> ("el perro está en la casa y no quiere salir con nosotros por la " +
      "calle pero nos quedamos con él en la casa este día"),
    "en" -> ("the quick brown fox jumps over the lazy dog and the cat watches " +
      "from the wall while we stay in the house with them"),
    "ru" -> "собака сидит дома и не хочет идти гулять с нами по улице сегодня вечером",
    "zh" -> "今天天气很好我们一起去公园散步然后吃晚饭",
    "ja" -> "きょうはてんきがいいのでこうえんへさんぽにいきます",
    "ko" -> "오늘은 날씨가 좋아서 공원에 산책하러 갑니다",
  )

  private def q76LangidPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").where(col("doc_id") % 25 === 0)
    val idx = (col("doc_id") / 25).cast("long") % 8
    val text = plantedLangSentences.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, ((_, sentence), i)) => when(idx === i, lit(sentence)).otherwise(acc)
    }
    TextAnalysis
      .withLangId(docs.select(col("doc_id"), text.as("text")), "text")
      .select(col("doc_id"), col("lang_pred"))
      .orderBy("doc_id")
  }

  private val q76Oracle =
    """SELECT doc_id,
      |  CASE (doc_id // 25) % 8 WHEN 0 THEN 'fr' WHEN 1 THEN 'de' WHEN 2 THEN 'es'
      |    WHEN 3 THEN 'en' WHEN 4 THEN 'ru' WHEN 5 THEN 'zh' WHEN 6 THEN 'ja'
      |    ELSE 'ko' END AS lang_pred
      |FROM documents WHERE doc_id % 25 = 0 ORDER BY doc_id""".stripMargin

  /** Planted-collapse gate for SemDeDup (q47's driver-visible face):
    * every 10th vector gets an ε-ball copy (one component +0.001,
    * cosine ≈ 1 ≫ eps 0.99 — no unplanted vector can reach that
    * similarity, so each component is exactly the planted pair). The
    * gate emits the two DETERMINISTIC booleans of the contract —
    * same component, exactly one member kept — rather than component
    * ids or cent_sim values, which depend on the trained centroids.
    */
  private def q77SemdedupPlanted(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val copies = emb
      .where(col("vec_id") % 10 === 0)
      .select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(
          col("embedding"),
          (x, i) => when(i === 0, (x + lit(0.001f)).cast("float")).otherwise(x),
        ).as("embedding"))
    val out = Similarity
      .semanticDedup(emb.unionByName(copies), "vec_id", "embedding", nlist = 16, eps = 0.99)
      .select(col("id"), col("component"), col("is_kept"))
    val planted = emb
      .where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("id_a"), (col("vec_id") + lit(1000000L)).as("id_b"))
    planted
      .join(out.select(col("id").as("id_a"), col("component").as("__ca"),
        col("is_kept").as("__ka")), "id_a")
      .join(out.select(col("id").as("id_b"), col("component").as("__cb"),
        col("is_kept").as("__kb")), "id_b")
      .select(
        col("id_a"), col("id_b"),
        (col("__ca") === col("__cb")).as("same_component"),
        (col("__ka") =!= col("__kb")).as("one_kept"))
      .orderBy("id_a")
      .localCheckpoint(true)
  }

  /** Auto-nlist face of the q77 SemDeDup gate: `nlist = 0` lets the
    * operator derive the cell count from the corpus
    * (`max(16, ⌈n/targetClusterRows⌉)`; targetClusterRows = 32 makes
    * the derivation non-trivial at gate scale — 550 rows → 18 cells,
    * a different partition layout than q77's fixed 16). The planted
    * collapse must still hold: the corpus-proportional cell count is
    * the 100 TB-correct default, and this pins that code path in the
    * driver's hard signal, not only in ScalaTest.
    */
  private def q87SemdedupAutoPlanted(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val copies = emb
      .where(col("vec_id") % 10 === 0)
      .select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(
          col("embedding"),
          (x, i) => when(i === 0, (x + lit(0.001f)).cast("float")).otherwise(x),
        ).as("embedding"))
    val out = Similarity
      .semanticDedup(emb.unionByName(copies), "vec_id", "embedding", nlist = 0, eps = 0.99,
        targetClusterRows = 32)
      .select(col("id"), col("component"), col("is_kept"))
    val planted = emb
      .where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("id_a"), (col("vec_id") + lit(1000000L)).as("id_b"))
    planted
      .join(out.select(col("id").as("id_a"), col("component").as("__ca"),
        col("is_kept").as("__ka")), "id_a")
      .join(out.select(col("id").as("id_b"), col("component").as("__cb"),
        col("is_kept").as("__kb")), "id_b")
      .select(
        col("id_a"), col("id_b"),
        (col("__ca") === col("__cb")).as("same_component"),
        (col("__ka") =!= col("__kb")).as("one_kept"))
      .orderBy("id_a")
      .localCheckpoint(true)
  }

  private val q77Oracle =
    """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
      |  true AS same_component, true AS one_kept
      |FROM embeddings WHERE vec_id % 10 = 0 ORDER BY id_a""".stripMargin

  /** Whitespace-normalization gate for the content fingerprint (q25's
    * scale face): a copy with expanded/padded whitespace must
    * fingerprint IDENTICALLY (the fingerprint normalizes interior
    * runs and trims) — the exact property the cheap dedup key relies
    * on. Booleans only; the 64-bit values stay engine-internal.
    */
  private def q78FingerprintPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").where(col("doc_id") % 15 === 0)
    val orig = graft.operators.TextAnalysis.contentFingerprintUdf(col("text"))
    val variant = graft.operators.TextAnalysis.contentFingerprintUdf(
      concat(lit("  "), regexp_replace(col("text"), " ", "   "), lit(" \n\t")))
    docs
      .select(col("doc_id"), (orig === variant).as("matches"))
      .orderBy("doc_id")
  }

  private val q78Oracle =
    """SELECT doc_id, true AS matches
      |FROM documents WHERE doc_id % 15 = 0 ORDER BY doc_id""".stripMargin

  /** Zero-merge gate for the BPE encoder (q49's driver-visible face):
    * with an empty merge table the greedy encoder must emit exactly
    * chars + end-of-word marker per word, so the per-doc token count
    * is Σ(len(word) + 1) — pure integer arithmetic any SQL engine
    * reproduces. Pins the tokenizer, the encoder plumbing, and the
    * per-model cache path end-to-end; the learned-merge arithmetic
    * stays ScalaTest-checked (BpeSpec's hand-computed merge table).
    */
  private def q79BpeZeroMerge(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe
      .withBpeTokens(load(s, dir, "documents"), "text",
        graft.operators.Bpe.BpeModel(Array.empty))
      .select(col("doc_id"), col("n_bpe_tokens").cast("bigint").as("n_bpe_tokens"))
      .orderBy("doc_id")

  private val q79Oracle =
    """SELECT doc_id,
      |  COALESCE(CAST(list_sum(list_transform(w, x -> len(x) + 1)) AS BIGINT), 0)
      |    AS n_bpe_tokens
      |FROM (SELECT doc_id,
      |        list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'), x -> x <> '') AS w
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** CCNet-style line-level dedup gate: the synthetic docs are
    * single-line, so the gate constructs 3-line documents IDENTICALLY
    * in both engines — the original text, a shared boilerplate footer
    * (repeats in every doc: only the first occurrence survives), and
    * the doc's 40-char prefix (repeats only on shared prefixes). Pure
    * string semantics → hash-exact oracle.
    */
  private def q80LineDedup(s: SparkSession, dir: String): DataFrame = {
    // coalesce on BOTH sides (same rule as q154): concat_ws skips
    // nulls, the oracle's || propagates them
    val docs = load(s, dir, "documents").select(
      col("doc_id"),
      concat_ws("\n",
        coalesce(col("text"), lit("")),
        lit("all rights reserved - generated boilerplate footer"),
        substring(coalesce(col("text"), lit("")), 1, 40)).as("text"))
    graft.operators.Dedup
      .lineDedup(docs, "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** CCNet pipeline face (rows-only: the bucket labels derive from the
    * learned bigram LM's scores — engine-internal floats; the line
    * dedup substrate is oracle-checked as q80 and the bucket contract
    * is spec-locked in CorpusPipelineSpec).
    */
  private def q81Ccnet(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusPipeline
      .ccnet(load(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id", "text")
      .select(col("id"), col("lang_pred"), col("ccnet_bucket"))
      .orderBy("id")

  /** Leakage-safe-split gate: planted near-dup pairs (q66's
    * construction) must land in the SAME train/val/test split —
    * the eval-leakage invariant, as a deterministic boolean per pair.
    */
  private def q82LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val copies = docs
      .where(col("doc_id") % 10 === 0)
      .select(
        (col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(col("text"), lit(" graftplant")).as("text"))
    val split = graft.operators.Sampling
      .leakageSafeSplit(docs.unionByName(copies), "doc_id", "text",
        Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"))
      .select(col("doc_id"), col("split"))
    val planted = docs
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") + lit(1000000L)).as("id_b"))
    planted
      .join(split.select(col("doc_id").as("id_a"), col("split").as("__sa")), "id_a")
      .join(split.select(col("doc_id").as("id_b"), col("split").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"), (col("__sa") === col("__sb")).as("co_assigned"))
      .orderBy("id_a")
      .localCheckpoint(true)
  }

  private val q82Oracle =
    """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, true AS co_assigned
      |FROM documents WHERE doc_id % 10 = 0 ORDER BY id_a""".stripMargin

  private val q80Oracle =
    """WITH d AS (
      |  SELECT doc_id,
      |    COALESCE(text, '') || chr(10)
      |         || 'all rights reserved - generated boilerplate footer'
      |         || chr(10) || substr(COALESCE(text, ''), 1, 40) AS text
      |  FROM documents),
      |l AS (
      |  SELECT doc_id,
      |    unnest(generate_series(0, len(ls) - 1)) AS p,
      |    unnest(ls) AS line
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d)),
      |k AS (SELECT doc_id, p, line, trim(line) AS key FROM l),
      |r AS (
      |  SELECT doc_id, p,
      |    row_number() OVER (PARTITION BY key ORDER BY doc_id, p) AS rn
      |  FROM k WHERE len(key) >= 5),
      |removed AS (SELECT doc_id, p FROM r WHERE rn > 1),
      |kept AS (
      |  SELECT k.doc_id, k.p, k.line
      |  FROM k LEFT JOIN removed x ON k.doc_id = x.doc_id AND k.p = x.p
      |  WHERE x.doc_id IS NULL),
      |g AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS clean_text,
      |    count(*) AS n_kept_lines
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(g.clean_text, '') AS clean_text,
      |  COALESCE(g.n_kept_lines, 0) AS n_kept_lines
      |FROM d LEFT JOIN g USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Paragraph-dedup gate
    * ([[graft.operators.Dedup.paragraphDedup]], the Dolma
    * granularity): every doc carries its own text twice as separate
    * paragraphs (the in-doc repeat must drop its SECOND occurrence)
    * around one constant boilerplate paragraph (corpus-wide — only
    * the minimum doc keeps it). Pure string semantics, replayed
    * verbatim.
    */
  private def q154ParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    // coalesce on BOTH sides: concat_ws SKIPS nulls while the
    // oracle's || propagates them — a null-text row would otherwise
    // build different planted docs in the two engines
    val docs = load(s, dir, "documents").select(
      col("doc_id"),
      concat_ws("\n\n",
        coalesce(col("text"), lit("")),
        lit("all rights reserved - generated boilerplate paragraph"),
        coalesce(col("text"), lit(""))).as("text"))
    graft.operators.Dedup
      .paragraphDedup(docs, "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  private val q154Oracle =
    """WITH d AS (
      |  SELECT doc_id,
      |    COALESCE(text, '') || chr(10) || chr(10)
      |         || 'all rights reserved - generated boilerplate paragraph'
      |         || chr(10) || chr(10) || COALESCE(text, '') AS text
      |  FROM documents),
      |l AS (
      |  SELECT doc_id,
      |    unnest(generate_series(0, len(ls) - 1)) AS p,
      |    unnest(ls) AS line
      |  FROM (SELECT doc_id, regexp_split_to_array(text, '\n{2,}') AS ls FROM d)),
      |k AS (SELECT doc_id, p, line, trim(line) AS key FROM l),
      |r AS (
      |  SELECT doc_id, p,
      |    row_number() OVER (PARTITION BY key ORDER BY doc_id, p) AS rn
      |  FROM k WHERE len(key) >= 5),
      |removed AS (SELECT doc_id, p FROM r WHERE rn > 1),
      |kept AS (
      |  SELECT k.doc_id, k.p, k.line
      |  FROM k LEFT JOIN removed x ON k.doc_id = x.doc_id AND k.p = x.p
      |  WHERE x.doc_id IS NULL),
      |g AS (
      |  SELECT doc_id, string_agg(line, chr(10) || chr(10) ORDER BY p) AS clean_text,
      |    count(*) AS n_kept_paragraphs
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(g.clean_text, '') AS clean_text,
      |  COALESCE(g.n_kept_paragraphs, 0) AS n_kept_paragraphs
      |FROM d LEFT JOIN g USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Store-served IVF-PQ planted recall — q74's gate re-run through
    * the persisted coded-corpus store ([[graft.operators.VectorStore
    * .write]] → [[graft.operators.VectorStore.read]] →
    * [[graft.operators.Similarity.ivfPqTopKFromStore]]): cells and PQ
    * codes are encoded ONCE at write into the cell-bucketed table,
    * the search job reads finished index rows with no re-encode and
    * no static-side exchange (VectorStoreSpec asserts the plan), and
    * the SAME planted truth as q74 must come back — any store-path
    * drift (write, register, read, or the search seam) hash-fails
    * against the identical closed-form oracle.
    */
  /** The PQ store fixture over the [[annPlantedGate]] corpus
    * (embeddings ∪ perturbed copies), shared by the four store-served
    * recall gates that used to build it independently with only the
    * dir tag differing (q157 IVF-pruned, q158 Hamming, q162
    * corpus-vs-corpus, q168 flat): IVF nlist 16, PQ m 8 / ksub 16,
    * default buckets — byte-identical in all four, so one build per
    * session serves the family ([[cachedStoreFixture]]).
    */
  private def annPqStoreFixture(s: SparkSession, dir: String, corpus: => DataFrame)
      : graft.operators.VectorStore.CodedVectorStore =
    cachedStoreFixture[graft.operators.VectorStore.CodedVectorStore](
        s, dir, "annpq") {
      val c = corpus // by-name: a cache hit never constructs the corpus plan
      val (ivf, pq) = Similarity.trainIvfPq(c, "embedding", nlist = 16, m = 8, ksub = 16)
      val storeDir = tempFixtureDir("graft_vecstore_annpq")
      graft.operators.VectorStore
        .write(c, "vec_id", "embedding", storeDir.toString, "annpq_vs", ivf, pq,
          numBuckets = 8) // sized to the gate corpus (q167's documented lesson)
      (graft.operators.VectorStore.read(s, storeDir.toString, "annpq_vs"), Seq(storeDir))
    }

  private def q157VecStorePqPlanted(s: SparkSession, dir: String): DataFrame =
    annPlantedGate(
      load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      (corpus, queries) => {
        val store = annPqStoreFixture(s, dir, corpus)
        Similarity.ivfPqTopKFromStore(store, queries, "vec_id", "embedding", k = 5,
          nprobe = 4, refine = 4)
      })

  /** Store-served IVF-Hamming planted recall — q111's gate through
    * the same persisted store's packed sign codes
    * ([[graft.operators.Similarity.ivfHammingTopKFromStore]]): the
    * write-time [[graft.operators.Quantize.signPack]] codes must
    * reproduce the from-floats scan's recovery exactly.
    */
  private def q158VecStoreHammingPlanted(s: SparkSession, dir: String): DataFrame =
    annPlantedGate(
      load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      (corpus, queries) => {
        val store = annPqStoreFixture(s, dir, corpus)
        Similarity.ivfHammingTopKFromStore(store, queries, "vec_id", "embedding", k = 5,
          nprobe = 4, refine = 8)
      })

  /** Deterministic re-aggregation gate ([[graft.streaming.EventStreams
    * .reaggregateByEventTime]] — the operational face of the
    * AsofHitEmit/SessionAssignmentEmit trigger-cadence caveat): two
    * simulated landed sink tables of the SAME stream output — cadence
    * A with `emit_ts = ts`, cadence B with watermark-shifted
    * `emit_ts` AND duplicate retry rows (an at-least-once sink) —
    * re-aggregate on the carried event time to IDENTICAL windowed
    * frames, pinned both by the per-window agree flags and by the
    * closed-form windowed count/sum oracle. StreamingSpec runs the
    * same helper over two real TWS trigger cadences.
    */
  private def q159ReaggEventTime(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val a = ev.withColumn("emit_ts", col("ts"))
    val b0 = ev.withColumn("emit_ts",
      timestamp_micros(unix_micros(col("ts")) + (col("event_id") % 3) * 60000000L))
    val b = b0.unionByName(
      b0.where(col("event_id") % 5 === 0)
        .withColumn("emit_ts", timestamp_micros(unix_micros(col("ts")) + 120000000L)))
    def re(df: DataFrame): DataFrame = graft.streaming.EventStreams
      .reaggregateByEventTime(df, "ts", "10 minutes", Seq("user_id"),
        Seq(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total")),
        dedupIdCol = Some("event_id"))
    val ra = re(a)
    val rb = re(b).withColumnRenamed("n_events", "n_b").withColumnRenamed("total", "t_b")
    ra.join(rb, Seq("window_start", "window_end", "user_id"), "full")
      .select(col("window_start"), col("user_id"), col("n_events"), col("total"),
        coalesce(col("n_events") === col("n_b"), lit(false)).as("n_agree"),
        coalesce(col("total") === col("t_b"), lit(false)).as("t_agree"))
      .orderBy("window_start", "user_id")
  }

  private val q159Oracle =
    """SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 600000000) * 600000000)
      |    AS window_start,
      |  user_id, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
      |  true AS n_agree, true AS t_agree
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** WET-path END-TO-END gate: the [[q142PlantedTexts]] prepare corpus
    * served from gzipped WET archives through [[graft.sources.Warc
    * .readWet]] into the full [[graft.operators.CorpusPipeline
    * .prepare]] composition — q152 checks the WET source roundtrip
    * and q142/q143 the prepare stages; this welds them (the q131
    * recipe applied to the extracted-text source), so any drift the
    * WET transport introduces (Content-Length slicing, gzip members,
    * URL parsing) hash-fails the SAME closed-form role oracle as the
    * parquet face. Four archive files keep the read distributed.
    */
  private def q160WetPrepareE2e(s: SparkSession, dir: String): DataFrame = {
    val rows = q142PlantedTexts(s, dir).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) "" else r.getString(1)))
      .sortBy(_._1)
    val outDir = tempFixtureDir("graft_wet_e2e")
    (0 until 4).foreach { shard =>
      val recs = rows.toSeq.filter(_._1 % 4 == shard).map { case (id, text) =>
        (s"http://wet.example.com/doc/$id", "2024-06-01T10:00:00Z", text)
      }
      java.nio.file.Files.write(outDir.resolve(s"shard$shard.warc.wet.gz"),
        graft.sources.Warc.buildWet(recs, gzipPerRecord = true))
    }
    val docs = graft.sources.Warc.readWet(s, outDir.toString + "/*")
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("text"))
    graft.operators.CorpusPipeline
      .prepare(docs, "doc_id", "text")
      .orderBy("doc_id", "chunk_idx")
  }

  /** Store-served IVF-OPQ planted recall — q99's gate through an
    * OPQ-coded store ([[graft.operators.VectorStore.writeOpq]] →
    * [[graft.operators.Similarity.ivfPqTopKFromStore]]): the
    * rotation, rotated PQ codes, and rotated floats are persisted
    * ONCE at write (the from-floats q99 path re-rotates AND re-encodes
    * the corpus every search job — the most expensive per-job encode
    * in the ANN tree); the search rotates only the queries. The SAME
    * planted truth as q99 must come back — any drift across the
    * persist/reopen/rotate-queries seam hash-fails the identical
    * closed-form oracle.
    */
  private def q161OpqStorePlanted(s: SparkSession, dir: String): DataFrame =
    annPlantedGate(
      load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      (corpus, queries) => {
        val store = annOpqStoreFixture(s, dir, corpus)
        Similarity.ivfPqTopKFromStore(store, queries, "vec_id", "embedding", k = 5,
          nprobe = 4, refine = 4)
      })

  /** The OPQ twin of [[annPqStoreFixture]] — the store-served OPQ
    * gates (q161 IVF-pruned, q169 flat) built byte-identical
    * OPQ-coded stores over the same [[annPlantedGate]] corpus; one
    * build per session serves both ([[cachedStoreFixture]]).
    */
  private def annOpqStoreFixture(s: SparkSession, dir: String, corpus: => DataFrame)
      : graft.operators.VectorStore.CodedVectorStore =
    cachedStoreFixture[graft.operators.VectorStore.CodedVectorStore](
        s, dir, "annopq") {
      val c = corpus // by-name: a cache hit never constructs the corpus plan
      val (ivf, opq) = Similarity.trainIvfOpq(c, "embedding", nlist = 16,
        m = 8, ksub = 16)
      val storeDir = tempFixtureDir("graft_vecstore_annopq")
      graft.operators.VectorStore
        .writeOpq(c, "vec_id", "embedding", storeDir.toString, "annopq_vs", ivf, opq,
          numBuckets = 8)
      (graft.operators.VectorStore.read(s, storeDir.toString, "annopq_vs"), Seq(storeDir))
    }

  /** Store-served CORPUS-vs-CORPUS kNN gate — the one ANN shape where
    * the query side is as big as the corpus, so nothing may broadcast:
    * the ENTIRE store (reopened `vecs` table) becomes the query set and
    * [[graft.operators.Similarity.ivfPqTopKFromStore]] runs with
    * `broadcastQueries = false` — the probe join and the re-rank
    * qvec fetch are both sort-merge joins (PlanShapeSpec asserts no
    * BroadcastExchange survives on exactly this shape), so neither
    * side ever needs to fit in one executor. Per-query independence
    * makes the planted rows' recovery identical to q157's, so the
    * same closed-form oracle pins the results.
    */
  private def q162StoreCorpusKnn(s: SparkSession, dir: String): DataFrame =
    annPlantedGate(
      load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      (corpus, _) => {
        val store = annPqStoreFixture(s, dir, corpus)
        val allQueries = store.vecs.select(
          col("id").as("vec_id"), col("vec").as("embedding"))
        Similarity.ivfPqTopKFromStore(store, allQueries, "vec_id", "embedding",
          k = 5, nprobe = 4, refine = 4, broadcastQueries = false)
      })

  /** Session-replay gate ([[graft.streaming.EventStreams
    * .reaggregateSessions]] — q159's companion for the sessionize
    * family's OWN key): two simulated landed sessionize sinks of the
    * SAME assignments — cadence A with `emit_ts = ts`, cadence B with
    * watermark-shifted `emit_ts` AND at-least-once retry duplicates —
    * re-aggregate on (user, session ordinal) + carried event time to
    * IDENTICAL per-session frames, pinned by the agree flags and by
    * the closed-form lag/cumsum session oracle. StreamingSpec runs the
    * same helper over two real TWS trigger cadences.
    */
  private def q163SessionReplay(s: SparkSession, dir: String): DataFrame = {
    val assigned = EventStreams
      .sessionize(load(s, dir, "events"), gapSeconds = 1800L)
      .select(col("event_id"), col("user_id"), col("ts"), col("session_seq"))
    val a = assigned.withColumn("emit_ts", col("ts"))
    val b0 = assigned.withColumn("emit_ts",
      timestamp_micros(unix_micros(col("ts")) + (col("event_id") % 3) * 60000000L))
    val b = b0.unionByName(
      b0.where(col("event_id") % 5 === 0)
        .withColumn("emit_ts", timestamp_micros(unix_micros(col("ts")) + 120000000L)))
    def re(df: DataFrame): DataFrame =
      graft.streaming.EventStreams.reaggregateSessions(df)
    val ra = re(a)
    val rb = re(b)
      .withColumnRenamed("session_start", "s_b")
      .withColumnRenamed("session_end", "e_b")
      .withColumnRenamed("n_events", "n_b")
    ra.join(rb, Seq("user_id", "session_seq"), "full")
      .select(col("user_id"), col("session_seq"),
        col("session_start"), col("session_end"), col("n_events"),
        coalesce(col("session_start") === col("s_b"), lit(false)).as("s_agree"),
        coalesce(col("session_end") === col("e_b"), lit(false)).as("e_agree"),
        coalesce(col("n_events") === col("n_b"), lit(false)).as("n_agree"))
      .orderBy("user_id", "session_seq")
  }

  /** Ingest-dedup lifecycle gate ([[graft.operators.VectorStore
    * .ingestDedup]] — the composed "search-dedup the increment, merge
    * survivors" epoch verb): epoch 0 = the embeddings corpus as a
    * coded store; the increment plants every 10th vector TWICE — a
    * perturbed near-copy (cosine ≈ 1 to its standing original, must
    * drop with `kept = false`) and a deterministic ±1 sign-pattern
    * vector (cosine ≲ 0.6 to ANY natural embedding at 64 dims, must
    * survive). The gate emits each increment id's kept flag read back
    * from the epoch-1 store, so the whole
    * write→read→search→threshold→anti-join→merge→reopen chain
    * hash-fails against the closed-form oracle if any seam drifts.
    */
  /** The PQ store fixture over the FULL embeddings corpus, shared by
    * q164 (its epoch-0 ingest source) and q165 (its standing store) —
    * the two gates built byte-identical stores independently; one
    * build per session serves both ([[cachedStoreFixture]]). Returns
    * (path, name, store) because the ingest verb takes the source by
    * path+name, not by handle.
    */
  private def fullPqStoreFixture(s: SparkSession, dir: String)
      : (String, String, graft.operators.VectorStore.CodedVectorStore) =
    cachedStoreFixture[(String, String, graft.operators.VectorStore.CodedVectorStore)](
        s, dir, "fullpq") {
      val emb = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val (ivf, pq) = Similarity.trainIvfPq(emb, "embedding", nlist = 16, m = 8, ksub = 16)
      val storeDir = tempFixtureDir("graft_vecstore_fullpq")
      graft.operators.VectorStore
        .write(emb, "vec_id", "embedding", storeDir.toString, "fullpq_vs", ivf, pq,
          numBuckets = 8)
      ((storeDir.toString, "fullpq_vs",
        graft.operators.VectorStore.read(s, storeDir.toString, "fullpq_vs")),
        Seq(storeDir))
    }

  private def q164VecstoreIngestDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val (srcPath, srcName, _) = fullPqStoreFixture(s, dir)
    val root = tempFixtureDir("graft_vecstore_q164").toString
    val tenth = emb.where(col("vec_id") % 10 === 0)
    val copies = tenth.select(
      (col("vec_id") + lit(1000000L)).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, (x + lit(0.01f)).cast("float")).otherwise(x))
        .as("embedding"))
    val fresh = tenth.select(
      (col("vec_id") + lit(2000000L)).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(pmod(hash(col("vec_id") + lit(2000000L), i), lit(2)) === 0,
          lit(1.0f)).otherwise(lit(-1.0f))).as("embedding"))
    val increment = copies.unionByName(fresh).localCheckpoint(true)
    val (grown, _) = graft.operators.VectorStore.ingestDedup(s,
      srcPath, srcName, increment, "vec_id", "embedding",
      s"$root/epoch1", "q164_vs_e1", threshold = 0.9, searchK = 4,
      nprobe = 4, refine = 4)
    increment.select(col("vec_id").as("id"))
      .join(grown.vecs.select(col("id"), lit(true).as("kept")), Seq("id"), "left")
      .select(col("id"), coalesce(col("kept"), lit(false)).as("kept"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q164Oracle =
    """SELECT vec_id + 1000000 AS id, false AS kept
      |FROM embeddings WHERE vec_id % 10 = 0
      |UNION ALL
      |SELECT vec_id + 2000000 AS id, true AS kept
      |FROM embeddings WHERE vec_id % 10 = 0
      |ORDER BY id""".stripMargin

  /** Stream-vs-standing-store semantic-hit gate ([[graft.streaming
    * .StreamingVectorStore.corpusSemanticHits]], evaluated on its
    * bounded twin — the stream≡batch spec pins the streaming plan):
    * the q164 plant through the HIT face instead of the ingest verb —
    * perturbed copies must flag their standing originals
    * (`hit_original`), far sign-pattern rows must produce ZERO hits
    * (`clean`). Pins the probe → cell equi-join → ADC prefilter →
    * exact-verify chain against the closed-form oracle.
    */
  private def q165StoreSemanticHits(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val (_, _, store) = fullPqStoreFixture(s, dir)
    val tenth = emb.where(col("vec_id") % 10 === 0)
    val copies = tenth.select(
      (col("vec_id") + lit(1000000L)).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, (x + lit(0.01f)).cast("float")).otherwise(x))
        .as("embedding"))
    val fresh = tenth.select(
      (col("vec_id") + lit(2000000L)).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(pmod(hash(col("vec_id") + lit(2000000L), i), lit(2)) === 0,
          lit(1.0f)).otherwise(lit(-1.0f))).as("embedding"))
    val incoming = copies.unionByName(fresh)
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-06-01 10:00:00")))
      .localCheckpoint(true)
    val hits = graft.streaming.StreamingVectorStore
      .corpusSemanticHits(incoming, "vec_id", "ts", "embedding", store,
        threshold = 0.9, nprobe = 4)
      .toDF()
    val agg = hits.groupBy("id").agg(
      max(col("corpus_id") === col("id") - lit(1000000L)).as("ho"),
      count(lit(1)).as("n"))
    incoming.select(col("vec_id").as("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("ho"), lit(false)).as("hit_original"),
        (coalesce(col("n"), lit(0L)) === 0L).as("clean"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  /** Store-served SemDeDup gate ([[graft.operators.Similarity
    * .semanticDedupFromStore]] — q77's plant over a persisted store's
    * OWN corpus): the training, input scans, and per-row assignment
    * the from-floats operator pays are skipped (cells come from the
    * coded table); the planted ε-ball contract must hold identically —
    * each (original, copy) pair in one component with exactly one
    * member kept.
    */
  private def q166SemdedupStorePlanted(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val copies = emb
      .where(col("vec_id") % 10 === 0)
      .select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(
          col("embedding"),
          (x, i) => when(i === 0, (x + lit(0.001f)).cast("float")).otherwise(x),
        ).as("embedding"))
    val corpus = emb.unionByName(copies)
    val (ivf, pq) = Similarity.trainIvfPq(corpus, "embedding", nlist = 16, m = 8, ksub = 16)
    val storeDir = tempFixtureDir("graft_vecstore_q166").toString
    graft.operators.VectorStore
      .write(corpus, "vec_id", "embedding", storeDir, "q166_vs", ivf, pq,
        numBuckets = 8)
    val store = graft.operators.VectorStore.read(s, storeDir, "q166_vs")
    val out = Similarity.semanticDedupFromStore(store, eps = 0.99)
      .select(col("id"), col("component"), col("is_kept"))
    val planted = emb
      .where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("id_a"), (col("vec_id") + lit(1000000L)).as("id_b"))
    planted
      .join(out.select(col("id").as("id_a"), col("component").as("__ca"),
        col("is_kept").as("__ka")), "id_a")
      .join(out.select(col("id").as("id_b"), col("component").as("__cb"),
        col("is_kept").as("__kb")), "id_b")
      .select(
        col("id_a"), col("id_b"),
        (col("__ca") === col("__cb")).as("same_component"),
        (col("__ka") =!= col("__kb")).as("one_kept"))
      .orderBy("id_a")
      .localCheckpoint(true)
  }

  /** TEXT→VECTOR-STORE end-to-end gate ([[graft.operators.TextAnalysis
    * .hashEmbed]] → [[graft.operators.VectorStore.ingestDedup]]): the
    * model-free bridge run as one composition — the q122 role corpus
    * becomes bigram-hashed embeddings (every bigram carries an
    * id-unique item token, so distinct docs sit near cosine 0 while a
    * copy with four appended tokens sits at √(53/57) ≈ 0.96), epoch 0
    * is the coded store, and the increment's near-copy TEXTS must
    * drop while fresh token-soup texts survive — the whole
    * tokenize→hash→encode→search→threshold→merge chain against the
    * closed-form kept-flag oracle.
    */
  private def q167HashEmbedIngest(s: SparkSession, dir: String): DataFrame = {
    // gate-scale economy: half the corpus (every planted %10 id is
    // even, so the oracle is untouched) and dim 128 — the full-width
    // margins are spec'd; the gate pins the COMPOSITION
    val texts = load(s, dir, "documents")
      .where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), q122Content(col("doc_id"), 27).as("text"))
    val emb = graft.operators.TextAnalysis
      .hashEmbed(texts, "text", dim = 128, ngrams = 2)
      .select(col("doc_id").as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val (ivf, pq) = Similarity.trainIvfPq(emb, "embedding", nlist = 16, m = 8, ksub = 16)
    val root = tempFixtureDir("graft_vecstore_q167").toString
    // numBuckets sized to the gate corpus (2.5k rows) — the default 64
    // is a cluster-scale setting whose file spray dominates a toy
    // write; bucket-count-scales-with-data is itself the scale lesson
    graft.operators.VectorStore
      .write(emb, "vec_id", "embedding", s"$root/epoch0", "q167_vs_e0", ivf, pq,
        numBuckets = 8)
    val tenth = texts.where(col("doc_id") % 10 === 0)
    val copies = tenth.select(
      (col("doc_id") + lit(1000000L)).as("doc_id"),
      concat(col("text"), lit(" zz extra trailing marker")).as("text"))
    val fresh = tenth.select(
      (col("doc_id") + lit(2000000L)).as("doc_id"),
      array_join(
        transform(sequence(lit(0), lit(29)),
          k => concat(lit("u"), col("doc_id").cast("string"), lit("x"),
            k.cast("string"))),
        " ").as("text"))
    val increment = graft.operators.TextAnalysis
      .hashEmbed(copies.unionByName(fresh), "text", dim = 128, ngrams = 2)
      .select(col("doc_id").as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val (grown, _) = graft.operators.VectorStore.ingestDedup(s,
      s"$root/epoch0", "q167_vs_e0", increment, "vec_id", "embedding",
      s"$root/epoch1", "q167_vs_e1", threshold = 0.8, searchK = 4,
      nprobe = 8, refine = 8)
    increment.select(col("vec_id").as("id"))
      .join(grown.vecs.select(col("id"), lit(true).as("kept")), Seq("id"), "left")
      .select(col("id"), coalesce(col("kept"), lit(false)).as("kept"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q167Oracle =
    """SELECT doc_id + 1000000 AS id, false AS kept
      |FROM documents WHERE doc_id % 10 = 0
      |UNION ALL
      |SELECT doc_id + 2000000 AS id, true AS kept
      |FROM documents WHERE doc_id % 10 = 0
      |ORDER BY id""".stripMargin

  /** Closed-form gate for the FULL streaming vector-store lifecycle
    * ([[graft.streaming.StreamingVectorStore.vectorIncrementSink]] →
    * [[graft.streaming.StreamingVectorStore.compactVectorStore]] —
    * the embedding twin of q144's signature lifecycle): epoch-0 store
    * over half the embeddings corpus → increment batch 0 (perturbed
    * near-copies of `% 10 = 0` originals must FOLD AWAY, deterministic
    * ±1 sign-pattern rows must survive) → compaction turn 1 folds into
    * epoch 1 and retires epoch 0 (keepEpochs = 1) → increment batch 1
    * against the FOLDED store (near-copies of `% 10 = 4` originals
    * drop, fresh sign rows keep) → turn 2 folds into epoch 2 → a
    * THIRD increment lands and a deliberately stale turn (srcEpoch
    * one behind the live epoch) must fail on the named stale-epoch
    * guard instead of clobbering the live epoch. Every verdict is
    * read back from the
    * FINAL reopened store's vecs table, plus two protocol sentinels:
    * id −1 = the stale require fired, id −2 = exactly {epoch2}
    * remains on disk after retention — so a fold, prune, retirement,
    * or crash-protocol regression anywhere in the lifecycle
    * hash-fails the closed-form oracle.
    */
  private def q171VecstoreStreamLifecycle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // half the corpus (both planted roles are even ids, so the oracle
    // is untouched) — the lifecycle, not the corpus size, is under test
    val embTable = load(s, dir, "embeddings")
    val unit = plantUnit(embTable, "vec_id")
    val emb = embTable
      .where(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    val (ivf, pq) = Similarity.trainIvfPq(emb, "embedding", nlist = 16, m = 8, ksub = 16)
    val root = tempFixtureDir("graft_vecstore_q171").toString
    val incDir = tempFixtureDir("graft_vecstore_q171_inc").toString
    graft.operators.VectorStore
      .write(emb, "vec_id", "embedding", s"$root/epoch0", "q171_vs_e0", ivf, pq,
        numBuckets = 8)
    def copiesOf(role: Int, offset: Long): DataFrame = emb
      .where(col("vec_id") % 10 === role)
      .select((col("vec_id") + lit(offset)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, (x + lit(0.01f)).cast("float")).otherwise(x))
          .as("embedding"))
    def freshOf(role: Int, offset: Long): DataFrame = emb
      .where(col("vec_id") % 10 === role)
      .select((col("vec_id") + lit(offset)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(pmod(hash(col("vec_id") + lit(offset), i), lit(2)) === 0,
            lit(1.0f)).otherwise(lit(-1.0f))).as("embedding"))
    val sink = graft.streaming.StreamingVectorStore
      .vectorIncrementSink(incDir, "vec_id", "embedding")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // the live epoch after a turn is read the way the protocol itself
    // reads it (meta/_SUCCESS): a turn whose increments were all empty
    // is a no-op that does NOT advance the epoch — assuming it did
    // would crash this gate on a degenerate (empty-table) world
    def epochComplete(n: Int): Boolean = fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/epoch$n/meta/_SUCCESS"))
    val inc1 = copiesOf(0, unit).unionByName(freshOf(0, 2L * unit))
    sink(inc1, 0L)
    graft.streaming.StreamingVectorStore.compactVectorStore(
      s, root, "q171_vs", srcEpoch = 0, incDir = incDir,
      threshold = 0.9, searchK = 4, nprobe = 4, refine = 4, keepEpochs = 1)
    val e1 = if (epochComplete(1)) 1 else 0
    val inc2 = copiesOf(4, 3L * unit).unionByName(freshOf(4, 4L * unit))
    sink(inc2, 1L)
    val (store2, _) = graft.streaming.StreamingVectorStore.compactVectorStore(
      s, root, "q171_vs", srcEpoch = e1, incDir = incDir,
      threshold = 0.9, searchK = 4, nprobe = 4, refine = 4, keepEpochs = 1)
    val e2 = if (epochComplete(e1 + 1)) e1 + 1 else e1
    sink(freshOf(0, 5L * unit).limit(2), 2L)
    val staleFired =
      if (e2 == e1) true // vacuous: nothing ever folded (empty world) — no live next epoch exists to be stale against
      else
        try {
          graft.streaming.StreamingVectorStore.compactVectorStore(
            s, root, "q171_vs", srcEpoch = e2 - 1, incDir = incDir,
            threshold = 0.9, keepEpochs = 1)
          false
        } catch {
          case e: IllegalArgumentException => e.getMessage.contains("stale")
        }
    val epochsLeft = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("epoch")).toSet
    val sentinels = Seq(
      (-1L, staleFired),
      (-2L, epochsLeft == Set(s"epoch$e2"))).toDF("id", "kept")
    inc1.unionByName(inc2).select(col("vec_id").as("id"))
      .join(store2.vecs.select(col("id"), lit(true).as("kept")), Seq("id"), "left")
      .select(col("id"), coalesce(col("kept"), lit(false)).as("kept"))
      .unionByName(sentinels)
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q171Oracle =
    """WITH u AS (SELECT ((GREATEST(max(vec_id), 0) // 1000000) + 1) * 1000000 AS u FROM embeddings)
      |SELECT CAST(-1 AS BIGINT) AS id, true AS kept
      |UNION ALL SELECT -2, true
      |UNION ALL SELECT vec_id + 1 * u.u, false FROM embeddings, u WHERE vec_id % 10 = 0
      |UNION ALL SELECT vec_id + 2 * u.u, true FROM embeddings, u WHERE vec_id % 10 = 0
      |UNION ALL SELECT vec_id + 3 * u.u, false FROM embeddings, u WHERE vec_id % 10 = 4
      |UNION ALL SELECT vec_id + 4 * u.u, true FROM embeddings, u WHERE vec_id % 10 = 4
      |ORDER BY id""".stripMargin

  /** Weighted-vs-unweighted hashEmbed gate ([[graft.operators
    * .TextAnalysis.hashEmbedIdf]] — hashed-space IDF): the
    * shared-boilerplate plant where UNWEIGHTED gram hashing
    * demonstrably mis-ranks and IDF weighting recovers. Every
    * `% 10 = 0` doc spawns three planted texts over a 100-token
    * corpus-universal boilerplate: A = bp + uniqueTail(a), B = bp +
    * uniqueTail(b), C = bp + uniqueTail(a) + one extra token. The
    * boilerplate dominates the bigram counts, so unweighted
    * cosine(A, B) ≈ 99/111 ≈ 0.89 — two documents sharing ONLY
    * boilerplate read as near-dups (`unweighted_misranks`, the
    * driver-visible demonstration that the plant distinguishes the
    * faces). Under IDF the boilerplate buckets carry df = N → weight
    * exactly 0, so cosine(A, B) collapses to hash-collision noise ≈ 0
    * (`weighted_separates`) while the true near-dup pair (A, C) keeps
    * cosine ≈ 0.95 (`weighted_keeps_dup`). All three flags are
    * closed-form true per planted id; thresholds at 0.7 sit ≥ 0.19
    * from every population.
    */
  private def q172HashEmbedIdf(s: SparkSession, dir: String): DataFrame = {
    val bp = (0 until 100).map(k => s"common$k").mkString(" ")
    val ids = load(s, dir, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"))
    def tail(prefix: String): Column = array_join(
      transform(sequence(lit(0), lit(11)),
        k => concat(lit(prefix), col("id").cast("string"), lit("x"), k.cast("string"))),
      " ")
    val docs = ids
      .select(col("id"), lit("a").as("role"),
        concat(lit(bp), lit(" "), tail("a")).as("text"))
      .unionByName(ids.select(col("id"), lit("b").as("role"),
        concat(lit(bp), lit(" "), tail("b")).as("text")))
      .unionByName(ids.select(col("id"), lit("c").as("role"),
        concat(lit(bp), lit(" "), tail("a"), lit(" zz")).as("text")))
    // dim 512: ~100 boilerplate-occupied buckets leave every tail gram
    // an ~0.8 survival rate — P(a doc's whole tail dies to collisions)
    // is ~3e-9, so the flags are deterministic in practice
    val uw = graft.operators.TextAnalysis
      .hashEmbed(docs, "text", dim = 512, ngrams = 2)
    val w = graft.operators.TextAnalysis
      .hashEmbedIdf(docs, "text", dim = 512, ngrams = 2)
    def byRole(df: DataFrame, role: String, name: String): DataFrame = df
      .where(col("role") === role)
      .select(col("id"), col("embedding").as(name))
    val cos = graft.functions.VectorExpressions.vecCosine _
    ids
      .join(byRole(uw, "a", "ua"), "id").join(byRole(uw, "b", "ub"), "id")
      .join(byRole(w, "a", "wa"), "id").join(byRole(w, "b", "wb"), "id")
      .join(byRole(w, "c", "wc"), "id")
      .select(col("id"),
        coalesce(cos(col("ua"), col("ub")) >= 0.7, lit(false))
          .as("unweighted_misranks"),
        coalesce(cos(col("wa"), col("wb")) < 0.7, lit(false))
          .as("weighted_separates"),
        coalesce(cos(col("wa"), col("wc")) >= 0.7, lit(false))
          .as("weighted_keeps_dup"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q172Oracle =
    """SELECT doc_id AS id, true AS unweighted_misranks,
      |  true AS weighted_separates, true AS weighted_keeps_dup
      |FROM documents WHERE doc_id % 10 = 0 ORDER BY id""".stripMargin

  /** Sublinear-TF gate ([[graft.operators.TextAnalysis.hashEmbed]]
    * `sublinearTf` — the 1+ln(tf) damp): the spam-repetition plant
    * where LINEAR counting demonstrably buries content. Per `% 10 =
    * 0` doc: SPAM = a 3-token phrase repeated 50× plus a 24-token
    * unique tail; REF = the tail alone. Under linear TF the phrase
    * counts dominate the norm (cos(SPAM, REF) = 23/(√7425·√23) ≈
    * 0.06 — the shared content is invisible,
    * `linear_buries_content`); the damp shrinks each repeated gram
    * to 1+ln(50) ≈ 4.9, so the same pair reads ≈ 0.49
    * (`sublinear_sees_content`). Closed-form counts, thresholds at
    * 0.2/0.25 sit ≥ 0.14 from both populations — ≥ 11 dot-units of
    * collision slack at dim 512 (a 12-token tail left only ~1 unit
    * and one sf0.01 id actually crossed it; the longer tail is the
    * fix, not a shaved threshold).
    */
  private def q173HashEmbedSubTf(s: SparkSession, dir: String): DataFrame = {
    val ids = load(s, dir, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"))
    def tail: Column = array_join(
      transform(sequence(lit(0), lit(23)),
        k => concat(lit("s"), col("id").cast("string"), lit("x"), k.cast("string"))),
      " ")
    val phrase = Seq.fill(50)("click here now").mkString(" ")
    val spam = ids.select(col("id"),
      concat(lit(phrase), lit(" "), tail).as("text"))
    val ref = ids.select(col("id"), tail.as("text"))
    def emb(df: DataFrame, sub: Boolean, name: String): DataFrame =
      graft.operators.TextAnalysis
        .hashEmbed(df, "text", dim = 512, ngrams = 2, sublinearTf = sub)
        .select(col("id"), col("embedding").as(name))
    val cos = graft.functions.VectorExpressions.vecCosine _
    ids
      .join(emb(spam, sub = false, "ls"), "id").join(emb(ref, sub = false, "lr"), "id")
      .join(emb(spam, sub = true, "ss"), "id").join(emb(ref, sub = true, "sr"), "id")
      .select(col("id"),
        coalesce(cos(col("ls"), col("lr")) < 0.2, lit(false))
          .as("linear_buries_content"),
        coalesce(cos(col("ss"), col("sr")) >= 0.25, lit(false))
          .as("sublinear_sees_content"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q173Oracle =
    """SELECT doc_id AS id, true AS linear_buries_content,
      |  true AS sublinear_sees_content
      |FROM documents WHERE doc_id % 10 = 0 ORDER BY id""".stripMargin

  /** Mixed-n-gram-order gate ([[graft.operators.TextAnalysis
    * .hashEmbed]] `ngramsMin` — orders 1..2 in one vector): the
    * word-permutation plant where pure bigrams are demonstrably
    * blind. Per `% 10 = 0` doc: A = 24 id-unique tokens in order,
    * B = the SAME tokens reversed — no bigram survives reversal
    * (cos ≈ 0, `bigrams_blind`), while the shared vocabulary gives
    * the mixed-order vectors cos = 24/47 ≈ 0.51
    * (`mixed_sees_vocabulary`). Closed-form counts; thresholds at
    * 0.2/0.3 sit ≥ 0.2 from both populations. dim 4096 for THIS
    * plant: the blind-side signal is pure collision noise, so
    * crossing 0.2 needs ≥ 5 same-sign collisions among 23 grams —
    * P ≈ 3e-7 per id (at dim 512 with 11 grams, 2 collisions
    * sufficed and one sf0.1 id actually crossed).
    */
  private def q174HashEmbedMixed(s: SparkSession, dir: String): DataFrame = {
    val ids = load(s, dir, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"))
    def toks: Column = transform(sequence(lit(0), lit(23)),
      k => concat(lit("m"), col("id").cast("string"), lit("x"), k.cast("string")))
    val fwd = ids.select(col("id"), array_join(toks, " ").as("text"))
    val rev = ids.select(col("id"), array_join(reverse(toks), " ").as("text"))
    def emb(df: DataFrame, lo: Int, name: String): DataFrame =
      graft.operators.TextAnalysis
        .hashEmbed(df, "text", dim = 4096, ngrams = 2, ngramsMin = lo)
        .select(col("id"), col("embedding").as(name))
    val cos = graft.functions.VectorExpressions.vecCosine _
    ids
      .join(emb(fwd, lo = 0, "bf"), "id").join(emb(rev, lo = 0, "br"), "id")
      .join(emb(fwd, lo = 1, "mf"), "id").join(emb(rev, lo = 1, "mr"), "id")
      .select(col("id"),
        coalesce(abs(cos(col("bf"), col("br"))) < 0.2, lit(false))
          .as("bigrams_blind"),
        coalesce(cos(col("mf"), col("mr")) >= 0.3, lit(false))
          .as("mixed_sees_vocabulary"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q174Oracle =
    """SELECT doc_id AS id, true AS bigrams_blind, true AS mixed_sees_vocabulary
      |FROM documents WHERE doc_id % 10 = 0 ORDER BY id""".stripMargin

  /** Frozen-IDF model gate ([[graft.operators.TextAnalysis
    * .fitHashIdf]] → [[graft.operators.IndexStore.saveHashIdf]] /
    * `loadHashIdf` → [[graft.operators.TextAnalysis.applyHashIdf]]):
    * the batch-drift plant the refitting [[graft.operators
    * .TextAnalysis.hashEmbedIdf]] face fails. Fit corpus A = one doc
    * per `% 10 = 0` id over a 200-token corpus-universal boilerplate
    * plus a 12-token unique tail; the fitted statistics persist to
    * disk and RELOAD before every use, so the save/load path is inside
    * the gate. Three closed-form flags per id:
    * `loaded_matches_inline` — fit→save→load→apply on the fit corpus
    * is BIT-identical (null-safe array equality, no threshold) to the
    * in-line refitting face; `frozen_consistent` — the SAME text
    * re-embedded through the loaded model while batched among 9×
    * novel-vocabulary filler docs equals its stored embedding exactly
    * (the embedding is a pure function of the text, which is also what
    * lets applyHashIdf run in a streaming plan); `refit_drifts` — the
    * refitting face embeds that identical text at cosine < 0.9 to its
    * own stored vector once the batch composition shifts (bp df drops
    * from N/N to N/10N → its buckets revive at ln 10 and dominate the
    * norm: cos ≈ 0.47, and because BOTH corpora's bucket-df ratios
    * scale with N the value is sf-free — margins ≥ 0.4 both sides).
    */
  private def q175HashIdfFrozen(s: SparkSession, dir: String): DataFrame = {
    val bp = (0 until 200).map(k => s"common$k").mkString(" ")
    val ids = load(s, dir, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"))
    def tail: Column = array_join(
      transform(sequence(lit(0), lit(11)),
        k => concat(lit("a"), col("id").cast("string"), lit("x"), k.cast("string"))),
      " ")
    val corpusA = ids.select(col("id"),
      concat(lit(bp), lit(" "), tail).as("text"))
    val model = graft.operators.TextAnalysis
      .fitHashIdf(corpusA, "text", dim = 2048, ngrams = 2)
    val modelDir = tempFixtureDir("graft_hashidf_q175").toString
    graft.operators.IndexStore.saveHashIdf(s, model, modelDir)
    val loaded = graft.operators.IndexStore.loadHashIdf(s, modelDir)
    val stored = graft.operators.TextAnalysis
      .applyHashIdf(corpusA, "text", loaded)
      .select(col("id"), col("embedding").as("stored"))
    val inline = graft.operators.TextAnalysis
      .hashEmbedIdf(corpusA, "text", dim = 2048, ngrams = 2)
      .select(col("id"), col("embedding").as("inl"))
    // batch B: the identical planted texts among 9 novel-vocabulary
    // filler docs per id — composition shift, same content
    def filler(j: Int): DataFrame = ids.select(col("id"), lit(s"f$j").as("role"),
      array_join(transform(sequence(lit(0), lit(12)),
        k => concat(lit(s"f${j}y"), col("id").cast("string"), lit("z"),
          k.cast("string"))), " ").as("text"))
    val batchB = corpusA.select(col("id"), lit("p").as("role"), col("text"))
      .unionByName((0 until 9).map(filler).reduce(_ unionByName _))
    val frozenB = graft.operators.TextAnalysis
      .applyHashIdf(batchB, "text", loaded)
      .where(col("role") === "p")
      .select(col("id"), col("embedding").as("frozen_b"))
    val refitB = graft.operators.TextAnalysis
      .hashEmbedIdf(batchB, "text", dim = 2048, ngrams = 2)
      .where(col("role") === "p")
      .select(col("id"), col("embedding").as("refit_b"))
    val cos = graft.functions.VectorExpressions.vecCosine _
    stored.join(inline, "id").join(frozenB, "id").join(refitB, "id")
      .select(col("id"),
        (col("stored") <=> col("inl")).as("loaded_matches_inline"),
        (col("frozen_b") <=> col("stored")).as("frozen_consistent"),
        coalesce(cos(col("refit_b"), col("stored")) < 0.9, lit(false))
          .as("refit_drifts"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q175Oracle =
    """SELECT doc_id AS id, true AS loaded_matches_inline,
      |  true AS frozen_consistent, true AS refit_drifts
      |FROM documents WHERE doc_id % 10 = 0 ORDER BY id""".stripMargin

  /** Boilerplate-immune TEXT→store semantic hits ([[graft.operators
    * .TextAnalysis.applyHashIdf]] → [[graft.streaming
    * .StreamingVectorStore.corpusSemanticHits]], bounded twin — the
    * stream≡batch spec pins the streaming plan): the live text front
    * door with the FROZEN-IDF embedding in the hit path. Standing
    * corpus = half the documents ids over a 100-token shared
    * boilerplate plus 12-token unique tails; the model fits on it
    * (bp buckets df = N → weight 0) and embeds BOTH sides, so
    * incoming near-copy texts flag their standing originals
    * (`hit_original` — cos ≈ √(12/13) in the zeroed-bp space) while
    * incoming texts that share ONLY the boilerplate produce zero hits
    * (`clean` — their cosine to every standing doc is collision noise
    * ≈ 0.1; the UNWEIGHTED face would score them ≈ 0.89 against
    * every standing doc and false-hit, the q172 mis-rank inside the
    * serving path — the streaming spec pins that contrast in-stream).
    * Frozen statistics are what make the composition sound: a refit
    * on each micro-batch would embed queries in a batch-dependent
    * space (q175), and cannot run in a streaming plan at all.
    */
  private def q176TextIdfStreamHits(s: SparkSession, dir: String): DataFrame = {
    val bp = (0 until 100).map(k => s"common$k").mkString(" ")
    def tail(prefix: String): Column = array_join(
      transform(sequence(lit(0), lit(11)),
        k => concat(lit(prefix), col("doc_id").cast("string"), lit("x"),
          k.cast("string"))),
      " ")
    val docsTable = load(s, dir, "documents")
    val unit = plantUnit(docsTable, "doc_id")
    val texts = docsTable
      .where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), concat(lit(bp), lit(" "), tail("a")).as("text"))
    val model = graft.operators.TextAnalysis
      .fitHashIdf(texts, "text", dim = 2048, ngrams = 2)
    val emb = graft.operators.TextAnalysis
      .applyHashIdf(texts, "text", model)
      .select(col("doc_id").as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val (ivf, pq) = Similarity.trainIvfPq(emb, "embedding", nlist = 16, m = 8, ksub = 16)
    val storeDir = tempFixtureDir("graft_vecstore_q176").toString
    graft.operators.VectorStore
      .write(emb, "vec_id", "embedding", storeDir, "q176_vs", ivf, pq,
        numBuckets = 8)
    val store = graft.operators.VectorStore.read(s, storeDir, "q176_vs")
    val tenth = texts.where(col("doc_id") % 10 === 0)
    val copies = tenth.select(
      (col("doc_id") + lit(unit)).as("doc_id"),
      concat(col("text"), lit(" zz")).as("text"))
    val bpOnly = tenth.select(
      (col("doc_id") + lit(2L * unit)).as("doc_id"),
      concat(lit(bp), lit(" "), tail("b")).as("text"))
    val incoming = graft.operators.TextAnalysis
      .applyHashIdf(copies.unionByName(bpOnly), "text", model)
      .select(col("doc_id").as("vec_id"), col("embedding"))
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-06-01 10:00:00")))
      .localCheckpoint(true)
    val hits = graft.streaming.StreamingVectorStore
      .corpusSemanticHits(incoming, "vec_id", "ts", "embedding", store,
        threshold = 0.8, nprobe = 8)
      .toDF()
    val agg = hits.groupBy("id").agg(
      max(col("corpus_id") === col("id") - lit(unit)).as("ho"),
      count(lit(1)).as("n"))
    incoming.select(col("vec_id").as("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("ho"), lit(false)).as("hit_original"),
        (coalesce(col("n"), lit(0L)) === 0L).as("clean"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q176Oracle =
    """WITH u AS (SELECT ((GREATEST(max(doc_id), 0) // 1000000) + 1) * 1000000 AS u FROM documents)
      |SELECT doc_id + u.u AS id, true AS hit_original, false AS clean
      |FROM documents, u WHERE doc_id % 10 = 0
      |UNION ALL
      |SELECT doc_id + 2 * u.u AS id, false AS hit_original, true AS clean
      |FROM documents, u WHERE doc_id % 10 = 0
      |ORDER BY id""".stripMargin

  /** Span-excision decontamination gate ([[graft.operators.Dedup
    * .decontaminateSpans]] — contamination SURGERY, not doc
    * dropping): per planted id, a contaminated doc embeds the
    * benchmark's 13-gram between a 10-token unique prefix and a
    * 10-token unique suffix — the quoted window (and ONLY it: every
    * other window carries an id-unique token) must excise, the
    * surrounding prose must survive verbatim — and a clean doc of 20
    * unique tokens must pass through untouched. The oracle
    * reconstructs the expected CLEAN TEXT closed-form (DuckDB string
    * synthesis), so the hash compare pins the rebuilt text
    * byte-for-byte, not just the counts.
    */
  private def q177DecontamSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val benchTokens = (0 until 13).map(k => s"bq$k").mkString(" ")
    val bench = Seq(Tuple1(benchTokens)).toDF("text")
    val ids = load(s, dir, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"))
    def run(prefix: String, count: Int): Column = array_join(
      transform(sequence(lit(0), lit(count - 1)),
        k => concat(lit(prefix), col("id").cast("string"), lit("x"), k.cast("string"))),
      " ")
    val contaminated = ids.select(col("id"),
      concat(run("p", 10), lit(" "), lit(benchTokens), lit(" "), run("s", 10)).as("text"))
    // two-step projection: the token run must read the ORIGINAL id
    // (a same-select alias would shadow it via lateral resolution)
    val clean = ids.select(col("id"), run("c", 20).as("text"))
      .select((col("id") + lit(1000000L)).as("id"), col("text"))
    graft.operators.Dedup
      .decontaminateSpans(contaminated.unionByName(clean), bench, "text", "text", n = 13)
      .select(col("id"), col("clean_text"), col("n_kept_tokens"),
        col("n_excised_tokens"), col("n_matched_windows"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q177Oracle =
    """WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 10 = 0)
      |SELECT id,
      |  array_to_string(list_transform(generate_series(0, 9), k -> 'p' || id || 'x' || k), ' ')
      |    || ' ' ||
      |  array_to_string(list_transform(generate_series(0, 9), k -> 's' || id || 'x' || k), ' ')
      |    AS clean_text,
      |  CAST(20 AS BIGINT) AS n_kept_tokens,
      |  CAST(13 AS BIGINT) AS n_excised_tokens,
      |  CAST(1 AS BIGINT) AS n_matched_windows
      |FROM ids
      |UNION ALL
      |SELECT id + 1000000,
      |  array_to_string(list_transform(generate_series(0, 19), k -> 'c' || id || 'x' || k), ' '),
      |  20, 0, 0
      |FROM ids
      |ORDER BY id""".stripMargin

  /** Bloom-face span-excision gate ([[graft.operators.Dedup
    * .decontaminateSpansBloom]]) — q177's plant pushed through the
    * SKETCHED pool: the benchmark reduces to a Bloom filter instead
    * of the exact broadcast array, and the SAME closed-form
    * kept/excised oracle must hold byte-for-byte. The filter is sized
    * generously (1000 expected / fpp 1e-9) so its deterministic
    * false-positive set is empty on the planted windows at every SF —
    * which is exactly the operating regime the Bloom face promises
    * ("~fpp extra excision"): any drift in the pool build, the
    * sketch membership, or the shared [[Dedup]] excision kernel
    * hash-fails against the exact-face arithmetic. The
    * under-provisioned (fpp-pressure) direction is DedupSpec's
    * superset test; this gate pins the driver-visible contract.
    */
  private def q178DecontamSpansBloom(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val benchTokens = (0 until 13).map(k => s"wq$k").mkString(" ")
    val bench = Seq(Tuple1(benchTokens)).toDF("text")
    val ids = load(s, dir, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"))
    def run(prefix: String, count: Int): Column = array_join(
      transform(sequence(lit(0), lit(count - 1)),
        k => concat(lit(prefix), col("id").cast("string"), lit("x"), k.cast("string"))),
      " ")
    val contaminated = ids.select(col("id"),
      concat(run("u", 10), lit(" "), lit(benchTokens), lit(" "), run("v", 10)).as("text"))
    val clean = ids.select(col("id"), run("w", 20).as("text"))
      .select((col("id") + lit(1000000L)).as("id"), col("text"))
    graft.operators.Dedup
      .decontaminateSpansBloom(contaminated.unionByName(clean), bench, "text", "text",
        expectedPoolShingles = 1000L, n = 13, fpp = 1e-9)
      .select(col("id"), col("clean_text"), col("n_kept_tokens"),
        col("n_excised_tokens"), col("n_matched_windows"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q178Oracle =
    """WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 10 = 0)
      |SELECT id,
      |  array_to_string(list_transform(generate_series(0, 9), k -> 'u' || id || 'x' || k), ' ')
      |    || ' ' ||
      |  array_to_string(list_transform(generate_series(0, 9), k -> 'v' || id || 'x' || k), ' ')
      |    AS clean_text,
      |  CAST(20 AS BIGINT) AS n_kept_tokens,
      |  CAST(13 AS BIGINT) AS n_excised_tokens,
      |  CAST(1 AS BIGINT) AS n_matched_windows
      |FROM ids
      |UNION ALL
      |SELECT id + 1000000,
      |  array_to_string(list_transform(generate_series(0, 19), k -> 'w' || id || 'x' || k), ' '),
      |  20, 0, 0
      |FROM ids
      |ORDER BY id""".stripMargin

  /** Frozen-pool decontamination serving gate
    * ([[graft.operators.Dedup.fitShinglePool]] →
    * [[graft.operators.IndexStore.saveShinglePool]] → load →
    * [[graft.operators.Dedup.ShinglePoolModel.merged]] →
    * [[graft.operators.Dedup.decontaminateSpansWithPool]]) — the
    * fit-once / persist / fold-updates / serve-everywhere lifecycle
    * that q175/q176 pin for the hash-IDF model, applied to
    * decontamination: TWO benchmark suites are fit as separate pools,
    * the first roundtrips through the store, the merged pool excises
    * BOTH quoted 13-grams from every contaminated doc (prefix, middle
    * and suffix runs survive verbatim), clean docs pass untouched.
    * The oracle reconstructs the expected clean text closed-form, so
    * the hash compare pins the fit, the persisted longs, the exact
    * merge, and the shared excision kernel byte-for-byte.
    */
  private def q179DecontamPoolServed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gramA = (0 until 13).map(k => s"aq$k").mkString(" ")
    val gramB = (0 until 13).map(k => s"bq$k").mkString(" ")
    val poolA0 = graft.operators.Dedup
      .fitShinglePool(Seq(Tuple1(gramA)).toDF("text"), "text", n = 13)
    val poolB = graft.operators.Dedup
      .fitShinglePool(Seq(Tuple1(gramB)).toDF("text"), "text", n = 13)
    val storeDir = tempFixtureDir("graft_shinglepool_q179").toString
    graft.operators.IndexStore.saveShinglePool(s, poolA0, storeDir)
    val poolA = graft.operators.IndexStore.loadShinglePool(s, storeDir)
    val pool = poolA.merged(poolB)
    val ids = load(s, dir, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"))
    def run(prefix: String, count: Int): Column = array_join(
      transform(sequence(lit(0), lit(count - 1)),
        k => concat(lit(prefix), col("id").cast("string"), lit("x"), k.cast("string"))),
      " ")
    val contaminated = ids.select(col("id"),
      concat(run("g", 5), lit(" "), lit(gramA), lit(" "), run("h", 5),
        lit(" "), lit(gramB), lit(" "), run("i", 5)).as("text"))
    val clean = ids.select(col("id"), run("j", 20).as("text"))
      .select((col("id") + lit(1000000L)).as("id"), col("text"))
    graft.operators.Dedup
      .decontaminateSpansWithPool(contaminated.unionByName(clean), pool, "text")
      .select(col("id"), col("clean_text"), col("n_kept_tokens"),
        col("n_excised_tokens"), col("n_matched_windows"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q179Oracle =
    """WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 10 = 0)
      |SELECT id,
      |  array_to_string(list_transform(generate_series(0, 4), k -> 'g' || id || 'x' || k), ' ')
      |    || ' ' ||
      |  array_to_string(list_transform(generate_series(0, 4), k -> 'h' || id || 'x' || k), ' ')
      |    || ' ' ||
      |  array_to_string(list_transform(generate_series(0, 4), k -> 'i' || id || 'x' || k), ' ')
      |    AS clean_text,
      |  CAST(15 AS BIGINT) AS n_kept_tokens,
      |  CAST(26 AS BIGINT) AS n_excised_tokens,
      |  CAST(2 AS BIGINT) AS n_matched_windows
      |FROM ids
      |UNION ALL
      |SELECT id + 1000000,
      |  array_to_string(list_transform(generate_series(0, 19), k -> 'j' || id || 'x' || k), ' '),
      |  20, 0, 0
      |FROM ids
      |ORDER BY id""".stripMargin

  /** FILTERED store-served ANN gate
    * ([[graft.operators.Similarity.ivfPqTopKFromStore]] with `allowed` —
    * "top-k among the documents the metadata predicate allows"): each
    * planted id gets TWO perturbed copies — a +0.01 decoy
    * (id + unit) and a +0.02 query (id + 2·unit, unit =
    * [[plantUnit]]) — and the allowed set is the BASE corpus only. Three driver-checked booleans per query: the decoy
    * is a top-k neighbor of the UNFILTERED search (proving the filter
    * has something real to remove), the filtered search recovers the
    * allowed original, and NO filtered-out id leaks into the filtered
    * top-k (the exactness half — post-filter-after-search would pass
    * recovery but show degraded k, pre-filter passes both).
    */
  private def q180FilteredAnnPlanted(s: SparkSession, dir: String): DataFrame = {
    val embTable = load(s, dir, "embeddings")
    val unit = plantUnit(embTable, "vec_id")
    val emb = embTable.select(col("vec_id"), col("embedding"))
    def shifted(offset: Long, delta: Float) = emb
      .where(col("vec_id") % 10 === 0)
      .select(
        (col("vec_id") + lit(offset)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, (x + lit(delta)).cast("float")).otherwise(x))
          .as("embedding"))
    val decoys = shifted(unit, 0.01f)
    val queries = shifted(2L * unit, 0.02f).localCheckpoint(true)
    val corpus = emb.unionByName(decoys).unionByName(queries).localCheckpoint(true)
    val (ivf, pq) = Similarity.trainIvfPq(corpus, "embedding", nlist = 16, m = 8, ksub = 16)
    val storeDir = tempFixtureDir("graft_vecstore_q180").toString
    graft.operators.VectorStore
      .write(corpus, "vec_id", "embedding", storeDir, "q180_vs", ivf, pq,
        numBuckets = 8)
    val store = graft.operators.VectorStore.read(s, storeDir, "q180_vs")
    val allowed = emb.select(col("vec_id"))
    val unfiltered = Similarity
      .ivfPqTopKFromStore(store, queries, "vec_id", "embedding", k = 5,
        nprobe = 4, refine = 4)
    val filtered = Similarity
      .ivfPqTopKFromStore(store, queries, "vec_id", "embedding", k = 5,
        nprobe = 4, refine = 4, allowed = Some(Similarity.AllowedIds(allowed, "vec_id")))
    val planted = emb.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + lit(2L * unit)).as("query_id"),
        col("vec_id").as("expected_id"))
    planted
      .join(unfiltered
        .where(col("neighbor_id") === col("query_id") - lit(unit))
        .select(col("query_id"), lit(true).as("ud")), Seq("query_id"), "left")
      .join(filtered
        .where(col("neighbor_id") === col("query_id") - lit(2L * unit))
        .select(col("query_id"), lit(true).as("fr")), Seq("query_id"), "left")
      .join(filtered
        .where(col("neighbor_id") >= unit)
        .select(col("query_id"), lit(true).as("fl")).distinct(), Seq("query_id"), "left")
      .select(col("query_id"), col("expected_id"),
        coalesce(col("ud"), lit(false)).as("unfiltered_has_decoy"),
        coalesce(col("fr"), lit(false)).as("filtered_recovers_original"),
        coalesce(col("fl"), lit(false)).as("filtered_leaks"))
      .orderBy("query_id")
      .localCheckpoint(true)
  }

  private val q180Oracle =
    """WITH u AS (SELECT ((GREATEST(max(vec_id), 0) // 1000000) + 1) * 1000000 AS u FROM embeddings)
      |SELECT vec_id + 2 * u.u AS query_id, vec_id AS expected_id,
      |  true AS unfiltered_has_decoy, true AS filtered_recovers_original,
      |  false AS filtered_leaks
      |FROM embeddings, u WHERE vec_id % 10 = 0 ORDER BY query_id""".stripMargin

  /** Frozen-tokenizer gate ([[graft.operators.Bpe.train]] →
    * [[graft.operators.IndexStore.saveBpe]] → load →
    * [[graft.operators.Bpe.withBpeTokens]]): the tokenizer is the
    * most frozen artifact in a training pipeline (every token count,
    * packing boundary, and budget decision is defined against ONE
    * tokenizer), so its persistence must be rank-exact. The plant
    * makes the single learned merge closed-form: every planted doc is
    * "zq zqk" ×3, so pair (z,q) has strictly the highest frequency
    * (2 per repetition vs 1 for every other pair — no tie-break
    * reliance) and numMerges = 1 must learn exactly ("z","q").
    * Applying the LOADED model then yields a fixed token stream —
    * "zq"→[zq,</w>], "zqk"→[zq,k,</w>] — which the oracle states as
    * a literal, pinning train determinism, merge-rank persistence,
    * and the encode kernel in one hash compare. The token stream is
    * projected through `array_join` to a single space-joined string:
    * oracle-checked outputs must be scalar-only (the driver
    * comparator canonicalizes with pandas sort_values, which cannot
    * hash array cells — r18's q181 shipped red on exactly this;
    * QueriesSpec now pins the convention for every gate).
    */
  private def q181BpeFrozen(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), lit("zq zqk zq zqk zq zqk").as("text"))
      .localCheckpoint(true)
    val model = graft.operators.Bpe.train(docs, "text", numMerges = 1)
    val storeDir = tempFixtureDir("graft_bpe_q181").toString
    graft.operators.IndexStore.saveBpe(s, model, storeDir)
    val loaded = graft.operators.IndexStore.loadBpe(s, storeDir)
    graft.operators.Bpe
      .withBpeTokens(docs, "text", loaded)
      .select(col("doc_id"),
        array_join(col("bpe_tokens"), " ").as("bpe_text"),
        col("n_bpe_tokens"))
      .orderBy("doc_id")
      .localCheckpoint(true)
  }

  private val q181Oracle =
    """SELECT doc_id,
      |  'zq </w> zq k </w> zq </w> zq k </w> zq </w> zq k </w>' AS bpe_text,
      |  CAST(15 AS INT) AS n_bpe_tokens
      |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin

  /** Frozen-DSIR gate: q89's planted selection truth with the fitted
    * importance model pushed through
    * [[graft.operators.IndexStore.saveDsir]]/`loadDsir` — the LOADED
    * model must select exactly the planted target set (its log-ratio
    * doubles roundtrip bit-exact, so selection through the store
    * cannot drift from the in-memory fit; IndexStoreSpec pins the
    * per-document weight equality, this gate pins the end-to-end
    * behavior driver-visibly).
    */
  private def q182DsirFrozen(s: SparkSession, dir: String): DataFrame = {
    val targetMarks = "aurora quasar pulsar nebula photon graviton meson tachyon " +
      "boson lepton hadron gluon neutrino axion muon positron"
    val rawMarks = "granite basalt schist gneiss marble slate quartzite obsidian " +
      "pumice shale flint chert gypsum mica feldspar olivine"
    val docs = load(s, dir, "documents")
      .select(
        col("doc_id"),
        concat_ws(
          " ",
          col("text"),
          when(col("doc_id") % 5 === 0, lit(targetMarks)).otherwise(lit(rawMarks)),
        ).as("ptext"),
      )
    val k = docs.where(col("doc_id") % 5 === 0).count().toInt
    if (k == 0) return docs.select(col("doc_id")).limit(0)
    val fitSample = docs.where(col("doc_id") % 10 === 0)
    val fitted = graft.operators.Dsir.fit(fitSample, docs, "ptext")
    val storeDir = tempFixtureDir("graft_dsir_q182").toString
    graft.operators.IndexStore.saveDsir(s, fitted, storeDir)
    val loaded = graft.operators.IndexStore.loadDsir(s, storeDir)
    graft.operators.Dsir
      .select(docs, "doc_id", "ptext", k, loaded)
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  private val q182Oracle =
    "SELECT doc_id FROM documents WHERE doc_id % 5 = 0 ORDER BY doc_id"

  /** Frozen-LM gate: q94's fluent-beats-scrambled ordering truth with
    * the trained bigram LM pushed through
    * [[graft.operators.IndexStore.saveBigramLm]]/`loadBigramLm` — the
    * LOADED model must rank every fluent variant above its scramble
    * (counts are longs, so scoring through the store is bit-identical;
    * IndexStoreSpec pins the avgLogProb equality).
    */
  private def q183LmFrozen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = Array("the", "quick", "brown", "fox", "jumps",
      "over", "lazy", "dog", "again", "today")
    val fluentUdf = udf { (id: Long) =>
      val r = (id % words.length).toInt
      (words.drop(r) ++ words.take(r)).mkString(" ")
    }
    val scrambledUdf = udf { (id: Long) =>
      val r = (id % words.length).toInt
      (words.drop(r) ++ words.take(r)).reverse.mkString(" ")
    }
    val docs = load(s, dir, "documents").select(col("doc_id"))
    if (docs.isEmpty) return Seq.empty[(Long, Boolean)].toDF("doc_id", "fluent_wins")
    val fluent = docs.withColumn("t", fluentUdf(col("doc_id")))
    val lm = graft.operators.LmQuality.train(fluent, "t", vocabSize = 100)
    val storeDir = tempFixtureDir("graft_lm_q183").toString
    graft.operators.IndexStore.saveBigramLm(s, lm, storeDir)
    val loaded = graft.operators.IndexStore.loadBigramLm(s, storeDir)
    val both = docs
      .withColumn("tf", fluentUdf(col("doc_id")))
      .withColumn("ts", scrambledUdf(col("doc_id")))
    val sf1 = graft.operators.LmQuality.score(both, "tf", loaded, outCol = "lp_fluent")
    val sf2 = graft.operators.LmQuality.score(sf1, "ts", loaded, outCol = "lp_scrambled")
    sf2
      .select(col("doc_id"), (col("lp_fluent") > col("lp_scrambled")).as("fluent_wins"))
      .orderBy("doc_id")
  }

  private val q183Oracle =
    "SELECT doc_id, true AS fluent_wins FROM documents ORDER BY doc_id"

  /** q180's filtered-ANN truth through the SIGN-CODE (Hamming) store
    * face ([[graft.operators.Similarity.ivfHammingTopKFromStore]] with `allowed`
    * — the license-clean-only lookup on a binary-quantized store):
    * same decoy/query/allowed plant, same three booleans — the decoy
    * IS an unfiltered top-k hit, the filtered search recovers the
    * allowed original, and no filtered-out id leaks. The corpus is
    * the even half of the embeddings (every planted id is `% 10 = 0`,
    * hence even — the oracle set is q180's exactly); the pre-filter
    * is the SAME shared semi-join as q180's, so this gate pins the
    * `hcode`-reading composition, not a new mechanism.
    */
  private def q184FilteredHammingAnn(s: SparkSession, dir: String): DataFrame = {
    val embTable = load(s, dir, "embeddings")
    // unit from the FULL table (the oracle's max() sees every row),
    // not the even-filtered gate corpus
    val unit = plantUnit(embTable, "vec_id")
    val emb = embTable
      .where(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    def shifted(offset: Long, delta: Float) = emb
      .where(col("vec_id") % 10 === 0)
      .select(
        (col("vec_id") + lit(offset)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, (x + lit(delta)).cast("float")).otherwise(x))
          .as("embedding"))
    val decoys = shifted(unit, 0.01f)
    val queries = shifted(2L * unit, 0.02f).localCheckpoint(true)
    val corpus = emb.unionByName(decoys).unionByName(queries).localCheckpoint(true)
    val (ivf, pq) = Similarity.trainIvfPq(corpus, "embedding", nlist = 16, m = 8, ksub = 16)
    val storeDir = tempFixtureDir("graft_vecstore_q184").toString
    graft.operators.VectorStore
      .write(corpus, "vec_id", "embedding", storeDir, "q184_vs", ivf, pq,
        numBuckets = 8)
    val store = graft.operators.VectorStore.read(s, storeDir, "q184_vs")
    val allowed = emb.select(col("vec_id"))
    val unfiltered = Similarity
      .ivfHammingTopKFromStore(store, queries, "vec_id", "embedding", k = 5,
        nprobe = 4, refine = 4)
    val filtered = Similarity
      .ivfHammingTopKFromStore(store, queries, "vec_id", "embedding", k = 5,
        nprobe = 4, refine = 4, allowed = Some(Similarity.AllowedIds(allowed, "vec_id")))
    val planted = emb.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + lit(2L * unit)).as("query_id"),
        col("vec_id").as("expected_id"))
    planted
      .join(unfiltered
        .where(col("neighbor_id") === col("query_id") - lit(unit))
        .select(col("query_id"), lit(true).as("ud")), Seq("query_id"), "left")
      .join(filtered
        .where(col("neighbor_id") === col("query_id") - lit(2L * unit))
        .select(col("query_id"), lit(true).as("fr")), Seq("query_id"), "left")
      .join(filtered
        .where(col("neighbor_id") >= unit)
        .select(col("query_id"), lit(true).as("fl")).distinct(), Seq("query_id"), "left")
      .select(col("query_id"), col("expected_id"),
        coalesce(col("ud"), lit(false)).as("unfiltered_has_decoy"),
        coalesce(col("fr"), lit(false)).as("filtered_recovers_original"),
        coalesce(col("fl"), lit(false)).as("filtered_leaks"))
      .orderBy("query_id")
      .localCheckpoint(true)
  }

  private val q184Oracle =
    """WITH u AS (SELECT ((GREATEST(max(vec_id), 0) // 1000000) + 1) * 1000000 AS u FROM embeddings)
      |SELECT vec_id + 2 * u.u AS query_id, vec_id AS expected_id,
      |  true AS unfiltered_has_decoy, true AS filtered_recovers_original,
      |  false AS filtered_leaks
      |FROM embeddings, u WHERE vec_id % 10 = 0 ORDER BY query_id""".stripMargin

  /** Typed row for the in-stream decontamination gate's MemoryStream
    * source (q185).
    */
  final case class PoolDoc(id: Long, text: String)

  /** IN-STREAM frozen-pool excision gate — q179's serving claim
    * driven inside a RUNNING streaming query: the pool fits and
    * roundtrips through [[graft.operators.IndexStore.saveShinglePool]],
    * then [[graft.operators.Dedup.decontaminateSpansWithPool]] runs
    * over a MemoryStream of contaminated + clean docs into a memory
    * sink (stateless per-row kernel → append-mode, no watermark —
    * exactly the shape a live ingest pipeline serves the frozen pool
    * in). Per planted id the quoted 13-gram (and only it) excises
    * mid-stream and the surrounding prose survives verbatim; clean
    * docs pass untouched. The oracle reconstructs the expected clean
    * text closed-form, so the hash compare pins the persisted pool,
    * the streaming plan, and the shared excision kernel
    * byte-for-byte.
    */
  private def q185PoolStreamExcision(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val gram = (0 until 13).map(k => s"dq$k").mkString(" ")
    val pool0 = graft.operators.Dedup
      .fitShinglePool(Seq(Tuple1(gram)).toDF("text"), "text", n = 13)
    val storeDir = tempFixtureDir("graft_shinglepool_q185").toString
    graft.operators.IndexStore.saveShinglePool(s, pool0, storeDir)
    val pool = graft.operators.IndexStore.loadShinglePool(s, storeDir)
    val ids = load(s, dir, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"))
    def run(prefix: String, count: Int): Column = array_join(
      transform(sequence(lit(0), lit(count - 1)),
        k => concat(lit(prefix), col("id").cast("string"), lit("x"), k.cast("string"))),
      " ")
    val contaminated = ids.select(col("id"),
      concat(run("n", 5), lit(" "), lit(gram), lit(" "), run("o", 5)).as("text"))
    val clean = ids.select(col("id"), run("r", 20).as("text"))
      .select((col("id") + lit(1000000L)).as("id"), col("text"))
    val rows = contaminated.unionByName(clean).collect()
      .map(r => PoolDoc(r.getLong(0), r.getString(1)))
    val in = MemoryStream[PoolDoc](s)
    val out = graft.operators.Dedup
      .decontaminateSpansWithPool(in.toDF(), pool, "text")
      .select(col("id"), col("clean_text"), col("n_kept_tokens"),
        col("n_excised_tokens"), col("n_matched_windows"))
    val qname = "q185_pool_stream_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = out.writeStream.format("memory").queryName(qname)
      .outputMode("append").start()
    try {
      in.addData(rows.toSeq)
      q.processAllAvailable()
      val result = s.table(qname).orderBy("id").localCheckpoint(true)
      result
    } finally {
      q.stop()
      s.catalog.dropTempView(qname)
    }
  }

  /** Recall-measurement gate
    * ([[graft.operators.Similarity.recallAtK]] — the knob-tuning loop:
    * brute-force a query sample for ground truth, measure an
    * approximate index's recall, raise nprobe/refine until the budget
    * meets): exact truth comes from [[graft.operators.Similarity
    * .bruteForceTopK]] at k = 4, and the measured frame is that truth
    * with every EVEN rank's neighbor remapped to a nonexistent id —
    * so per query exactly 2 of 4 rows survive the intersection and
    * (n_exact, n_matched, recall) = (4, 2, 0.5) closed-form,
    * whatever the data's actual neighbors are. This pins the
    * measurement arithmetic driver-visibly; SimilaritySpec pins the
    * live composition (full-coverage IVF-PQ measures exactly 1.0
    * against brute force, crippled settings measure below it).
    */
  private def q186AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val embTable = load(s, dir, "embeddings")
    val unit = plantUnit(embTable, "vec_id")
    val emb = embTable.select(col("vec_id"), col("embedding"))
    val queries = emb.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + lit(unit)).as("vec_id"), col("embedding"))
    val exact = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", k = 4)
      .localCheckpoint(true)
    // remap target just needs to be a NONEXISTENT id: corpus ids are
    // < unit and query ids < 2·unit, so 1000·unit collides with nothing
    val approx = exact.withColumn("neighbor_id",
      when(col("rank") % 2 === 0, col("neighbor_id") + lit(1000L * unit))
        .otherwise(col("neighbor_id")))
    Similarity.recallAtK(approx, exact, k = 4)
      .orderBy("query_id")
      .localCheckpoint(true)
  }

  private val q186Oracle =
    """WITH u AS (SELECT ((GREATEST(max(vec_id), 0) // 1000000) + 1) * 1000000 AS u FROM embeddings)
      |SELECT vec_id + u.u AS query_id, CAST(4 AS BIGINT) AS n_exact,
      |  CAST(2 AS BIGINT) AS n_matched, CAST(0.5 AS DOUBLE) AS recall
      |FROM embeddings, u WHERE vec_id % 10 = 0 ORDER BY query_id""".stripMargin

  /** Filtered stream-vs-store hits gate
    * ([[graft.streaming.StreamingVectorStore.corpusSemanticHitsFiltered]]
    * — flag incoming rows against the license-clean SLICE of the
    * standing store only): the standing corpus is one deterministic
    * ±1 sign pattern per id (distinct patterns are near-orthogonal —
    * cross cosines ≈ 1/√dim — so each incoming near-copy's ONLY
    * standing neighbor at 0.9 is its own original, making the hit set
    * closed-form exclusive, unlike the clustered fixtures). Every
    * `% 10 = 0` id sends a nudged copy; the allowed slice excludes
    * the `% 20 = 0` originals. Per incoming row the oracle states
    * BOTH directions: allowed originals are hit (`hit_original`),
    * disallowed originals produce ZERO hits (`clean`) — recall can't
    * fake the latter because the unfiltered twin q165 proves these
    * copies do flag their originals through the same engine.
    */
  private def q187FilteredStreamHits(s: SparkSession, dir: String): DataFrame = {
    val embTable = load(s, dir, "embeddings")
    val unit = plantUnit(embTable, "vec_id")
    val standing = embTable
      .select(col("vec_id"),
        transform(col("embedding"),
          (x, i) => when(pmod(hash(col("vec_id"), i), lit(2)) === 0, lit(1.0f))
            .otherwise(lit(-1.0f))).as("embedding"))
      .localCheckpoint(true)
    val (ivf, pq) = Similarity.trainIvfPq(standing, "embedding", nlist = 16, m = 8, ksub = 16)
    val storeDir = tempFixtureDir("graft_vecstore_q187").toString
    graft.operators.VectorStore
      .write(standing, "vec_id", "embedding", storeDir, "q187_vs", ivf, pq,
        numBuckets = 8)
    val store = graft.operators.VectorStore.read(s, storeDir, "q187_vs")
    val incoming = standing.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + lit(unit)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, (x + lit(0.01f)).cast("float")).otherwise(x))
          .as("embedding"))
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-06-01 10:00:00")))
      .localCheckpoint(true)
    val allowed = standing.where(col("vec_id") % 20 =!= 0).select(col("vec_id"))
    val hits = graft.streaming.StreamingVectorStore
      .corpusSemanticHitsFiltered(incoming, "vec_id", "ts", "embedding", store,
        threshold = 0.9, allowed, "vec_id", nprobe = 8)
      .toDF()
    val agg = hits.groupBy("id").agg(
      max(col("corpus_id") === col("id") - lit(unit)).as("ho"),
      count(lit(1)).as("n"))
    incoming.select(col("vec_id").as("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("ho"), lit(false)).as("hit_original"),
        (coalesce(col("n"), lit(0L)) === 0L).as("clean"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q187Oracle =
    """WITH u AS (SELECT ((GREATEST(max(vec_id), 0) // 1000000) + 1) * 1000000 AS u FROM embeddings)
      |SELECT vec_id + u.u AS id,
      |  vec_id % 20 <> 0 AS hit_original,
      |  vec_id % 20 = 0 AS clean
      |FROM embeddings, u WHERE vec_id % 10 = 0 ORDER BY id""".stripMargin

  /** Knob-tuning gate ([[graft.operators.Similarity.tuneNprobe]] —
    * the packaged "raise nprobe until recall meets the budget" loop a
    * real ANN deployment runs before committing the knob to a
    * full-corpus job): build a store at nlist = 16, tune against a
    * query sample with `targetRecall = 1.0` and EXHAUSTIVE refine
    * (`refine·k ≥ corpus`, so every probed candidate is re-ranked
    * with exact cosines). Probed cells are NESTED in nprobe, so the
    * walk's ENDPOINT (nprobe = nlist probes every cell → the search
    * IS brute force over the stored floats) measures recall exactly
    * 1.0 whatever the data — but the nprobe VALUE the loop stops at
    * is data-dependent (early stop fires at the first curve point
    * that already reads 1.0), so the driver-checked row states the
    * walk's INVARIANTS, not the stopping knob: the final curve row's
    * recall is exactly 1.0 with `met_target` true, the curve has
    * 1..log2(nlist)+1 rows, the probed values are the doubling
    * sequence walked in order, and (exhaustive refine ⇒ candidates
    * grow with nprobe) the measured curve is monotone non-decreasing.
    * SimilaritySpec pins the live composition (below-1.0 interior
    * points at crippled settings, early stop, empty sample, the
    * degenerate-store named error).
    */
  /** Shared fixture + invariant-row plumbing for the two knob-tuning
    * gates (q188 nprobe / q189 refine): store at nlist 16 over the
    * even corpus half (the gates' invariants are corpus-size-
    * independent, and every tuning step at exhaustive refine costs a
    * corpus-sized re-rank per sample query — the full corpus measured
    * 10.7 s vs 6.5 s halved, bench sf0.1), sample ids offset by
    * [[plantUnit]] so no query can self-match a corpus row on either
    * the truth or the measured side (% 100 keeps the sample inside
    * the even half). The built store is shared through
    * [[cachedStoreFixture]] — the two gates' fixtures are byte-identical,
    * so the second gate (and a best-of-N re-run of either) reopens
    * the landed store instead of re-training and re-writing it; each
    * gate still builds from scratch when run in isolation. Returns
    * None on the degenerate (empty-table) world — no centroids to
    * walk; the tuner's named error is correct there, the GATES must
    * not crash.
    */
  private def tuneGateFixture(s: SparkSession, dir: String)
      : Option[(graft.operators.VectorStore.CodedVectorStore, DataFrame, Long)] = {
    val embTable = load(s, dir, "embeddings")
    val unit = plantUnit(embTable, "vec_id")
    val emb = embTable
      .where(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    val cached = cachedStoreFixture[Option[
        (graft.operators.VectorStore.CodedVectorStore, Long)]](s, dir, "tune") {
      val (ivf, pq) = Similarity.trainIvfPq(emb, "embedding", nlist = 16, m = 8,
        ksub = 16)
      if (ivf.centroids.isEmpty) (None, Seq.empty)
      else {
        val storeDir = tempFixtureDir("graft_vecstore_tune")
        graft.operators.VectorStore
          .write(emb, "vec_id", "embedding", storeDir.toString, "tune_vs", ivf, pq,
            numBuckets = 8)
        val store = graft.operators.VectorStore.read(s, storeDir.toString, "tune_vs")
        (Some((store, store.vecs.count())), Seq(storeDir))
      }
    }
    cached.map { case (store, n) =>
      val sample = emb.where(col("vec_id") % 100 === 0)
        .select((col("vec_id") + lit(unit)).as("vec_id"), col("embedding"))
      (store, sample, n)
    }
  }

  /** The five-scalar invariant row both tuning gates reduce their
    * measured curve to (see q188's scaladoc for why the stopping knob
    * itself is NOT oracle-expressible): endpoint recall and met flag,
    * length within the doubling walk's bound, the walked values being
    * exactly the expected prefix, and monotonicity.
    */
  private def tuneGateRow(
      s: SparkSession,
      curve: Array[org.apache.spark.sql.Row],
      expectedWalk: Seq[Int],
  ): DataFrame = {
    import s.implicits._
    def row(vals: (Double, Boolean, Boolean, Boolean, Boolean)) = Seq(vals)
      .toDF("final_mean_recall", "final_met_target", "curve_len_ok",
        "curve_walk_ok", "recall_monotone")
    if (curve.isEmpty) return row((0.0, false, false, false, false))
    val last = curve.last
    val knobs = curve.map(_.getInt(0)).toSeq
    val recalls = curve.map(_.getDouble(1)).toSeq
    row((
      last.getDouble(1),
      last.getBoolean(2),
      curve.length >= 1 && curve.length <= expectedWalk.length,
      knobs == expectedWalk.take(curve.length),
      recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
    )).localCheckpoint(true)
  }

  private def q188TuneNprobe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tuneGateFixture(s, dir) match {
      case None => Seq((0.0, false, false, false, false))
        .toDF("final_mean_recall", "final_met_target", "curve_len_ok",
          "curve_walk_ok", "recall_monotone")
      case Some((store, sample, corpusN)) =>
        val k = 4
        val exhaustive = math.max(1L, (corpusN + k - 1) / k.toLong).toInt
        val curve = Similarity
          .tuneNprobe(store, sample, "vec_id", "embedding", k,
            targetRecall = 1.0, refine = exhaustive)
          .collect() // bounded: ≤ log2(nlist)+1 = 5 rows by construction
        tuneGateRow(s, curve, Seq(1, 2, 4, 8, 16))
    }
  }

  private val q188Oracle =
    """SELECT CAST(1.0 AS DOUBLE) AS final_mean_recall,
      |  true AS final_met_target, true AS curve_len_ok,
      |  true AS curve_walk_ok, true AS recall_monotone""".stripMargin

  /** Knob-tuning gate #2 ([[graft.operators.Similarity.tuneRefine]] —
    * the exact-re-rank budget walk at a FIXED nprobe, the knob a
    * session raises when nprobe is pinned by a latency budget and the
    * target is still missed): q188's fixture, the refine walk at
    * nprobe = nlist. Full probe makes the probed pool the whole
    * corpus, so the EXHAUSTIVE endpoint (refine·k ≥ corpus) is brute
    * force and measures recall exactly 1.0 whatever the data; at a
    * fixed nprobe the re-ranked pool only ever GROWS with refine and
    * a truth member in the pool always survives exact re-rank, so the
    * measured curve is monotone BY CONSTRUCTION (not merely by
    * nesting, as in q188). Same invariant-row shape and oracle as
    * q188; the stopping refine value is data-dependent under early
    * stop and stays out of the row. VectorStoreSpec additionally pins
    * the pinned-nprobe CEILING semantics (endpoint = probed-cell
    * truth fraction, measured independently from the coded table).
    */
  private def q189TuneRefine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tuneGateFixture(s, dir) match {
      case None => Seq((0.0, false, false, false, false))
        .toDF("final_mean_recall", "final_met_target", "curve_len_ok",
          "curve_walk_ok", "recall_monotone")
      case Some((store, sample, corpusN)) =>
        val k = 4
        val exhaustive = math.max(1L, (corpusN + k - 1) / k.toLong).toInt
        val expected = (Iterator.iterate(1)(_ * 2).takeWhile(_ < exhaustive) ++
          Iterator.single(exhaustive)).toSeq
        val curve = Similarity
          .tuneRefine(store, sample, "vec_id", "embedding", k,
            targetRecall = 1.0, nprobe = 16)
          .collect() // bounded: ≤ log2(exhaustive)+2 rows by construction
        tuneGateRow(s, curve, expected)
    }
  }

  private val q189Oracle =
    """SELECT CAST(1.0 AS DOUBLE) AS final_mean_recall,
      |  true AS final_met_target, true AS curve_len_ok,
      |  true AS curve_walk_ok, true AS recall_monotone""".stripMargin

  private val q185Oracle =
    """WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 10 = 0)
      |SELECT id,
      |  array_to_string(list_transform(generate_series(0, 4), k -> 'n' || id || 'x' || k), ' ')
      |    || ' ' ||
      |  array_to_string(list_transform(generate_series(0, 4), k -> 'o' || id || 'x' || k), ' ')
      |    AS clean_text,
      |  CAST(10 AS BIGINT) AS n_kept_tokens,
      |  CAST(13 AS BIGINT) AS n_excised_tokens,
      |  CAST(1 AS BIGINT) AS n_matched_windows
      |FROM ids
      |UNION ALL
      |SELECT id + 1000000,
      |  array_to_string(list_transform(generate_series(0, 19), k -> 'r' || id || 'x' || k), ' '),
      |  20, 0, 0
      |FROM ids
      |ORDER BY id""".stripMargin

  /** Store-served FLAT-ADC planted recall — q73's gate through the
    * persisted store ([[graft.operators.Similarity.pqTopKFromStore]]):
    * codes come from the store's coded table with CELLS IGNORED (the
    * flat scan path, machinery q157's IVF-pruned gate does not touch),
    * re-rank floats from the id-bucketed `vecs`; no per-job encode.
    * Same planted truth, identical closed-form oracle.
    */
  private def q168PqStoreFlatPlanted(s: SparkSession, dir: String): DataFrame =
    annPlantedGate(
      load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      (corpus, queries) => {
        val store = annPqStoreFixture(s, dir, corpus)
        Similarity.pqTopKFromStore(store, queries, "vec_id", "embedding", k = 5,
          refine = 4)
      })

  /** Store-served FLAT-OPQ planted recall — q85's gate through an
    * OPQ-coded store ([[graft.operators.Similarity.pqTopKFromStore]]):
    * only the QUERY side rotates (the store's codes and floats are
    * already in rotated space); the flat ADC + exact-re-rank tail runs
    * with cells ignored. Completes the store-served matrix's flat rows
    * driver-visibly (q161 gates the IVF-pruned OPQ row).
    */
  private def q169OpqStoreFlatPlanted(s: SparkSession, dir: String): DataFrame =
    annPlantedGate(
      load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      (corpus, queries) => {
        val store = annOpqStoreFixture(s, dir, corpus)
        Similarity.pqTopKFromStore(store, queries, "vec_id", "embedding", k = 5,
          refine = 4)
      })

  /** Store-served MMR gate — q140's block-diagonal selection truth
    * with the relevance pool served from the persisted store
    * ([[graft.operators.Similarity.mmrTopKFromStore]]): the pool pass
    * is the store's IVF-PQ search instead of the brute-force scan,
    * pool vectors fetch through the id-bucketed `vecs` table, and the
    * SAME greedy tail must produce the identical (A1, B) selection per
    * query. The plant's corpus is ≤150 rows at every scale (capped
    * groups), so `refine = 64` makes the ADC shortlist cover the
    * corpus — pool ≡ exact top-3 by the flat-face contract — and any
    * store-path drift (write, reopen, pool seam, vec fetch) hash-fails
    * the identical closed-form oracle rather than hiding behind ANN
    * recall slack.
    */
  private def q170MmrStorePlanted(s: SparkSession, dir: String): DataFrame = {
    val (corpus, queries) = q140Plant(s, dir)
    // m=4: the block-diagonal dim is 4·groups — always divisible by 4,
    // but only by 8 when the group count is even (it varies with sf)
    val (ivf, pq) = Similarity.trainIvfPq(corpus, "vec", nlist = 16, m = 4, ksub = 16)
    val storeDir = tempFixtureDir("graft_vecstore_q170").toString
    graft.operators.VectorStore
      .write(corpus, "id", "vec", storeDir, "q170_vs", ivf, pq, numBuckets = 4)
    val store = graft.operators.VectorStore.read(s, storeDir, "q170_vs")
    Similarity
      .mmrTopKFromStore(store, queries, "id", "vec", k = 2, poolSize = 3,
        lambda = 0.5, nprobe = 16, refine = 64)
      .select(col("query_id"), col("mmr_rank"), col("neighbor_id"))
      .orderBy("query_id", "mmr_rank")
      .localCheckpoint(true)
  }

  private val q165Oracle =
    """SELECT vec_id + 1000000 AS id, true AS hit_original, false AS clean
      |FROM embeddings WHERE vec_id % 10 = 0
      |UNION ALL
      |SELECT vec_id + 2000000 AS id, false AS hit_original, true AS clean
      |FROM embeddings WHERE vec_id % 10 = 0
      |ORDER BY id""".stripMargin

  private val q163Oracle =
    """WITH assigned AS (
      |  SELECT event_id, user_id, ts,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM (
      |    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |      CASE WHEN lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w IS NULL
      |             OR epoch_ms(CAST(ts AS TIMESTAMP)) - lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w > 1800000
      |           THEN 1 ELSE 0 END AS new_session
      |    FROM events
      |    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)))
      |SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events, true AS s_agree, true AS e_agree, true AS n_agree
      |FROM assigned GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  private val q160Oracle =
    """WITH c AS (
      |  SELECT doc_id,
      |    array_to_string(list_transform(generate_series(0, 26),
      |      k -> ['the','and','that','this','have','from','was','were','not','with'][(k % 10) + 1]
      |           || ' item' || doc_id || 'x' || k), ' ') AS chunk_text
      |  FROM documents WHERE doc_id % 10 NOT IN (1, 2, 6, 7))
      |SELECT doc_id, CAST(0 AS BIGINT) AS chunk_idx, chunk_text,
      |  CAST(54 AS BIGINT) AS n_chunk_tokens
      |FROM c ORDER BY doc_id""".stripMargin

  /** Blank-line-preserving extraction gate ([[graft.operators.WebText
    * .htmlToText]] / [[graft.operators.WebText.htmlToMainText]] with
    * `paragraphBreaks = true`): block boundaries become `\n\n`, `br`
    * stays a single `\n`, entities decode, and the link-dense nav
    * block drops WHOLE from the main-content face while the text face
    * keeps it as its own paragraph. Closed-form expected strings per
    * doc, so any drift in block/br classification, empty-block
    * collapsing, or per-paragraph link-density filtering hash-fails.
    */
  private def q155ParaExtract(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><body><h1>doc "), col("doc_id").cast("string"),
      lit(" heading</h1><p>alpha "), col("doc_id").cast("string"),
      lit("<br>beta line</p><div><a href=\"/x\">one</a> <a href=\"/y\">two</a>" +
        "</div><div>gamma &amp; delta</div></body></html>"))
    val docs = load(s, dir, "documents").select(col("doc_id"), html.as("html"))
    val t = graft.operators.WebText
      .htmlToText(docs, "html", outCol = "text_para", paragraphBreaks = true)
    graft.operators.WebText
      .htmlToMainText(t, "html", outCol = "main_para", paragraphBreaks = true)
      .select(col("doc_id"), col("text_para"), col("main_para"))
      .orderBy("doc_id")
  }

  private val q155Oracle =
    """SELECT doc_id,
      |  'doc ' || doc_id || ' heading' || chr(10) || chr(10)
      |    || 'alpha ' || doc_id || chr(10) || 'beta line' || chr(10) || chr(10)
      |    || 'one two' || chr(10) || chr(10) || 'gamma & delta' AS text_para,
      |  'doc ' || doc_id || ' heading' || chr(10) || chr(10)
      |    || 'alpha ' || doc_id || chr(10) || 'beta line' || chr(10) || chr(10)
      |    || 'gamma & delta' AS main_para
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The second boilerplate line of the q156 plant (8 tokens). */
  private val q156Boiler2 = "all rights reserved and more details follow here"

  /** Paragraph-granular webIngest gate — the Dolma web-dedup shape
    * END-TO-END: `paragraphBreaks = true` extraction +
    * `paragraphDedup = true`, with line dedup SKIPPED
    * (`minLineChars = -1`, the paragraph-only Dolma config — no
    * corpus-wide line pass at all) so the paragraph stage is the
    * dedup under test. Every page carries three blocks:
    *
    *   - a boilerplate block B (two lines, IDENTICAL on every page) —
    *     drops WHOLE everywhere except the minimum doc_id (the
    *     first-occurrence keep rule at paragraph granularity);
    *   - a partial-overlap block P sharing B's first line but with a
    *     doc-unique second line — survives INTACT on every page,
    *     shared first line included (line-granular dedup would have
    *     shredded it; the whole point of the coarser unit);
    *   - the doc-unique q122 content block.
    *
    * The oracle reconstructs the surviving chunk text, token counts,
    * and the packed layout in closed form, so a regression anywhere
    * in the extraction mode, the paragraph stage, its webIngest
    * threading, or the downstream chunk/pack replay hash-fails.
    */
  /** q156's page frame, split out for the stage probe (see
    * [[q104PlantedPages]]).
    */
  private[graft] def q156PlantedPages(s: SparkSession, dir: String): DataFrame = {
    val ptail = concat(
      lit("overlap item"), col("doc_id").cast("string"), lit("y0 continues here"))
    val html = concat(
      lit(s"<html><body><div>$q122Boiler<br>$q156Boiler2</div><div>$q122Boiler<br>"),
      ptail,
      lit("</div><p>"), q122Content(col("doc_id"), 27), lit("</p></body></html>"))
    val url = concat(lit("http://site0.example.com/p/"), col("doc_id").cast("string"))
    load(s, dir, "documents")
      .select(col("doc_id"), html.as("html"), url.as("url"))
  }

  private def q156ParaIngestPlanted(s: SparkSession, dir: String): DataFrame = {
    val pages = q156PlantedPages(s, dir)
    graft.operators.CorpusPipeline
      .webIngest(pages, "doc_id", "html", "url",
        langs = Seq("en"), seqLen = 128, minLineChars = -1,
        paragraphBreaks = true, paragraphDedup = true)
      .select(col("id"), col("chunk_id"), col("chunk_idx"), col("chunk_text"),
        col("n_chunk_tokens"), col("pos"), col("start_offset"),
        col("pack_first"), col("pack_last"), col("url_norm"), col("url_host"),
        col("lang_pred"))
      .orderBy("id")
  }

  private val q156Oracle =
    """WITH m AS (SELECT min(doc_id) AS mid FROM documents),
      |txt AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id = (SELECT mid FROM m)
      |      THEN 'please subscribe immediately regarding complete newsletter updates today all rights reserved and more details follow here '
      |      ELSE '' END
      |    || 'please subscribe immediately regarding complete newsletter updates today overlap item' || doc_id || 'y0 continues here '
      |    || array_to_string(list_transform(generate_series(0, 26),
      |         k -> ['the','and','that','this','have','from','was','were','not','with'][(k % 10) + 1]
      |              || ' item' || doc_id || 'x' || k), ' ') AS chunk_text,
      |    CAST(CASE WHEN doc_id = (SELECT mid FROM m) THEN 82 ELSE 66 END AS BIGINT)
      |      AS n_chunk_tokens
      |  FROM documents
      |), keyed AS (
      |  SELECT t.*, CAST(doc_id AS VARCHAR) || '#0' AS chunk_id,
      |    md5(CAST(doc_id AS VARCHAR) || '#0:epoch0') AS skey
      |  FROM txt t
      |), laid AS (
      |  SELECT k.*,
      |    CAST(row_number() OVER (ORDER BY skey, chunk_id) AS BIGINT) AS pos,
      |    CAST(COALESCE(SUM(n_chunk_tokens) OVER (ORDER BY skey, chunk_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
      |  FROM keyed k
      |)
      |SELECT doc_id AS id, chunk_id, CAST(0 AS BIGINT) AS chunk_idx, chunk_text,
      |  n_chunk_tokens, pos, start_offset,
      |  start_offset // 128 AS pack_first,
      |  (start_offset + n_chunk_tokens - 1) // 128 AS pack_last,
      |  'http://site0.example.com/p/' || doc_id AS url_norm,
      |  'site0.example.com' AS url_host, 'en' AS lang_pred
      |FROM laid ORDER BY id""".stripMargin

  /** C4-style exact span dedup: every 8-token span that repeats
    * verbatim anywhere in the corpus keeps only its first occurrence;
    * docs are rebuilt from surviving tokens. Oracle-exact (pure
    * string/integer semantics; the oracle groups on full span text,
    * so agreement doubles as the hash-collision check).
    */
  private def q61SpanDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup
      .spanDedup(load(s, dir, "documents"), "doc_id", "text", k = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  private val q61Oracle =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'), x -> x <> '') AS w
      |  FROM documents),
      |spans AS (
      |  SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS span
      |  FROM t, unnest(CASE WHEN len(w) >= 8
      |    THEN generate_series(1, len(w)-7) ELSE [] END) AS u(i)),
      |winners AS (
      |  SELECT span, min(struct_pack(d := doc_id, i := i)) AS keep
      |  FROM spans GROUP BY span HAVING count(*) > 1),
      |removed AS (
      |  SELECT DISTINCT s.doc_id, p
      |  FROM spans s JOIN winners w USING (span),
      |       unnest(generate_series(s.i, s.i+7)) AS g(p)
      |  WHERE struct_pack(d := s.doc_id, i := s.i) <> w.keep),
      |toks AS (
      |  SELECT doc_id, p, w[CAST(p AS BIGINT)] AS tok
      |  FROM t, unnest(CASE WHEN len(w) >= 1
      |    THEN generate_series(1, len(w)) ELSE [] END) AS u(p)),
      |kept AS (
      |  SELECT k.doc_id, k.p, k.tok FROM toks k
      |  ANTI JOIN removed r ON k.doc_id = r.doc_id AND k.p = r.p)
      |SELECT d.doc_id,
      |  coalesce((SELECT string_agg(tok, ' ' ORDER BY p)
      |    FROM kept WHERE kept.doc_id = d.doc_id), '') AS clean_text,
      |  coalesce((SELECT count(*)
      |    FROM kept WHERE kept.doc_id = d.doc_id), 0) AS n_kept_tokens
      |FROM documents d ORDER BY doc_id""".stripMargin

  /** Training-shard sink: the q54 packed layout written as
    * pack-range shards + manifest; the query returns the manifest
    * (deterministic content-addressed checksums — stable across
    * partitionings and reruns). Rows-only; ShardSinkSpec locks
    * totals, pruned reads, and checksum determinism.
    */
  private def q60ShardManifest(s: SparkSession, dir: String): DataFrame = {
    // the SINK is the unit under test — feed it the direct
    // chunk→shuffle→pack layout (q54 already covers the full
    // clean/dedup pipeline upstream of it)
    val chunks = graft.operators.TextAnalysis
      .chunkTokens(load(s, dir, "documents"), "doc_id", "text", 512, 512)
      .withColumn("chunk_id",
        concat(col("doc_id").cast("string"), lit("#"), col("chunk_idx")))
    val layout = graft.operators.Packing
      .shuffleAndPack(chunks, "chunk_id", "n_chunk_tokens", 512, "r4")
    // fixed path + Overwrite: repeated bench/verify runs reuse one
    // directory instead of leaking a corpus copy per invocation
    val out = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_shards_q60").toString
    graft.sources.ShardSink
      .writeShards(layout, "chunk_id", "n_tokens", "pack_first", out,
        packsPerShard = 64)
      .orderBy("shard")
  }

  /** CCNet-style LM quality scoring: bigram LM trained on the corpus
    * (stand-in for the reference corpus), every doc scored by mean
    * bigram log-prob. Rows-only (model output); LmQualitySpec locks
    * hand-computed probabilities and in-domain/gibberish separation.
    */
  private def q59LmQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val lm = graft.operators.LmQuality.train(docs, "text", vocabSize = 5000)
    graft.operators.LmQuality
      .score(docs, "text", lm)
      .select(col("doc_id"), col("avg_logprob"), col("perplexity"))
      .orderBy("doc_id")
  }

  /** IVF-PQ ANN: probed cells bound the scan, byte codes bound what it
    * reads, exact re-rank on the shortlist. Rows-only;
    * SimilaritySpec locks full-probe+exhaustive-refine ≡ brute force.
    */
  private def q56IvfPqAnn(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
    val (ivf, pq) = Similarity.trainIvfPq(e, "embedding", nlist = 16, m = 8, ksub = 16)
    Similarity
      .ivfPqTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 10, ivf, pq,
        nprobe = 4, refine = 4)
      .orderBy("query_id", "rank")
  }

  // ============================================================= multimodal

  /** Winnowing-fingerprint passage-overlap pairs (containment ≥ 0.4) —
    * per-doc summary keeps row counts stable when no overlaps exist.
    */
  private def q29DedupWinnow(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val pairs = Dedup
      .winnowingNearDupPairs(docs, "doc_id", "text", minOverlap = 0.4)
      .select(col("id_a"), col("id_b"), col("overlap"))
    docs
      .select(col("doc_id").as("id"))
      .join(
        pairs
          .select(col("id_a").as("id"))
          .union(pairs.select(col("id_b").as("id")))
          .groupBy("id")
          .agg(count(lit(1)).as("overlap_partners")),
        Seq("id"),
        "left",
      )
      .select(col("id"), coalesce(col("overlap_partners"), lit(0L)).as("overlap_partners"))
      .orderBy("id")
  }

  /** Deterministic planted image: a 9×8 grid of high-contrast blocks
    * keyed by mix64(doc_id) bits, upscaled 10× (90×80 px), PNG. The
    * perceptual dHash reads the grid structure, so distinct docs
    * differ in ~half their bits. NOTE the copy below is a 2×
    * DOWNSCALE, not a JPEG: equal-valued adjacent blocks make lossy
    * noise a coin flip on the equality comparisons (~half the bits),
    * so a JPEG copy of this synthetic pattern is adversarial for
    * dHash — while block-aligned resizing preserves every cell
    * average exactly. (Real photographs tolerate JPEG fine; the
    * lossy-re-encode case is covered on gradient fixtures in
    * TextAnalysisSpec.)
    */
  private val plantedImageUdf = udf { (id: Long) =>
    val (gw, gh, cell) = (9, 8, 10)
    val img = new java.awt.image.BufferedImage(
      gw * cell, gh * cell, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < gw) {
        val bit = (graft.operators.Dedup.mix64(id * 97 + gy * 9 + gx) & 1L) == 1L
        val v = if (bit) 230 else 20
        val rgb = (v << 16) | (v << 8) | v
        var y = gy * cell
        while (y < (gy + 1) * cell) {
          var x = gx * cell
          while (x < (gx + 1) * cell) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        gx += 1
      }
      gy += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Planted-recall gate for IMAGE near-dup (the multimodal dedup
    * face): every 10th doc gets a deterministic block-pattern PNG and
    * a half-resolution copy of the same pattern (the classic
    * same-image-different-resolution dup); the perceptual-hash
    * pipeline must pair them. Oracle = all planted pairs recovered.
    */
  private def q83ImageNeardupPlanted(s: SparkSession, dir: String): DataFrame = {
    val ids = load(s, dir, "documents").where(col("doc_id") % 10 === 0).select(col("doc_id"))
    val originals = ids.select(col("doc_id"), plantedImageUdf(col("doc_id")).as("payload"))
    val copies = ids.select(
      (col("doc_id") + lit(1000000L)).as("doc_id"),
      Multimodal.imageResizeUdf(45, 40)(plantedImageUdf(col("doc_id"))).as("payload"))
    val pairs = Multimodal.imageNearDupPairs(
      originals.unionByName(copies), "doc_id", "payload", maxHamming = 6)
    val planted = ids
      .select(col("doc_id").as("id_a"), (col("doc_id") + lit(1000000L)).as("id_b"))
    planted
      .join(
        pairs.select(col("id_a"), col("id_b"), lit(true).as("recovered")),
        Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), coalesce(col("recovered"), lit(false)).as("recovered"))
      .orderBy("id_a")
      .localCheckpoint(true)
  }

  /** Planted co-assignment gate for corpus-scale k-means clustering
    * (the domain-clustering operator behind mixture design): every
    * 10th embedding gets a near-identical copy (+0.001 on component
    * 0, cosine ≈ 1), full-corpus spherical k-means trains on the
    * union, and each gate row records whether original and copy land
    * in the SAME cluster — near-identical directions must co-assign.
    * Exercises the distributed Lloyd refinement (treeAggregate
    * partial sums), the broadcast assignment path, and determinism
    * end-to-end.
    */
  private def q84KmeansPlanted(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val copies = emb
      .where(col("vec_id") % 10 === 0)
      .select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(
          col("embedding"),
          (x, i) => when(i === 0, (x + lit(0.001f)).cast("float")).otherwise(x),
        ).as("embedding"))
    val all = emb.unionByName(copies)
    val model = graft.operators.Clustering.trainKmeans(all, "embedding", k = 16, iterations = 4)
    val assigned = graft.operators.Clustering
      .assignClusters(all, "embedding", model)
      .select(col("vec_id"), col("cluster"))
    val planted = emb
      .where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("id_a"), (col("vec_id") + lit(1000000L)).as("id_b"))
    planted
      .join(assigned.select(col("vec_id").as("id_a"), col("cluster").as("__ca")), "id_a")
      .join(assigned.select(col("vec_id").as("id_b"), col("cluster").as("__cb")), "id_b")
      .select(col("id_a"), col("id_b"), (col("__ca") === col("__cb")).as("same_cluster"))
      .orderBy("id_a")
      .localCheckpoint(true)
  }

  private val q84Oracle =
    """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, true AS same_cluster
      |FROM embeddings WHERE vec_id % 10 = 0 ORDER BY id_a""".stripMargin

  /** Exact-regime gate for the Count-Min sketch: the synthetic corpus
    * has a tiny vocabulary (~31 tokens), so a 2^16-wide, depth-4 grid
    * is collision-free and every estimate equals the true count —
    * DuckDB reproduces the truth with a plain GROUP BY. Pins the
    * treeAggregate build, the element-wise-mergeable grid, the seeded
    * bucketing, and the broadcast estimate path; the overcount-bound
    * arithmetic of the collision regime stays ScalaTest-checked
    * (SketchesSpec forces width 16).
    */
  private def q86CmsExact(s: SparkSession, dir: String): DataFrame = {
    val toks = load(s, dir, "documents")
      .select(explode(filter(split(lower(col("text")), graft.textutil.TextHash.WordSplitRe), x => x =!= lit(""))).as("token"))
    val model = graft.operators.Sketches.countMinSketch(toks, "token")
    graft.operators.Sketches
      .cmsEstimates(toks.distinct(), "token", model)
      .orderBy("token")
  }

  private val q86Oracle =
    """SELECT token, CAST(count(*) AS BIGINT) AS est_count
      |FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
      |                                x -> x <> '')) AS token
      |      FROM documents)
      |GROUP BY token ORDER BY token""".stripMargin

  /** Tolerance-boolean gate for the HyperLogLog sketch (the planted-
    * recall recipe applied to cardinality): per event_type, the HLL
    * estimate of distinct user_ids must land within 5% of the exact
    * count (150 distinct per type at gate scale; p=14 gives σ ≈ 0.8%,
    * and the run is deterministic — seeded XXH64, order-free max
    * merge). DuckDB reproduces the exact counts and expects TRUE in
    * every est_ok cell, so an estimator/merge regression flips a
    * boolean and the row hash goes red. The accuracy-vs-p curve and
    * the bit-exact slice-merge property stay ScalaTest-checked.
    */
  private def q88HllTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("event_type"), col("user_id").cast("string").as("uid"))
    val est = graft.operators.Sketches.hllDistinctByGroup(ev, "event_type", "uid", p = 14)
    val exact = ev
      .groupBy("event_type")
      .agg(countDistinct(col("uid")).as("exact_distinct"))
    exact
      .join(est, "event_type")
      .select(
        col("event_type"),
        col("exact_distinct"),
        (abs(col("distinct_est") - col("exact_distinct"))
          <= col("exact_distinct") * lit(0.05)).as("est_ok"),
      )
      .orderBy("event_type")
  }

  private val q88Oracle =
    """SELECT event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
      |  true AS est_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Planted gate for DSIR importance resampling (same recipe as the
    * lang-id/SemDeDup gates): every doc keeps its real corpus text,
    * docs with doc_id % 5 == 0 get a TARGET marker vocabulary
    * appended, the rest a RAW marker vocabulary. The target model is
    * fit on only HALF the plants (doc_id % 10 == 0) and selection
    * must recover the full planted set — i.e. the hashed-n-gram
    * importance weights generalize from the fit sample to unseen
    * plants over identical shared filler. Deterministic end-to-end
    * (seeded murmur features, gumbelScale=0 argmax selection), so the
    * recovered id set is SQL-reproducible.
    */
  private def q89DsirPlanted(s: SparkSession, dir: String): DataFrame = {
    val targetMarks = "aurora quasar pulsar nebula photon graviton meson tachyon " +
      "boson lepton hadron gluon neutrino axion muon positron"
    val rawMarks = "granite basalt schist gneiss marble slate quartzite obsidian " +
      "pumice shale flint chert gypsum mica feldspar olivine"
    val docs = load(s, dir, "documents")
      .select(
        col("doc_id"),
        concat_ws(
          " ",
          col("text"),
          when(col("doc_id") % 5 === 0, lit(targetMarks)).otherwise(lit(rawMarks)),
        ).as("ptext"),
      )
    val k = docs.where(col("doc_id") % 5 === 0).count().toInt
    if (k == 0) return docs.select(col("doc_id")).limit(0) // empty corpus: nothing planted
    val fitSample = docs.where(col("doc_id") % 10 === 0)
    val model = graft.operators.Dsir.fit(fitSample, docs, "ptext")
    graft.operators.Dsir
      .select(docs, "doc_id", "ptext", k, model)
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  private val q89Oracle =
    "SELECT doc_id FROM documents WHERE doc_id % 5 = 0 ORDER BY doc_id"

  /** Tolerance-boolean gate for PCA whitening: after y = W(x − μ) on
    * the real embeddings table, the output covariance must be the
    * identity — per dimension, |mean| ≈ 0, |var − 1| ≤ 2% (or the
    * eigenvalue is numerically null: rank-deficient directions come
    * out near-ZERO by the eps floor, deliberately not blown up), and
    * every off-diagonal ≤ 2%. DuckDB expects TRUE across all 64
    * dimensions; any regression in the moments pass, the
    * eigendecomposition plumbing, or the transform flips a boolean.
    */
  private def q90WhiteningIdentity(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Whitening
    import s.implicits._
    val emb = load(s, dir, "embeddings")
    if (emb.isEmpty) // empty corpus: no dimensions to report, not a crash
      return Seq.empty[(Long, Boolean, Boolean, Boolean)]
        .toDF("dim_idx", "mean_ok", "var_ok", "offdiag_ok")
    val model = Whitening.fit(emb, "embedding")
    val white = Whitening.transform(emb, "embedding", model).select(col("white"))
    val (_, mean, cov) = Whitening.moments(white, "white")
    val lamMax = model.eigenvalues.head
    val rows = mean.indices.map { i =>
      val offMax = cov(i).indices.filter(_ != i).map(j => math.abs(cov(i)(j))).max
      val nullDir = model.eigenvalues(i) <= 1e-6 * lamMax
      (
        i.toLong,
        math.abs(mean(i)) <= 1e-4,
        math.abs(cov(i)(i) - 1.0) <= 0.02 || nullDir,
        offMax <= 0.02,
      )
    }
    rows.toDF("dim_idx", "mean_ok", "var_ok", "offdiag_ok").orderBy("dim_idx")
  }

  private val q90Oracle =
    """SELECT CAST(range AS BIGINT) AS dim_idx, true AS mean_ok,
      |  true AS var_ok, true AS offdiag_ok
      |FROM range(64) ORDER BY dim_idx""".stripMargin

  /** Planted gate for greedy k-center coreset selection: vectors are
    * synthesized from vec_id — the bulk hugs direction e0 (±1%
    * wiggle), while ids with vec_id % 100 == 13 each get their OWN
    * orthogonal axis e_(1+vec_id/100). Every plant sits at cosine
    * distance ≈ 1 from everything else while bulk points sit at
    * ~1e-4 from the seed, so k = 1 + #plants MUST select exactly
    * {min id} ∪ plants regardless of pick order — a set DuckDB
    * reproduces from the id formula alone.
    */
  private def q91KcenterPlanted(s: SparkSession, dir: String): DataFrame = {
    val dim = 64
    // plants are bounded to vec_id/100 < 63 so every plant owns a
    // DISTINCT axis e_1..e_63 at any corpus size — without the bound,
    // (1 + vec_id/100) would wrap past dim at vec_id ≥ 6300 and a
    // plant would land on the bulk axis (or a sibling's), breaking
    // the exactly-the-planted-set contract
    val emb = load(s, dir, "embeddings").select(col("vec_id"))
    if (emb.isEmpty) return emb // empty corpus: no seed, nothing planted
    // the minimum id is the greedy SEED and must stay on the bulk
    // axis — if it happened to satisfy the plant formula, the oracle's
    // seed-OR-plants set would shrink by one while k didn't
    val minId = emb.agg(min(col("vec_id"))).head().getLong(0)
    val isPlant = (id: Long) => id % 100 == 13 && id / 100 < 63 && id != minId
    val mk = udf { (id: Long) =>
      val v = new Array[Float](dim)
      val axis = if (isPlant(id)) (1 + id / 100).toInt else 0
      v(axis) = 1f
      var i = 0
      while (i < dim) {
        val h = scala.util.hashing.MurmurHash3.productHash((id, i))
        v(i) += 0.01f * (h.toFloat / Int.MaxValue)
        i += 1
      }
      v
    }
    val docs = emb.withColumn("vec", mk(col("vec_id")))
    val k = 1 + emb
      .where(col("vec_id") % 100 === 13 && col("vec_id") / 100 < 63
        && col("vec_id") =!= minId)
      .count()
      .toInt
    graft.operators.Clustering
      .kCenterGreedy(docs, "vec_id", "vec", k)
      .select(col("vec_id"))
      .orderBy("vec_id")
  }

  private val q91Oracle =
    """SELECT vec_id FROM embeddings
      |WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
      |   OR (vec_id % 100 = 13 AND vec_id // 100 < 63
      |       AND vec_id <> (SELECT min(vec_id) FROM embeddings))
      |ORDER BY vec_id""".stripMargin

  /** Planted gate for DISTRIBUTED connected components (the
    * alternating large-star/small-star path, forced via
    * driverMaxPairs = 0 — the driver union-find face is what the
    * ScalaTest fixtures already cover). doc_ids are contiguous, so
    * chaining id→id+1 within each decade builds 10-node chain
    * components whose min-label is the decade floor — a worst-case
    * diameter-per-size shape for propagation algorithms and exactly
    * the adversarial case the O(log n) star rounds exist for. DuckDB
    * reproduces the labels from the id formula alone.
    */
  private def q92CcPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"))
    // self-join keeps only edges whose BOTH endpoints exist — without
    // it, a corpus whose max doc_id is not ≡ 9 (mod 10) would emit a
    // phantom (max, max+1) edge and a node the oracle never lists
    val pairs = docs
      .where(col("doc_id") % 10 <= 8)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      .join(docs.select(col("doc_id").as("id_b")), "id_b")
      .select(col("id_a"), col("id_b"))
    Dedup
      .connectedComponents(pairs, driverMaxPairs = 0L)
      .orderBy("id")
  }

  // nodes = docs with at least one existing chain neighbor (matches
  // the join-filtered edge set); component = MIN MEMBER of the chain
  // — the decade floor clamped to the corpus minimum, so a contiguous
  // id range starting mid-decade still labels its first (truncated)
  // chain by its actual smallest member. Contiguity itself remains
  // the premise every id-formula planted gate (q89/q91/q96/q97)
  // stands on.
  private val q92Oracle =
    """SELECT d.doc_id AS id,
      |  CAST(greatest(d.doc_id - d.doc_id % 10,
      |                (SELECT min(doc_id) FROM documents)) AS BIGINT) AS component
      |FROM documents d
      |WHERE (d.doc_id % 10 <= 8
      |       AND EXISTS (SELECT 1 FROM documents x WHERE x.doc_id = d.doc_id + 1))
      |   OR (d.doc_id % 10 >= 1
      |       AND EXISTS (SELECT 1 FROM documents x WHERE x.doc_id = d.doc_id - 1))
      |ORDER BY id""".stripMargin

  /** Planted gate for the distilled quality classifier: docs get
    * GOOD or SPAM marker vocabulary by doc_id % 3 atop their real
    * corpus text; the classifier trains on only the EVEN doc_ids
    * (hashed n-gram features → seeded reservoir-sampled MLP —
    * deterministic end-to-end) and its thresholded predictions over
    * ALL docs must reproduce the label formula, odd ids included —
    * i.e. the distillation generalizes, not memorizes. First driver-
    * visible check for the q58 family (previously ScalaTest-only).
    */
  private def q93QualityClassifierPlanted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // marker block repeated ×3: the features are L2-normalized over
    // ALL hashed n-grams, so the class signal needs comparable mass
    // to the ~40 shared corpus tokens to dominate the decision
    val goodMarks = Seq.fill(3)(
      "science language careful curation measurement diverse rigorous corpus").mkString(" ")
    val badMarks = Seq.fill(3)(
      "buy click free winner jackpot claim prize urgent").mkString(" ")
    val docs = load(s, dir, "documents")
      .select(
        col("doc_id"),
        concat_ws(
          " ",
          col("text"),
          when(col("doc_id") % 3 === 0, lit(goodMarks)).otherwise(lit(badMarks)),
        ).as("ptext"),
        (col("doc_id") % 3 === 0).cast("int").as("label"),
      )
    if (docs.isEmpty)
      return Seq.empty[(Long, Boolean)].toDF("doc_id", "predicted_good")
    // bounded reservoir: the distillation contract is "train on a
    // SAMPLE, score the corpus" — an uncapped sample made gate cost
    // track corpus size (9× at the sf1 probe) for zero extra signal
    graft.operators.QualityClassifier.train(
      docs.where(col("doc_id") % 2 === 0),
      "ptext",
      "label",
      "q93_quality",
      maxSampleRows = 2000L,
      configJson = """{"epochs":80}""",
    )
    graft.operators.QualityClassifier
      .score(docs, "ptext", "q93_quality")
      .select(col("doc_id"), (col("quality_prob") > 0.5).as("predicted_good"))
      .orderBy("doc_id")
  }

  private val q93Oracle =
    "SELECT doc_id, doc_id % 3 = 0 AS predicted_good FROM documents ORDER BY doc_id"

  /** Planted ordering gate for the CCNet bigram LM: every doc gets a
    * fluent variant (a rotation of one canonical sentence — all its
    * cyclic bigrams are trained) and a scrambled variant (the same
    * words REVERSED — every bigram unseen, pure backoff). The LM
    * trains on the fluent corpus and must rank fluent above scrambled
    * for EVERY doc. Floats stay inside Spark; only the comparison
    * booleans cross to the oracle — the recipe that makes an
    * inherently-float operator driver-checkable (q59 stays rows-only
    * for its raw perplexities by design).
    */
  private def q94LmOrderingPlanted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = Array("the", "quick", "brown", "fox", "jumps",
      "over", "lazy", "dog", "again", "today")
    val fluentUdf = udf { (id: Long) =>
      val r = (id % words.length).toInt
      (words.drop(r) ++ words.take(r)).mkString(" ")
    }
    val scrambledUdf = udf { (id: Long) =>
      val r = (id % words.length).toInt
      (words.drop(r) ++ words.take(r)).reverse.mkString(" ")
    }
    val docs = load(s, dir, "documents").select(col("doc_id"))
    if (docs.isEmpty) return Seq.empty[(Long, Boolean)].toDF("doc_id", "fluent_wins")
    val fluent = docs.withColumn("t", fluentUdf(col("doc_id")))
    val lm = graft.operators.LmQuality.train(fluent, "t", vocabSize = 100)
    val both = docs
      .withColumn("tf", fluentUdf(col("doc_id")))
      .withColumn("ts", scrambledUdf(col("doc_id")))
    val sf1 = graft.operators.LmQuality.score(both, "tf", lm, outCol = "lp_fluent")
    val sf2 = graft.operators.LmQuality.score(sf1, "ts", lm, outCol = "lp_scrambled")
    sf2
      .select(col("doc_id"), (col("lp_fluent") > col("lp_scrambled")).as("fluent_wins"))
      .orderBy("doc_id")
  }

  private val q94Oracle =
    "SELECT doc_id, true AS fluent_wins FROM documents ORDER BY doc_id"

  /** Planted roundtrip gate for HTML text extraction: every doc's
    * real text is wrapped in a template exercising the scanner's
    * hazards — head/title content, a style block, a script whose
    * string literal CONTAINS markup, block-tag line breaks, and
    * entity references — and extraction must reproduce the expected
    * visible text exactly, per doc.
    */
  private def q95HtmlExtractPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    // entity-escape the payload like a real producer would — the gate
    // then exercises decode on REAL corpus text instead of assuming
    // the corpus never contains markup characters
    val esc = regexp_replace(
      regexp_replace(regexp_replace(col("text"), "&", "&amp;"), "<", "&lt;"),
      ">", "&gt;")
    val html = concat(
      lit("<html><head><title>hdr</title><style>p{color:red}</style></head><body><h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1><p>"),
      esc,
      lit("</p><script>var x = \"<p>not text</p>\";</script><div>Tom &amp; Jerry</div></body></html>"),
    )
    // the scanner collapses whitespace runs and drops empty lines —
    // mirror that on the expected side so the comparison tests the
    // operator, not the corpus generator's formatting habits
    val center = trim(regexp_replace(col("text"), "\\s+", " "))
    val expected = concat(
      lit("hdr\nDoc "), col("doc_id").cast("string"),
      when(length(center) > 0, concat(lit("\n"), center)).otherwise(lit("")),
      lit("\nTom & Jerry"))
    graft.operators.WebText
      .htmlToText(docs.withColumn("html", html), "html", outCol = "extracted")
      .select(col("doc_id"), (col("extracted") === expected).as("roundtrip_ok"))
      .orderBy("doc_id")
  }

  private val q95Oracle =
    "SELECT doc_id, true AS roundtrip_ok FROM documents ORDER BY doc_id"

  /** Exact-string gate for URL normalization: URLs built from doc_id
    * (uppercase scheme/host, default port, fragment, fixed query)
    * must normalize to the canonical spelling DuckDB reconstructs by
    * string concatenation — scheme+host lowercased, :443 stripped,
    * #frag dropped, path case and query order preserved.
    */
  private def q96UrlNormPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"))
    val url = concat(
      lit("HTTPS://WWW.Example"), (col("doc_id") % 13).cast("string"),
      lit(".COM:443/Path/"), col("doc_id").cast("string"),
      lit("?b=2&a=1#frag"),
    )
    graft.operators.WebText
      .withUrlParts(docs.withColumn("url", url), "url")
      .select(col("doc_id"), col("url_norm"), col("url_host"))
      .orderBy("doc_id")
  }

  private val q96Oracle =
    """SELECT doc_id,
      |  'https://www.example' || (doc_id % 13) || '.com/Path/' || doc_id || '?b=2&a=1' AS url_norm,
      |  'www.example' || (doc_id % 13) || '.com' AS url_host
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-domain cap — the WebText→Sampling composition every web
    * pipeline runs (no host may dominate the corpus): planted URLs
    * hash doc_ids into 7 hosts, `urlHost` extracts the key, and
    * `capPerStratum` keeps 30 docs per host by (md5(id), id) order —
    * a rule DuckDB replays exactly (md5 hex and window order agree
    * across engines, the parity q42 already established).
    */
  private def q97DomainCapPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"))
    val url = concat(
      lit("https://www.example"), (col("doc_id") % 7).cast("string"),
      lit(".com/p/"), col("doc_id").cast("string"),
    )
    val withHost = graft.operators.WebText.withUrlParts(docs.withColumn("url", url), "url")
    graft.operators.Sampling
      .capPerStratum(withHost, "url_host", "doc_id", maxRows = 30)
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  private val q97Oracle =
    """SELECT doc_id FROM (
      |  SELECT doc_id, row_number() OVER (
      |    PARTITION BY 'www.example' || (doc_id % 7) || '.com'
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) t WHERE rn <= 30 ORDER BY doc_id""".stripMargin

  /** Gopher-style quality rule bundle over the REAL corpus text —
    * every rule's arithmetic (integer-exact single divisions,
    * inclusive bounds, whitespace words, newline lines) is replayed
    * verbatim by DuckDB, so all seven rule booleans and the pass
    * flag are hash-compared, not just sampled.
    */
  private def q98GopherFlags(s: SparkSession, dir: String): DataFrame =
    graft.operators.QualityFilters
      .withGopherFlags(load(s, dir, "documents").select(col("doc_id"), col("text")), "text")
      .drop("text")
      .orderBy("doc_id")

  private val q98Oracle =
    """WITH base AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
      |                x -> x <> '') AS words,
      |    list_filter(string_split(COALESCE(text, ''), chr(10)), l -> l <> '') AS lines
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, len(words) AS n,
      |    list_sum(list_transform(words, x -> length(x))) AS sum_len,
      |    len(list_filter(words, x -> x LIKE '%#%' OR x LIKE '%…%' OR x LIKE '%...%')) AS sym,
      |    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
      |    len(list_filter(['the','be','to','of','and','that','have','with'],
      |                    sw -> list_contains(words, sw))) AS stops,
      |    greatest(len(lines), 1) AS nlines,
      |    len(list_filter(lines, l -> l LIKE '•%' OR l LIKE '- %' OR l LIKE '* %')) AS bullets,
      |    len(list_filter(lines, l -> l LIKE '%…' OR l LIKE '%...')) AS ellip
      |  FROM base
      |)
      |SELECT doc_id,
      |  CAST(n AS BIGINT) AS n_words,
      |  (n >= 50 AND n <= 100000) AS ok_word_count,
      |  (n > 0 AND CAST(sum_len AS DOUBLE)/n >= 3.0 AND CAST(sum_len AS DOUBLE)/n <= 10.0) AS ok_mean_word_len,
      |  (n > 0 AND CAST(sym AS DOUBLE)/n <= 0.1) AS ok_symbol_ratio,
      |  (n > 0 AND CAST(bullets AS DOUBLE)/nlines <= 0.9) AS ok_bullet_lines,
      |  (n > 0 AND CAST(ellip AS DOUBLE)/nlines <= 0.3) AS ok_ellipsis_lines,
      |  (n > 0 AND CAST(alpha AS DOUBLE)/n >= 0.8) AS ok_alpha_words,
      |  (n > 0 AND stops >= 2) AS ok_stopwords,
      |  (n >= 50 AND n <= 100000
      |   AND CAST(sum_len AS DOUBLE)/n >= 3.0 AND CAST(sum_len AS DOUBLE)/n <= 10.0
      |   AND CAST(sym AS DOUBLE)/n <= 0.1
      |   AND CAST(bullets AS DOUBLE)/nlines <= 0.9
      |   AND CAST(ellip AS DOUBLE)/nlines <= 0.3
      |   AND CAST(alpha AS DOUBLE)/n >= 0.8
      |   AND stops >= 2) AS pass
      |FROM s ORDER BY doc_id""".stripMargin

  /** Exact-regime gate for the KLL quantile sketch (the CMS recipe
    * applied to order statistics): k = 2^15 exceeds every group's row
    * count at gate scales, so no compaction fires, the sketch IS the
    * sorted multiset, and the ⌈q·n⌉ order statistics are exact values
    * DuckDB reproduces by sorted-list indexing — no interpolation
    * arithmetic to drift cross-engine. The compaction regime's
    * rank-error bound stays ScalaTest-checked.
    */
  private def q100KllExact(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("event_type"), col("value"))
      .where(col("value").isNotNull)
    graft.operators.Sketches
      .kllQuantilesByGroup(ev, "event_type", "value", qs = Seq(0.25, 0.5, 0.75), k = 1 << 15)
  }

  private val q100Oracle =
    """SELECT event_type,
      |  qs[CAST(ceil(0.25*n) AS BIGINT)] AS q25,
      |  qs[CAST(ceil(0.5*n)  AS BIGINT)] AS q50,
      |  qs[CAST(ceil(0.75*n) AS BIGINT)] AS q75
      |FROM (SELECT event_type, list_sort(list(value)) AS qs, count(*) AS n
      |      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
      |      GROUP BY event_type) t
      |ORDER BY event_type""".stripMargin

  /** Planted gate for in-document line dedup: each doc's text is
    * duplicated around a unique tail (a pasted-twice page with a
    * footer), plus a whitespace-variant copy — dedup must keep the
    * FIRST spelling of each trimmed line and the tail. A repeated
    * SHORT separator line (`--`, twice) pins the min-line-length
    * exemption: structural short lines are always kept, never
    * deduped. DuckDB replays the keep-first-occurrence rule with a
    * pure list comprehension (short line OR list_position of the
    * trimmed form == own index), so the rebuilt strings compare
    * exactly.
    */
  private def q101LineDedupInDoc(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs.withColumn(
      "ptext",
      concat(
        col("text"), lit("\n"), col("text"), lit("\n  "), col("text"),
        lit("  \n--\n--\nTAIL "), col("doc_id").cast("string")),
    )
    graft.operators.TextAnalysis
      .dedupLinesInDoc(planted, "ptext", outCol = "deduped")
      .select(col("doc_id"), col("deduped"))
      .orderBy("doc_id")
  }

  private val q101Oracle =
    """SELECT doc_id,
      |  array_to_string(
      |    list_filter(string_split(p, chr(10)),
      |                (x, i) -> len(trim(x)) < 5 OR list_position(
      |                  list_transform(string_split(p, chr(10)), y -> trim(y)),
      |                  trim(x)) = i),
      |    chr(10)) AS deduped
      |FROM (SELECT doc_id,
      |        text || chr(10) || text || chr(10) || '  ' || text || '  '
      |          || chr(10) || '--' || chr(10) || '--' || chr(10) || 'TAIL ' || doc_id AS p
      |      FROM documents) t
      |ORDER BY doc_id""".stripMargin

  /** Planted multilingual tokenization gate: every 25th document's
    * text is replaced by the q76 fixed sentence for its language slot
    * (4 scripts + 4 Latin profiles — all-lowercase, so `lower()` is
    * identity in both engines and no case-folding divergence can
    * hide), and the gate emits the exact Unicode word-token counts,
    * distinct counts, and first token, hash-compared against DuckDB
    * replaying the same `[^\p{L}\p{N}_]+` class. Under the old ASCII
    * `\W+` convention ru/zh/ja/ko rows tokenized to ZERO tokens — this
    * pins the whole word-level stack (vocab, BM25, DSIR, shingles) as
    * multilingual-correct. A winnowing near-dup copy (text + ASCII
    * tail) is planted per document and must be recovered — char-level
    * fingerprints see every script, including unspaced CJK where word
    * shingles are structurally absent.
    */
  private def q102MultilingualPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").where(col("doc_id") % 25 === 0)
    val idx = (col("doc_id") / 25).cast("long") % 8
    val text = plantedLangSentences.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, ((_, sentence), i)) => when(idx === i, lit(sentence)).otherwise(acc)
    }
    val lang = plantedLangSentences.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, ((l, _), i)) => when(idx === i, lit(l)).otherwise(acc)
    }
    val base = docs.select(col("doc_id"), lang.as("lang"), text.as("text"))
    val toks = filter(
      split(lower(col("text")), graft.textutil.TextHash.WordSplitRe),
      t => t =!= lit(""))
    val stats = base.select(
      col("doc_id"), col("lang"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      element_at(toks, 1).as("first_token"))
    val copies = base.select(
      (col("doc_id") + lit(3000000L)).as("doc_id"),
      concat(col("text"), lit(" planted tail")).as("text"))
    val pairs = Dedup.winnowingNearDupPairs(
      base.select(col("doc_id"), col("text")).unionByName(copies),
      "doc_id", "text", minOverlap = 0.4)
    val recovered = base
      .select(col("doc_id").as("id_a"), (col("doc_id") + lit(3000000L)).as("id_b"))
      .join(pairs.select(col("id_a"), col("id_b"), lit(true).as("hit")), Seq("id_a", "id_b"), "left")
      .select(col("id_a").as("doc_id"), coalesce(col("hit"), lit(false)).as("recovered"))
    stats
      .join(recovered, "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_distinct"),
        col("first_token"), col("recovered"))
      .orderBy("doc_id")
      .localCheckpoint(true)
  }

  private val q102Oracle = {
    val langCase = plantedLangSentences.zipWithIndex
      .map { case ((l, _), i) => s"WHEN $i THEN '$l'" }.mkString(" ")
    val textCase = plantedLangSentences.zipWithIndex
      .map { case ((_, t), i) => s"WHEN $i THEN '$t'" }.mkString(" ")
    s"""WITH p AS (
       |  SELECT doc_id,
       |    CASE (doc_id // 25) % 8 $langCase END AS lang,
       |    CASE (doc_id // 25) % 8 $textCase END AS text
       |  FROM documents WHERE doc_id % 25 = 0),
       |t AS (
       |  SELECT doc_id, lang,
       |    list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}_]+'),
       |                x -> x <> '') AS w
       |  FROM p)
       |SELECT doc_id, lang, len(w) AS n_tokens, len(list_distinct(w)) AS n_distinct,
       |  w[1] AS first_token, true AS recovered
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Planted gate for the language-conditioned Gopher bundle: each
    * planted doc appears twice — FLUENT (its q76 sentence repeated
    * past the 50-word floor) and GARBAGE (symbol soup) at
    * doc_id+4000000 — with its true language as the label. The
    * contract the oracle pins, row by row: profiled spaced languages
    * (en/fr/de/es/ru here) are scoped and must pass fluent / fail
    * garbage; unprofiled scripts (zh/ja/ko — unspaced, word rules
    * inapplicable) are unscoped and pass through EITHER WAY for the
    * LM path to judge. Before the byLang face, the English-scoped
    * bundle silently dropped every fluent non-English doc (Cyrillic
    * has zero ASCII alpha words; CJK is one giant whitespace word).
    */
  private def q103GopherLangPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").where(col("doc_id") % 25 === 0)
    val idx = (col("doc_id") / 25).cast("long") % 8
    val lang = plantedLangSentences.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, ((l, _), i)) => when(idx === i, lit(l)).otherwise(acc)
    }
    val fluent = plantedLangSentences.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, ((_, sentence), i)) =>
        when(idx === i, lit(Seq.fill(8)(sentence).mkString(" "))).otherwise(acc)
    }
    val garbageText = Seq.fill(60)("### 12345 …").mkString(" ")
    val planted = docs
      .select(col("doc_id"), lang.as("lang"), fluent.as("text"))
      .unionByName(docs.select(
        (col("doc_id") + lit(4000000L)).as("doc_id"),
        lang.as("lang"),
        lit(garbageText).as("text")))
    graft.operators.QualityFilters
      .withGopherFlagsByLang(planted, "text", "lang")
      .select(col("doc_id"), col("lang"), col("gopher_scoped"), col("pass"))
      .orderBy("doc_id")
  }

  private val q103Oracle = {
    val langCase = plantedLangSentences.zipWithIndex
      .map { case ((l, _), i) => s"WHEN $i THEN '$l'" }.mkString(" ")
    val profiled = "('en','fr','de','es','ru')"
    s"""WITH p AS (
       |  SELECT doc_id, CASE (doc_id // 25) % 8 $langCase END AS lang
       |  FROM documents WHERE doc_id % 25 = 0)
       |SELECT doc_id, lang, lang IN $profiled AS gopher_scoped, true AS pass FROM p
       |UNION ALL
       |SELECT doc_id + 4000000 AS doc_id, lang, lang IN $profiled AS gopher_scoped,
       |  NOT (lang IN $profiled) AS pass FROM p
       |ORDER BY doc_id""".stripMargin
  }

  /** The composed web-ingest face end-to-end on a planted HTML corpus
    * (every document wrapped in boilerplate HTML with a messy URL):
    * extract → url-normalize → langId → language-conditioned Gopher →
    * line dedup → exact+near dedup → per-host cap → packed layout.
    * Rows-only (the MinHash stage is engine-internal, like q35/q54);
    * each stage is oracle-pinned individually (q95/q96/q97/q98/q80/
    * q15/q103) and the composition invariants — token conservation,
    * dedup of planted copies, host caps, ParquetDir threading — are
    * locked in CorpusPipelineSpec.
    */
  /** q104's page frame: the planted pages the gate's chain runs over. */
  private[graft] def q104PlantedPages(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>t</title><script>var x = 1 < 2;</script></head><body><p>"),
      col("text"), lit("</p></body></html>"))
    val url = concat(
      lit("HTTP://Host"), (col("doc_id") % 7).cast("string"),
      lit(".Example.COM:80/p/"), col("doc_id").cast("string"), lit("?q=1#frag"))
    load(s, dir, "documents")
      .select(col("doc_id"), html.as("html"), url.as("url"))
  }

  private def q104WebIngest(s: SparkSession, dir: String): DataFrame = {
    val pages = q104PlantedPages(s, dir)
    graft.operators.CorpusPipeline
      .webIngest(pages, "doc_id", "html", "url", maxPerHost = 40, seqLen = 128)
      .select(col("id"), col("chunk_idx"), col("n_chunk_tokens"), col("pos"),
        col("url_host"), col("lang_pred"))
      .orderBy("id", "chunk_idx")
  }

  /** Maximal duplicated extents (the suffix-array-skip reporting
    * face): duplicated k-token windows merged per document into
    * maximal (start, end) token intervals. Pure string/integer
    * semantics — the oracle replays spans, winners, the island merge,
    * and the interval arithmetic exactly (the oracle groups spans on
    * full text, the engine on the streamed 64-bit span hash — the
    * q61 convention; agreement at gate scale is the collision check).
    */
  private def q105DupExtents(s: SparkSession, dir: String): DataFrame =
    Dedup
      .duplicateExtents(load(s, dir, "documents"), "doc_id", "text", k = 8)
      .select(col("id").as("doc_id"), col("start_pos"), col("end_pos"), col("n_dup_tokens"))
      .orderBy("doc_id", "start_pos")

  private val q105Oracle =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'), x -> x <> '') AS w
      |  FROM documents),
      |spans AS (
      |  SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS span
      |  FROM t, unnest(CASE WHEN len(w) >= 8
      |    THEN generate_series(1, len(w)-7) ELSE [] END) AS u(i)),
      |winners AS (
      |  SELECT span, min(struct_pack(d := doc_id, i := i)) AS keep
      |  FROM spans GROUP BY span HAVING count(*) > 1),
      |dup AS (
      |  SELECT s.doc_id, s.i
      |  FROM spans s JOIN winners w USING (span)
      |  WHERE struct_pack(d := s.doc_id, i := s.i) <> w.keep),
      |isl AS (
      |  SELECT doc_id, i,
      |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > 8
      |      THEN 1 ELSE 0 END AS gap
      |  FROM dup),
      |grp AS (
      |  SELECT doc_id, i,
      |    sum(gap) OVER (PARTITION BY doc_id ORDER BY i) AS island
      |  FROM isl)
      |SELECT doc_id, min(i) AS start_pos, max(i) + 7 AS end_pos,
      |  max(i) + 7 - min(i) + 1 AS n_dup_tokens
      |FROM grp GROUP BY doc_id, island
      |ORDER BY doc_id, start_pos""".stripMargin

  /** Bit-exact gate for sign-bit binary quantization
    * ([[Quantize.signPack]]/[[Quantize.hammingDist]]): every packed
    * 32-bit code word of every vector, plus each vector's Hamming
    * distance to vector 0's code, replayed in DuckDB with the same
    * integer arithmetic (`pow(2,i)` word packing, `xor` +
    * `bit_count`). Pure integer semantics — any packing or distance
    * divergence is a hash mismatch, the q53 convention.
    */
  private def q106BinaryCodes(s: SparkSession, dir: String): DataFrame = {
    val coded = load(s, dir, "embeddings")
      .select(col("vec_id"), Quantize.signPack(col("embedding")).as("code"))
    val ref = coded.where(col("vec_id") === 0).select(col("code").as("ref_code"))
    coded
      .crossJoin(broadcast(ref))
      .select(
        col("vec_id"),
        Quantize.hammingDist(col("code"), col("ref_code")).as("hamming_to_0"),
        posexplode(col("code")).as(Seq("word_idx", "word")))
      .orderBy("vec_id", "word_idx")
  }

  private val q106Oracle =
    """WITH t AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (
      |  SELECT vec_id,
      |    list_transform(generate_series(0, CAST(ceil(len(v) / 32.0) AS INT) - 1), w ->
      |      CAST(list_sum(list_transform(generate_series(0, 31), i ->
      |        CASE WHEN w * 32 + i < len(v) AND v[w * 32 + i + 1] > 0
      |          THEN CAST(pow(2, i) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS code
      |  FROM t),
      |r AS (SELECT code AS ref FROM c WHERE vec_id = 0),
      |e AS (
      |  SELECT c.vec_id,
      |    CAST(list_sum(list_transform(generate_series(1, len(c.code)), j ->
      |      bit_count(xor(c.code[j], r.ref[j])))) AS BIGINT) AS hamming_to_0,
      |    unnest(generate_series(1, len(c.code))) AS j,
      |    c.code AS code
      |  FROM c, r)
      |SELECT vec_id, hamming_to_0, CAST(j - 1 AS INT) AS word_idx, code[j] AS word
      |FROM e ORDER BY vec_id, word_idx""".stripMargin

  /** Planted recall through the binary-quantization ANN face
    * ([[Similarity.hammingTopK]]): Hamming shortlist over 1-bit
    * codes + exact re-rank must surface each planted copy's original
    * — the sign row of the ANN matrix, same gate shape as
    * q72/q73/q74/q85/q99.
    */
  private def q107HammingPlanted(s: SparkSession, dir: String): DataFrame =
    annPlantedGate(
      load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      (corpus, queries) =>
        Similarity.hammingTopK(corpus, queries, "vec_id", "embedding", k = 5, refine = 8))

  /** Unicode NFC canonicalization gate
    * ([[TextAnalysis.canonicalize]]): every document decorated with a
    * DECOMPOSED suffix (e+U+0301, A+U+030A, i+U+0308 — "café Å
    * naïve" in NFD form); the engine's native `unicode_normalize`
    * expression must compose it to NFC byte-identically with DuckDB's
    * `nfc_normalize`, and must flag the change. Pins the non-ASCII
    * slow path AND the ASCII fast path (the undecorated prefix is
    * untouched) in one gate.
    */
  private def q108NfcPlanted(s: SparkSession, dir: String): DataFrame = {
    val decorated = concat(
      col("text"),
      // decomposed on purpose: e+U+0301, A+U+030A, i+U+0308
      lit(" cafe\u0301 A\u030A nai\u0308ve"))
    load(s, dir, "documents")
      .select(col("doc_id"), decorated.as("raw"))
      .select(
        col("doc_id"),
        TextAnalysis.canonicalize(col("raw")).as("norm_text"),
        (TextAnalysis.canonicalize(col("raw")) =!= col("raw")).as("composed"))
      .orderBy("doc_id")
  }

  private val q108Oracle =
    """SELECT doc_id,
      |  nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778)
      |    || ' nai' || chr(776) || 've') AS norm_text,
      |  nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778)
      |    || ' nai' || chr(776) || 've')
      |    <> (text || ' cafe' || chr(769) || ' A' || chr(778)
      |    || ' nai' || chr(776) || 've') AS composed
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Model-selection gate ([[graft.operators.Clustering.kSweep]]):
    * three orthogonal planted blobs (one-hot centers + deterministic
    * sub-1% jitter, blob = vec_id mod 3); the simplified-silhouette
    * sweep over k ∈ {2,3,4,5} must pick exactly k = 3. The metric
    * values themselves are iterative floats (rows-only territory),
    * but the ARGMAX on well-separated blobs is a discrete,
    * construction-pinned fact the oracle states literally.
    */
  private def q109KsweepPlanted(s: SparkSession, dir: String): DataFrame = {
    val blobs = load(s, dir, "embeddings").select(
      col("vec_id"),
      transform(
        sequence(lit(0), lit(15)),
        i =>
          (when(i === (col("vec_id") % 3).cast("int"), lit(1.0f)).otherwise(lit(0.0f))
            + pmod(col("vec_id") * (i + 7), lit(97)).cast("float") / lit(9700.0f))
            .cast("float"),
      ).as("embedding"))
    graft.operators.Clustering
      .kSweep(blobs, "embedding", Seq(2, 3, 4, 5), iterations = 4)
      .select(col("k"), col("is_best"))
      .orderBy("k")
  }

  private val q109Oracle =
    """SELECT * FROM (VALUES (2, false), (3, true), (4, false), (5, false))
      |  AS t(k, is_best) ORDER BY k""".stripMargin

  /** Temperature-mixture gate
    * ([[graft.operators.Sampling.temperatureFractions]]): strata of
    * construction-pinned 5:3:1:1 proportions (doc_id mod 10 bands);
    * the alpha = 0.5 smoothed shares and budget-bounded keep
    * fractions are replayed in DuckDB from the same counts.
    * `round(·, 6)` absorbs cross-engine pow/summation-order ulps —
    * the q65 convention; counts and the share ORDER are exact.
    */
  private def q110TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val strata = load(s, dir, "documents").select(
      when(col("doc_id") % 10 < 5, lit("a"))
        .when(col("doc_id") % 10 < 8, lit("b"))
        .when(col("doc_id") % 10 < 9, lit("c"))
        .otherwise(lit("d"))
        .as("stratum"))
    graft.operators.Sampling
      .temperatureFractions(strata, "stratum", alpha = 0.5, budgetRows = 200)
      .select(
        col("stratum"),
        col("n"),
        round(col("share"), 6).as("share"),
        round(col("sample_fraction"), 6).as("sample_fraction"))
      .orderBy("stratum")
  }

  private val q110Oracle =
    """WITH s AS (
      |  SELECT CASE WHEN doc_id % 10 < 5 THEN 'a'
      |              WHEN doc_id % 10 < 8 THEN 'b'
      |              WHEN doc_id % 10 < 9 THEN 'c'
      |              ELSE 'd' END AS stratum
      |  FROM documents),
      |c AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY stratum),
      |t AS (SELECT stratum, n, pow(n, 0.5) AS w FROM c),
      |tot AS (SELECT sum(w) AS tw FROM t)
      |SELECT stratum, n, round(w / tw, 6) AS share,
      |  round(LEAST(1.0, (w / tw) * 200 / n), 6) AS sample_fraction
      |FROM t, tot ORDER BY stratum""".stripMargin

  /** IVF+Hamming planted recall ([[Similarity.ivfHammingTopK]]): the
    * composed scale path of the binary row — cell probe prunes the
    * code scan, Hamming shortlist, exact re-rank — must surface each
    * planted copy's original, completing the ANN composition matrix
    * ({flat, IVF} × {float, PQ, OPQ, sign}).
    */
  private def q111IvfHammingPlanted(s: SparkSession, dir: String): DataFrame =
    annPlantedGate(
      load(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      (corpus, queries) => {
        val model = Similarity.trainIvf(corpus, "embedding", nlist = 16)
        Similarity.ivfHammingTopK(corpus, queries, "vec_id", "embedding", k = 5, model,
          nprobe = 4, refine = 8)
      })

  /** Hybrid-retrieval gate ([[graft.operators.Lexical.hybridTopK]]):
    * BM25 pool + exact-cosine pool fused by reciprocal rank over the
    * documents⋈embeddings corpus, query = q65's term set + the
    * min-id document's vector.
    * Ranks are integers and `1/(c+rank)` is a single IEEE division,
    * so the ENTIRE fusion — both pools, both rank windows, the
    * full-outer join, the fused ordering — replays hash-exactly (the
    * q21/q65 substrates already proved raw-score rank replay is
    * stable).
    */
  private def q112HybridTopK(s: SparkSession, dir: String): DataFrame = {
    val corpus = load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .join(
        load(s, dir, "embeddings").select(col("vec_id").as("doc_id"), col("embedding")),
        "doc_id")
    // query = the MIN-id document's vector (not literal id 0): present
    // whenever the corpus is non-empty, so Spark and the oracle's
    // min(doc_id) CTE always pick the same vector; on an empty corpus
    // the dummy flows through two empty pools to the oracle's empty
    // result
    val qvec = corpus
      .orderBy("doc_id")
      .select("embedding")
      .take(1)
      .headOption
      .map(_.getSeq[Float](0).toArray)
      .getOrElse(Array(0f))
    graft.operators.Lexical
      .hybridTopK(corpus, "doc_id", "text", "embedding",
        Seq("spark", "hash", "window", "vector"), qvec, k = 15, poolSize = 50)
      .orderBy("doc_id")
  }

  private val q112Oracle =
    """WITH corpus AS (
      |  SELECT d.doc_id, d.text, CAST(e.embedding AS DOUBLE[]) AS v
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      |t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'), x -> x <> '') AS w
      |  FROM corpus),
      |p AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, term,
      |    CAST(len(list_filter(w, x -> x = term)) AS BIGINT) AS tf
      |  FROM t, unnest(list_intersect(list_distinct(w),
      |    ['spark', 'hash', 'window', 'vector'])) AS u(term)),
      |d AS (SELECT term, count(*) AS df FROM p GROUP BY term),
      |c AS (SELECT count(*) AS n_docs, avg(CAST(len(w) AS DOUBLE)) AS avgdl FROM t),
      |sc AS (
      |  SELECT p.doc_id,
      |    sum(ln(1 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
      |        * (p.tf * (1.2 + 1.0))
      |        / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / c.avgdl))) AS score
      |  FROM p JOIN d USING (term) CROSS JOIN c
      |  GROUP BY p.doc_id),
      |lex AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
      |    AS lex_rank
      |  FROM (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 50)),
      |qv AS (SELECT v FROM corpus WHERE doc_id = (SELECT min(doc_id) FROM corpus)),
      |sem AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT)
      |    AS sem_rank
      |  FROM (SELECT corpus.doc_id, list_cosine_similarity(corpus.v, qv.v) AS cos
      |        FROM corpus, qv
      |        ORDER BY cos DESC, doc_id LIMIT 50)),
      |f AS (
      |  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
      |    COALESCE(1.0 / (60 + lex_rank), 0.0) + COALESCE(1.0 / (60 + sem_rank), 0.0)
      |      AS rrf_score
      |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
      |SELECT doc_id, lex_rank, sem_rank, rrf_score
      |FROM (SELECT * FROM f ORDER BY rrf_score DESC, doc_id LIMIT 15)
      |ORDER BY doc_id""".stripMargin

  /** Whole-document best-fit packing gate
    * ([[graft.operators.Packing.packBestFit]]) in the planted-regular
    * regime: every document costs 40 tokens and bins hold 120, so
    * best-fit-decreasing degenerates to a closed form the oracle
    * states arithmetically — rank by id (equal lengths tie-break by
    * id), segment by 4096, three docs per bin. Pins the global
    * ranking, the segment cut, the in-segment placement order, and the
    * pack-id arithmetic; the irregular-length behavior (true best-fit
    * fitting, padding bound, oversize) is PackingSpec's.
    */
  private def q113PackBestFit(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing
      .packBestFit(
        load(s, dir, "documents").select(col("doc_id"), lit(40L).as("n_tokens")),
        "doc_id", "n_tokens", seqLen = 120)
      .orderBy("id")

  private val q113Oracle =
    """WITH r AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS rk
      |  FROM documents)
      |SELECT doc_id AS id, CAST(40 AS BIGINT) AS n_tokens,
      |  (rk // 4096) * 4096 + (rk % 4096) // 3 AS pack_id,
      |  false AS truncated
      |FROM r ORDER BY id""".stripMargin

  /** Domain-blocklist gate ([[graft.operators.WebText
    * .filterBlockedHosts]]): synthetic hosts `h<d%4>.example.com`,
    * half behind a `deep.` subdomain; blocklist = {h0, h1}. The
    * oracle replays the MACHINERY — suffix expansion, semi-join
    * against a VALUES blocklist, anti-join back — not just the
    * expected id set, so a suffix-generation or join-convention
    * divergence is a hash mismatch.
    */
  private def q114BlocklistPlanted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val host = concat(
      when(col("doc_id") % 2 === 0, lit("deep.")).otherwise(lit("")),
      lit("h"), (col("doc_id") % 4).cast("string"), lit(".example.com"))
    val docs = load(s, dir, "documents").select(col("doc_id"), host.as("url_host"))
    val blocklist = Seq("h0.example.com", "h1.example.com").toDF("domain")
    graft.operators.WebText
      .filterBlockedHosts(docs, "doc_id", "url_host", blocklist)
      .orderBy("doc_id")
  }

  private val q114Oracle =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'deep.' ELSE '' END)
      |      || 'h' || (doc_id % 4) || '.example.com' AS url_host
      |  FROM documents),
      |sfx AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(string_split(url_host, '.'))), i ->
      |      array_to_string(string_split(url_host, '.')[i:], '.'))) AS s
      |  FROM u),
      |b(domain) AS (VALUES ('h0.example.com'), ('h1.example.com')),
      |blocked AS (SELECT DISTINCT doc_id FROM sfx JOIN b ON s = domain)
      |SELECT u.doc_id, u.url_host FROM u ANTI JOIN blocked USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Corpus distinct-n diversity
    * ([[TextAnalysis.distinctNgramStats]]): exact instance/distinct
    * counts and their ratio for n ∈ {1,2,3} — pure integer counts
    * plus one IEEE division, replayed verbatim.
    */
  private def q115DistinctN(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.distinctNgramStats(load(s, dir, "documents"), "text", Seq(1, 2, 3))

  private val q115Oracle =
    """WITH t AS (
      |  SELECT list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
      |                     x -> x <> '') AS w
      |  FROM documents),
      |g AS (
      |  SELECT n,
      |    unnest(CASE WHEN len(w) >= n
      |      THEN list_transform(generate_series(1, len(w) - n + 1), i ->
      |             array_to_string(w[i:i+n-1], ' '))
      |      ELSE [] END) AS gram
      |  FROM t, (VALUES (1), (2), (3)) AS ns(n))
      |SELECT n, CAST(count(*) AS BIGINT) AS total_ngrams,
      |  CAST(count(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
      |  CAST(count(DISTINCT gram) AS DOUBLE) / count(*) AS distinct_ratio
      |FROM g GROUP BY n ORDER BY n""".stripMargin

  /** C4 cleaning bundle ([[QualityFilters.withC4Flags]], Raffel et
    * al. 2020): each document gets a planted 7-line page exercising
    * every LINE rule (short line, missing terminal punctuation,
    * javascript line, policy-phrase line, quote/question/exclamation
    * terminators) and, by `doc_id % 5`, one DOCUMENT rule (curly
    * brace, lorem ipsum, a badword, or a sentence-count shortfall).
    * The cleaned text, the line bookkeeping, the sentence count, and
    * all rule booleans are replayed verbatim by DuckDB — string-exact
    * and integer-exact, nothing sampled.
    */
  private def q116C4Flags(s: SparkSession, dir: String): DataFrame = {
    val nl = lit("\n")
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val b = substring(col("text"), 1, 60)
    val m = col("doc_id") % 5
    val core = concat(
      b, lit(" alpha.\ntoo short.\n"), b, lit(" beta\n"),
      b, lit(" javascript alert.\nplease accept our privacy policy today."))
    val tail1 =
      when(m === 4, lit(""))
        .otherwise(concat(nl, b, lit(" gamma!"), nl, b, lit(" delta?")))
    val tail2 = when(m === 1, concat(nl, b, lit(" code { brace }.")))
      .when(m === 2, concat(nl, lit("the sample mentions lorem ipsum dolor today.")))
      .when(m === 3, concat(nl, b, lit(" gamble tonight my good friend.")))
      .otherwise(lit(""))
    val planted = docs.withColumn("ptext", concat(core, tail1, tail2))
    graft.operators.QualityFilters
      .withC4Flags(planted, "ptext", badwords = Seq("gamble"))
      .select(col("doc_id"), col("clean_text"), col("n_lines_kept"),
        col("n_lines_dropped"), col("n_sentences"), col("has_lorem_ipsum"),
        col("has_brace"), col("has_bad_word"), col("pass"))
      .orderBy("doc_id")
  }

  private val q116Oracle =
    """WITH p AS (
      |  SELECT doc_id, substr(text, 1, 60) AS b, (doc_id % 5) AS m FROM documents
      |), built AS (
      |  SELECT doc_id,
      |    b || ' alpha.' || chr(10) ||
      |    'too short.' || chr(10) ||
      |    b || ' beta' || chr(10) ||
      |    b || ' javascript alert.' || chr(10) ||
      |    'please accept our privacy policy today.' ||
      |    CASE WHEN m = 4 THEN ''
      |         ELSE chr(10) || b || ' gamma!' || chr(10) || b || ' delta?' END ||
      |    CASE WHEN m = 1 THEN chr(10) || b || ' code { brace }.'
      |         WHEN m = 2 THEN chr(10) || 'the sample mentions lorem ipsum dolor today.'
      |         WHEN m = 3 THEN chr(10) || b || ' gamble tonight my good friend.'
      |         ELSE '' END AS t
      |  FROM p
      |), k AS (
      |  SELECT doc_id, len(string_split(t, chr(10))) AS nl,
      |    list_filter(string_split(t, chr(10)), l ->
      |      len(list_filter(regexp_split_to_array(l, '[ \t\f\r]+'), w -> w <> '')) >= 5
      |      AND (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"' OR l LIKE '%”')
      |      AND position('javascript' IN lower(l)) = 0
      |      AND position('privacy policy' IN lower(l)) = 0
      |      AND position('terms of use' IN lower(l)) = 0
      |      AND position('cookie policy' IN lower(l)) = 0
      |      AND position('uses cookies' IN lower(l)) = 0
      |      AND position('use of cookies' IN lower(l)) = 0) AS ks
      |  FROM built
      |), c AS (
      |  SELECT doc_id, nl, ks, array_to_string(ks, chr(10)) AS clean FROM k
      |), f AS (
      |  SELECT doc_id, nl, ks, clean,
      |    len(regexp_extract_all(clean, '[.!?]')) AS sents,
      |    position('lorem ipsum' IN lower(clean)) > 0 AS lorem,
      |    position('{' IN clean) > 0 AS brace,
      |    list_contains(list_filter(
      |      regexp_split_to_array(lower(clean), '[^\p{L}\p{N}_]+'), x -> x <> ''),
      |      'gamble') AS bad
      |  FROM c
      |)
      |SELECT doc_id, clean AS clean_text,
      |  CAST(len(ks) AS BIGINT) AS n_lines_kept,
      |  CAST(nl - len(ks) AS BIGINT) AS n_lines_dropped,
      |  CAST(sents AS BIGINT) AS n_sentences,
      |  lorem AS has_lorem_ipsum,
      |  brace AS has_brace,
      |  bad AS has_bad_word,
      |  (sents >= 3 AND NOT lorem AND NOT brace AND NOT bad) AS pass
      |FROM f ORDER BY doc_id""".stripMargin

  /** Readability gate ([[TextAnalysis.withReadability]]): Flesch
    * reading ease + Flesch-Kincaid grade over planted 3-sentence
    * pages built from each document's text. All counts (Unicode word
    * tokens, vowel-group syllables, clamped sentence marks) are
    * integers and the two scores are a fixed IEEE operation sequence,
    * so every column hash-compares against DuckDB replaying the same
    * arithmetic.
    */
  private def q117Readability(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs.withColumn(
      "ptext",
      concat(
        substring(col("text"), 1, 80), lit(". "),
        substring(col("text"), 81, 80), lit(". the end.")))
    TextAnalysis
      .withReadability(planted, "ptext")
      .select(col("doc_id"), col("n_words_rd"), col("n_sentences_rd"),
        col("n_syllables"), col("flesch_ease"), col("fk_grade"))
      .orderBy("doc_id")
  }

  private val q117Oracle =
    """WITH p AS (
      |  SELECT doc_id,
      |    substr(text, 1, 80) || '. ' || substr(text, 81, 80) || '. the end.' AS t
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, t,
      |    list_filter(regexp_split_to_array(lower(t), '[^\p{L}\p{N}_]+'),
      |                x -> x <> '') AS toks
      |  FROM p
      |), s AS (
      |  SELECT doc_id,
      |    len(toks) AS w,
      |    COALESCE(list_sum(list_transform(toks,
      |      x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1))), 0) AS sy,
      |    greatest(len(regexp_extract_all(t, '[.!?]')), 1) AS se
      |  FROM b
      |)
      |SELECT doc_id,
      |  CAST(w AS BIGINT) AS n_words_rd,
      |  CAST(se AS BIGINT) AS n_sentences_rd,
      |  CAST(sy AS BIGINT) AS n_syllables,
      |  CASE WHEN w > 0 THEN
      |    206.835 - 1.015 * (CAST(w AS DOUBLE) / se) - 84.6 * (CAST(sy AS DOUBLE) / w)
      |  END AS flesch_ease,
      |  CASE WHEN w > 0 THEN
      |    0.39 * (CAST(w AS DOUBLE) / se) + 11.8 * (CAST(sy AS DOUBLE) / w) - 15.59
      |  END AS fk_grade
      |FROM s ORDER BY doc_id""".stripMargin

  /** Planted victim-set gate for the STREAMING near-dup machinery —
    * batch evaluation of [[graft.streaming.StreamingDedup.nearDupHits]]
    * runs the identical banded-collision code path the stream runs
    * (same signatures, same bucket state loop). Every 10th document
    * gets a LATER-arriving near-identical copy (q66's construction
    * plus event times); keep-first must name the copy as `victim_id`
    * and the original as `kept_id` for every planted pair. The est
    * threshold 0.5 sits far below the planted pairs' ~0.94 true
    * Jaccard and far above unrelated word-soup overlap, and the
    * estimator is deterministic (fixed OPH seeds), so the full victim
    * set is exact, not probabilistic.
    */
  private def q118NearDupVictimsPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    val t0 = 1717236000000000L // 2024-06-01 10:00:00 UTC, micros
    val base = docs.select(
      col("doc_id").cast("long").as("id"),
      expr(s"timestamp_micros(${t0}L + doc_id * 1000000)").as("ts"),
      col("text"))
    val copies = docs.select(
      (col("doc_id") + lit(1000000L)).as("id"),
      expr(s"timestamp_micros(${t0}L + doc_id * 1000000 + 500000000)").as("ts"),
      concat(col("text"), lit(" graftplant")).as("text"))
    val hits = graft.streaming.StreamingDedup
      .nearDupHits(base.unionByName(copies), "id", "ts", "text", estThreshold = 0.5)
      .toDF()
      .select(
        col("victim_id"),
        when(col("victim_id") === col("id_a"), col("id_b")).otherwise(col("id_a"))
          .as("kept_id"))
      .distinct()
    val planted = docs.select(
      (col("doc_id") + lit(1000000L)).as("victim_id"),
      col("doc_id").as("kept_id"))
    planted
      .join(hits.withColumn("recovered", lit(true)), Seq("victim_id", "kept_id"), "left")
      .select(col("victim_id"), col("kept_id"),
        coalesce(col("recovered"), lit(false)).as("recovered"))
      .orderBy("victim_id")
      .localCheckpoint(true)
  }

  private val q118Oracle =
    """SELECT doc_id + 1000000 AS victim_id, doc_id AS kept_id, true AS recovered
      |FROM documents WHERE doc_id % 10 = 0 ORDER BY victim_id""".stripMargin

  /** Tolerance gate for the HLL distinct-n face (q88's recipe applied
    * to q115): exact totals/distincts replay verbatim in DuckDB and
    * the sketch estimate must sit within 5% of exact — 6σ at p=14, and
    * deterministic (fixed seed, register merges commute), so the
    * booleans are stable, not probabilistic.
    */
  private def q119DistinctNApprox(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val exact = TextAnalysis.distinctNgramStats(docs, "text", Seq(1, 2, 3))
    val approx = TextAnalysis
      .distinctNgramStatsApprox(docs, "text", Seq(1, 2, 3))
      .select(col("n"), col("total_ngrams").as("total_approx"), col("distinct_ngrams_est"))
    exact
      .join(approx, "n")
      .select(
        col("n"),
        col("total_ngrams"),
        col("distinct_ngrams"),
        (col("total_approx") === col("total_ngrams")).as("totals_match"),
        (abs(col("distinct_ngrams_est") - col("distinct_ngrams"))
          <= col("distinct_ngrams") * lit(0.05)).as("est_ok"),
      )
      .orderBy("n")
  }

  private val q119Oracle =
    """WITH t AS (
      |  SELECT list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
      |                     x -> x <> '') AS w
      |  FROM documents),
      |g AS (
      |  SELECT n,
      |    unnest(CASE WHEN len(w) >= n
      |      THEN list_transform(generate_series(1, len(w) - n + 1), i ->
      |             array_to_string(w[i:i+n-1], ' '))
      |      ELSE [] END) AS gram
      |  FROM t, (VALUES (1), (2), (3)) AS ns(n))
      |SELECT n, CAST(count(*) AS BIGINT) AS total_ngrams,
      |  CAST(count(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
      |  true AS totals_match,
      |  true AS est_ok
      |FROM g GROUP BY n ORDER BY n""".stripMargin

  /** One-sided gate for the CMS common-n-gram face: the exact columns
    * replay in DuckDB (q64's arithmetic) and the sketch face's
    * never-undercount invariants pin the approximation as stable
    * booleans — `n_grams` agree exactly (same tokenization, no
    * sketch involved), `n_common_est ≥ n_common` and
    * `max_gram_df_est ≥ max_gram_df` hold for EVERY document by CMS
    * construction, deterministic regardless of collisions.
    */
  private def q120CommonNgramsApprox(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val exact = graft.operators.TextAnalysis
      .commonNgramStats(docs, "doc_id", "text", n = 3, minDf = 2L)
    val approx = graft.operators.TextAnalysis
      .commonNgramStatsApprox(docs, "doc_id", "text", n = 3, minDf = 2L)
      .select(col("doc_id"), col("n_grams").as("n_grams_approx"),
        col("n_common_est"), col("max_gram_df_est"))
    exact
      .join(approx, "doc_id")
      .select(
        col("doc_id"),
        col("n_grams"),
        col("n_common"),
        col("max_gram_df"),
        (col("n_grams_approx") === col("n_grams")).as("grams_match"),
        (col("n_common_est") >= col("n_common")).as("common_never_under"),
        (col("max_gram_df_est") >= col("max_gram_df")).as("max_never_under"),
      )
      .orderBy("doc_id")
  }

  private val q120Oracle =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'), x -> x <> '') AS w
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3
      |    THEN list_transform(generate_series(1, len(w)-2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END)) AS gram
      |  FROM t),
      |d AS (SELECT gram, count(*) AS gram_df FROM g GROUP BY gram)
      |SELECT g.doc_id,
      |  count(*) AS n_grams,
      |  CAST(sum(CASE WHEN d.gram_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
      |  max(d.gram_df) AS max_gram_df,
      |  true AS grams_match,
      |  true AS common_never_under,
      |  true AS max_never_under
      |FROM g JOIN d USING (gram)
      |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin

  /** Soft-404 / placeholder-page gate ([[QualityFilters]] `docPhrases`
    * + the [[QualityFilters.defaultSoft404Phrases]] preset): pages by
    * `doc_id % 3` get an error-notice or parking-notice line appended
    * to an otherwise-passing 3-sentence page — the document-level
    * phrase rule must flag them and fail `pass`, replayed verbatim in
    * DuckDB (line rules + every preset phrase probe + the pass
    * conjunction).
    */
  private def q121Soft404Planted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val b = substring(col("text"), 1, 60)
    val m = col("doc_id") % 3
    val core = concat(b, lit(" alpha.\n"), b, lit(" gamma!\n"), b, lit(" delta?"))
    val tail = when(m === 1, lit("\nsorry the page not found error appeared."))
      .when(m === 2, lit("\nthis domain is for sale right now."))
      .otherwise(lit(""))
    val planted = docs.withColumn("ptext", concat(core, tail))
    graft.operators.QualityFilters
      .withC4Flags(planted, "ptext",
        docPhrases = graft.operators.QualityFilters.defaultSoft404Phrases)
      .select(col("doc_id"), col("n_sentences"), col("has_drop_phrase"), col("pass"))
      .orderBy("doc_id")
  }

  private val q121Oracle =
    """WITH p AS (
      |  SELECT doc_id, substr(text, 1, 60) AS b, (doc_id % 3) AS m FROM documents
      |), built AS (
      |  SELECT doc_id,
      |    b || ' alpha.' || chr(10) || b || ' gamma!' || chr(10) || b || ' delta?' ||
      |    CASE WHEN m = 1 THEN chr(10) || 'sorry the page not found error appeared.'
      |         WHEN m = 2 THEN chr(10) || 'this domain is for sale right now.'
      |         ELSE '' END AS t
      |  FROM p
      |), k AS (
      |  SELECT doc_id,
      |    list_filter(string_split(t, chr(10)), l ->
      |      len(list_filter(regexp_split_to_array(l, '[ \t\f\r]+'), w -> w <> '')) >= 5
      |      AND (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"' OR l LIKE '%”')
      |      AND position('javascript' IN lower(l)) = 0
      |      AND position('privacy policy' IN lower(l)) = 0
      |      AND position('terms of use' IN lower(l)) = 0
      |      AND position('cookie policy' IN lower(l)) = 0
      |      AND position('uses cookies' IN lower(l)) = 0
      |      AND position('use of cookies' IN lower(l)) = 0) AS ks
      |  FROM built
      |), c AS (
      |  SELECT doc_id, array_to_string(ks, chr(10)) AS clean FROM k
      |), f AS (
      |  SELECT doc_id,
      |    len(regexp_extract_all(clean, '[.!?]')) AS sents,
      |    (position('page not found' IN lower(clean)) > 0
      |     OR position('404 error' IN lower(clean)) > 0
      |     OR position('error 404' IN lower(clean)) > 0
      |     OR position('access denied' IN lower(clean)) > 0
      |     OR position('this page does not exist' IN lower(clean)) > 0
      |     OR position('domain is for sale' IN lower(clean)) > 0
      |     OR position('under construction' IN lower(clean)) > 0
      |     OR position('default web page' IN lower(clean)) > 0) AS soft,
      |    (position('lorem ipsum' IN lower(clean)) > 0) AS lorem,
      |    (position('{' IN clean) > 0) AS brace
      |  FROM c
      |)
      |SELECT doc_id,
      |  CAST(sents AS BIGINT) AS n_sentences,
      |  soft AS has_drop_phrase,
      |  (sents >= 3 AND NOT lorem AND NOT brace AND NOT soft) AS pass
      |FROM f ORDER BY doc_id""".stripMargin

  // --- q122: planted END-TO-END oracle for the batch web-ingest face ---

  /** English stopwords used by the q122 planted corpus — all present in
    * BOTH the lang-id profile and the Gopher en stopword list, and in
    * no other language's profile, so langId scores en decisively.
    */
  private val q122Stops =
    Array("the", "and", "that", "this", "have", "from", "was", "were", "not", "with")

  /** Boilerplate line shared by every planted page. Deliberately free
    * of en-profile stopwords so the digits-only page still scores
    * "und" (its only letters come from this line).
    */
  private val q122Boiler =
    "please subscribe immediately regarding complete newsletter updates today"

  /** 2·pairs-word English content unique to `idCol`: alternating
    * (stopword, "item{id}x{k}") pairs. Every token 3-gram contains an
    * id-specific item word, so DISTINCT docs share zero MinHash
    * shingles (no accidental near-dups at any scale), while the 50%
    * stopword ratio keeps langId=en and the Gopher bundle green.
    */
  private def q122Content(idCol: Column, pairs: Int): Column = {
    val stops = array(q122Stops.map(lit).toIndexedSeq: _*)
    array_join(
      transform(
        sequence(lit(0), lit(pairs - 1)),
        k => concat(
          element_at(stops, (k % 10).cast("int") + 1),
          lit(" item"), idCol.cast("string"), lit("x"), k.cast("string"))),
      " ")
  }

  /** The flagship batch composition ([[graft.operators.CorpusPipeline
    * .webIngest]]) hash-checked END-TO-END against a closed-form
    * oracle — the planted corpus exercises every stage with a
    * deterministic outcome:
    *
    *   - `doc_id % 10 = 0` → host `ads.blocked.example.com`, dropped
    *     by the subdomain blocklist (`blocked.example.com` entry);
    *   - `% 10 = 1` → digits-only body, langId "und", dropped by the
    *     `langs = en` filter;
    *   - `% 10 = 2` → fluent but 28 words < the 50-word Gopher floor,
    *     dropped by the quality stage;
    *   - `% 10 = 6` → near-identical copy of doc_id−1's content (one
    *     appended token, shingle Jaccard ≈ 52/53), dropped by the
    *     MinHash stage with doc_id−1 kept (keep-min-id);
    *   - the rest survive; the shared boilerplate line collapses to
    *     the minimum surviving doc via corpus-wide line dedup; hosts
    *     `site{id%3}.example.com` are capped at 80 docs in md5-of-id
    *     order; every survivor is exactly one ≤64-token chunk; the
    *     packed layout (pos/start_offset/pack bounds) replays the
    *     seeded md5 shuffle order.
    *
    * The oracle reconstructs the full output — surviving chunk set,
    * chunk TEXT, token counts, host-cap survivors, and the packed
    * layout — in pure SQL, so any stage regression (extraction,
    * normalization, langId, Gopher, either dedup, the cap, chunking,
    * or packing) hash-fails the driver gate.
    */
  /** The q122 planted page frame (doc_id, html, url) — shared with
    * the perf probe's stage breakdown so both see the same corpus.
    */
  private[graft] def q122PlantedPages(s: SparkSession, dir: String): DataFrame = {
    val r = col("doc_id") % 10
    val content = when(r === 1,
        expr("""array_join(transform(sequence(0, 59),
                | k -> CAST(doc_id * 100 + k AS STRING)), ' ')""".stripMargin))
      .when(r === 2, q122Content(col("doc_id"), 10))
      .when(r === 6, concat(q122Content(col("doc_id") - 1, 27), lit(" graftplant")))
      .otherwise(q122Content(col("doc_id"), 27))
    val html = concat(
      lit(s"<html><body><p>$q122Boiler</p><p>"), content, lit("</p></body></html>"))
    val url = when(r === 0,
        concat(lit("http://ads.blocked.example.com/p/"), col("doc_id").cast("string")))
      .otherwise(concat(
        lit("http://site"), (col("doc_id") % 3).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string")))
    load(s, dir, "documents")
      .select(col("doc_id"), html.as("html"), url.as("url"))
  }

  /** GATE-SCOPE boundary cache: several gates audit the SAME planted
    * corpus through different faces (q122/q136/q141 over the q122
    * pages; q142/q143 over the prepare texts); the recorded chain runs
    * once per (sf dir, key), each landed boundary is written to a
    * temp PARQUET dir, and every face reads the parquet-backed
    * frames — identical results, one chain run instead of one per
    * face. Parquet, not retained localCheckpoints: the bench's
    * inter-query hygiene unpersists every persistent RDD (a
    * truncated-lineage checkpoint cannot be recomputed), while a
    * landed file boundary — the [[graft.operators.Materialize
    * .ParquetDir]] production shape — survives any cache clearing.
    */
  private val gateBoundaryCache = scala.collection.mutable.HashMap
    .empty[(String, String), (SparkSession, java.nio.file.Path, Seq[(String, DataFrame)])]

  /** Session-cached gate STORE fixtures (the [[cachedBoundaries]]
    * idea applied to persisted vector/signature stores): several gate
    * families build byte-identical store fixtures independently —
    * same corpus construction, same deterministic seeded training,
    * same write params, only the dir tag and catalog name differed —
    * so each family used to pay the IVF/PQ train (two sampled corpus
    * scans + driver k-means) and the bucketed two-table store write
    * once PER GATE per sweep. Whichever gate of a family runs first
    * builds the store; the rest reopen the landed parquet through the
    * same [[graft.operators.VectorStore.read]] seam a production
    * session uses. Families sharing a fixture (r20 VERDICT item 1
    * prescribed the mechanism for q188/q189; the others are the same
    * byte-identical-fixture fact):
    *   - "tune": q188/q189 (even-half PQ store, nlist 16)
    *   - "annpq": q157/q158/q162/q168 (PQ store over the
    *     [[annPlantedGate]] corpus = embeddings ∪ perturbed copies)
    *   - "annopq": q161/q169 (OPQ store over the same corpus)
    *   - "fullpq": q164-epoch0/q165 (PQ store over the full corpus)
    * (q180/q184 look like a family but are NOT byte-identical — q184
    * deliberately indexes only the even corpus half — so they keep
    * independent builds.)
    * Session-bound recompute contract as [[cachedBoundaries]] (a
    * frame from a stopped session fails every action); store dirs
    * ride the normal [[tempFixtureDir]] JVM-exit hook AND are deleted
    * eagerly when a lookup from another session replaces an entry
    * whose session is STOPPED (without it, same-JVM restarts
    * accumulate dead store dirs until exit; ADVICE r21). An entry of a
    * still-live session (`newSession()`, a parallel bench) keeps its
    * dirs until exit: that session's frames read them lazily
    * (ADVICE r22); every gate still builds from scratch when run
    * in isolation, and results are bit-identical because the fixtures
    * were already byte-identical.
    *
    * CONTRACT (ADVICE r21): the cache key is (sf dir, family key) —
    * a by-name `corpus` argument at a fixture seam is IGNORED on a
    * hit. Callers must therefore pass the family's byte-identical
    * corpus construction and nothing else; a gate needing a different
    * corpus needs a different family key, not a different argument.
    */
  private val storeFixtureCache = scala.collection.mutable.HashMap
    .empty[(String, String), (SparkSession, Any, Seq[java.nio.file.Path])]

  /** Lookup-or-compute on [[storeFixtureCache]] — one coarse lock,
    * like [[cachedBoundaries]] (gates run sequentially under the
    * bench; coarseness costs nothing and closes the check-then-act
    * race). `build` returns the fixture plus the temp dirs it
    * created, so a stale-session replacement can reclaim them.
    */
  private[graft] def cachedStoreFixture[T](s: SparkSession, dir: String, key: String)(
      build: => (T, Seq[java.nio.file.Path])): T =
    storeFixtureCache.synchronized {
      storeFixtureCache.get((dir, key)) match {
        case Some((sess, v, _)) if sess eq s => v.asInstanceOf[T]
        case stale =>
          // another session asks: a stopped session's store dirs can
          // never be read again — reclaim them now instead of at JVM
          // exit; a live session's frames may still read them lazily,
          // so those stay for the JVM-exit hook
          stale.foreach { case (sess, _, dirs) =>
            if (sess.sparkContext.isStopped) dirs.foreach { d =>
              deleteDirTree(d)
              fixtureDirs.synchronized { fixtureDirs -= d }
            }
          }
          val (v, dirs) = build
          storeFixtureCache((dir, key)) = (s, v, dirs)
          v
      }
    }

  private def deleteDirTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }

  /** One JVM-exit hook for every live gate-cache dir — registered on
    * first use, so a JVM that never touches a cached gate installs
    * nothing. Stale entries are additionally evicted EAGERLY on
    * session-restart replacement (see [[cachedBoundaries]]); this
    * hook only covers the dirs still live at exit.
    */
  private lazy val gateCacheExitHook: Thread = {
    val t = new Thread(() => gateBoundaryCache.synchronized {
      gateBoundaryCache.values.foreach { case (_, root, _) => deleteDirTree(root) }
      gateBoundaryCache.clear()
    }, "graft-gate-cache-cleanup")
    Runtime.getRuntime.addShutdownHook(t)
    t
  }

  /** FIXTURE temp dirs (WARC/WET archives, signature stores) built by
    * gates at call time. They cannot be deleted eagerly — the
    * returned DataFrames read the files lazily, possibly across
    * several downstream actions — so each dir is registered here and
    * swept by one JVM-exit hook; previously these leaked across runs
    * (ADVICE r13 #4). Registration is idempotent per JVM and the hook
    * installs only if a fixture is ever created.
    */
  private val fixtureDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  private lazy val fixtureExitHook: Thread = {
    val t = new Thread(() => fixtureDirs.synchronized {
      fixtureDirs.foreach(deleteDirTree)
      fixtureDirs.clear()
    }, "graft-fixture-cleanup")
    Runtime.getRuntime.addShutdownHook(t)
    t
  }

  /** Plant-offset UNIT for the synthetic-id plants the ANN and
    * streaming gates build (q171/q176/q180/q184/q186/q187): the
    * smallest positive multiple of 1,000,000 STRICTLY greater than
    * the table's max id, so role r's planted ids (`id + r·unit`)
    * can never collide with base ids at ANY scale dir — the old
    * fixed `+1e6` convention was silently wrong the day a scale dir
    * reached 1M rows (q184's leak predicate `neighbor_id >= 1e6`
    * would have flagged real corpus rows as leaks). The DuckDB
    * oracles mirror the same closed form INCLUDING the non-negative
    * clamp (`((GREATEST(max(id), 0) // 1000000) + 1) * 1000000` —
    * DuckDB's `//` floors negatives, so an unclamped oracle over a
    * negative-id table would derive a DIFFERENT unit than this
    * clamped Scala side, even unit 0), so both sides derive
    * the SAME unit whatever the scale; at the driver's SFs
    * (max id < 1e6) the unit is exactly 1,000,000 — plants identical
    * to the pre-derivation gates. An empty table yields the base
    * unit (such gates emit zero planted rows either way).
    * PlantOffsetSpec pins unit > max id, multiple-of-1e6, and
    * no-collision across the role range.
    */
  private[graft] def plantUnit(table: DataFrame, idCol: String): Long = {
    val row = table.agg(max(col(idCol)).cast("long")).head()
    val mx = if (row.isNullAt(0)) 0L else math.max(0L, row.getLong(0))
    (mx / 1000000L + 1L) * 1000000L
  }

  /** Create a gate-fixture temp dir that is deleted at JVM exit. */
  private def tempFixtureDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    fixtureDirs.synchronized {
      fixtureExitHook // force hook registration before the dir can leak
      fixtureDirs += p
    }
    p
  }

  /** Entries are bound to the SparkSession that built them: a cached
    * DataFrame from a STOPPED session would fail every action, so a
    * lookup from a different session recomputes (same-JVM
    * session-restart shape) and the superseded entry's parquet dir is
    * deleted at replacement — exactly one live dir per (sf dir, key)
    * at any time, plus a JVM-exit hook for whatever is live at exit.
    * The whole lookup-or-compute holds one coarse lock, which also
    * closes the check-then-act race (two concurrent gates would both
    * run the chain and orphan one temp dir); gates run sequentially
    * under the bench, so the coarseness costs nothing. Staleness
    * caveat: the cache assumes the sf dir's tables are immutable for
    * the JVM's lifetime — true for the driver's testdata; a caller
    * that regenerates a dir in-place must use a fresh dir name (or
    * JVM). Eviction caveat: replacement DELETES the superseded
    * entry's parquet dir, so frames returned to an earlier session
    * must not be held across a session restart — the restart shape
    * this cache serves (bench re-runs) re-fetches through
    * cachedBoundaries after the restart, never through a stale
    * handle.
    */
  private[graft] def cachedBoundaries(s: SparkSession, dir: String, key: String)(
      f: => Seq[(String, DataFrame)]): Seq[(String, DataFrame)] =
    gateBoundaryCache.synchronized {
      gateBoundaryCache.get((dir, key)) match {
        case Some((sess, _, b)) if sess eq s => b
        case stale =>
          stale.foreach { case (_, oldRoot, _) => deleteDirTree(oldRoot) }
          gateCacheExitHook // force registration before the first dir exists
          val root = java.nio.file.Files.createTempDirectory(s"graft_gate_$key")
          val b = f.zipWithIndex.map { case ((name, frame), ix) =>
            val p = s"$root/${ix}_$name"
            frame.write.mode("overwrite").parquet(p)
            (name, s.read.parquet(p))
          }
          gateBoundaryCache((dir, key)) = (s, root, b)
          b
      }
    }

  /** Test hook: the live gate-cache parquet roots. */
  private[graft] def gateCacheLiveDirs: Seq[String] =
    gateBoundaryCache.synchronized {
      gateBoundaryCache.values.map(_._2.toString).toSeq
    }

  /** The q122 planted corpus' recorded ingest boundaries (langs=en,
    * maxPerHost=80, subdomain blocklist — the q122/q136/q141 config),
    * computed once per sf dir.
    */
  private def q122IngestBoundaries(s: SparkSession, dir: String): Seq[(String, DataFrame)] =
    cachedBoundaries(s, dir, "q122ingest") {
      import s.implicits._
      val blocklist = Seq("blocked.example.com").toDF("domain")
      graft.operators.CorpusPipeline.ingestBoundaries(
        q122PlantedPages(s, dir), "doc_id", "html", "url",
        langs = Seq("en"), maxPerHost = 80, blocklist = Some(blocklist))
    }

  private def q122WebIngestPlanted(s: SparkSession, dir: String): DataFrame = {
    // the recorded host_cap boundary IS the pipeline's pre-chunk
    // survivor frame for this corpus+config (ingestBoundaries runs
    // webIngest's own chain through the stage hook), so the gate rides
    // the shared boundary cache through the cap and runs the real
    // chunk→pack layout tail (webIngestFromCapped — the same code path
    // webIngest runs)
    val capped = q122IngestBoundaries(s, dir).find(_._1 == "host_cap").get._2
    graft.operators.CorpusPipeline
      .webIngestFromCapped(capped, seqLen = 64, shuffleSalt = "epoch0")
      .select(col("id"), col("chunk_id"), col("chunk_idx"), col("chunk_text"),
        col("n_chunk_tokens"), col("pos"), col("start_offset"),
        col("pack_first"), col("pack_last"), col("url_norm"), col("url_host"),
        col("lang_pred"))
      .orderBy("id")
  }

  private val q122Oracle =
    s"""WITH surv AS (
       |  SELECT doc_id,
       |    'site' || (doc_id % 3) || '.example.com' AS url_host,
       |    'http://site' || (doc_id % 3) || '.example.com/p/' || doc_id AS url_norm
       |  FROM documents WHERE doc_id % 10 NOT IN (0, 1, 2, 6)
       |), keeper AS (
       |  SELECT min(doc_id) AS kid FROM documents WHERE doc_id % 10 NOT IN (0, 1, 2)
       |), txt AS (
       |  SELECT s.doc_id, s.url_host, s.url_norm,
       |    CASE WHEN s.doc_id = k.kid THEN '$q122Boiler' || ' ' ELSE '' END ||
       |    array_to_string(list_transform(generate_series(0, 26),
       |      k -> ['the','and','that','this','have','from','was','were','not','with'][(k % 10) + 1]
       |           || ' item' || s.doc_id || 'x' || k), ' ') AS chunk_text,
       |    CAST(CASE WHEN s.doc_id = k.kid THEN 62 ELSE 54 END AS BIGINT) AS n_chunk_tokens
       |  FROM surv s, keeper k
       |), capped AS (
       |  SELECT * FROM (
       |    SELECT t.*, row_number() OVER (
       |      PARTITION BY url_host ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |    FROM txt t) WHERE rn <= 80
       |), keyed AS (
       |  SELECT c.*, CAST(doc_id AS VARCHAR) || '#0' AS chunk_id,
       |    md5(CAST(doc_id AS VARCHAR) || '#0:epoch0') AS skey
       |  FROM capped c
       |), laid AS (
       |  SELECT k.*,
       |    CAST(row_number() OVER (ORDER BY skey, chunk_id) AS BIGINT) AS pos,
       |    CAST(COALESCE(SUM(n_chunk_tokens) OVER (ORDER BY skey, chunk_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
       |  FROM keyed k
       |)
       |SELECT doc_id AS id, chunk_id, CAST(0 AS BIGINT) AS chunk_idx, chunk_text,
       |  n_chunk_tokens, pos, start_offset,
       |  start_offset // 64 AS pack_first,
       |  (start_offset + n_chunk_tokens - 1) // 64 AS pack_last,
       |  url_norm, url_host, 'en' AS lang_pred
       |FROM laid ORDER BY id""".stripMargin

  /** Planted gate for the PII-redaction + soft-404 threading through
    * the batch web-ingest face (the options land at `prepare`'s
    * positions: soft-404 drop before langId, redaction BEFORE every
    * dedup stage). Roles by `doc_id % 10` on the q122 corpus recipe
    * (all pages on one host, each with a doc-specific contact suffix
    * "contact mail{id}@example.org or 10.0.0.{id%250} soon"):
    *
    *   - `% 10 = 4` → an otherwise-fluent page containing "this
    *     domain is for sale" — the soft-404 preset drops it before
    *     any scoring;
    *   - `% 10 = 9` → doc_id−1's content with its OWN contact
    *     details — after redaction both spell the identical string,
    *     so the pair collapses to the min-id doc (the redact-before-
    *     dedup contract: contact-detail variants are duplicates);
    *   - the rest survive with their contact suffix redacted to
    *     " contact [EMAIL] or [IP] soon" in the shipped chunk text.
    *
    * The oracle replays the surviving chunk set, the REDACTED text
    * verbatim, and the packed layout — so a regression in either
    * option's stage position (redacting after dedup, or skipping the
    * soft-404 drop) hash-fails the gate.
    */
  /** q123's page frame, split out for the stage probe (see
    * [[q104PlantedPages]]).
    */
  private[graft] def q123PlantedPages(s: SparkSession, dir: String): DataFrame = {
    val r = col("doc_id") % 10
    def contactFor(d: Column): Column = concat(
      lit(" contact mail"), d.cast("string"), lit("@example.org or 10.0.0."),
      (d % 250).cast("string"), lit(" soon"))
    val content = when(r === 4,
        concat(q122Content(col("doc_id"), 27), lit(" this domain is for sale right now")))
      .when(r === 9, concat(q122Content(col("doc_id") - 1, 27), contactFor(col("doc_id"))))
      .otherwise(concat(q122Content(col("doc_id"), 27), contactFor(col("doc_id"))))
    val html = concat(lit("<html><body><p>"), content, lit("</p></body></html>"))
    val url = concat(lit("http://site0.example.com/p/"), col("doc_id").cast("string"))
    load(s, dir, "documents")
      .select(col("doc_id"), html.as("html"), url.as("url"))
  }

  private def q123PiiIngestPlanted(s: SparkSession, dir: String): DataFrame = {
    val pages = q123PlantedPages(s, dir)
    graft.operators.CorpusPipeline
      .webIngest(pages, "doc_id", "html", "url",
        langs = Seq("en"), seqLen = 128, soft404 = true, redactPii = true)
      .select(col("id"), col("chunk_id"), col("chunk_idx"), col("chunk_text"),
        col("n_chunk_tokens"), col("pos"), col("start_offset"),
        col("pack_first"), col("pack_last"), col("url_norm"), col("url_host"),
        col("lang_pred"))
      .orderBy("id")
  }

  private val q123Oracle =
    """WITH txt AS (
      |  SELECT doc_id,
      |    array_to_string(list_transform(generate_series(0, 26),
      |      k -> ['the','and','that','this','have','from','was','were','not','with'][(k % 10) + 1]
      |           || ' item' || doc_id || 'x' || k), ' ')
      |    || ' contact [EMAIL] or [IP] soon' AS chunk_text,
      |    CAST(59 AS BIGINT) AS n_chunk_tokens
      |  FROM documents WHERE doc_id % 10 NOT IN (4, 9)
      |), keyed AS (
      |  SELECT t.*, CAST(doc_id AS VARCHAR) || '#0' AS chunk_id,
      |    md5(CAST(doc_id AS VARCHAR) || '#0:epoch0') AS skey
      |  FROM txt t
      |), laid AS (
      |  SELECT k.*,
      |    CAST(row_number() OVER (ORDER BY skey, chunk_id) AS BIGINT) AS pos,
      |    CAST(COALESCE(SUM(n_chunk_tokens) OVER (ORDER BY skey, chunk_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
      |  FROM keyed k
      |)
      |SELECT doc_id AS id, chunk_id, CAST(0 AS BIGINT) AS chunk_idx, chunk_text,
      |  n_chunk_tokens, pos, start_offset,
      |  start_offset // 128 AS pack_first,
      |  (start_offset + n_chunk_tokens - 1) // 128 AS pack_last,
      |  'http://site0.example.com/p/' || doc_id AS url_norm,
      |  'site0.example.com' AS url_host, 'en' AS lang_pred
      |FROM laid ORDER BY id""".stripMargin

  /** Planted gate for CCNet with an EXTERNAL clean target corpus
    * (`lmTarget` — the paper's actual construction): the slice being
    * scored is DELIBERATELY contaminated (25% fluent cycle-order
    * docs, 50% half-scrambled, 25% fully reversed — the clean class
    * is the minority), and the LM trains on a clean target of pure
    * cycle text instead of the slice. Scores then depend only on how
    * many of a doc's bigrams are cyclic-correct (9 > 4 > 0 of 10;
    * every doc carries one OOV id token so the unique-suffix penalty
    * is class-constant), so the class ordering is exact and the
    * quantile cuts land deterministically: fluent and half-scrambled
    * docs sit at-or-above the 0.7 cut (head, the >= tie rule), fully
    * reversed docs fall below the 0.3 cut (tail). A self-trained LM
    * on this slice would rank by similarity to the scrambled
    * MAJORITY — the divergence `lmTarget` closes.
    */
  private def q124CcnetTargetPlanted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = Array("the", "quick", "brown", "fox", "jumps",
      "over", "lazy", "dog", "again", "today")
    val fluent = words.mkString(" ")
    val neutral = (words.take(5) ++ words.drop(5).reverse).mkString(" ")
    val garbage = words.reverse.mkString(" ")
    val cls = col("doc_id") % 4
    val base = when(cls === 0, lit(garbage))
      .when(cls === 1, lit(fluent))
      .otherwise(lit(neutral))
    val planted = load(s, dir, "documents").select(
      col("doc_id").as("id"),
      concat(base, lit(" "), (col("doc_id") + 10000L).cast("string")).as("text"))
    val target = s.range(20).select(
      lit("en").as("lang"),
      lit((fluent + " " + fluent + " " + words.head)).as("text"))
    graft.operators.CorpusPipeline
      .ccnet(planted, "id", "text", langs = Seq("en"), vocabSize = 100,
        headFrac = 0.3, tailFrac = 0.3, lmTarget = Some(target))
      .select(col("id").as("doc_id"), col("ccnet_bucket"))
      .orderBy("doc_id")
  }

  private val q124Oracle =
    """SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN 'tail' ELSE 'head' END AS ccnet_bucket
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Exact-string gate for tracking-parameter stripping
    * ([[graft.operators.WebText.TrackingParams]], `withUrlParts(...,
    * stripTracking = true)`): three URL shapes per doc — mixed
    * real+tracking params (survivors keep their ORDER), an
    * all-tracking query (the `?` disappears), and a clean query
    * (byte-identical pass-through) — each normalized+stripped
    * spelling reconstructed by DuckDB string concatenation. The
    * mixed-case `UTM_Campaign` probe pins the case-folded name
    * match.
    */
  private def q125UrlTrackingPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"))
    val id = col("doc_id").cast("string")
    val base = concat(lit("HTTPS://WWW.Site"), (col("doc_id") % 7).cast("string"),
      lit(".COM:443/Article/"), id)
    val url = when(col("doc_id") % 3 === 0,
        concat(base, lit("?id="), id, lit("&utm_source=feed"), id,
          lit("&page=2&gclid=g"), id, lit("&q=a+b#frag")))
      .when(col("doc_id") % 3 === 1,
        concat(base, lit("?utm_source=x&UTM_Campaign=y&fbclid=z#frag")))
      .otherwise(concat(base, lit("?page=3")))
    graft.operators.WebText
      .withUrlParts(docs.withColumn("url", url), "url", stripTracking = true)
      .select(col("doc_id"), col("url_norm"), col("url_host"))
      .orderBy("doc_id")
  }

  private val q125Oracle =
    """SELECT doc_id,
      |  'https://www.site' || (doc_id % 7) || '.com/Article/' || doc_id ||
      |  CASE doc_id % 3
      |    WHEN 0 THEN '?id=' || doc_id || '&page=2&q=a+b'
      |    WHEN 1 THEN ''
      |    ELSE '?page=3' END AS url_norm,
      |  'www.site' || (doc_id % 7) || '.com' AS url_host
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Planted roundtrip gate for link-density main-content extraction
    * ([[graft.operators.WebText.htmlToMainText]]): every doc's real
    * text is wrapped in a page with a nav bar (pure anchor text,
    * density 1), a content paragraph CONTAINING an inline link
    * (density ≤ 0.32 even for empty docs — inline citations must
    * survive), and a footer link row (density 12/13). Extraction
    * must yield exactly the content line — nav and footer dropped,
    * anchor text of the inline link kept.
    */
  private def q126MainContentPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val esc = regexp_replace(
      regexp_replace(regexp_replace(col("text"), "&", "&amp;"), "<", "&lt;"),
      ">", "&gt;")
    val html = concat(
      lit("<html><body><div><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
        "<a href=\"/c\">Contact</a></div><p>"),
      esc,
      lit(" visit the <a href=\"/ar\">archive</a> for more</p>" +
        "<div><a href=\"/p\">Privacy</a> | <a href=\"/t\">Terms</a></div></body></html>"))
    val center = trim(regexp_replace(col("text"), "\\s+", " "))
    val expected = concat(
      when(length(center) > 0, concat(center, lit(" "))).otherwise(lit("")),
      lit("visit the archive for more"))
    graft.operators.WebText
      .htmlToMainText(docs.withColumn("html", html), "html", outCol = "main")
      .select(col("doc_id"), (col("main") === expected).as("main_ok"))
      .orderBy("doc_id")
  }

  private val q126Oracle =
    "SELECT doc_id, true AS main_ok FROM documents ORDER BY doc_id"

  /** Planted gate for INCREMENTAL near-dup against a standing corpus
    * ([[graft.operators.Dedup.minHashSignatures]] +
    * [[graft.operators.Dedup.nearDupNewDocs]]): the corpus is the
    * documents table (signature table computed once, text never
    * re-read by the incremental pass); the incoming batch mixes
    * near-copies of every 10th corpus doc (q66's one-appended-token
    * recipe) with genuinely-new docs whose every token embeds their
    * own id ("item{id}x{k}" — every shingle is doc-unique, so fresh
    * docs can never pair with the corpus, the copies, or each
    * other; the earlier token-REVERSED construction preserved the
    * corpus's own internal near-dup Jaccards and broke at sf0.1).
    * Survivors must be exactly the fresh docs: every copy is linked
    * to its corpus original and dropped, nothing fresh is lost.
    */
  private def q127IncrementalNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpusSigs = Dedup.minHashSignatures(docs, "doc_id", "text")
    val copies = docs
      .where(col("doc_id") % 10 === 0)
      .select(
        (col("doc_id") + lit(2000000L)).as("doc_id"),
        concat(col("text"), lit(" graftplant")).as("text"))
    val freshId = col("doc_id") + lit(3000000L)
    val fresh = docs
      .where(col("doc_id") % 10 === 5)
      .select(
        freshId.as("doc_id"),
        array_join(
          transform(
            sequence(lit(0), lit(29)),
            k => concat(lit("item"), freshId.cast("string"), lit("x"), k.cast("string"))),
          " ").as("text"))
    Dedup
      .nearDupNewDocs(copies.unionByName(fresh), "doc_id", "text", corpusSigs)
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  private val q127Oracle =
    """SELECT doc_id + 3000000 AS doc_id FROM documents
      |WHERE doc_id % 10 = 5 ORDER BY doc_id""".stripMargin

  /** Planted gate for the STREAM-vs-standing-corpus near-dup face
    * ([[graft.streaming.StreamingDedup.corpusNearDupHits]] — batch
    * evaluation runs the identical stream-static join + exact-verify
    * plan): near-copies of every 10th corpus doc must each hit their
    * own original (extra hits to the original's own corpus near-dups
    * are allowed — the pair probe is exact), and id-unique fresh docs
    * must hit NOTHING.
    */
  private def q128CorpusHitsPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpusSigs = Dedup.minHashSignatures(docs, "doc_id", "text")
    val t0 = 1717236000000000L
    val copies = docs
      .where(col("doc_id") % 10 === 0)
      .select(
        (col("doc_id") + lit(2000000L)).as("doc_id"),
        expr(s"timestamp_micros(${t0}L + doc_id * 1000000)").as("ts"),
        concat(col("text"), lit(" graftplant")).as("text"))
    val freshId = col("doc_id") + lit(3000000L)
    val fresh = docs
      .where(col("doc_id") % 10 === 5)
      .select(
        freshId.as("doc_id"),
        expr(s"timestamp_micros(${t0}L + doc_id * 1000000)").as("ts"),
        array_join(
          transform(
            sequence(lit(0), lit(29)),
            k => concat(lit("item"), freshId.cast("string"), lit("x"), k.cast("string"))),
          " ").as("text"))
    val hits = graft.streaming.StreamingDedup
      .corpusNearDupHits(copies.unionByName(fresh), "doc_id", "ts", "text", corpusSigs)
      .toDF()
    val hitPairs = hits.select(col("id"), col("corpus_id")).distinct()
    val copiesExp = docs
      .where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(2000000L)).as("id"), col("doc_id").as("corpus_id"))
      .join(hitPairs.withColumn("r", lit(true)), Seq("id", "corpus_id"), "left")
      .select(col("id"), col("corpus_id"), coalesce(col("r"), lit(false)).as("hit"))
    val freshExp = docs
      .where(col("doc_id") % 10 === 5)
      .select((col("doc_id") + lit(3000000L)).as("id"), lit(-1L).as("corpus_id"))
      .join(
        hits.select(col("id")).distinct().withColumn("r", lit(true)), Seq("id"), "left")
      .select(col("id"), col("corpus_id"), coalesce(col("r"), lit(false)).as("hit"))
    copiesExp.unionByName(freshExp).orderBy("id")
  }

  private val q128Oracle =
    """SELECT doc_id + 2000000 AS id, doc_id AS corpus_id, true AS hit
      |FROM documents WHERE doc_id % 10 = 0
      |UNION ALL
      |SELECT doc_id + 3000000 AS id, -1 AS corpus_id, false AS hit
      |FROM documents WHERE doc_id % 10 = 5
      |ORDER BY id""".stripMargin

  /** Roundtrip gate for the WARC source ([[graft.sources.Warc]] — the
    * Common Crawl container): every document is serialized as a
    * `response` record into BOTH a plain and a gzip-member-per-record
    * WARC file, read back through the distributed reader, and checked
    * field-for-field — exactly two copies per doc (one per file), the
    * HTTP head split yields status 200 and the html content-type, and
    * the parsed body equals the expected page byte-for-byte (bodies
    * are `Content-Length`-sliced, so corpus text containing CRLFs or
    * WARC-looking strings must survive verbatim).
    */
  private def q129WarcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docsDf = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val rows = docsDf.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) "" else r.getString(1)))
      .sortBy(_._1)
    val recs = rows.toSeq.map { case (id, text) =>
      (s"http://warc.example.com/doc/$id", "2024-06-01T10:00:00Z",
        s"<html><body><p>doc $id</p><p>$text</p></body></html>")
    }
    val outDir = tempFixtureDir("graft_warc_gate")
    java.nio.file.Files.write(
      outDir.resolve("a.warc"), graft.sources.Warc.buildWarc(recs, gzipPerRecord = false))
    java.nio.file.Files.write(
      outDir.resolve("b.warc.gz"), graft.sources.Warc.buildWarc(recs, gzipPerRecord = true))
    val parsed = graft.sources.Warc.read(s, outDir.toString + "/*")
    val expected = docsDf.select(
      col("doc_id"),
      concat(lit("<html><body><p>doc "), col("doc_id").cast("string"),
        lit("</p><p>"), coalesce(col("text"), lit("")),
        lit("</p></body></html>")).as("exp"))
    parsed
      .where(col("warc_type") === "response")
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("http_status"), col("content_type"), col("body"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_copies"),
        min(col("http_status")).as("status"),
        (countDistinct(col("body")) === 1).as("bodies_agree"),
        first(col("body")).as("__body"),
        (countDistinct(col("content_type")) === 1 &&
          min(col("content_type")) === "text/html; charset=utf-8").as("ct_ok"))
      .join(expected, "doc_id")
      .select(col("doc_id"), col("n_copies"), col("status"), col("bodies_agree"),
        (col("__body") === col("exp")).as("body_ok"), col("ct_ok"))
      .orderBy("doc_id")
  }

  private val q129Oracle =
    """SELECT doc_id, CAST(2 AS BIGINT) AS n_copies, 200 AS status,
      |  true AS bodies_agree, true AS body_ok, true AS ct_ok
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Roundtrip gate for the WET face
    * ([[graft.sources.Warc.readWet]] — Common Crawl's extracted-text
    * layout): every document's text is serialized as a `conversion`
    * record into BOTH a plain and a gzip-member-per-record WET file
    * (each with its `warcinfo` prelude), read back through the
    * distributed reader, and checked verbatim — exactly two copies
    * per doc, the warcinfo records filtered by the face, and the
    * UTF-8 text byte-identical (bodies are `Content-Length`-sliced,
    * so corpus text containing CRLFs or WARC-looking lines must
    * survive).
    */
  private def q152WetRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docsDf = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val pages = docsDf.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) "" else r.getString(1)))
      .sortBy(_._1)
      .toSeq
      .map { case (id, text) =>
        (s"http://wet.example.com/doc/$id", "2024-06-01T10:00:00Z", text)
      }
    val outDir = tempFixtureDir("graft_wet_gate")
    java.nio.file.Files.write(
      outDir.resolve("a.warc.wet"),
      graft.sources.Warc.buildWet(pages, gzipPerRecord = false))
    java.nio.file.Files.write(
      outDir.resolve("b.warc.wet.gz"),
      graft.sources.Warc.buildWet(pages, gzipPerRecord = true))
    graft.sources.Warc.readWet(s, outDir.toString + "/*")
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("warc_date"), col("text"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_copies"),
        (countDistinct(col("text")) === 1).as("texts_agree"),
        first(col("text")).as("__text"),
        min(col("warc_date")).as("__date"))
      .join(docsDf.select(col("doc_id"), coalesce(col("text"), lit("")).as("exp")), "doc_id")
      .select(col("doc_id"), col("n_copies"), col("texts_agree"),
        (col("__text") === col("exp")).as("text_ok"),
        (col("__date") === "2024-06-01T10:00:00Z").as("date_ok"))
      .orderBy("doc_id")
  }

  private val q152Oracle =
    """SELECT doc_id, CAST(2 AS BIGINT) AS n_copies, true AS texts_agree,
      |  true AS text_ok, true AS date_ok
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Fused-annotation gate
    * ([[graft.operators.TextAnalysis.withTextSignals]]): one UDF pass
    * must equal the four standalone faces, so the oracle is the
    * q117/q147/q148 replays COMBINED over raw corpus text plus
    * `raw_len` (UTF-8 bytes = DuckDB `strlen`). Deflate columns
    * are excluded (zlib-build-dependent — gated by q149's planted
    * margins instead); entropy rounds to 4dp as in q147.
    */
  private def q153TextSignals(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    // deflateLevel = -1: the gate excludes the deflate columns (q149
    // gates those), so it exercises the skip path — raw_len stays
    // real without paying level-6 deflate per doc
    TextAnalysis
      .withTextSignals(docs, "text", deflateLevel = -1)
      .select(col("doc_id"),
        col("n_words_rd"), col("n_sentences_rd"), col("n_syllables"),
        col("flesch_ease"), col("fk_grade"),
        col("n_tokens_ue"), col("n_distinct_tokens"),
        round(col("unigram_entropy"), 4).as("unigram_entropy"),
        col("n_lines_ls"), col("max_line_len"), col("sum_line_len"),
        col("avg_line_len"), col("n_alnum_cp"), col("n_cp"), col("frac_alnum"),
        col("raw_len"))
      .orderBy("doc_id")
  }

  private val q153Oracle =
    """WITH p AS (
      |  SELECT doc_id, COALESCE(text, '') AS t FROM documents
      |), b AS (
      |  SELECT doc_id, t,
      |    list_filter(regexp_split_to_array(lower(t), '[^\p{L}\p{N}_]+'),
      |      x -> x <> '') AS toks
      |  FROM p
      |), rd AS (
      |  SELECT doc_id,
      |    len(toks) AS w,
      |    COALESCE(list_sum(list_transform(toks,
      |      x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1))), 0) AS sy,
      |    greatest(len(regexp_extract_all(t, '[.!?]')), 1) AS se
      |  FROM b
      |), uec AS (
      |  SELECT doc_id, tok, count(*) AS c
      |  FROM (SELECT doc_id, unnest(toks) AS tok FROM b) GROUP BY doc_id, tok
      |), ue AS (
      |  SELECT doc_id, sum(c) AS w, count(*) AS d, sum(c * ln(c)) AS clnc
      |  FROM uec GROUP BY doc_id
      |), ls AS (
      |  SELECT doc_id, t, string_split(t, chr(10)) AS lines,
      |    length(regexp_replace(t, '[^a-zA-Z0-9]', '', 'g')) AS alnum
      |  FROM p
      |)
      |SELECT p.doc_id,
      |  CAST(rd.w AS BIGINT) AS n_words_rd,
      |  CAST(rd.se AS BIGINT) AS n_sentences_rd,
      |  CAST(rd.sy AS BIGINT) AS n_syllables,
      |  CASE WHEN rd.w > 0 THEN
      |    206.835 - 1.015 * (CAST(rd.w AS DOUBLE) / rd.se)
      |      - 84.6 * (CAST(rd.sy AS DOUBLE) / rd.w) END AS flesch_ease,
      |  CASE WHEN rd.w > 0 THEN
      |    0.39 * (CAST(rd.w AS DOUBLE) / rd.se)
      |      + 11.8 * (CAST(rd.sy AS DOUBLE) / rd.w) - 15.59 END AS fk_grade,
      |  CAST(COALESCE(ue.w, 0) AS BIGINT) AS n_tokens_ue,
      |  CAST(COALESCE(ue.d, 0) AS BIGINT) AS n_distinct_tokens,
      |  round(ln(ue.w) - ue.clnc / ue.w, 4) AS unigram_entropy,
      |  CAST(len(ls.lines) AS BIGINT) AS n_lines_ls,
      |  CAST(list_max(list_transform(ls.lines, x -> length(x))) AS BIGINT)
      |    AS max_line_len,
      |  CAST(list_sum(list_transform(ls.lines, x -> length(x))) AS BIGINT)
      |    AS sum_line_len,
      |  CAST(list_sum(list_transform(ls.lines, x -> length(x))) AS DOUBLE)
      |    / len(ls.lines) AS avg_line_len,
      |  CAST(ls.alnum AS BIGINT) AS n_alnum_cp,
      |  CAST(length(ls.t) AS BIGINT) AS n_cp,
      |  CASE WHEN length(ls.t) > 0
      |    THEN CAST(ls.alnum AS DOUBLE) / length(ls.t) END AS frac_alnum,
      |  CAST(strlen(ls.t) AS BIGINT) AS raw_len
      |FROM p
      |JOIN rd USING (doc_id) JOIN ls USING (doc_id) LEFT JOIN ue USING (doc_id)
      |ORDER BY p.doc_id""".stripMargin

  /** HTTP-fidelity gate for the WARC source: every document becomes
    * TWO planted pages in one gzip-member-per-record archive — even
    * ids served as ISO-8859-1 with `Transfer-Encoding: chunked` (the
    * on-the-wire capture shape crawlers store verbatim), odd ids as
    * plain UTF-8 — and the decoded text must oracle-check VERBATIM:
    * a missed de-chunk leaves hex size lines inside the body, a
    * missed charset decode mangles the non-ASCII accents (é/ñ are
    * invalid UTF-8 as single latin-1 bytes), and either hash-fails.
    */
  /** The q130 fixture BUILD alone (driver-side: one chunked/charset
    * page per document id, gzip member per record) — split out so the
    * perf probe can time the serial fixture construction separately
    * from [[graft.sources.Warc.read]] (the sweep's q130 factor is
    * dominated by this build, not the reader). Returns the archive
    * dir.
    */
  private[graft] def q130BuildFixture(s: SparkSession, dir: String): String = {
    val ids = load(s, dir, "documents").select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted
    def text(id: Long) = s"café doc $id résumé jalapeño ${id * 7}"
    def html(id: Long) = s"<html><body><p>${text(id)}</p></body></html>"
    val pages = ids.toSeq.map { id =>
      if (id % 2 == 0)
        graft.sources.Warc.FixturePage(
          s"http://fidelity.example.com/p/$id", "2024-06-01T10:00:00Z",
          Seq("Content-Type: text/html; charset=iso-8859-1", "Transfer-Encoding: chunked"),
          graft.sources.Warc.chunkEncode(
            html(id).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), 11))
      else
        graft.sources.Warc.FixturePage(
          s"http://fidelity.example.com/p/$id", "2024-06-01T10:00:00Z",
          Seq("Content-Type: text/html; charset=utf-8"),
          html(id).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val outDir = tempFixtureDir("graft_warc_http")
    java.nio.file.Files.write(outDir.resolve("fidelity.warc.gz"),
      graft.sources.Warc.buildWarcRaw(pages, gzipPerRecord = true))
    outDir.toString
  }

  private def q130WarcHttpFidelity(s: SparkSession, dir: String): DataFrame = {
    val outDir = q130BuildFixture(s, dir)
    graft.sources.Warc.read(s, outDir + "/*")
      .where(col("warc_type") === "response")
      .select(
        regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long").as("doc_id"),
        col("body"),
        regexp_extract(lower(col("content_type")), "charset=([a-z0-9-]+)", 1)
          .as("charset_hdr"),
        col("http_status").as("status"))
      .orderBy("doc_id")
  }

  private val q130Oracle =
    """SELECT doc_id,
      |  '<html><body><p>café doc ' || doc_id || ' résumé jalapeño ' || (doc_id * 7)
      |    || '</p></body></html>' AS body,
      |  CASE WHEN doc_id % 2 = 0 THEN 'iso-8859-1' ELSE 'utf-8' END AS charset_hdr,
      |  200 AS status
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The q122 planted corpus rendered per-row in driver Scala — must
    * reproduce [[q122Content]]'s column expressions byte-for-byte so
    * the WARC-served pipeline ([[q131WarcIngestE2e]]) hits the SAME
    * closed-form oracle.
    */
  private[graft] def q122HtmlScala(id: Long): String = {
    def content(cid: Long, pairs: Int): String =
      (0 until pairs).map(k => s"${q122Stops(k % 10)} item${cid}x$k").mkString(" ")
    val body = (id % 10) match {
      case 1 => (0 until 60).map(k => (id * 100 + k).toString).mkString(" ")
      case 2 => content(id, 10)
      case 6 => content(id - 1, 27) + " graftplant"
      case _ => content(id, 27)
    }
    s"<html><body><p>$q122Boiler</p><p>$body</p></body></html>"
  }

  private[graft] def q122UrlScala(id: Long): String =
    if (id % 10 == 0) s"http://ads.blocked.example.com/p/$id"
    else s"http://site${id % 3}.example.com/p/$id"

  /** The SEAM gate: the q122 corpus recipe served from gzipped WARC
    * archives through [[graft.sources.Warc.read]] into the flagship
    * batch web-ingest composition — q129 checks the source roundtrip
    * and q122 the pipeline; this welds them, so any drift the WARC
    * path introduces (charset, de-chunking, head split, URL
    * transport) hash-fails the SAME closed-form end-to-end oracle as
    * q122. Eight archive files (sharded by id, Common Crawl's
    * file-per-task layout) keep the read distributed.
    */
  private def q131WarcIngestE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = load(s, dir, "documents").select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted
    val outDir = tempFixtureDir("graft_warc_e2e")
    // all 8 shards written unconditionally — an empty corpus still
    // leaves parseable (zero-record) archives for the glob to match
    (0L until 8L).foreach { shard =>
      val recs = ids.toSeq.filter(_ % 8 == shard).map(id =>
        (q122UrlScala(id), "2024-06-01T10:00:00Z", q122HtmlScala(id)))
      java.nio.file.Files.write(outDir.resolve(s"shard$shard.warc.gz"),
        graft.sources.Warc.buildWarc(recs, gzipPerRecord = true))
    }
    val pages = graft.sources.Warc.read(s, outDir.toString + "/*")
      .where(col("warc_type") === "response")
      .select(
        regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long").as("doc_id"),
        col("body").as("html"), col("url"))
    val blocklist = Seq("blocked.example.com").toDF("domain")
    graft.operators.CorpusPipeline
      .webIngest(pages, "doc_id", "html", "url",
        langs = Seq("en"), maxPerHost = 80, seqLen = 64, blocklist = Some(blocklist))
      .select(col("id"), col("chunk_id"), col("chunk_idx"), col("chunk_text"),
        col("n_chunk_tokens"), col("pos"), col("start_offset"),
        col("pack_first"), col("pack_last"), col("url_norm"), col("url_host"),
        col("lang_pred"))
      .orderBy("id")
  }

  /** q127's incremental near-dup recipe served through the PERSISTED
    * bucketed signature store ([[graft.operators.Dedup
    * .writeSignatures]] → [[graft.operators.Dedup.readSignatures]] →
    * the store overload of `nearDupNewDocs`): the corpus signatures
    * are banded, skew-capped, and bucket-counted ONCE at write; the
    * incremental pass equi-joins the bucketed table with no
    * static-side exchange (DedupSpec asserts the plan). Same planted
    * truth and oracle as q127 — any store-path semantic drift
    * hash-fails against the frame path's closed form.
    */
  private def q132SigStoreNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    val storeDir = tempFixtureDir("graft_sigstore_gate").toString
    Dedup.writeSignatures(
      Dedup.minHashSignatures(docs, "doc_id", "text"), storeDir, "q132_sigs",
      numBuckets = 8)
    val store = Dedup.readSignatures(s, storeDir, "q132_sigs")
    val copies = docs
      .where(col("doc_id") % 10 === 0)
      .select(
        (col("doc_id") + lit(2000000L)).as("doc_id"),
        concat(col("text"), lit(" graftplant")).as("text"))
    val freshId = col("doc_id") + lit(3000000L)
    val fresh = docs
      .where(col("doc_id") % 10 === 5)
      .select(
        freshId.as("doc_id"),
        array_join(
          transform(
            sequence(lit(0), lit(29)),
            k => concat(lit("item"), freshId.cast("string"), lit("x"), k.cast("string"))),
          " ").as("text"))
    Dedup
      .nearDupNewDocs(copies.unionByName(fresh), "doc_id", "text", store, threshold = 0.8)
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  /** Planted gate for cross-snapshot capture compaction
    * ([[graft.operators.WebText.latestCapture]]): every document is
    * captured once; every 3rd is RE-crawled 500 s later under a new
    * capture id (must win); every 5th is also captured 500 s EARLIER
    * via a campaign URL (`?utm_source=mail` — stripTracking collapses
    * it onto the same url_norm, and it must lose on age). Closed
    * form: the survivor per URL is the recrawl id when `% 3 = 0`,
    * else the original.
    */
  private def q133LatestCapture(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"))
    val t0 = 1717236000000000L
    def cap(idOff: Long, tsOffMicros: Long, query: String) = Seq(
      (col("doc_id") + lit(idOff)).as("id"),
      expr(s"timestamp_micros(${t0}L + doc_id * 1000000 + ${tsOffMicros}L)").as("ts"),
      concat(lit("http://cap.example.com/p/"), col("doc_id").cast("string"),
        lit(query)).as("url"))
    val captures = docs.select(cap(0L, 0L, ""): _*)
      .unionByName(docs.where(col("doc_id") % 3 === 0)
        .select(cap(1000000L, 500000000L, ""): _*))
      .unionByName(docs.where(col("doc_id") % 5 === 0)
        .select(cap(2000000L, -500000000L, "?utm_source=mail"): _*))
    graft.operators.WebText
      .latestCapture(captures, "id", "url", "ts")
      .select(col("url_norm"), col("id"), col("url_host"))
      .orderBy("url_norm")
  }

  private val q133Oracle =
    """SELECT 'http://cap.example.com/p/' || doc_id AS url_norm,
      |  CASE WHEN doc_id % 3 = 0 THEN doc_id + 1000000 ELSE doc_id END AS id,
      |  'cap.example.com' AS url_host
      |FROM documents ORDER BY url_norm""".stripMargin

  /** Planted gate for [[graft.operators.Dedup.nearDupKeepBest]] —
    * quality-ranked near-dup representative selection. Texts are
    * synthesized with per-doc-unique tokens ("d{id}w{k}", the q122
    * recipe) so cross-cluster shingle overlap is exactly zero and the
    * full (component, group_size, is_kept) table is closed-form:
    * every doc_id % 20 == 0 gets two LONGER near-copies (one and two
    * appended tokens; J = 22/23, 23/24, 22/24 ≥ 0.8), `prefer` ranks
    * by text length desc, so the LAST copy must be crowned — the
    * outcome that distinguishes keep-best from [[Dedup.cleanCorpus]]'s
    * keep-min-id. Remaining % 10 docs are singletons (self-component,
    * kept).
    */
  private def q134NearDupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val ids = load(s, dir, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").cast("long").as("d"))
    def baseText = concat_ws(" ",
      transform(sequence(lit(0), lit(23)),
        k => concat(lit("d"), col("d").cast("string"), lit("w"), k.cast("string"))))
    val base = ids.select(col("d").as("id"), baseText.as("text"))
    val cIds = ids.where(col("d") % 20 === 0)
    val c1 = cIds.select(
      (col("d") + 1000000L).as("id"), concat(baseText, lit(" graftkb1")).as("text"))
    val c2 = cIds.select(
      (col("d") + 2000000L).as("id"),
      concat(baseText, lit(" graftkb1 graftkb2")).as("text"))
    val docs = base.unionByName(c1).unionByName(c2)
    Dedup
      .nearDupKeepBest(docs, "id", "text",
        prefer = Seq(length(col("text")).desc), jaccardThreshold = 0.8)
      .select(col("id"), col("component"), col("group_size"), col("is_kept"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q134Oracle =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0)
      |SELECT id, component, group_size, is_kept FROM (
      |  SELECT doc_id AS id, doc_id AS component,
      |    CAST(CASE WHEN doc_id % 20 = 0 THEN 3 ELSE 1 END AS BIGINT) AS group_size,
      |    doc_id % 20 <> 0 AS is_kept FROM d
      |  UNION ALL
      |  SELECT doc_id + 1000000, doc_id, CAST(3 AS BIGINT), false
      |  FROM d WHERE doc_id % 20 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, doc_id, CAST(3 AS BIGINT), true
      |  FROM d WHERE doc_id % 20 = 0
      |) ORDER BY id""".stripMargin

  /** Planted gate for
    * [[graft.streaming.StreamingDedup.nearDupSuppress]] — IN-STREAM
    * near-dup suppression (the chained-transformWithState operator).
    * The driver evaluates the batch face: the anti-join of the victim
    * set produced by the IDENTICAL [[StreamingDedup.bucketStep]]
    * collision loop the stream runs (the stream ≡ batch spec pins the
    * two faces to each other). Same zero-overlap text recipe as q134;
    * every doc_id % 20 == 0 base gets two LATER near-copies (both
    * must be suppressed — the second collides with the already-
    * suppressed first, proving transitive chains die) plus one
    * shingle-less copy (must PASS through on the stateless branch).
    */
  private def q135InStreamSuppress(s: SparkSession, dir: String): DataFrame = {
    val ids = load(s, dir, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").cast("long").as("d"))
    val t0 = 1717236000000000L
    def tsAt(offSec: Long) =
      expr(s"timestamp_micros(${t0}L + d * 1000000 + ${offSec}L * 1000000)").as("ts")
    def baseText = concat_ws(" ",
      transform(sequence(lit(0), lit(23)),
        k => concat(lit("d"), col("d").cast("string"), lit("w"), k.cast("string"))))
    val base = ids.select(col("d").as("id"), tsAt(0L), baseText.as("text"))
    val cIds = ids.where(col("d") % 20 === 0)
    val c1 = cIds.select((col("d") + 1000000L).as("id"), tsAt(500L),
      concat(baseText, lit(" graftsup1")).as("text"))
    val c2 = cIds.select((col("d") + 2000000L).as("id"), tsAt(600L),
      concat(baseText, lit(" graftsup1 graftsup2")).as("text"))
    val c3 = cIds.select((col("d") + 3000000L).as("id"), tsAt(700L),
      lit("tiny").as("text"))
    val docs = base.unionByName(c1).unionByName(c2).unionByName(c3)
    val kept = graft.streaming.StreamingDedup
      .nearDupSuppress(docs, "id", "ts", "text", estThreshold = 0.5)
      .select(col("id").as("kid"))
      .withColumn("k", lit(true))
    docs
      .join(kept, docs("id") === kept("kid"), "left")
      .select(docs("id"), coalesce(col("k"), lit(false)).as("kept"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q135Oracle =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0)
      |SELECT id, kept FROM (
      |  SELECT doc_id AS id, true AS kept FROM d
      |  UNION ALL SELECT doc_id + 1000000, false FROM d WHERE doc_id % 20 = 0
      |  UNION ALL SELECT doc_id + 2000000, false FROM d WHERE doc_id % 20 = 0
      |  UNION ALL SELECT doc_id + 3000000, true FROM d WHERE doc_id % 20 = 0
      |) ORDER BY id""".stripMargin

  /** Closed-form gate for [[graft.operators.CorpusPipeline
    * .webIngestFunnel]] — the per-stage attrition report, run over the
    * SAME planted corpus and config as q122, so every funnel row is a
    * count the q122 roles already fix: blocklist eats the `% 10 = 0`
    * ad-host pages, the language gate the `% 10 = 1` digits pages,
    * Gopher the `% 10 = 2` short pages, near-dup the `% 10 = 6`
    * copies, and the 80-per-host cap trims each `site{0,1,2}` host;
    * line dedup and exact dedup drop ZERO docs on this corpus (the
    * boilerplate line collapses but no document empties, and no two
    * documents are byte-identical) — which the oracle asserts as
    * hard zeros, pinning stage ATTRIBUTION, not just totals.
    */
  private def q136IngestFunnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusPipeline
      .funnelFromBoundaries(s, load(s, dir, "documents").count(),
        q122IngestBoundaries(s, dir))
      .orderBy("stage_ix")

  /** Per-role whitespace-token arithmetic (boiler line = 8 tokens;
    * content: `% 1` → 60 digit tokens, `% 2` → 20, `% 6` → 55, else
    * 54): each stage's `tokens_out` is a linear form over the role
    * counts; line dedup strips the boiler from every survivor except
    * the keeper (+8); the cap stage re-derives the md5-order window
    * and sums survivor tokens, keeper bonus included iff the keeper
    * itself survives the cap.
    */
  private val q136Oracle =
    """WITH t AS (SELECT count(*) AS n FROM documents),
      |c0 AS (SELECT count(*) AS c FROM documents WHERE doc_id % 10 = 0),
      |c1 AS (SELECT count(*) AS c FROM documents WHERE doc_id % 10 = 1),
      |c2 AS (SELECT count(*) AS c FROM documents WHERE doc_id % 10 = 2),
      |c6 AS (SELECT count(*) AS c FROM documents WHERE doc_id % 10 = 6),
      |k AS (SELECT min(doc_id) AS kid FROM documents WHERE doc_id % 10 NOT IN (0, 1, 2)),
      |h AS (SELECT doc_id % 3 AS hh, count(*) AS c FROM documents
      |      WHERE doc_id % 10 NOT IN (0, 1, 2, 6) GROUP BY 1),
      |cap AS (SELECT
      |  CAST(COALESCE(SUM(CASE WHEN c > 80 THEN c - 80 ELSE 0 END), 0) AS BIGINT) AS dropped,
      |  CAST(COALESCE(SUM(LEAST(c, 80)), 0) AS BIGINT) AS kept FROM h),
      |tok AS (SELECT
      |  62 * (t.n - c1.c - c2.c - c6.c) + 68 * c1.c + 28 * c2.c + 63 * c6.c AS t_extract,
      |  62 * (t.n - c0.c - c1.c - c2.c - c6.c) + 68 * c1.c + 28 * c2.c + 63 * c6.c
      |    AS t_blocklist,
      |  62 * (t.n - c0.c - c1.c - c2.c - c6.c) + 28 * c2.c + 63 * c6.c AS t_lang,
      |  62 * (t.n - c0.c - c1.c - c2.c - c6.c) + 63 * c6.c AS t_gopher,
      |  54 * (t.n - c0.c - c1.c - c2.c - c6.c) + 55 * c6.c + 8 AS t_line,
      |  54 * (t.n - c0.c - c1.c - c2.c - c6.c) + 8 AS t_near
      |  FROM t, c0, c1, c2, c6),
      |capt AS (SELECT CAST(COALESCE(SUM(
      |    CASE WHEN s.doc_id = k.kid THEN 62 ELSE 54 END), 0) AS BIGINT) AS t_cap
      |  FROM (SELECT doc_id, row_number() OVER (PARTITION BY doc_id % 3
      |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |        FROM documents WHERE doc_id % 10 NOT IN (0, 1, 2, 6)) s, k
      |  WHERE s.rn <= 80)
      |SELECT * FROM (
      |  SELECT 0 AS stage_ix, 'extract' AS stage,
      |    t.n AS docs_in, CAST(0 AS BIGINT) AS docs_dropped, t.n AS docs_out,
      |    tok.t_extract AS tokens_out FROM t, tok
      |  UNION ALL SELECT 1, 'blocklist', t.n, c0.c, t.n - c0.c, tok.t_blocklist
      |    FROM t, c0, tok
      |  UNION ALL SELECT 2, 'lang_filter', t.n - c0.c, c1.c, t.n - c0.c - c1.c,
      |    tok.t_lang FROM t, c0, c1, tok
      |  UNION ALL SELECT 3, 'gopher', t.n - c0.c - c1.c, c2.c, t.n - c0.c - c1.c - c2.c,
      |    tok.t_gopher FROM t, c0, c1, c2, tok
      |  UNION ALL SELECT 4, 'line_dedup', t.n - c0.c - c1.c - c2.c, CAST(0 AS BIGINT),
      |    t.n - c0.c - c1.c - c2.c, tok.t_line FROM t, c0, c1, c2, tok
      |  UNION ALL SELECT 5, 'exact_dedup', t.n - c0.c - c1.c - c2.c, CAST(0 AS BIGINT),
      |    t.n - c0.c - c1.c - c2.c, tok.t_line FROM t, c0, c1, c2, tok
      |  UNION ALL SELECT 6, 'near_dup', t.n - c0.c - c1.c - c2.c, c6.c,
      |    t.n - c0.c - c1.c - c2.c - c6.c, tok.t_near FROM t, c0, c1, c2, c6, tok
      |  UNION ALL SELECT 7, 'host_cap', t.n - c0.c - c1.c - c2.c - c6.c,
      |    cap.dropped, cap.kept, capt.t_cap FROM t, c0, c1, c2, c6, cap, capt
      |) ORDER BY stage_ix""".stripMargin

  /** Planted gate for [[graft.streaming.StreamingWebIngest
    * .inlineDedupAndCap]] — the FOUR-chained-stateful-operator
    * in-stream curation (exact dedup → near-dup suppression →
    * per-host cap). The driver evaluates the batch face (the same
    * deterministic stage composition the stream ≡ batch spec pins to
    * the chained `transformWithState` plan). Roles per `% 10 == 0`
    * base doc (q134's zero-overlap text recipe, host `h{d % 3}`):
    * a LATER byte-identical copy must die at the EXACT stage (before
    * any MinHash work), a near-copy at the SUPPRESS stage, and a
    * unique shingle-less "tiny" row must pass through to the cap,
    * which admits the first 20 arrivals per host in (ts, id) order —
    * so the kept set is a closed-form window over the planted
    * arrival sequence.
    */
  private def q137InlineDedupCap(s: SparkSession, dir: String): DataFrame = {
    val ids = load(s, dir, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id").cast("long").as("d"))
    val t0 = 1717236000000000L
    def tsAt(offSec: Long) =
      expr(s"timestamp_micros(${t0}L + d * 1000000 + ${offSec}L * 1000000)").as("ts")
    def host = concat(lit("h"), (col("d") % 3).cast("string")).as("host")
    def baseText = concat_ws(" ",
      transform(sequence(lit(0), lit(23)),
        k => concat(lit("d"), col("d").cast("string"), lit("w"), k.cast("string"))))
    val base = ids.select(col("d").as("id"), tsAt(0L), baseText.as("text"), host)
    val e1 = ids.select((col("d") + 1000000L).as("id"), tsAt(1L), baseText.as("text"), host)
    val c1 = ids.select((col("d") + 2000000L).as("id"), tsAt(2L),
      concat(baseText, lit(" graftic1")).as("text"), host)
    val tiny = ids.select((col("d") + 3000000L).as("id"), tsAt(3L),
      concat(lit("tiny d"), col("d").cast("string")).as("text"), host)
    val docs = base.unionByName(e1).unionByName(c1).unionByName(tiny)
    val kept = graft.streaming.StreamingWebIngest
      .inlineDedupAndCap(docs, "id", "ts", "text", "host",
        maxPerHost = 20, estThreshold = 0.5)
      .select(col("id").as("kid"))
      .withColumn("k", lit(true))
    docs
      .join(kept, docs("id") === kept("kid"), "left")
      .select(docs("id"), coalesce(col("k"), lit(false)).as("kept"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q137Oracle =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
      |pre AS (
      |  SELECT doc_id AS id, doc_id % 3 AS h, doc_id * 1000000 AS tsu FROM d
      |  UNION ALL
      |  SELECT doc_id + 3000000, doc_id % 3, doc_id * 1000000 + 3000000 FROM d
      |), ranked AS (
      |  SELECT id, row_number() OVER (PARTITION BY h ORDER BY tsu, id) AS rn FROM pre
      |)
      |SELECT id, kept FROM (
      |  SELECT id, rn <= 20 AS kept FROM ranked
      |  UNION ALL SELECT doc_id + 1000000, false FROM d
      |  UNION ALL SELECT doc_id + 2000000, false FROM d
      |) ORDER BY id""".stripMargin

  /** Gate for [[graft.operators.Dedup.decontaminateEmbedding]] —
    * semantic (embedding-space) benchmark decontamination. Every 50th
    * embedding is declared "benchmark"; the oracle independently
    * recomputes each doc's max cosine against that pool with DuckDB's
    * `list_cosine_similarity` (the arithmetic q21 already pins
    * bit-for-bit against the repo's fused float-to-double cosine), so
    * the gate is a FULL hash comparison of the margin column, not a
    * planted subset: benchmark members flag themselves at cosine 1,
    * and any naturally-close pair must flag identically on both
    * engines.
    */
  private def q138EmbedDecontam(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "embeddings")
    val bench = e.where(col("vec_id") % 50 === 0).select(col("embedding"))
    Dedup
      .decontaminateEmbedding(e, bench, "embedding", "embedding", threshold = 0.99)
      .select(col("vec_id"), col("max_benchmark_cosine"), col("is_clean"))
      .orderBy("vec_id")
  }

  private val q138Oracle =
    """WITH b AS (SELECT embedding FROM embeddings WHERE vec_id % 50 = 0)
      |SELECT c.vec_id,
      |  max(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
      |                             CAST(b.embedding AS DOUBLE[]))) AS max_benchmark_cosine,
      |  max(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
      |                             CAST(b.embedding AS DOUBLE[]))) < 0.99 AS is_clean
      |FROM embeddings c, b
      |GROUP BY c.vec_id ORDER BY c.vec_id""".stripMargin

  /** Gate for [[graft.operators.TextAnalysis.corpusDiff]] — corpus
    * snapshot diffing. The "new" snapshot is derived from `documents`
    * with closed-form edits: `% 7` docs removed, `% 5` docs' text
    * appended-to (changed), fresh `% 11`-derived ids added — so every
    * id's status is a pure CASE over doc_id (removal wins over
    * change for the `% 35` overlap, since the doc is simply gone).
    */
  private def q139CorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
      .select(col("doc_id").cast("long").as("id"), col("text"))
    val newDocs = docs
      .where(col("id") % 7 =!= 0)
      .withColumn("text",
        when(col("id") % 5 === 0, concat(col("text"), lit(" graftdiff")))
          .otherwise(col("text")))
      .unionByName(docs.where(col("id") % 11 === 0)
        .select((col("id") + 1000000L).as("id"), col("text")))
    TextAnalysis
      .corpusDiff(docs, newDocs, "id", "text")
      .select(col("id"), col("status"))
      .orderBy("id")
  }

  private val q139Oracle =
    """SELECT id, status FROM (
      |  SELECT doc_id AS id,
      |    CASE WHEN doc_id % 7 = 0 THEN 'removed'
      |         WHEN doc_id % 5 = 0 THEN 'changed'
      |         ELSE 'unchanged' END AS status
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, 'added' FROM documents WHERE doc_id % 11 = 0
      |) ORDER BY id""".stripMargin

  /** Planted gate for [[graft.operators.Similarity.mmrTopK]] — MMR
    * diversified retrieval. Block-diagonal geometry: every `% 100 ==
    * 0` doc is a query owning dims [4g, 4g+4) (g = doc_id / 100), its
    * three corpus companions are A1 ≈ A2 (near-identical directions,
    * relevance ≈ 0.95) and B (diverse, relevance 0.5) — cross-group
    * cosines are exactly 0, so each pool is its own 3 companions. At
    * λ = 0.5 the near-copy A2 scores 0.5·0.949 − 0.5·0.99999 < 0
    * while B scores 0.5·0.5 − 0.5·0.475 > 0, so the closed-form
    * selection is (A1, B) per query — the outcome a plain relevance
    * top-2 (A1, A2) gets wrong. Margins are ~0.03, far above float
    * noise.
    */
  /** The q140 block-diagonal MMR plant — (corpus, queries) — shared
    * with the store-served face's gate (q170), so both run against
    * the identical closed-form selection truth.
    */
  private def q140Plant(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // the plant is capped at 50 query groups (ids < 5000) so the
    // block-diagonal dimension stays ≤ 200 at EVERY scale — without
    // the cap dim grows with the corpus and the gate's own fixture
    // (not the operator) turns quadratic in the sweep
    val docs = load(s, dir, "documents")
      .select(col("doc_id").cast("long").as("id"))
      .where(col("id") < 5000L)
    val maxRow = docs.agg(max("id")).head()
    val maxId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0) // empty table → no plants
    val dim = ((math.max(maxId, 0L) / 100) + 1).toInt * 4
    val g = floor(col("id") / 100).cast("long")
    def vecOf(pairs: Seq[(Column, Double)]): Column = {
      val base = transform(sequence(lit(0), lit(dim - 1)), i => {
        pairs.foldRight(lit(0.0f)) { case ((ix, v), rest) =>
          when(i.cast("long") === ix, lit(v.toFloat)).otherwise(rest)
        }
      })
      base.cast("array<float>")
    }
    val queries = docs
      .where(col("id") % 100 === 0 && col("id") + 3 <= maxId)
      .select(col("id"), vecOf(Seq((g * 4, 1.0))).as("vec"))
    val a1 = docs.where(col("id") % 100 === 1)
      .select(col("id"), vecOf(Seq((g * 4, 0.95), (g * 4 + 1, 0.31))).as("vec"))
    val a2 = docs.where(col("id") % 100 === 2)
      .select(col("id"), vecOf(Seq((g * 4, 0.949), (g * 4 + 1, 0.315))).as("vec"))
    val b = docs.where(col("id") % 100 === 3)
      .select(col("id"), vecOf(Seq((g * 4, 0.5), (g * 4 + 2, 0.866))).as("vec"))
    (a1.unionByName(a2).unionByName(b), queries)
  }

  private def q140MmrPlanted(s: SparkSession, dir: String): DataFrame = {
    val (corpus, queries) = q140Plant(s, dir)
    graft.operators.Similarity
      .mmrTopK(corpus, queries, "id", "vec", k = 2, poolSize = 3, lambda = 0.5)
      .select(col("query_id"), col("mmr_rank"), col("neighbor_id"))
      .orderBy("query_id", "mmr_rank")
      .localCheckpoint(true)
  }

  private val q140Oracle =
    """WITH q AS (SELECT doc_id FROM documents WHERE doc_id % 100 = 0
      |  AND doc_id < 5000
      |  AND doc_id + 3 <= (SELECT max(doc_id) FROM documents WHERE doc_id < 5000))
      |SELECT query_id, mmr_rank, neighbor_id FROM (
      |  SELECT doc_id AS query_id, CAST(1 AS BIGINT) AS mmr_rank,
      |    doc_id + 1 AS neighbor_id FROM q
      |  UNION ALL
      |  SELECT doc_id, CAST(2 AS BIGINT), doc_id + 3 FROM q
      |) ORDER BY query_id, mmr_rank""".stripMargin

  /** Closed-form gate for [[graft.operators.CorpusPipeline
    * .webIngestDropReasons]] — PER-DOCUMENT drop attribution over the
    * q122 planted corpus and config: every doc's `drop_stage` is
    * fixed by its `% 10` role (blocklist / lang_filter / gopher /
    * near_dup), the md5-order cap window names the `host_cap`
    * victims, and every shipped doc must read NULL — so a stage
    * misattribution ANYWHERE (not just a count drift) hash-fails.
    */
  private def q141DropReasons(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusPipeline
      .dropReasonsFromBoundaries(None, q122IngestBoundaries(s, dir))
      .select(col("id"), col("drop_stage"))
      .orderBy("id")
      .localCheckpoint(true)

  private val q141Oracle =
    """WITH ranked AS (
      |  SELECT doc_id, row_number() OVER (PARTITION BY doc_id % 3
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents WHERE doc_id % 10 NOT IN (0, 1, 2, 6))
      |SELECT d.doc_id AS id,
      |  CASE WHEN d.doc_id % 10 = 0 THEN 'blocklist'
      |       WHEN d.doc_id % 10 = 1 THEN 'lang_filter'
      |       WHEN d.doc_id % 10 = 2 THEN 'gopher'
      |       WHEN d.doc_id % 10 = 6 THEN 'near_dup'
      |       WHEN r.rn > 80 THEN 'host_cap'
      |       ELSE NULL END AS drop_stage
      |FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc_id
      |ORDER BY id""".stripMargin

  /** Planted TEXT corpus (doc_id, text) for the [[graft.operators
    * .CorpusPipeline.prepare]] report faces — the prepare() twin of
    * [[q122PlantedPages]], every `% 10` role dying in a KNOWN stage:
    *
    *   - `% 10 = 1` → 60 digit tokens, langId "und" → lang_filter;
    *   - `% 10 = 2` → "the and that this" (English, 4 tokens →
    *     lenScore 0.2 caps quality_score at 0.2 < 0.3) → quality;
    *   - `% 10 = 6` → EXACT copy of doc_id−3's content (a `% 10 = 3`
    *     normal doc) → exact_dedup, keep-min keeps the original;
    *   - `% 10 = 7` → doc_id−3's content + one appended token
    *     (shingle Jaccard ≈ 52/54 ≥ 0.8) → near_dup;
    *   - the rest: 27-pair [[q122Content]] English (54 tokens,
    *     quality_score ≥ 0.5 regardless of id width) → ship.
    */
  private[graft] def q142PlantedTexts(s: SparkSession, dir: String): DataFrame = {
    val r = col("doc_id") % 10
    val text = when(r === 1,
        expr("""array_join(transform(sequence(0, 59),
                | k -> CAST(doc_id * 100 + k AS STRING)), ' ')""".stripMargin))
      .when(r === 2, lit("the and that this"))
      .when(r === 6, q122Content(col("doc_id") - 3, 27))
      .when(r === 7, concat(q122Content(col("doc_id") - 3, 27), lit(" graftprep")))
      .otherwise(q122Content(col("doc_id"), 27))
    load(s, dir, "documents").select(col("doc_id"), text.as("text"))
  }

  /** The prepare-corpus recorded boundaries (langs=en, defaults —
    * the q142/q143 config), computed once per sf dir.
    */
  private def q142PrepareBoundaries(s: SparkSession, dir: String): Seq[(String, DataFrame)] =
    cachedBoundaries(s, dir, "q142prepare") {
      graft.operators.CorpusPipeline.prepareBoundaries(
        q142PlantedTexts(s, dir), "doc_id", "text", langs = Seq("en"))
    }

  /** Closed-form gate for [[graft.operators.CorpusPipeline
    * .prepareFunnel]] — prepare()'s per-stage attrition report over
    * the [[q142PlantedTexts]] corpus: each stage's docs_dropped is a
    * role count and tokens_out a linear form over role counts
    * (normal/role-6 docs are 54 whitespace tokens, role-7 55, the
    * quality role 4, digits 60), so BOTH the attribution and the
    * surviving token arithmetic are pinned per stage.
    */
  private def q142PrepareFunnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusPipeline
      .funnelFromBoundaries(s, load(s, dir, "documents").count(),
        q142PrepareBoundaries(s, dir))
      .orderBy("stage_ix")
      .localCheckpoint(true)

  private val q142Oracle =
    """WITH t AS (SELECT count(*) AS n FROM documents),
      |c1 AS (SELECT count(*) AS c FROM documents WHERE doc_id % 10 = 1),
      |c2 AS (SELECT count(*) AS c FROM documents WHERE doc_id % 10 = 2),
      |c6 AS (SELECT count(*) AS c FROM documents WHERE doc_id % 10 = 6),
      |c7 AS (SELECT count(*) AS c FROM documents WHERE doc_id % 10 = 7),
      |nrm AS (SELECT t.n - c1.c - c2.c - c6.c - c7.c AS c FROM t, c1, c2, c6, c7)
      |SELECT * FROM (
      |  SELECT 0 AS stage_ix, 'lang_filter' AS stage, t.n AS docs_in,
      |    c1.c AS docs_dropped, t.n - c1.c AS docs_out,
      |    54 * (nrm.c + c6.c) + 55 * c7.c + 4 * c2.c AS tokens_out
      |    FROM t, c1, c2, c6, c7, nrm
      |  UNION ALL SELECT 1, 'quality', t.n - c1.c, c2.c, t.n - c1.c - c2.c,
      |    54 * (nrm.c + c6.c) + 55 * c7.c FROM t, c1, c2, c6, c7, nrm
      |  UNION ALL SELECT 2, 'exact_dedup', t.n - c1.c - c2.c, c6.c,
      |    t.n - c1.c - c2.c - c6.c, 54 * nrm.c + 55 * c7.c
      |    FROM t, c1, c2, c6, c7, nrm
      |  UNION ALL SELECT 3, 'near_dup', t.n - c1.c - c2.c - c6.c, c7.c,
      |    t.n - c1.c - c2.c - c6.c - c7.c, 54 * nrm.c
      |    FROM t, c1, c2, c6, c7, nrm
      |) ORDER BY stage_ix""".stripMargin

  /** Closed-form gate for [[graft.operators.CorpusPipeline
    * .prepareDropReasons]] over the same corpus — every document's
    * `drop_stage` is fixed by its `% 10` role, shipped docs read
    * NULL, so a single misattributed document hash-fails.
    */
  private def q143PrepareDropReasons(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusPipeline
      .dropReasonsFromBoundaries(
        Some(q142PlantedTexts(s, dir).select(col("doc_id").as("id")).localCheckpoint(true)),
        q142PrepareBoundaries(s, dir),
        "doc_id")
      .select(col("id"), col("drop_stage"))
      .orderBy("id")
      .localCheckpoint(true)

  private val q143Oracle =
    """SELECT doc_id AS id,
      |  CASE doc_id % 10 WHEN 1 THEN 'lang_filter' WHEN 2 THEN 'quality'
      |    WHEN 6 THEN 'exact_dedup' WHEN 7 THEN 'near_dup' END AS drop_stage
      |FROM documents ORDER BY id""".stripMargin

  /** Closed-form gate for the FULL standing-store lifecycle
    * ([[graft.streaming.StreamingDedup.compactSignatureStore]]):
    * epoch-0 corpus (`% 10 = 3` roles) → increment 1 deduped against
    * it (`% 10 = 6` near-dups doc_id−3 → drops; `% 10 = 7` fresh →
    * keeps) → survivors folded into epoch 1 (increments + old epoch
    * pruned) → increment 2 deduped against the FOLDED store
    * (`% 10 = 8` near-dups doc_id−1, a FOLDED survivor — only
    * detectable if the compaction actually carried it — → drops;
    * `% 10 = 9` fresh → keeps). Every verdict is fixed by the doc's
    * role, so a fold/prune/registration regression anywhere in the
    * lifecycle hash-fails.
    */
  private def q144SigstoreLifecycle(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val r = col("doc_id") % 10
    val corpus = docs.where(r === 3)
      .select(col("doc_id"), q122Content(col("doc_id"), 27).as("text"))
    val root = tempFixtureDir("graft_q144").toString
    val incDir = tempFixtureDir("graft_q144_inc").toString
    Dedup.writeSignatures(
      Dedup.minHashSignatures(corpus, "doc_id", "text"),
      s"$root/epoch0", "q144_e0", numBuckets = 8)
    val e0 = Dedup.readSignatures(s, s"$root/epoch0", "q144_e0")
    val inc1 = docs.where(r === 6 || r === 7).select(
      col("doc_id"),
      when(r === 6, concat(q122Content(col("doc_id") - 3, 27), lit(" graftinc")))
        .otherwise(q122Content(col("doc_id"), 27)).as("text"))
    val kept1 = Dedup
      .nearDupNewDocs(inc1, "doc_id", "text", e0, threshold = 0.8)
      .select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    graft.streaming.StreamingDedup
      .signatureIncrementSink(incDir, "doc_id", "text")(kept1, 0L)
    val e1 = graft.streaming.StreamingDedup
      .compactSignatureStore(s, root, "q144", srcEpoch = 0, incDir = incDir, keepEpochs = 1)
    val inc2 = docs.where(r === 8 || r === 9).select(
      col("doc_id"),
      when(r === 8, concat(q122Content(col("doc_id") - 1, 27), lit(" graftinc2")))
        .otherwise(q122Content(col("doc_id"), 27)).as("text"))
    val kept2 = Dedup.nearDupNewDocs(inc2, "doc_id", "text", e1, threshold = 0.8)
    val keptIds = kept1.select(col("doc_id"))
      .unionByName(kept2.select(col("doc_id")))
      .withColumn("k", lit(true))
    inc1.select(col("doc_id")).unionByName(inc2.select(col("doc_id")))
      .join(keptIds, Seq("doc_id"), "left")
      .select(col("doc_id").as("id"), coalesce(col("k"), lit(false)).as("kept"))
      .orderBy("id")
      .localCheckpoint(true)
  }

  private val q144Oracle =
    """SELECT doc_id AS id, (doc_id % 10 IN (7, 9)) AS kept
      |FROM documents WHERE doc_id % 10 IN (6, 7, 8, 9) ORDER BY id""".stripMargin

  /** The chainable TWS sessionizer
    * ([[graft.streaming.EventStreams.sessionizeStreamTws]]) in the
    * CHAINED shape the port exists for — sessionize → per-session
    * rollup in one plan (two stateful operators when streaming; the
    * StreamingSpec pins stream ≡ batch across triggers). Batch face
    * here: the shared `sessionizeStep` must reproduce q12's exact
    * lag/cumsum assignment semantics, which the oracle replays.
    */
  private def q145SessionizeTws(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val events = load(s, dir, "events")
      .select(col("event_id").cast("long").as("event_id"), col("ts"),
        col("user_id").cast("long").as("user_id"), col("event_type"),
        col("value").cast("double").as("value"))
      .as[graft.streaming.EventStreams.Event]
    graft.streaming.EventStreams
      .sessionizeStreamTws(events, gapSeconds = 1800L)
      .toDF()
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .orderBy("user_id", "session_seq")
  }

  /** Fluent planted sentences for the languages whose Gopher
    * stopword profiles were added BEYOND the lang-id six + ru
    * (round-13 data entry: nl/pl/sv/tr/id/da, session 2 adds
    * pt/ro/cs/vi). Each is ≥8 lowercase unpunctuated words with ≥2
    * profile stopwords and mean word length inside the Gopher band,
    * so 8 repetitions clear every word-level rule.
    */
  private val plantedGopherExtSentences: Seq[(String, String)] = Seq(
    "nl" -> "de kinderen spelen samen in het park vandaag",
    "pl" -> "dzieci bawią się razem w parku przez cały dzień",
    "sv" -> "barnen leker tillsammans i parken och solen skiner",
    "tr" -> "çocuklar parkta bir oyun oynuyor ve çok gülüyorlar",
    "id" -> "anak itu bermain dengan teman di taman yang indah",
    "da" -> "børnene leger sammen i parken og solen skinner",
    "pt" -> "as crianças brincam juntas no parque com os amigos hoje",
    "ro" -> "copiii se joacă împreună în parcul mare cu prietenii lor",
    "cs" -> "děti si hrají spolu v parku a slunce krásně svítí",
    "vi" -> "các em nhỏ chơi đùa cùng nhau trong công viên xanh đẹp",
  )

  /** q103's contract extended to the newly-profiled languages: each
    * planted doc appears FLUENT (its sentence repeated past the
    * 50-word floor — must be scoped and pass) and as symbol-soup
    * GARBAGE at doc_id+4000000 (must be scoped and FAIL). Before
    * these profiles landed, every one of these languages was
    * unscoped — garbage passed through to the LM path unfiltered.
    */
  private def q146GopherExtPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").where(col("doc_id") % 25 === 0)
    val idx = (col("doc_id") / 25).cast("long") % plantedGopherExtSentences.length
    val lang = plantedGopherExtSentences.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, ((l, _), i)) => when(idx === i, lit(l)).otherwise(acc)
    }
    val fluent = plantedGopherExtSentences.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, ((_, sentence), i)) =>
        when(idx === i, lit(Seq.fill(8)(sentence).mkString(" "))).otherwise(acc)
    }
    val garbageText = Seq.fill(60)("### 12345 …").mkString(" ")
    val planted = docs
      .select(col("doc_id"), lang.as("lang"), fluent.as("text"))
      .unionByName(docs.select(
        (col("doc_id") + lit(4000000L)).as("doc_id"),
        lang.as("lang"),
        lit(garbageText).as("text")))
    graft.operators.QualityFilters
      .withGopherFlagsByLang(planted, "text", "lang")
      .select(col("doc_id"), col("lang"), col("gopher_scoped"), col("pass"))
      .orderBy("doc_id")
  }

  private val q146Oracle = {
    val langCase = plantedGopherExtSentences.zipWithIndex
      .map { case ((l, _), i) => s"WHEN $i THEN '$l'" }.mkString(" ")
    s"""WITH p AS (
       |  SELECT doc_id,
       |    CASE (doc_id // 25) % ${plantedGopherExtSentences.length} $langCase END AS lang
       |  FROM documents WHERE doc_id % 25 = 0)
       |SELECT doc_id, lang, true AS gopher_scoped, true AS pass FROM p
       |UNION ALL
       |SELECT doc_id + 4000000 AS doc_id, lang, true AS gopher_scoped,
       |  false AS pass FROM p
       |ORDER BY doc_id""".stripMargin
  }

  private val q145Oracle =
    """WITH assigned AS (
      |  SELECT user_id, ts,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM (
      |    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |      CASE WHEN lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w IS NULL
      |             OR epoch_ms(CAST(ts AS TIMESTAMP)) - lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w > 1800000
      |           THEN 1 ELSE 0 END AS new_session
      |    FROM events
      |    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)))
      |SELECT user_id, session_seq, count(*) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end
      |FROM assigned GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** Unigram-entropy signal gate: the full DuckDB replay of
    * [[graft.operators.TextAnalysis.withUnigramEntropy]] on real
    * corpus text (token counts via the shared tokenization; entropy
    * rounded to 4 decimals on BOTH sides — libm `ln` is 1-ulp
    * accurate and the Σ c·ln c accumulation order differs across
    * engines, so full-precision bit-parity is not a contract; at 4
    * decimals a flip needs a true value within ~1e-12 of a rounding
    * boundary, and the counts columns stay exact either way).
    */
  private def q147EntropySignals(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("text"))
    TextAnalysis
      .withUnigramEntropy(docs, "text")
      .select(col("doc_id"), col("n_tokens_ue"), col("n_distinct_tokens"),
        round(col("unigram_entropy"), 4).as("unigram_entropy"))
      .orderBy("doc_id")
  }

  private val q147Oracle =
    """WITH b AS (
      |  SELECT doc_id, unnest(list_filter(
      |    regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
      |    x -> x <> '')) AS tok
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, tok, count(*) AS c FROM b GROUP BY doc_id, tok
      |), st AS (
      |  SELECT doc_id, sum(c) AS w, count(*) AS d, sum(c * ln(c)) AS clnc
      |  FROM c GROUP BY doc_id
      |)
      |SELECT d0.doc_id,
      |  CAST(COALESCE(st.w, 0) AS BIGINT) AS n_tokens_ue,
      |  CAST(COALESCE(st.d, 0) AS BIGINT) AS n_distinct_tokens,
      |  round(ln(st.w) - st.clnc / st.w, 4) AS unigram_entropy
      |FROM documents d0 LEFT JOIN st ON d0.doc_id = st.doc_id
      |ORDER BY d0.doc_id""".stripMargin

  /** Line-shape signal gate
    * ([[graft.operators.QualityFilters.withLineSignals]], The
    * Stack/StarCoder-style code filters): spaces become newlines and a
    * trailing newline is appended so the planted text exercises
    * multi-line splitting INCLUDING the trailing-empty-line case where
    * Java's default `split` and SQL `string_split` disagree. All
    * counts are integers; the two ratio columns are single IEEE
    * divisions of integer-valued operands, so every column is
    * hash-exact.
    */
  private def q148LineSignals(s: SparkSession, dir: String): DataFrame = {
    // coalesce BEFORE the plant on both sides: a null-text row would
    // otherwise null the whole concat here while the kernel maps null
    // to "" — the two disagree on n_lines the moment the fixture
    // grows a null
    val docs = load(s, dir, "documents")
      .select(col("doc_id"),
        concat(regexp_replace(coalesce(col("text"), lit("")), " ", "\n"),
          lit("\n")).as("ptext"))
    QualityFilters
      .withLineSignals(docs, "ptext")
      .select(col("doc_id"), col("n_lines_ls"), col("max_line_len"),
        col("sum_line_len"), col("avg_line_len"), col("n_alnum_cp"),
        col("n_cp"), col("frac_alnum"))
      .orderBy("doc_id")
  }

  private val q148Oracle =
    """WITH p AS (
      |  SELECT doc_id, replace(COALESCE(text, ''), ' ', chr(10)) || chr(10) AS t
      |  FROM documents
      |), l AS (
      |  SELECT doc_id, t, string_split(t, chr(10)) AS ls,
      |    length(regexp_replace(t, '[^a-zA-Z0-9]', '', 'g')) AS alnum
      |  FROM p
      |)
      |SELECT doc_id,
      |  CAST(len(ls) AS BIGINT) AS n_lines_ls,
      |  CAST(list_max(list_transform(ls, x -> length(x))) AS BIGINT) AS max_line_len,
      |  CAST(list_sum(list_transform(ls, x -> length(x))) AS BIGINT) AS sum_line_len,
      |  CAST(list_sum(list_transform(ls, x -> length(x))) AS DOUBLE) / len(ls)
      |    AS avg_line_len,
      |  CAST(alnum AS BIGINT) AS n_alnum_cp,
      |  CAST(length(t) AS BIGINT) AS n_cp,
      |  CASE WHEN length(t) > 0
      |    THEN CAST(alnum AS DOUBLE) / length(t) END AS frac_alnum
      |FROM l ORDER BY doc_id""".stripMargin

  /** Compressibility gate
    * ([[graft.operators.QualityFilters.withCompressibility]]), planted
    * roles: alternating docs carry a short phrase repeated 64× (ratio
    * ≈ 0.02 — deep inside the 32 KB deflate window) vs 2048 chars of
    * chained-MD5 hex (ratio ≈ 0.56 — deflate cannot beat the hex
    * stream's 4-bit/char entropy). Classification thresholds 0.15 and
    * 0.35 sit ≥ 0.13 away from both populations, so the flags are
    * stable across zlib builds even though exact deflate byte counts
    * are not pinned; the oracle derives the expected flags from the
    * planted role alone.
    */
  private def q149CompressibilityPlanted(s: SparkSession, dir: String): DataFrame = {
    val planted = udf { (id: Long) =>
      if (id % 20L == 0L)
        "the quick brown fox jumps over the lazy dog and the cat naps. " * 64
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val sb = new java.lang.StringBuilder(2048)
        var x = s"graft$id"
        var i = 0
        while (i < 64) {
          x = md.digest(x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .map("%02x".format(_)).mkString
          sb.append(x)
          i += 1
        }
        sb.toString
      }
    }
    val docs = load(s, dir, "documents")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), planted(col("doc_id")).as("ptext"))
    QualityFilters
      .withCompressibility(docs, "ptext")
      .select(col("doc_id"),
        (col("compression_ratio") < 0.15).as("is_repetitive"),
        (col("compression_ratio") > 0.35).as("is_high_entropy"))
      .orderBy("doc_id")
  }

  private val q149Oracle =
    """SELECT doc_id,
      |  (doc_id % 20 = 0) AS is_repetitive,
      |  (doc_id % 20 <> 0) AS is_high_entropy
      |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin

  /** Epoch-plan gate ([[graft.operators.Sampling.epochPlan]]): target
    * mixture weights are exact binary fractions summing to exactly 1.0
    * (normalization is the identity), so every plan column is a chain
    * of single IEEE ops over exact integer sums — DuckDB replays it
    * bit-for-bit. At sf0.01 the recipe mixes regimes: en/es upsample
    * uncapped, de hits the 3-epoch cap (shortfall > 0), fr/zh
    * downsample below one epoch.
    */
  private def q150EpochPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    graft.operators.Sampling
      .epochPlan(docs, "lang", "n_chars",
        Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.125, "fr" -> 0.0625, "zh" -> 0.0625),
        budgetTokens = 300000L, maxEpochs = 3.0)
      .orderBy("stratum")
  }

  private val q150Oracle =
    """WITH c AS (
      |  SELECT lang AS stratum, count(*) AS n_docs,
      |    sum(COALESCE(n_chars, 0)) AS n_tokens
      |  FROM documents
      |  WHERE lang IN ('en', 'de', 'es', 'fr', 'zh')
      |  GROUP BY lang
      |), w AS (
      |  SELECT stratum, n_docs, n_tokens,
      |    CAST(CASE stratum WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
      |      WHEN 'es' THEN 0.125 WHEN 'fr' THEN 0.0625 WHEN 'zh' THEN 0.0625
      |      END AS DOUBLE) AS weight
      |  FROM c
      |), t AS (
      |  SELECT *, weight * 300000 AS target,
      |    CASE WHEN n_tokens <= 0 THEN CAST(0.0 AS DOUBLE)
      |      ELSE least(CAST(3.0 AS DOUBLE), (weight * 300000) / n_tokens)
      |      END AS ep
      |  FROM w
      |)
      |SELECT stratum, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_tokens AS BIGINT) AS n_tokens, weight,
      |  target AS target_tokens, ep AS epochs,
      |  ep * n_tokens AS realized_tokens,
      |  target - ep * n_tokens AS shortfall_tokens
      |FROM t ORDER BY stratum""".stripMargin

  /** Epoch-expand gate ([[graft.operators.Sampling.epochExpand]]):
    * replicas per doc = `floor(e)` plus the deterministic
    * md5-prefix-selected fractional epoch — en 2.25× (quarter get a
    * 3rd copy), de 1.5×, es 0.5× (pure downsample — `mixtureSample`
    * as the degenerate case), fr 3× exact, zh 0× (planned out). The
    * oracle rebuilds every (doc, epoch) row from the same md5
    * threshold convention.
    */
  private def q151EpochExpand(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("lang"))
    graft.operators.Sampling
      .epochExpand(docs, "lang", "doc_id",
        Map("en" -> 2.25, "de" -> 1.5, "es" -> 0.5, "fr" -> 3.0, "zh" -> 0.0))
      .select(col("doc_id"), col("epoch"))
      .orderBy("doc_id", "epoch")
  }

  private val q151Oracle =
    """WITH e AS (
      |  SELECT doc_id,
      |    CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 1 WHEN 'es' THEN 0
      |      WHEN 'fr' THEN 3 ELSE 0 END
      |    + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      |        CASE lang WHEN 'en' THEN '4000' WHEN 'de' THEN '8000'
      |          WHEN 'es' THEN '8000' WHEN 'fr' THEN '0000' ELSE '0000' END
      |      THEN 1 ELSE 0 END AS copies
      |  FROM documents
      |)
      |SELECT doc_id, CAST(u AS INTEGER) AS epoch
      |FROM (SELECT doc_id, unnest(range(copies)) AS u FROM e WHERE copies > 0)
      |ORDER BY doc_id, epoch""".stripMargin

  private def q26Multimodal(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
      .withColumn("payload", encode(col("text"), "utf-8"))
    Multimodal
      .withDecodedMeta(docs, "payload")
      .withColumn("n_frames", size(Multimodal.frameSampleUdf(64, 2)(col("payload"))))
      .withColumn("media_vec", Multimodal.embedMediaUdf(16)(col("payload")))
      .select(
        col("doc_id"),
        col("media_meta.format").as("format"),
        col("media_meta.width").as("width"),
        col("media_meta.height").as("height"),
        col("media_meta.n_bytes").as("n_bytes"),
        col("n_frames"),
        size(col("media_vec")).as("vec_dim"),
      )
      .orderBy("doc_id")
  }

  // ============================================================== ml surface

  private def q27MlTrainPred(s: SparkSession, dir: String): DataFrame = {
    MlFunctions.create(
      s,
      "q27_model",
      """{"layers":[{"in":3,"out":16,"activation":"relu"},{"in":16,"out":1}]}""",
    )
    val li = load(s, dir, "lineitem").select(
      col("l_orderkey"),
      col("l_linenumber"),
      array(
        col("l_quantity").cast("float"),
        col("l_discount").cast("float"),
        col("l_tax").cast("float"),
      ).as("features"),
      array((col("l_extendedprice") / lit(10000.0)).cast("float")).as("targets"),
    )
    // sample-bounded training (the 100 TB scale path: the driver never
    // collects more than maxRows regardless of input size), then
    // distributed inference over the full relation
    MlFunctions
      .trainSampled(
        li,
        "q27_model",
        col("features"),
        col("targets"),
        """{"epochs":3,"batch_size":256,"seed":42}""",
        maxRows = 100000L,
      )
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        element_at(col("prediction"), 1).as("yhat"),
      )
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ================================================================ exports

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q2_global_stats" -> (q2GlobalStats _),
    "q3_scaling_params" -> (q3ScalingParams _),
    "q4_minmax_scaled" -> (q4MinMaxScaled _),
    "q5_top_customers" -> (q5TopCustomers _),
    "q6_region_star" -> (q6RegionStar _),
    "q7_array_ops" -> (q7ArrayOps _),
    "q8_struct_json" -> (q8StructJson _),
    "q9_range_gen" -> (q9RangeGen _),
    "q10_nullif_guard" -> (q10NullifGuard _),
    "q11_join_rollup" -> (q11JoinRollup _),
    "q12_sessions" -> (q12Sessions _),
    "q13_events_hourly" -> (q13EventsHourly _),
    "q14_events_json" -> (q14EventsJson _),
    "q15_dedup_exact" -> (q15DedupExact _),
    "q16_dedup_minhash" -> (q16DedupMinhash _),
    "q17_dedup_simhash" -> (q17DedupSimhash _),
    "q18_dedup_ngram" -> (q18DedupNgram _),
    "q19_neardup_embedding" -> (q19NeardupEmbedding _),
    "q20_neardup_embedding_lsh" -> (q20NeardupEmbeddingLsh _),
    "q21_sim_topk" -> (q21SimTopk _),
    "q22_sim_ivf" -> (q22SimIvf _),
    "q23_text_stats" -> (q23TextStats _),
    "q24_lang_id" -> (q24LangId _),
    "q25_fingerprint" -> (q25Fingerprint _),
    "q26_multimodal" -> (q26Multimodal _),
    "q27_ml_train_pred" -> (q27MlTrainPred _),
    "q28_brand_revenue" -> (q28BrandRevenue _),
    "q29_dedup_winnow" -> (q29DedupWinnow _),
    "q30_session_windows" -> (q30SessionWindows _),
    "q31_pii_redact" -> (q31PiiRedact _),
    "q32_chunk_windows" -> (q32ChunkWindows _),
    "q33_content_sample" -> (q33ContentSample _),
    "q34_corpus_stats" -> (q34CorpusStats _),
    "q35_corpus_pipeline" -> (q35CorpusPipeline _),
    "q36_asof_join" -> (q36AsofJoin _),
    "q37_token_vocab" -> (q37TokenVocab _),
    "q38_stratified_sample" -> (q38StratifiedSample _),
    "q39_hash_split" -> (q39HashSplit _),
    "q40_range_join" -> (q40RangeJoin _),
    "q41_decontaminate" -> (q41Decontaminate _),
    "q42_source_cap" -> (q42SourceCap _),
    "q43_mixture_sample" -> (q43MixtureSample _),
    "q44_seq_pack" -> (q44SeqPack _),
    "q45_dup_canonical" -> (q45DupCanonical _),
    "q46_interleave" -> (q46Interleave _),
    "q47_semantic_dedup" -> (q47SemanticDedup _),
    "q48_pq_ann" -> (q48PqAnn _),
    "q49_bpe_tokens" -> (q49BpeTokens _),
    "q50_heavy_hitters" -> (q50HeavyHitters _),
    "q51_key_skew" -> (q51KeySkew _),
    "q52_zorder" -> (q52ZOrder _),
    "q53_int8_quant" -> (q53Int8Quant _),
    "q54_train_layout" -> (q54TrainLayout _),
    "q55_token_quantiles" -> (q55TokenQuantiles _),
    "q56_ivfpq_ann" -> (q56IvfPqAnn _),
    "q57_ngram_repetition" -> (q57NgramRepetition _),
    "q58_quality_classifier" -> (q58QualityClassifier _),
    "q59_lm_quality" -> (q59LmQuality _),
    "q60_shard_manifest" -> (q60ShardManifest _),
    "q61_span_dedup" -> (q61SpanDedup _),
    "q62_token_budget" -> (q62TokenBudget _),
    "q63_term_stats" -> (q63TermStats _),
    "q64_common_ngrams" -> (q64CommonNgrams _),
    "q65_bm25_topk" -> (q65Bm25TopK _),
    "q66_minhash_planted" -> (q66MinhashPlanted _),
    "q67_embedding_lsh_planted" -> (q67EmbeddingLshPlanted _),
    "q68_token_quantiles_approx" -> (q68TokenQuantilesApprox _),
    "q69_asof_forward" -> (q69AsofForward _),
    "q70_asof_nearest" -> (q70AsofNearest _),
    "q71_simhash_planted" -> (q71SimhashPlanted _),
    "q72_ivf_planted" -> (q72IvfPlanted _),
    "q73_pq_planted" -> (q73PqPlanted _),
    "q74_ivfpq_planted" -> (q74IvfPqPlanted _),
    "q75_winnow_planted" -> (q75WinnowPlanted _),
    "q76_langid_planted" -> (q76LangidPlanted _),
    "q77_semdedup_planted" -> (q77SemdedupPlanted _),
    "q78_fingerprint_planted" -> (q78FingerprintPlanted _),
    "q79_bpe_zero_merge" -> (q79BpeZeroMerge _),
    "q80_line_dedup" -> (q80LineDedup _),
    "q81_ccnet" -> (q81Ccnet _),
    "q82_leakage_safe_split" -> (q82LeakageSafeSplit _),
    "q83_image_neardup_planted" -> (q83ImageNeardupPlanted _),
    "q84_kmeans_planted" -> (q84KmeansPlanted _),
    "q85_opq_planted" -> (q85OpqPlanted _),
    "q86_cms_exact" -> (q86CmsExact _),
    "q87_semdedup_auto_planted" -> (q87SemdedupAutoPlanted _),
    "q88_hll_tolerance" -> (q88HllTolerance _),
    "q89_dsir_planted" -> (q89DsirPlanted _),
    "q90_whitening_identity" -> (q90WhiteningIdentity _),
    "q91_kcenter_planted" -> (q91KcenterPlanted _),
    "q92_cc_planted" -> (q92CcPlanted _),
    "q93_quality_clf_planted" -> (q93QualityClassifierPlanted _),
    "q94_lm_ordering_planted" -> (q94LmOrderingPlanted _),
    "q95_html_extract_planted" -> (q95HtmlExtractPlanted _),
    "q96_url_norm_planted" -> (q96UrlNormPlanted _),
    "q97_domain_cap_planted" -> (q97DomainCapPlanted _),
    "q98_gopher_flags" -> (q98GopherFlags _),
    "q99_ivfopq_planted" -> (q99IvfOpqPlanted _),
    "q100_kll_exact" -> (q100KllExact _),
    "q101_line_dedup_in_doc" -> (q101LineDedupInDoc _),
    "q102_multilingual_planted" -> (q102MultilingualPlanted _),
    "q103_gopher_lang_planted" -> (q103GopherLangPlanted _),
    "q104_web_ingest" -> (q104WebIngest _),
    "q105_dup_extents" -> (q105DupExtents _),
    "q106_binary_codes" -> (q106BinaryCodes _),
    "q107_hamming_planted" -> (q107HammingPlanted _),
    "q108_nfc_planted" -> (q108NfcPlanted _),
    "q109_ksweep_planted" -> (q109KsweepPlanted _),
    "q110_temperature_mix" -> (q110TemperatureMix _),
    "q111_ivfhamming_planted" -> (q111IvfHammingPlanted _),
    "q112_hybrid_topk" -> (q112HybridTopK _),
    "q113_pack_bestfit" -> (q113PackBestFit _),
    "q114_blocklist_planted" -> (q114BlocklistPlanted _),
    "q115_distinct_ngrams" -> (q115DistinctN _),
    "q116_c4_flags" -> (q116C4Flags _),
    "q117_readability" -> (q117Readability _),
    "q118_neardup_victims_planted" -> (q118NearDupVictimsPlanted _),
    "q119_distinct_ngrams_approx" -> (q119DistinctNApprox _),
    "q120_common_ngrams_approx" -> (q120CommonNgramsApprox _),
    "q121_soft404_planted" -> (q121Soft404Planted _),
    "q122_web_ingest_planted" -> (q122WebIngestPlanted _),
    "q123_pii_ingest_planted" -> (q123PiiIngestPlanted _),
    "q124_ccnet_target_planted" -> (q124CcnetTargetPlanted _),
    "q125_url_tracking_planted" -> (q125UrlTrackingPlanted _),
    "q126_main_content_planted" -> (q126MainContentPlanted _),
    "q127_incremental_neardup" -> (q127IncrementalNearDup _),
    "q128_corpus_hits_planted" -> (q128CorpusHitsPlanted _),
    "q129_warc_roundtrip" -> (q129WarcRoundtrip _),
    "q130_warc_http_fidelity" -> (q130WarcHttpFidelity _),
    "q131_warc_ingest_e2e" -> (q131WarcIngestE2e _),
    "q132_sigstore_neardup" -> (q132SigStoreNearDup _),
    "q133_latest_capture" -> (q133LatestCapture _),
    "q134_neardup_keepbest" -> (q134NearDupKeepBest _),
    "q135_instream_suppress" -> (q135InStreamSuppress _),
    "q136_ingest_funnel" -> (q136IngestFunnel _),
    "q137_inline_dedup_cap" -> (q137InlineDedupCap _),
    "q138_embed_decontam" -> (q138EmbedDecontam _),
    "q139_corpus_diff" -> (q139CorpusDiff _),
    "q140_mmr_planted" -> (q140MmrPlanted _),
    "q141_drop_reasons" -> (q141DropReasons _),
    "q142_prepare_funnel" -> (q142PrepareFunnel _),
    "q143_prepare_drop_reasons" -> (q143PrepareDropReasons _),
    "q144_sigstore_lifecycle" -> (q144SigstoreLifecycle _),
    "q145_sessionize_tws" -> (q145SessionizeTws _),
    "q146_gopher_ext_planted" -> (q146GopherExtPlanted _),
    "q147_entropy_signals" -> (q147EntropySignals _),
    "q148_line_signals" -> (q148LineSignals _),
    "q149_compressibility_planted" -> (q149CompressibilityPlanted _),
    "q150_epoch_plan" -> (q150EpochPlan _),
    "q151_epoch_expand" -> (q151EpochExpand _),
    "q152_wet_roundtrip" -> (q152WetRoundtrip _),
    "q153_text_signals" -> (q153TextSignals _),
    "q154_paragraph_dedup" -> (q154ParagraphDedup _),
    "q155_para_extract" -> (q155ParaExtract _),
    "q156_para_ingest" -> (q156ParaIngestPlanted _),
    "q157_vecstore_pq_planted" -> (q157VecStorePqPlanted _),
    "q158_vecstore_hamming_planted" -> (q158VecStoreHammingPlanted _),
    "q159_reagg_event_time" -> (q159ReaggEventTime _),
    "q160_wet_prepare_e2e" -> (q160WetPrepareE2e _),
    "q161_opqstore_planted" -> (q161OpqStorePlanted _),
    "q162_store_corpus_knn" -> (q162StoreCorpusKnn _),
    "q163_session_replay" -> (q163SessionReplay _),
    "q164_vecstore_ingest_dedup" -> (q164VecstoreIngestDedup _),
    "q165_store_semantic_hits" -> (q165StoreSemanticHits _),
    "q166_semdedup_store_planted" -> (q166SemdedupStorePlanted _),
    "q167_hash_embed_ingest" -> (q167HashEmbedIngest _),
    "q168_pqstore_flat_planted" -> (q168PqStoreFlatPlanted _),
    "q169_opqstore_flat_planted" -> (q169OpqStoreFlatPlanted _),
    "q170_mmrstore_planted" -> (q170MmrStorePlanted _),
    "q171_vecstore_stream_lifecycle" -> (q171VecstoreStreamLifecycle _),
    "q172_hash_embed_idf" -> (q172HashEmbedIdf _),
    "q173_hash_embed_subtf" -> (q173HashEmbedSubTf _),
    "q174_hash_embed_mixed" -> (q174HashEmbedMixed _),
    "q175_hash_idf_frozen" -> (q175HashIdfFrozen _),
    "q176_text_idf_stream_hits" -> (q176TextIdfStreamHits _),
    "q177_decontam_spans" -> (q177DecontamSpans _),
    "q178_decontam_spans_bloom" -> (q178DecontamSpansBloom _),
    "q179_decontam_pool_served" -> (q179DecontamPoolServed _),
    "q180_filtered_ann_planted" -> (q180FilteredAnnPlanted _),
    "q181_bpe_frozen" -> (q181BpeFrozen _),
    "q182_dsir_frozen" -> (q182DsirFrozen _),
    "q183_lm_frozen" -> (q183LmFrozen _),
    "q184_filtered_hamming_ann" -> (q184FilteredHammingAnn _),
    "q185_pool_stream_excision" -> (q185PoolStreamExcision _),
    "q186_ann_recall" -> (q186AnnRecall _),
    "q187_filtered_stream_hits" -> (q187FilteredStreamHits _),
    "q188_tune_nprobe" -> (q188TuneNprobe _),
    "q189_tune_refine" -> (q189TuneRefine _),
  )

  /** DuckDB oracles for every SQL-expressible query above. Omitted
    * (→ rows-only check): q16/q17 (MinHash/SimHash signatures are
    * engine-internal hash functions — but the q66/q71 planted-recall
    * companions pin those pipelines hash-exactly), q20/q22/q48/q56
    * (approximate by design — recall driver-gated via q67/q72/q73/q74),
    * q24/q25 (heuristic UDFs), q26 (stubbed decode), q27 (ML output —
    * validated by shape + loss in tests per SURVEY §5).
    */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" -> q1Oracle,
    "q2_global_stats" -> q2Oracle,
    "q3_scaling_params" -> q3Oracle,
    "q4_minmax_scaled" -> q4Oracle,
    "q5_top_customers" -> q5Sql,
    "q6_region_star" -> q6Oracle,
    "q7_array_ops" -> q7Oracle,
    "q8_struct_json" -> q8Oracle,
    "q9_range_gen" -> q9Oracle,
    "q10_nullif_guard" -> q10Oracle,
    "q11_join_rollup" -> q11Oracle,
    "q12_sessions" -> q12Oracle,
    "q13_events_hourly" -> q13Oracle,
    "q14_events_json" -> q14Oracle,
    "q15_dedup_exact" -> q15Oracle,
    "q18_dedup_ngram" -> q18Oracle,
    "q19_neardup_embedding" -> q19Oracle,
    "q21_sim_topk" -> q21Oracle,
    "q23_text_stats" -> q23Oracle,
    "q28_brand_revenue" -> q28Oracle,
    "q30_session_windows" -> q30Oracle,
    "q31_pii_redact" -> q31Oracle,
    "q32_chunk_windows" -> q32Oracle,
    "q33_content_sample" -> q33Oracle,
    "q34_corpus_stats" -> q34Oracle,
    "q36_asof_join" -> q36Oracle,
    "q37_token_vocab" -> q37Oracle,
    "q38_stratified_sample" -> q38Oracle,
    "q39_hash_split" -> q39Oracle,
    "q40_range_join" -> q40Oracle,
    "q41_decontaminate" -> q41Oracle,
    "q42_source_cap" -> q42Oracle,
    "q43_mixture_sample" -> q43Oracle,
    "q44_seq_pack" -> q44Oracle,
    "q45_dup_canonical" -> q45Oracle,
    "q46_interleave" -> q46Oracle,
    "q50_heavy_hitters" -> q50Oracle,
    "q51_key_skew" -> q51Oracle,
    "q52_zorder" -> q52Oracle,
    "q53_int8_quant" -> q53Oracle,
    "q55_token_quantiles" -> q55Oracle,
    "q57_ngram_repetition" -> q57Oracle,
    "q61_span_dedup" -> q61Oracle,
    "q62_token_budget" -> q62Oracle,
    "q63_term_stats" -> q63Oracle,
    "q64_common_ngrams" -> q64Oracle,
    "q65_bm25_topk" -> q65Oracle,
    "q66_minhash_planted" -> q66Oracle,
    "q67_embedding_lsh_planted" -> q67Oracle,
    "q69_asof_forward" -> q69Oracle,
    "q70_asof_nearest" -> q70Oracle,
    "q71_simhash_planted" -> q66Oracle, // same planted-pair shape as q66
    "q72_ivf_planted" -> annPlantedOracle,
    "q73_pq_planted" -> annPlantedOracle,
    "q74_ivfpq_planted" -> annPlantedOracle,
    "q75_winnow_planted" -> q75Oracle,
    "q76_langid_planted" -> q76Oracle,
    "q77_semdedup_planted" -> q77Oracle,
    "q78_fingerprint_planted" -> q78Oracle,
    "q79_bpe_zero_merge" -> q79Oracle,
    "q80_line_dedup" -> q80Oracle,
    "q82_leakage_safe_split" -> q82Oracle,
    "q83_image_neardup_planted" -> q66Oracle, // same planted-pair shape
    "q84_kmeans_planted" -> q84Oracle,
    "q85_opq_planted" -> annPlantedOracle,
    "q86_cms_exact" -> q86Oracle,
    "q87_semdedup_auto_planted" -> q77Oracle, // same planted-pair truth
    "q88_hll_tolerance" -> q88Oracle,
    "q89_dsir_planted" -> q89Oracle,
    "q90_whitening_identity" -> q90Oracle,
    "q91_kcenter_planted" -> q91Oracle,
    "q92_cc_planted" -> q92Oracle,
    "q93_quality_clf_planted" -> q93Oracle,
    "q94_lm_ordering_planted" -> q94Oracle,
    "q95_html_extract_planted" -> q95Oracle,
    "q96_url_norm_planted" -> q96Oracle,
    "q97_domain_cap_planted" -> q97Oracle,
    "q98_gopher_flags" -> q98Oracle,
    "q99_ivfopq_planted" -> annPlantedOracle,
    "q100_kll_exact" -> q100Oracle,
    "q101_line_dedup_in_doc" -> q101Oracle,
    "q102_multilingual_planted" -> q102Oracle,
    "q103_gopher_lang_planted" -> q103Oracle,
    "q105_dup_extents" -> q105Oracle,
    "q106_binary_codes" -> q106Oracle,
    "q107_hamming_planted" -> annPlantedOracle,
    "q108_nfc_planted" -> q108Oracle,
    "q109_ksweep_planted" -> q109Oracle,
    "q110_temperature_mix" -> q110Oracle,
    "q111_ivfhamming_planted" -> annPlantedOracle,
    "q112_hybrid_topk" -> q112Oracle,
    "q113_pack_bestfit" -> q113Oracle,
    "q114_blocklist_planted" -> q114Oracle,
    "q115_distinct_ngrams" -> q115Oracle,
    "q116_c4_flags" -> q116Oracle,
    "q117_readability" -> q117Oracle,
    "q118_neardup_victims_planted" -> q118Oracle,
    "q119_distinct_ngrams_approx" -> q119Oracle,
    "q120_common_ngrams_approx" -> q120Oracle,
    "q121_soft404_planted" -> q121Oracle,
    "q122_web_ingest_planted" -> q122Oracle,
    "q123_pii_ingest_planted" -> q123Oracle,
    "q124_ccnet_target_planted" -> q124Oracle,
    "q125_url_tracking_planted" -> q125Oracle,
    "q126_main_content_planted" -> q126Oracle,
    "q127_incremental_neardup" -> q127Oracle,
    "q128_corpus_hits_planted" -> q128Oracle,
    "q129_warc_roundtrip" -> q129Oracle,
    "q130_warc_http_fidelity" -> q130Oracle,
    "q131_warc_ingest_e2e" -> q122Oracle, // same closed-form truth, WARC-served
    "q132_sigstore_neardup" -> q127Oracle, // same planted truth, store-served
    "q133_latest_capture" -> q133Oracle,
    "q134_neardup_keepbest" -> q134Oracle,
    "q135_instream_suppress" -> q135Oracle,
    "q136_ingest_funnel" -> q136Oracle,
    "q137_inline_dedup_cap" -> q137Oracle,
    "q138_embed_decontam" -> q138Oracle,
    "q139_corpus_diff" -> q139Oracle,
    "q140_mmr_planted" -> q140Oracle,
    "q141_drop_reasons" -> q141Oracle,
    "q142_prepare_funnel" -> q142Oracle,
    "q143_prepare_drop_reasons" -> q143Oracle,
    "q144_sigstore_lifecycle" -> q144Oracle,
    "q145_sessionize_tws" -> q145Oracle,
    "q146_gopher_ext_planted" -> q146Oracle,
    "q147_entropy_signals" -> q147Oracle,
    "q148_line_signals" -> q148Oracle,
    "q149_compressibility_planted" -> q149Oracle,
    "q150_epoch_plan" -> q150Oracle,
    "q151_epoch_expand" -> q151Oracle,
    "q152_wet_roundtrip" -> q152Oracle,
    "q153_text_signals" -> q153Oracle,
    "q154_paragraph_dedup" -> q154Oracle,
    "q155_para_extract" -> q155Oracle,
    "q156_para_ingest" -> q156Oracle,
    "q157_vecstore_pq_planted" -> annPlantedOracle,
    "q158_vecstore_hamming_planted" -> annPlantedOracle,
    "q159_reagg_event_time" -> q159Oracle,
    "q160_wet_prepare_e2e" -> q160Oracle,
    "q161_opqstore_planted" -> annPlantedOracle,
    "q162_store_corpus_knn" -> annPlantedOracle,
    "q163_session_replay" -> q163Oracle,
    "q164_vecstore_ingest_dedup" -> q164Oracle,
    "q165_store_semantic_hits" -> q165Oracle,
    "q166_semdedup_store_planted" -> q77Oracle, // same planted-pair truth
    "q167_hash_embed_ingest" -> q167Oracle,
    "q168_pqstore_flat_planted" -> annPlantedOracle,
    "q169_opqstore_flat_planted" -> annPlantedOracle,
    "q170_mmrstore_planted" -> q140Oracle, // same selection truth, store-served pool
    "q171_vecstore_stream_lifecycle" -> q171Oracle,
    "q172_hash_embed_idf" -> q172Oracle,
    "q173_hash_embed_subtf" -> q173Oracle,
    "q174_hash_embed_mixed" -> q174Oracle,
    "q175_hash_idf_frozen" -> q175Oracle,
    "q176_text_idf_stream_hits" -> q176Oracle,
    "q177_decontam_spans" -> q177Oracle,
    "q178_decontam_spans_bloom" -> q178Oracle,
    "q179_decontam_pool_served" -> q179Oracle,
    "q180_filtered_ann_planted" -> q180Oracle,
    "q181_bpe_frozen" -> q181Oracle,
    "q182_dsir_frozen" -> q182Oracle,
    "q183_lm_frozen" -> q183Oracle,
    "q184_filtered_hamming_ann" -> q184Oracle,
    "q185_pool_stream_excision" -> q185Oracle,
    "q186_ann_recall" -> q186Oracle,
    "q187_filtered_stream_hits" -> q187Oracle,
    "q188_tune_nprobe" -> q188Oracle,
    "q189_tune_refine" -> q189Oracle,
  )
}
