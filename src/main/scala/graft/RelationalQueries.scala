package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** The relational and sampling family (`q_*`): aggregation, window,
  * join and set operators over the TPC-H-shaped tables and events,
  * sketches, layout audits, the CSV/JSONL ingest formats, and the
  * stratified, budgeted and packed samplers. Each registration carries
  * its Spark builder and its DuckDB oracle.
  */
object RelationalQueries {

  import OracleSql.{clusterLabelCtes, FixturesDir, h32Sql, minhashPairsCte, toksSql}

  /** The k both KMV queries register AND their oracles interpolate —
    * one constant, so the Scala parameter and the oracle SQL cannot
    * drift apart.
    */
  private val KmvK = 64

  /** CMS shape shared by the Scala queries (`q_cms_freq` here,
    * `stream_cms` in [[SparkEntryStream]]) and their common oracle
    * ([[OracleSql.cmsFreqSql]]) — one constant set, no drift.
    */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 2048
  private[graft] val CmsTopK = 20

  /** DuckDB mirror of [[Layout.zValue]]: unrolled Morton interleave. */
  private def zSql(a: String, b: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  val entries: Seq[Query] = Seq(
    // ---- relational / aggregation / window (SURVEY §2.9 extensions) ----
    Query("q1_pricing", """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)((s, d) =>
      Relational.pricingSummary(s, d)),
    Query("q3_top_revenue", """SELECT l_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin)((s, d) => Relational.topRevenueOrders(s, d)),
    Query("q_window_topn", """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey,
        |    CAST(row_number() OVER (
        |      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
        |    o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin)((s, d) => Relational.topOrdersPerCustomer(s, d)),
    Query("q_rollup",
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |  round(sum(o_totalprice), 2) AS total_revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region, nation""".stripMargin)((s, d) => Relational.revenueRollup(s, d)),
    Query("q_events_hourly", """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)((s, d) => Relational.eventsHourly(s, d)),
    Query("q_events_json", """SELECT event_type, count(*) AS n, round(avg(k), 4) AS avg_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |        TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)((s, d) => Relational.eventsJson(s, d)),
    Query("q_sessionize", """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM sess
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin)((s, d) => Relational.sessionize(s, d)),
    // median_within_bound: the Spark side validates its bounded-state
    // approx_percentile by rank position (see Relational.orderStats);
    // the oracle contributes the exact columns and literal TRUE
    Query("q_order_stats", """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  round(stddev_samp(o_totalprice), 4) AS sd_price,
        |  count(DISTINCT o_custkey) AS n_customers,
        |  TRUE AS median_within_bound
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)((s, d) => Relational.orderStats(s, d)),
    Query("q_upsert", OracleSql.upsertMergedSummarySql)((s, d) => {
      val base = Tables.orders(s, d)
      // no inner round: Spark rounds decimals HALF_UP, DuckDB rounds the
      // binary double — near .xx5 they differ by a cent; x*1.1 itself is
      // bit-identical on both engines, so only the aggregate is rounded
      val updates = base
        .filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      Store.upsert(base, updates, "o_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus"))
    }),
    Query("q_chunk", """WITH p AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(text, ' the '), s -> trim(s)),
        |      s -> length(s) > 0) AS paras
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, i - 1 AS chunk_index, paras[i] AS chunk_text
        |  FROM p, LATERAL (SELECT unnest(generate_series(1, len(paras))) AS i) g)
        |SELECT doc_id, CAST(chunk_index AS BIGINT) AS chunk_index, chunk_text
        |FROM e WHERE length(chunk_text) >= 50
        |ORDER BY doc_id, chunk_index""".stripMargin)((s, d) =>
      Chunker.chunk(Tables.documents(s, d), Seq("doc_id"), separator = " the ", minLen = 50)
        .select(col("doc_id"), col("chunk_index"), col("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_index"))),
    // CMS estimates vs exact counts for the top-20 terms: est >= exact
    // by construction; 4x2048 cells bound the gap
    // single-source with stream_cms: both build paths must match the
    // same SQL replica (OracleSql.cmsFreqSql)
    Query("q_cms_freq", OracleSql.cmsFreqSql(CmsDepth, CmsWidth, CmsTopK))((s, d) =>
      TextAnalysis.cmsTopTerms(Tables.documents(s, d), "doc_id", "text",
          limit = CmsTopK, depth = CmsDepth, width = CmsWidth)
        .orderBy(col("term"))),
    // LLM-pretraining sequence packing: two-phase sharded prefix sum
    // must equal the oracle's single global cumsum
    Query("q_pack_sequences", s"""WITH t AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  -- CAST: DuckDB sum(BIGINT) is HUGEINT, which reaches pandas as
         |  -- float64 — whether that hash-matches Spark's int64 depends on
         |  -- the comparer's float normalization (the round-5 driver-red /
         |  -- local-green split on exactly the window-sum queries). BIGINT
         |  -- makes both sides int64 under any DuckDB/pandas version.
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens,
         |  prev // 512 AS seq_start,
         |  (prev + n_tokens - 1) // 512 AS seq_end,
         |  prev % 512 AS offset
         |FROM c
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      TextAnalysis.packSequences(Tables.documents(s, d), "doc_id", "text",
          seqLen = 512, docsPerShard = 100)
        .orderBy(col("doc_id"))),
    // DIAGNOSTIC pair for the round-5 driver-red trio (q_token_budget /
    // q_pack_sequences / pipeline_mix_pack — bit-identical locally, red
    // at the driver): each isolates ONE stage of the mix->pack chain, so
    // if the trio ever reds again the green/red split of these two says
    // whether the budget-selection cumsum or the packing cumsum diverges
    // in the driver environment.
    // Stage 1 alone — the per-stratum selection cumsum with an
    // effectively infinite budget, so the budget FILTER is out of play
    // and every doc's cum_before is compared.
    // stage-1 diagnostic: selection cumsum with no effective budget
    // filter (defaultBudget = Long.MaxValue on the Spark side; every
    // row has cum_before < 2^63-1 since sf0.1 holds ~5e5 tokens)
    Query("q_budget_cumsum_diag", s"""WITH t AS (
         |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    ${h32Sql("doc_id::VARCHAR")} AS h
         |  FROM documents)
         |SELECT doc_id, lang AS stratum, n_tokens,
         |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |FROM t WHERE n_tokens > 0
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      TextAnalysis.tokenBudgetSample(Tables.documents(s, d), "doc_id", "lang", "text",
          budgets = Map.empty, defaultBudget = Long.MaxValue)
        .orderBy(col("doc_id"))),
    // Stage 2 alone — packing over a STATIC literal selection (doc_id
    // predicate), so no upstream sampling stage feeds it; odd
    // docsPerShard exercises non-aligned shard boundaries.
    Query("q_pack_static_diag", s"""WITH t AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents WHERE doc_id % 3 <> 1),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens,
         |  prev // 64 AS seq_start,
         |  (prev + n_tokens - 1) // 64 AS seq_end,
         |  prev % 64 AS offset
         |FROM c
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      TextAnalysis.packSequences(
          Tables.documents(s, d).filter(col("doc_id") % 3 =!= 1),
          "doc_id", "text", seqLen = 64, docsPerShard = 7)
        .orderBy(col("doc_id"))),
    // S4/S5 CSV boundary as a CHECKED query (reference export shape:
    // Qdrant/csv/data_case_100.csv — UTF-8 BOM, quoted multiline Thai
    // text, embedded commas/quotes, non-ASCII header), over a committed
    // miniature fixture with the same header. Positional toDF rename
    // sidesteps BOM-in-header naming differences between readers; the
    // derived columns make parse depth visible — a reader that splits
    // quoted newlines or mis-handles the BOM row changes every value.
    // Scale note: multiLine CSV is inherently non-splittable (one file
    // = one task); it is the INGEST boundary only — bulk data lives in
    // parquet (S9).
    // same committed fixture, DuckDB's reader: BOM + multiline quotes
    // must survive BOTH parsers identically
    Query("q_csv_roundtrip", s"""SELECT "คำพิพากษาศาลฎีกาที่" AS case_no,
         |  CAST(len(text) AS BIGINT) AS n_chars,
         |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         |  CAST(len(string_split(answers, ', ')) AS BIGINT) AS n_answers,
         |  CAST(trim(string_split(answers, ',')[1]) AS BIGINT) AS first_answer
         |FROM read_csv('$FixturesDir/thai_cases.csv', header=true)
         |ORDER BY case_no""".stripMargin)((s, d) =>
      s.read.option("header", "true").option("multiLine", "true")
        .option("escape", "\"")
        .csv(FixturesDir + "/thai_cases.csv")
        .toDF("text", "answers", "case_no")
        .select(col("case_no"),
          length(col("text")).cast("long").as("n_chars"),
          size(split(col("text"), "\n")).cast("long").as("n_lines"),
          size(split(col("answers"), ", ")).cast("long").as("n_answers"),
          trim(substring_index(col("answers"), ",", 1)).cast("long").as("first_answer"))
        .orderBy(col("case_no"))),
    // JSONL ingest — the de-facto LLM corpus exchange format (one JSON
    // doc per line, nested metadata, optional fields): schema-inferred
    // read checked against DuckDB's independent reader. Missing nested
    // scalars and missing arrays surface as sentinels (-1), NOT dropped
    // rows — ingest must preserve row cardinality. Scale note: unlike
    // multiLine CSV, newline-delimited JSON splits by line, so the scan
    // parallelizes over a 100 TB corpus like any text source.
    // independent JSONL reader over the same fixture; sentinel -1 for
    // absent optional fields on both sides (NULL would reach the
    // comparer as NaN-vs-None, an avoidable ambiguity)
    Query("q_jsonl_ingest", s"""SELECT id, lang,
         |  CAST(len(text) AS BIGINT) AS n_chars,
         |  meta.source AS src,
         |  coalesce(round(meta.quality, 6), -1.0) AS quality,
         |  CAST(coalesce(len(tags), -1) AS BIGINT) AS n_tags
         |FROM read_json('$FixturesDir/docs.jsonl', format='newline_delimited')
         |ORDER BY id""".stripMargin)((s, d) =>
      s.read.json(FixturesDir + "/docs.jsonl")
        .select(col("id").cast("long").as("id"), col("lang"),
          length(col("text")).cast("long").as("n_chars"),
          col("meta.source").as("src"),
          round(coalesce(col("meta.quality"), lit(-1.0)), 6).as("quality"),
          coalesce(size(col("tags")), lit(-1)).cast("long").as("n_tags"))
        .orderBy(col("id"))),
    Query("q_correlation", """SELECT event_type,
        |  round(corr(value, k), 6) AS corr_vk,
        |  round(covar_samp(value, k), 4) AS covar_vk,
        |  count(*) AS n
        |FROM (SELECT event_type, value,
        |        TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
        |      FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)((s, d) =>
      Tables.events(s, d)
        // try_cast: malformed/nested props must NULL per row, not abort
        // the scan under ANSI mode (the eventsJson contract)
        .withColumn("k", get_json_object(col("props"), "$.k").try_cast("double"))
        .groupBy(col("event_type"))
        .agg(
          round(corr(col("value"), col("k")), 6).as("corr_vk"),
          round(covar_samp(col("value"), col("k")), 4).as("covar_vk"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))),
    Query("q_setops", """WITH hv AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000),
        |ur AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |s AS (
        |  SELECT 'union' AS set_op, o_custkey
        |  FROM (SELECT o_custkey FROM hv UNION SELECT o_custkey FROM ur)
        |  UNION ALL
        |  SELECT 'intersect', o_custkey
        |  FROM (SELECT o_custkey FROM hv INTERSECT SELECT o_custkey FROM ur)
        |  UNION ALL
        |  SELECT 'except', o_custkey
        |  FROM (SELECT o_custkey FROM hv EXCEPT SELECT o_custkey FROM ur))
        |SELECT set_op, count(*) AS n_customers, min(o_custkey) AS min_key,
        |  max(o_custkey) AS max_key
        |FROM s GROUP BY set_op
        |ORDER BY set_op""".stripMargin)((s, d) => Relational.setOps(s, d)),
    Query("q_datemath", """WITH b AS (
        |  SELECT year(o_orderdate)::BIGINT AS yr, month(o_orderdate)::BIGINT AS mo,
        |    (dayofweek(o_orderdate) + 1)::BIGINT AS dow,
        |    date_diff('day', o_orderdate::DATE, DATE '2002-01-01')::BIGINT AS age_days,
        |    o_totalprice
        |  FROM orders)
        |SELECT yr, mo, count(*) AS n, min(dow) AS min_dow, max(age_days) AS max_age_days,
        |  round(sum(CASE WHEN o_totalprice >= 0 THEN sqrt(o_totalprice) END), 4) AS sum_sqrt_price,
        |  round(avg(pow(o_totalprice, 2) / 1e9), 4) AS avg_sq_price_b,
        |  round(sum(CASE WHEN o_totalprice > 0 THEN ln(o_totalprice) END), 4) AS sum_ln_price,
        |  round(max(abs(o_totalprice - 100000.0)), 2) AS max_abs_dev
        |FROM b GROUP BY yr, mo
        |ORDER BY yr, mo""".stripMargin)((s, d) => Relational.dateMathFuncs(s, d)),
    Query("q_cube", """SELECT coalesce(r_name, 'ALL') AS region,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  round(sum(o_totalprice), 2) AS total, count(*) AS n
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE(r_name, o_orderpriority)
        |ORDER BY region, priority""".stripMargin)((s, d) => Relational.revenueCube(s, d)),
    Query("q_window_funcs", """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(coalesce(lead(o_totalprice, 1) OVER w, 0.0), 2) AS next_price,
        |  round(coalesce(lag(o_totalprice, 1) OVER w, 0.0), 2) AS prev_price,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WHERE o_custkey < 20
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin)((s, d) =>
      Relational.windowFuncs(s, d)),
    Query("q_string_funcs", """SELECT doc_id,
        |  upper(substr(text, 1, 12)) AS head_upper,
        |  reverse(substr(text, 1, 8)) AS head_rev,
        |  replace(substr(text, 1, 20), ' ', '_') AS head_snake,
        |  lpad(doc_id::VARCHAR, 6, '0') AS id_padded,
        |  CAST(strpos(text, 'data') AS BIGINT) AS data_pos,
        |  CAST(levenshtein(substr(text, 1, 10), 'the fast k') AS BIGINT) AS lev,
        |  CAST(length(trim(text)) AS BIGINT) AS trimmed_len,
        |  lang || '|' || source AS tag
        |FROM documents
        |WHERE doc_id < 50
        |ORDER BY doc_id""".stripMargin)((s, d) => Relational.stringFuncs(s, d)),
    Query("q_salted_agg", """SELECT user_id, round(sum(value), 2) AS sum_value, count(*) AS n
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)((s, d) => Relational.saltedAgg(s, d)),
    Query("q_asof_join", """WITH ev AS (
        |  SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE event_type IN ('purchase', 'view')),
        |w AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_us
        |  FROM ev)
        |SELECT user_id, event_id, ts AS purchase_ts,
        |  make_timestamp(last_view_us) AS view_ts,
        |  epoch_us(ts) - last_view_us AS gap_us
        |FROM w
        |WHERE event_type = 'purchase' AND last_view_us IS NOT NULL
        |ORDER BY user_id, event_id""".stripMargin)((s, d) =>
      Relational.asofViewBeforePurchase(s, d)),
    Query("q_range_join", """WITH tiers(tier, lo, hi) AS (VALUES
        |  ('bronze', 0.0, 50.0), ('silver', 50.0, 120.0),
        |  ('gold', 120.0, 180.0), ('platinum', 180.0, 1e9))
        |SELECT tier, count(*) AS n, round(sum(value), 2) AS sum_value,
        |  round(min(value), 2) AS min_v, round(max(value), 2) AS max_v
        |FROM events JOIN tiers ON value >= lo AND value < hi
        |GROUP BY tier
        |ORDER BY tier""".stripMargin)((s, d) => Relational.rangeJoinTiers(s, d)),
    Query("q_pivot", """SELECT user_id,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
        |FROM events
        |WHERE user_id < 50
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)((s, d) => Relational.pivotEventTypes(s, d)),
    Query("q_geomean", """SELECT o_orderpriority,
        |  round(exp(avg(ln(o_totalprice))), 4) AS geo_mean_price,
        |  count(*) AS n
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(round(udaf(graft.functions.GeoMean).apply(col("o_totalprice")), 4)
          .as("geo_mean_price"), count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))),
    Query("q_grouping_sets", """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin)((s, d) => Relational.groupingSetsSql(s, d)),
    // bloom-prefiltered EXACT semi-join (runtime-filter shape, made
    // explicit): result is row-identical to the plain semi-join — the
    // bloom only decides how much of the big side survives to the
    // confirm join's shuffle
    // the bloom prefilter is exact-by-construction (no false negatives
    // + confirm join), so the oracle is the PLAIN semi-join:
    Query("q_bloom_join",
      """SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      BloomJoin.bloomSemiJoin(Tables.lineitem(s, d), "l_orderkey", urgent, "o_orderkey",
          numBits = BloomJoin.bitsFor(100000))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy(col("l_returnflag"))
    }),
    // salted JOIN sibling of q_salted_agg: the skewed-big-side shuffle
    // join with the hot key spread over 8 salt reducers; result is
    // row-identical to the plain equi-join (which is what the oracle
    // runs). shuffle_hash hint models the small-side-too-big-to-
    // broadcast case the salt exists for (plan-pinned in PlanSpec: the
    // exchange carries the salt, no broadcast join).
    // the plain equi-join the salted plan must reproduce exactly
    Query("q_salted_join", s"""SELECT l_returnflag, count(*) AS n,
         |  round(sum(l_extendedprice), 2) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin)((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey")).hint("shuffle_hash")
      Skew.saltedJoin(Tables.lineitem(s, d), "l_orderkey", urgent, "o_orderkey",
          saltSourceCol = "l_partkey", saltBuckets = 8)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy(col("l_returnflag"))
    }),
    // LEFT-OUTER salted join: the skewed-enrichment shape (every
    // lineitem row survives; only urgent orders enrich). Unmatched
    // big-side rows are first-class output (matched=false groups) —
    // row parity with the plain left outer equi-join is what the
    // oracle checks.
    Query("q_salted_join_left", s"""SELECT l_returnflag, (o_orderkey IS NOT NULL) AS matched,
         |  count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
         |FROM lineitem
         |LEFT JOIN (SELECT o_orderkey FROM orders
         |           WHERE o_orderpriority = '1-URGENT') o
         |  ON l_orderkey = o_orderkey
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin)((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey")).hint("shuffle_hash")
      Skew.saltedJoin(Tables.lineitem(s, d), "l_orderkey", urgent, "o_orderkey",
          saltSourceCol = "l_partkey", saltBuckets = 8, joinType = "left")
        .groupBy(col("l_returnflag"), col("o_orderkey").isNotNull.as("matched"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy(col("l_returnflag"), col("matched"))
    }),
    // HLL register values are engine-specific, so the raw estimate can
    // never hash-match an oracle — instead the CHECKED output carries
    // the exact count plus `within_bound` (|est − exact| / exact ≤
    // 3·rsd, the GuardrailSpec bound, rsd = 0.02), which the oracle
    // reproduces as the same exact count + literal TRUE. The estimate
    // itself stays spec-tested (GuardrailSpec) and inspectable via
    // Relational.approxDistinct.
    // HLL estimates are engine-specific, so the oracle checks the exact
    // count plus the accuracy CONTRACT (within_bound, literal true —
    // red iff Spark's estimate ever exceeds 3x its configured rsd)
    Query("q_approx_distinct", s"""SELECT l_returnflag,
         |  count(DISTINCT l_partkey) AS exact_parts,
         |  count(*) AS n,
         |  true AS within_bound
         |FROM lineitem
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin)((s, d) =>
      Relational.approxDistinct(s, d)
        .select(col("l_returnflag"), col("exact_parts"), col("n"),
          (abs(col("approx_parts").cast("double") - col("exact_parts").cast("double"))
            / col("exact_parts").cast("double") <= 3 * 0.02).as("within_bound"))
        .orderBy(col("l_returnflag"))),
    // q_kmv_distinct is the deterministic sketch that IS checkable:
    // both oracles interpolate the SAME KmvK the Scala queries register
    Query("q_kmv_distinct", s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    ${h32Sql("user_id::VARCHAR")} AS h
         |  FROM events),
         |g AS (
         |  SELECT event_type, list_sort(list(h)) AS hs, count(*) AS nd
         |  FROM h GROUP BY event_type)
         |SELECT event_type, nd AS exact_distinct_hashes,
         |  round(CASE WHEN nd < $KmvK THEN nd::DOUBLE
         |    ELSE ${KmvK - 1}.0 * 4294967296.0 / hs[$KmvK] END, 4) AS kmv_estimate
         |FROM g
         |ORDER BY event_type""".stripMargin)((s, d) => Relational.kmvDistinct(s, d, KmvK)),
    // the production-shaped sketch-only variant (no exact companion):
    Query("q_kmv_sketch", s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    ${h32Sql("user_id::VARCHAR")} AS h
         |  FROM events),
         |g AS (
         |  SELECT event_type,
         |    list_sort(list(h))[1:$KmvK] AS mins
         |  FROM h GROUP BY event_type)
         |SELECT event_type, CAST(len(mins) AS BIGINT) AS sketch_size,
         |  round(CASE WHEN len(mins) < $KmvK THEN len(mins)::DOUBLE
         |    ELSE ${KmvK - 1}.0 * 4294967296.0 / mins[$KmvK] END, 4) AS kmv_estimate
         |FROM g
         |ORDER BY event_type""".stripMargin)((s, d) =>
      Relational.kmvDistinctSketchOnly(s, d, KmvK)),
    // Z-order layout audit: Morton-key buckets carry tight min/max
    // envelopes on BOTH dimensions — the write-side layout that makes
    // scan pruning work on either column
    Query("q_zorder", s"""WITH e0 AS (
         |  SELECT user_id, TRY_CAST(floor(value) AS BIGINT) AS vb FROM events),
         |e AS (
         |  SELECT user_id, vb FROM e0
         |  WHERE user_id IS NOT NULL AND user_id >= 0 AND user_id < 4096
         |    AND vb IS NOT NULL AND vb >= 0 AND vb < 4096),
         |z AS (SELECT user_id, vb, ${zSql("user_id", "vb", 12)} AS zv FROM e)
         |SELECT zv >> 14 AS z_bucket, count(*) AS n,
         |  min(user_id) AS min_a, max(user_id) AS max_a,
         |  min(vb) AS min_b, max(vb) AS max_b
         |FROM z GROUP BY 1
         |ORDER BY z_bucket""".stripMargin)((s, d) => {
      // The locality AUDIT admits only rows inside the configured
      // 2^12 x 2^12 grid: a NULL or out-of-range key has no locality
      // to audit, and crawl-shaped debris must not abort a read-only
      // report. The WRITE-side relayout (Layout.zOrdered) keeps the
      // loud zValue guard — silently losing or mis-bucketing rows in
      // a re-layout is data loss, and there the caller must decide
      // where the debris goes.
      // NOTE: Spark's floor(double) is already LongType and CLAMPS
      // overflow (1e100 -> Long.MaxValue, never NULL), while the
      // oracle's TRY_CAST(floor(..) AS BIGINT) NULLs it — the grid
      // range filter below guards the overflow asymmetry. NaN is its
      // own asymmetry (Spark's NaN.toLong == 0L would slip INSIDE the
      // grid, while the oracle's TRY_CAST NULLs it), so it gets an
      // explicit isnan exclusion rather than riding the range filter.
      // Together these keep the two engines row-identical; do not
      // widen/remove either without revisiting both asymmetries.
      val grid = 1L << 12
      val ev = Tables.events(s, d)
        .withColumn("vb", floor(col("value")))
        .filter(col("user_id").isNotNull && col("user_id") >= 0 && col("user_id") < grid &&
          !isnan(col("value")) &&
          col("vb").isNotNull && col("vb") >= 0 && col("vb") < grid)
      Layout.zBucketStats(ev, "user_id", "vb", bits = 12, bucketShift = 14)
        .orderBy(col("z_bucket"))
    }),
    Query("q_sample_mix", s"""WITH s AS (
         |  SELECT lang, n_chars,
         |    ${h32Sql("doc_id::VARCHAR")} % 100 AS h,
         |    CASE lang WHEN 'en' THEN 80 WHEN 'zh' THEN 30 ELSE 50 END AS rate
         |  FROM documents)
         |SELECT lang,
         |  CASE WHEN h % 10 < 8 THEN 'train' ELSE 'val' END AS split,
         |  count(*) AS n, round(avg(n_chars), 4) AS avg_chars
         |FROM s WHERE h < rate
         |GROUP BY 1, 2
         |ORDER BY lang, split""".stripMargin)((s, d) =>
      TextAnalysis.hashSampleMix(Tables.documents(s, d), "doc_id", "lang",
          rates = Map("en" -> 80, "zh" -> 30), defaultRate = 50)
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"), round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy(col("lang"), col("split"))),
    // exact per-stratum quota sampling: deterministic top-N per lang in
    // portable-hash order (WindowGroupLimit pre-prunes before the
    // stratum shuffle — plan-pinned in PlanSpec)
    Query("q_quota_sample", s"""WITH r AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${h32Sql("doc_id::VARCHAR")}, doc_id) AS rk,
         |    CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 15 ELSE 25 END AS quota
         |  FROM documents)
         |SELECT doc_id, lang, rk FROM r
         |WHERE rk <= quota
         |ORDER BY lang, rk""".stripMargin)((s, d) =>
      TextAnalysis.quotaSample(Tables.documents(s, d), "doc_id", "lang",
          quotas = Map("en" -> 40, "zh" -> 15), defaultQuota = 25)
        .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
        .orderBy(col("lang"), col("rk"))),
    // token-budget mixing: ~6000 en / 1500 zh / 2000 other tokens —
    // proper subsets of every stratum at sf0.01 and sf0.1
    // naive single-window form of the sharded prefix sum (equal for any
    // shardWidth — the Spark side is property-tested against this shape)
    Query("q_token_budget", s"""WITH t AS (
         |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    ${h32Sql("doc_id::VARCHAR")} AS h
         |  FROM documents),
         |w AS (
         |  -- CAST: see q_pack_sequences — sum(BIGINT) is HUGEINT in
         |  -- DuckDB; cum_before is a compared output column and must be
         |  -- int64 on both sides under any DuckDB/pandas version
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM t WHERE n_tokens > 0)
         |SELECT doc_id, lang AS stratum, n_tokens, cum_before
         |FROM w
         |WHERE cum_before < CASE lang WHEN 'en' THEN 6000 WHEN 'zh' THEN 1500 ELSE 2000 END
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      TextAnalysis.tokenBudgetSample(Tables.documents(s, d), "doc_id", "lang", "text",
          budgets = Map("en" -> 6000L, "zh" -> 1500L), defaultBudget = 2000L)
        .orderBy(col("doc_id"))),
    // temperature mixing, alpha = 0.5 / target 20% of the corpus:
    // low-resource langs up-sampled relative to share (XLM-R-style
    // exponent smoothing), membership by portable id hash
    // same exponent-smoothed rate arithmetic: weights rounded to 6 dp
    // BEFORE the total, so both engines sum identical doubles
    Query("q_temperature_mix",
      s"""WITH c0 AS (SELECT lang AS stratum, count(*) AS n FROM documents GROUP BY 1),
         |c AS (SELECT stratum, n, round(pow(n::DOUBLE, 0.5), 6) AS w FROM c0),
         |t AS (SELECT sum(w) AS wsum, CAST(sum(n) AS BIGINT) AS nsum FROM c),
         |r AS (
         |  SELECT stratum,
         |    least(100, greatest(0, CAST(round(
         |      100.0 * 0.2 * nsum::DOUBLE * (w / wsum) / n::DOUBLE, 0) AS BIGINT))) AS rate
         |  FROM c CROSS JOIN t)
         |SELECT d.doc_id, d.lang AS stratum, r.rate
         |FROM documents d JOIN r ON d.lang = r.stratum
         |WHERE ${h32Sql("d.doc_id::VARCHAR")} % 100 < r.rate
         |ORDER BY d.doc_id""".stripMargin)((s, d) =>
      TextAnalysis.temperatureMix(Tables.documents(s, d), "doc_id", "lang",
          alpha = 0.5, targetFrac = 0.2)
        .orderBy(col("doc_id"))),
    // token-count-weighted draw of 12 docs per lang (uniform over
    // tokens, deterministic in the ids)
    // Efraimidis–Spirakis keys: ln(u)/w with u = (h32(id)+1)/2^32 —
    // same double arithmetic as the Spark side. Zero/NULL-weight docs
    // are excluded exactly (zero inclusion probability — the engine's
    // registered contract), hence the w > 0 admission predicate.
    Query("q_weighted_sample", s"""WITH t AS (
         |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS w,
         |    ${h32Sql("doc_id::VARCHAR")} AS h
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ln((h + 1) / 4294967296.0) / w DESC, doc_id) AS rk
         |  FROM t WHERE w > 0)
         |SELECT doc_id, lang AS stratum, rk FROM r
         |WHERE rk <= 12
         |ORDER BY stratum, rk""".stripMargin)((s, d) =>
      TextAnalysis.weightedSample(
          Tables.documents(s, d)
            .withColumn("w", size(Dedup.tokens(col("text"))).cast("long")),
          "doc_id", "lang", "w", k = 12)
        .select(col("doc_id"), col("stratum"), col("rk").cast("long").as("rk"))
        .orderBy(col("stratum"), col("rk"))),
    // corpus snapshot diff: v1 drops doc_id%11==3, v2 drops %13==4 and
    // appends ' v2' to every %9==0 text — all four statuses fire
    Query("q_corpus_diff", """WITH o AS (
        |  SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 11 <> 3),
        |n AS (
        |  SELECT doc_id,
        |    sha256(CASE WHEN doc_id % 9 = 0 THEN text || ' v2' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 13 <> 4)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.h = n.h THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      Store.corpusDiff(
          docs.filter(col("doc_id") % 11 =!= 3),
          docs.filter(col("doc_id") % 13 =!= 4)
            .withColumn("text",
              when(col("doc_id") % 9 === 0, concat(col("text"), lit(" v2")))
                .otherwise(col("text"))),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    // Qdrant set_payload: metadata patch by key — embeddings (here:
    // n_chars, text) never move, row count invariant
    Query("q_payload_update", """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang,
        |  CASE WHEN doc_id % 7 = 0 THEN 'patched' ELSE source END AS source,
        |  n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      val patch = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit("xx").as("lang"), lit("patched").as("source"))
      Store.setPayload(docs, patch, "doc_id", Seq("lang", "source"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // point deletion, both Qdrant selectors composed: an id batch
    // (doc_id % 9 == 0) then a filter (n_chars < 200); the per-lang
    // summary proves exactly the complement survived
    // delete = survive both selectors: NOT in the id batch AND NOT
    // matching the filter (a NULL predicate keeps the row — the
    // coalesce(…, false) selector semantics; n_chars is non-null here)
    Query("q_delete", """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE doc_id % 9 <> 0 AND NOT coalesce(n_chars < 200, false)
        |GROUP BY lang ORDER BY lang""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      val byIds = Store.deletePoints(docs,
        docs.filter(col("doc_id") % 9 === 0).select(col("doc_id")), "doc_id")
      Store.deleteByFilter(byIds, col("n_chars") < 200)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("chars"))
        .orderBy(col("lang"))
    }),
    // cluster-aware train/test split: whole near-dup clusters land in
    // one split (split-time decontamination)
    Query("q_leakfree_split", s"""$minhashPairsCte,
         |$clusterLabelCtes
         |SELECT doc_id, label AS cluster_id,
         |  CASE WHEN ${h32Sql("'split|' || label")} % 100 < 80
         |       THEN 'train' ELSE 'test' END AS split
         |FROM labels
         |ORDER BY doc_id""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, rowsPerBand = 8)
        .filter(col("jaccard") >= 0.5)
      Curation.leakFreeSplit(docs, "doc_id", pairs, trainPct = 80)
        .orderBy(col("doc_id"))
    }),
    // histogram-sketch quantiles: bounded-state mergeable quantile
    // estimates whose state AND estimates are oracle-hashable
    Query("q_hist_quantiles", """WITH stats AS (
        |  SELECT o_orderpriority, min(o_totalprice::DOUBLE) AS lo,
        |    max(o_totalprice::DOUBLE) AS hi, count(*) AS n,
        |    (max(o_totalprice::DOUBLE) - min(o_totalprice::DOUBLE)) / 64 AS w
        |  FROM orders GROUP BY 1),
        |counts AS (
        |  SELECT o.o_orderpriority,
        |    CASE WHEN s.w > 0
        |      THEN least(floor((o.o_totalprice::DOUBLE - s.lo) / s.w), 63)::BIGINT
        |      ELSE 0 END AS b,
        |    count(*) AS c, min(s.lo) AS lo, min(s.w) AS w, min(s.n) AS n
        |  FROM orders o JOIN stats s USING (o_orderpriority)
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT *, sum(c) OVER (PARTITION BY o_orderpriority ORDER BY b
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM counts),
        |qq AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q),
        |hit AS (
        |  SELECT c.o_orderpriority, q.q, c.n, c.lo, c.w, c.b, c.c, c.cum,
        |    q.q * c.n AS r,
        |    row_number() OVER (PARTITION BY c.o_orderpriority, q.q ORDER BY c.b) AS rn
        |  FROM cum c CROSS JOIN qq q
        |  WHERE c.cum >= q.q * c.n)
        |SELECT o_orderpriority, q, CAST(n AS BIGINT) AS n,
        |  round(CASE WHEN w > 0 THEN lo + w * (b + (r - (cum - c)) / c)
        |    ELSE lo END, 6) AS est
        |FROM hit WHERE rn = 1
        |ORDER BY o_orderpriority, q""".stripMargin)((s, d) =>
      Relational.histogramQuantiles(Tables.orders(s, d), "o_orderpriority",
        "o_totalprice", bins = 64, qs = Seq(0.5, 0.9, 0.99))),
    // key-skew profile: the diagnostic read before choosing salting /
    // AQE skew handling — hottest-key share, max/mean, count quantiles
    Query("q_skew_diag", """WITH c AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
        |s AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys,
        |  CAST(max(c) AS BIGINT) AS max_cnt, avg(c) AS mean_raw,
        |  round(quantile_cont(c, 0.5), 6) AS p50_cnt,
        |  round(quantile_cont(c, 0.99), 6) AS p99_cnt FROM c),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS top10 FROM (
        |  SELECT c, user_id FROM c ORDER BY c DESC, user_id LIMIT 10))
        |SELECT n_rows, n_keys, max_cnt, round(mean_raw, 6) AS mean_cnt,
        |  p50_cnt, p99_cnt,
        |  round(max_cnt / mean_raw, 6) AS max_over_mean,
        |  round(max_cnt::DOUBLE / n_rows, 6) AS top1_share,
        |  round(t.top10::DOUBLE / n_rows, 6) AS top10_share
        |FROM s, t""".stripMargin)((s, d) =>
      Relational.skewDiagnostics(Tables.events(s, d), "user_id")),
    // sliding-window chunking with overlap (chunk_size=40 tokens,
    // stride=30 => 10-token overlap) — the RAG-standard splitter
    Query("q_chunk_overlap", s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id < 100),
         |w AS (
         |  SELECT doc_id, t, len(t) AS n,
         |    CASE WHEN len(t) <= 40 THEN 1
         |      ELSE ceil((len(t) - 40)::DOUBLE / 30)::BIGINT + 1 END AS nw
         |  FROM t),
         |wins AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS win_index,
         |    CAST((i - 1) * 30 AS BIGINT) AS win_start,
         |    t[(i - 1) * 30 + 1 : (i - 1) * 30 + 40] AS win
         |  FROM w, LATERAL (SELECT unnest(generate_series(1, nw)) AS i) g)
         |SELECT doc_id, win_index, win_start,
         |  CAST(len(win) AS BIGINT) AS n_tokens,
         |  ${h32Sql("array_to_string(win, ' ')")} AS chunk_checksum
         |FROM wins
         |WHERE len(win) > 0
         |ORDER BY doc_id, win_index""".stripMargin)((s, d) =>
      Chunker.slidingChunks(Tables.documents(s, d).filter(col("doc_id") < 100),
          Seq("doc_id"), "text", windowTokens = 40, strideTokens = 30)
        .select(col("doc_id"), col("win_index"), col("win_start"), col("n_tokens"),
          Dedup.h32(col("chunk_text")).as("chunk_checksum"))
        .orderBy(col("doc_id"), col("win_index"))),
    // length-bucketed inference batching: similar-length docs batched
    // together; per-batch padding-waste fraction
    Query("q_length_batches", s"""WITH t AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM (
         |    SELECT doc_id, $toksSql AS toks FROM documents)
         |  WHERE len(toks) > 0),
         |b AS (
         |  SELECT doc_id, n, CAST(length(bin(n)) AS BIGINT) AS len_bucket,
         |    row_number() OVER (PARTITION BY length(bin(n))
         |      ORDER BY n, doc_id) AS rn
         |  FROM t)
         |SELECT len_bucket, CAST((rn - 1) // 32 AS BIGINT) AS batch_idx,
         |  count(*) AS n_docs,
         |  CAST(max(n) AS BIGINT) AS max_tokens,
         |  CAST(sum(n) AS BIGINT) AS sum_tokens,
         |  round(1.0 - sum(n)::DOUBLE / (count(*) * max(n)), 6) AS pad_frac
         |FROM b
         |GROUP BY len_bucket, (rn - 1) // 32
         |ORDER BY len_bucket, batch_idx""".stripMargin)((s, d) =>
      TextAnalysis.lengthBatches(Tables.documents(s, d), "doc_id", "text",
        batchSize = 32)))
}
