package graft.gates

import graft.SparkEntry.{duckHash, t}
import graft.functions.{Hashing, Text}
import graft.operators.{Aggregates, Dedup}
import org.apache.spark.sql.functions._

/** Relational core and aggregate gates: exact-sum aggregations, joins,
  * windows, top-k, as-of / range / interval joins, sessionization,
  * ROLLUP / CUBE / GROUPING SETS, skew and profile reports, and the
  * sketch and quantile aggregates (count-min, HLL, bottom-k, exact and
  * weighted quantiles). */
object RelationalGates {

  // A named val: SparkEntry.entry reads this gate directly.
  // A1-style wide aggregation with exact (order-independent) sums.
  val pricingSummary: Gate = Gate("q01_pricing_summary")((s, dir) => {
    import Aggregates._
    t(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        exactSum(col("l_quantity")).as("sum_qty"),
        exactSum(col("l_extendedprice")).as("sum_base_price"),
        exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        exactAvg(col("l_quantity")).as("avg_qty"),
        exactAvg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }) {
    """SELECT l_returnflag, l_linestatus,
      | CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
      | CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
      | CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)/count(l_quantity) AS avg_qty,
      | CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE)/count(l_discount) AS avg_disc,
      | CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    pricingSummary,

    // Multi-way join: fact ⋈ dim ⋈ tiny dim (broadcast), grouped revenue.
    Gate("q02_revenue_by_nation")((s, dir) => {
      import Aggregates._
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(exactSum(col("o_totalprice")).as("revenue"), count(lit(1)).as("order_count"))
    }) {
      """SELECT n_name,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        | CAST(count(*) AS BIGINT) AS order_count
        |FROM orders JOIN customer ON o_custkey=c_custkey JOIN nation ON c_nationkey=n_nationkey
        |GROUP BY n_name""".stripMargin
    },

    // Top-k with deterministic tie-break (O1/O2).
    Gate("q03_top_customers")((s, dir) => {
      import Aggregates._
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(exactSum(col("o_totalprice")).as("revenue"), count(lit(1)).as("order_count"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .orderBy(col("revenue").desc, col("o_custkey").asc)
        .limit(10)
        .select("o_custkey", "c_name", "revenue", "order_count")
    }) {
      """SELECT o_custkey, c_name, revenue, order_count FROM (
        | SELECT o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS order_count
        | FROM orders GROUP BY o_custkey) r
        |JOIN customer ON o_custkey=c_custkey
        |ORDER BY revenue DESC, o_custkey ASC LIMIT 10""".stripMargin
    },

    // J1/W2: latest-per-group via single-shuffle window (not agg+self-join).
    Gate("q04_latest_event_per_user")((s, dir) =>
      Aggregates.latestPerGroup(t(s, dir, "events"), Seq("user_id"), "ts", "event_id")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("ts_epoch"), col("value"))) {
      """SELECT user_id, event_id, event_type,
        | CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
        |      FROM events) WHERE rn=1""".stripMargin
    },

    // A4: deterministic MODE() WITHIN GROUP (ties → smallest value).
    Gate("q05_mode_event_type")((s, dir) =>
      Aggregates.deterministicMode(t(s, dir, "events"), Seq("user_id"), "event_type", "mode_event")) {
      """SELECT user_id, mode_event FROM (
        | SELECT user_id, event_type AS mode_event,
        |  row_number() OVER (PARTITION BY user_id ORDER BY count(*) DESC, event_type ASC) rn
        | FROM events GROUP BY user_id, event_type) WHERE rn=1""".stripMargin
    },

    // A1+A2+A3: daily summary with conditional counts and pct-of-group.
    Gate("q06_daily_event_summary")((s, dir) => {
      import Aggregates._
      t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("reading_date"))
        .agg(
          count(lit(1)).as("event_count"),
          exactAvg(col("value")).as("avg_value"),
          exactSum(col("value")).as("sum_value"),
          countIf(col("value") > 400.0).as("high_count"),
          pctIf(col("value") > 400.0).as("high_pct"),
          countDistinct(col("user_id")).as("distinct_users"))
    }) {
      """SELECT CAST(ts AS DATE) AS reading_date,
        | CAST(count(*) AS BIGINT) AS event_count,
        | CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)/count(value) AS avg_value,
        | CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
        | CAST(sum(CASE WHEN value>400.0 THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        | CAST(sum(CASE WHEN value>400.0 THEN 1 ELSE 0 END) AS DOUBLE)*100.0/count(*) AS high_pct,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
        |FROM events GROUP BY 1""".stripMargin
    },

    // A6/W1: distribution with percent-of-total window.
    Gate("q07_event_type_distribution")((s, dir) =>
      Aggregates.distributionWithPct(t(s, dir, "events"), "event_type")) {
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        | CAST(count(*) AS DOUBLE)*100.0/CAST(sum(count(*)) OVER () AS DOUBLE) AS pct
        |FROM events GROUP BY event_type""".stripMargin
    },

    // D1: keyed dedup keeping deterministic first (min event_id).
    Gate("q08_dedup_first_event")((s, dir) =>
      Dedup.keepFirst(t(s, dir, "events"), Seq("user_id", "event_type"), "event_id")
        .select("user_id", "event_type", "event_id")) {
      """SELECT user_id, event_type, CAST(min(event_id) AS BIGINT) AS event_id
        |FROM events GROUP BY user_id, event_type""".stripMargin
    },

    // D2: anti-join (customers with no order above threshold).
    Gate("q09_anti_join_quiet_customers")((s, dir) => {
      val bigOrders = t(s, dir, "orders").where(col("o_totalprice") > 300000.0)
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    }) {
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey AND o_totalprice>300000.0)""".stripMargin
    },

    // D4: union-all of two tagged subsets.
    Gate("q10_union_tagged_events")((s, dir) => {
      val ev = t(s, dir, "events")
      val hi = ev.where(col("event_type") === "purchase" && col("value") > 450.0)
        .select(col("user_id"), col("event_id"), lit("high_purchase").as("tag"))
      val er = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), lit("error").as("tag"))
      hi.unionByName(er)
    }) {
      """SELECT user_id, event_id, 'high_purchase' AS tag FROM events
        | WHERE event_type='purchase' AND value>450.0
        |UNION ALL
        |SELECT user_id, event_id, 'error' AS tag FROM events WHERE event_type='error'""".stripMargin
    },

    // Per-group top-k with deterministic tie-break (WindowGroupLimit path).
    Gate("q30_top_events_per_user")((s, dir) =>
      Aggregates.topKPerGroup(t(s, dir, "events"), Seq("user_id"), "value", "event_id", k = 3)
        .select("user_id", "rank", "event_id", "value")) {
      """SELECT user_id, CAST(rank AS INTEGER) AS rank, event_id, value FROM (
        | SELECT user_id, event_id, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rank
        | FROM events) WHERE rank <= 3""".stripMargin
    },

    // Gap-based sessionization (30-minute inactivity gap).
    Gate("q31_user_sessions")((s, dir) =>
      Aggregates.sessionize(t(s, dir, "events"), "user_id", "ts", gapSeconds = 1800)) {
      """WITH gapped AS (
        | SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |       WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800 THEN 1
        |       ELSE 0 END AS new_session
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        |s AS (
        | SELECT user_id, ts,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM gapped)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        | CAST(count(*) AS BIGINT) AS event_count,
        | CAST(min(floor(epoch(ts))) AS BIGINT) AS start_epoch,
        | CAST(max(floor(epoch(ts))) AS BIGINT) AS end_epoch
        |FROM s GROUP BY user_id, session_id""".stripMargin
    },

    // P1-family: schema-declared JSON payload parse (props column) + agg.
    Gate("q32_props_json_stats")((s, dir) => {
      import Aggregates._
      t(s, dir, "events")
        .withColumn("k", from_json(col("props"), lit("k INT")).getField("k"))
        .groupBy("event_type")
        .agg(
          exactAvg(col("k").cast("double")).as("avg_k"),
          countIf(col("k") > 50).as("high_k_count"),
          count(lit(1)).as("event_count"))
    }) {
      """SELECT event_type,
        | CAST(sum(CAST(CAST(CAST(json_extract_string(props,'$.k') AS INTEGER) AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
        |   / count(CAST(json_extract_string(props,'$.k') AS INTEGER)) AS avg_k,
        | CAST(sum(CASE WHEN CAST(json_extract_string(props,'$.k') AS INTEGER) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS high_k_count,
        | CAST(count(*) AS BIGINT) AS event_count
        |FROM events GROUP BY event_type""".stripMargin
    },

    // Exact interpolated percentiles per group (Spark `percentile` and
    // DuckDB `quantile_cont` share the interpolation formula bit-for-bit).
    Gate("q33_value_percentiles")((s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          expr("percentile(value, 0.5)").as("median_value"),
          expr("percentile(value, 0.9)").as("p90_value"),
          count(lit(1)).as("event_count"))) {
      """SELECT event_type,
        | quantile_cont(value, 0.5) AS median_value,
        | quantile_cont(value, 0.9) AS p90_value,
        | CAST(count(*) AS BIGINT) AS event_count
        |FROM events GROUP BY event_type""".stripMargin
    },

    // Point-in-time (as-of) join: each event sees the latest purchase of
    // the same user at-or-before its own time — the label-leakage-safe
    // feature lookup (one keyed window, not a range join).
    Gate("q42_asof_last_purchase")((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("p_event"), col("value").as("p_value"))
      graft.operators.AsOf.asOfJoin(
        ev.select("user_id", "ts", "event_id"), purchases,
        key = "user_id", time = "ts",
        payload = Seq("p_event", "p_value"), tieBreak = "p_event")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_epoch"), col("p_event"), col("p_value"))
    }) {
      // As-of: union both sides, carry the last non-null payload per user in
      // (time, side, tie) order — right rows precede left rows at equal time
      // (inclusive), equal-time purchases resolve by largest event id.
      """WITH l AS (SELECT user_id, ts, event_id, 1 AS side, 0::BIGINT AS tie,
        |                  NULL::BIGINT AS p_event, NULL::DOUBLE AS p_value FROM events),
        |r AS (SELECT user_id, ts, NULL::BIGINT AS event_id, 0 AS side, event_id AS tie,
        |             event_id AS p_event, value AS p_value FROM events
        |      WHERE event_type='purchase'),
        |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
        |c AS (SELECT user_id, ts, event_id, side,
        |        last_value(p_event IGNORE NULLS) OVER w AS p_event,
        |        last_value(p_value IGNORE NULLS) OVER w AS p_value
        |      FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, side ASC, tie ASC
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch, p_event, p_value
        |FROM c WHERE side=1""".stripMargin
    },

    // Rolling point-in-time features: each event's strictly-before one-hour
    // activity window per user (leakage-free rolling aggregates).
    Gate("q44_rolling_user_features")((s, dir) =>
      Aggregates.rollingFeatures(t(s, dir, "events"), "user_id", "ts", "value",
        lookbackSec = 3600)) {
      // Range frame [−3600, −1] on epoch seconds: equal-epoch peers excluded
      // by construction, so no peer-ordering ambiguity across engines.
      """SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
        | CAST(count(*) OVER w AS BIGINT) AS prior_count,
        | CAST(sum(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS prior_sum,
        | max(value) OVER w AS prior_max
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |             RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING)""".stripMargin
    },

    // Batch interval/range join: overlapping per-user campaign windows
    // (derived deterministically from each user's event span) joined to
    // events as an equi-join on (user, time-bucket) + residual range
    // predicate. The fact side never amplifies — only intervals replicate,
    // by ceil(span/bucket) each (see RangeJoin scaladoc).
    Gate("q49_range_join_campaigns")((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("ts_epoch"))
      val bounds = ev.groupBy("user_id")
        .agg(min(col("ts_epoch")).as("mn"), max(col("ts_epoch")).as("mx"))
      // three overlapping windows of length 2·len starting every len
      // (len = ceil(span/3)) — integer math only, bit-identical cross-engine
      val len = expr("(mx - mn + 3) DIV 3")
      val iv = bounds
        .select(col("user_id"), explode(sequence(lit(0L), lit(2L))).as("campaign_id"),
          col("mn"), col("mx"))
        .select(col("user_id"), col("campaign_id"),
          (col("mn") + col("campaign_id") * len).as("start_epoch"),
          least(col("mn") + (col("campaign_id") + 2) * len, col("mx") + 1).as("end_epoch"))
      graft.operators.RangeJoin.joinByRange(ev, iv, Seq("user_id"),
        "ts_epoch", "start_epoch", "end_epoch", bucketWidth = 7L * 86400)
        .select("user_id", "event_id", "ts_epoch", "campaign_id", "start_epoch", "end_epoch")
    }) {
      // Range join: DuckDB plans the raw range predicate itself (IEJoin);
      // the Spark side buckets — same pairs either way.
      """WITH ev AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch FROM events),
        |b AS (SELECT user_id, min(ts_epoch) AS mn, max(ts_epoch) AS mx FROM ev GROUP BY user_id),
        |iv AS (SELECT user_id, c AS campaign_id,
        |        mn + c * ((mx - mn + 3) // 3) AS start_epoch,
        |        LEAST(mn + (c + 2) * ((mx - mn + 3) // 3), mx + 1) AS end_epoch
        |       FROM b CROSS JOIN (SELECT CAST(unnest(range(3)) AS BIGINT) AS c))
        |SELECT ev.user_id, ev.event_id, ev.ts_epoch, iv.campaign_id, iv.start_epoch, iv.end_epoch
        |FROM ev JOIN iv ON ev.user_id = iv.user_id
        | AND ev.ts_epoch >= iv.start_epoch AND ev.ts_epoch < iv.end_epoch""".stripMargin
    },

    // Quantile binning (feature discretization): decile of `value` from
    // one percentile aggregation broadcast back — never a global-sort
    // ntile. Gate aggregates per (event_type, bin).
    Gate("q55_value_deciles")((s, dir) => {
      import Aggregates._
      withQuantileBins(t(s, dir, "events"), "value", DecileProbs)
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n_events"),
          min("value").as("min_value"), max("value").as("max_value"))
    }) {
      // Deciles: quantile_cont shares percentile's interpolation formula
      // bit-for-bit (q33 precedent); the bin comparison chain is unrolled in
      // the same order as the Scala expression.
      {
      val probList = DecileProbs.mkString("[", ", ", "]")
      val binChain = DecileProbs.indices
        .map(i => s"(CASE WHEN value > bounds[${i + 1}] THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH b AS (SELECT quantile_cont(value, $probList) AS bounds FROM events),
         |a AS (SELECT event_type, value,
         |  $binChain + 1 AS bin
         | FROM events, b)
         |SELECT event_type, CAST(bin AS BIGINT) AS bin,
         | CAST(count(*) AS BIGINT) AS n_events,
         | min(value) AS min_value, max(value) AS max_value
         |FROM a GROUP BY event_type, bin""".stripMargin
    }
    },

    // Numeric column profile (pandas-describe/Deequ shape): one
    // aggregation pass, long format — the pre-trust census over lineitem's
    // measure columns.
    Gate("q71_table_profile")((s, dir) =>
      graft.analytics.QualityChecks.profileNumeric(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))) {
      // Numeric profile: one row per measure column, UNION ALL per-column
      // aggregates with the exactAvg DECIMAL mean.
      {
      def one(c: String) =
        s"""SELECT '$c' AS column_name,
           | CAST(count($c) AS BIGINT) AS n_values,
           | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           | CAST(min($c) AS DOUBLE) AS min_value,
           | CAST(max($c) AS DOUBLE) AS max_value,
           | CAST(sum(CAST(CAST($c AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)/count($c) AS avg_value
           |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(one).mkString("\nUNION ALL\n")
    }
    },

    // Salted skew join: fact side salted by a row-varying column, dim
    // replicated per salt, equi-join on (key, salt) — the hot-key rows
    // spread over 8 reducers. Result ≡ the plain join (the oracle).
    Gate("q91_salted_join")((s, dir) => {
      import Aggregates._
      graft.operators.Skew.saltedJoin(
          t(s, dir, "lineitem"),
          t(s, dir, "part").withColumnRenamed("p_partkey", "l_partkey"),
          Seq("l_partkey"), bigSaltCol = "l_orderkey", saltBuckets = 8)
        .groupBy("p_brand")
        .agg(
          exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
    }) {
      // Salted join ≡ plain join: the oracle is the UNSALTED equi-join —
      // any salting artifact (dropped row, double-count from a bad
      // replicate range) breaks the hash.
      """SELECT p_brand,
        | CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN part ON l_partkey=p_partkey
        |GROUP BY p_brand""".stripMargin
    },

    // Corpus snapshot diff: two releases synthesized deterministically
    // from documents (old drops %10 ids and edits %7 texts; new drops
    // %13 ids) → per-doc added/removed/changed/unchanged with digests.
    Gate("q93_snapshot_diff")((s, dir) => {
      val d = t(s, dir, "documents")
      val oldSnap = d.where(col("doc_id") % 10 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val newSnap = d.where(col("doc_id") % 13 =!= 0)
      graft.operators.Versioning.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
    }) {
      // Snapshot diff: digest full-outer join, same synthesized releases.
      """WITH o AS (SELECT doc_id AS id,
        |   md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v1' ELSE text END) AS old_md5
        |  FROM documents WHERE doc_id % 10 <> 0),
        |n AS (SELECT doc_id AS id, md5(text) AS new_md5
        |  FROM documents WHERE doc_id % 13 <> 0)
        |SELECT coalesce(o.id, n.id) AS id,
        |  CASE WHEN o.id IS NULL THEN 'added'
        |       WHEN n.id IS NULL THEN 'removed'
        |       WHEN old_md5 = new_md5 THEN 'unchanged' ELSE 'changed' END AS status,
        |  coalesce(old_md5, '') AS old_md5, coalesce(new_md5, '') AS new_md5
        |FROM o FULL OUTER JOIN n ON o.id = n.id""".stripMargin
    },

    // Count-min sketch over the corpus token stream (depth 3 × width 64,
    // long shape): CMS merges by addition, so the ENTIRE sketch is
    // deterministic under any partitioning and the oracle recomputes it
    // bit-for-bit.
    Gate("q95_cms_sketch")((s, dir) =>
      graft.operators.CorpusStats.cmsSketch(t(s, dir, "documents"), "text",
        depth = 3, width = 64)) {
      // CMS sketch, bit-exact: same universal-hash rows (coefficients
      // inlined from Hashing.coeffs) over the md5-derived base hash.
      {
      val p = Hashing.MersennePrime
      val coeffRows = (0 until 3).map { r =>
        val (a, b) = Hashing.coeffs(r); s"($r, $a, $b)"
      }.mkString(", ")
      s"""WITH toks AS (SELECT unnest(string_split(text,' ')) AS t FROM documents),
         |h AS (SELECT ${duckHash("t")} AS h FROM toks),
         |rw(hash_row, a, b) AS (VALUES $coeffRows)
         |SELECT hash_row, ((a * (h % $p) + b) % $p) % 64 AS slot,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM h CROSS JOIN rw GROUP BY 1, 2""".stripMargin
    }
    },

    // Deterministic HLL register table (p=6, 64 buckets) per language
    // over the distinct-token stream: max-merge makes the FULL table
    // partitioning-independent AND replay-idempotent — the distinct-count
    // member of the oracle-able sketch family (q95 CMS = counts,
    // SpaceSaving = heavy keys).
    Gate("q97_hll_registers")((s, dir) =>
      graft.operators.Aggregates.hllRegisters(
        t(s, dir, "documents").select(col("lang"),
          explode(Text.tokens(col("text"))).as("tok")),
        Seq("lang"), "tok", p = 6)) {
      // HLL registers, bit-exact: bucket = low 6 bits of the md5-derived
      // hash, register = max rank of the top 54 bits (55 − bitlength;
      // bin() strips leading zeros, so length(bin(v)) IS bitlength).
      s"""WITH toks AS (SELECT lang, unnest(string_split(text,' ')) AS tok
         |  FROM documents),
         |h AS (SELECT lang, ${duckHash("tok")} AS h FROM toks)
         |SELECT lang, h % 64 AS bucket,
         |  CAST(max(CASE WHEN h // 64 = 0 THEN 55
         |                ELSE 55 - length(bin(h // 64)) END) AS BIGINT) AS register
         |FROM h GROUP BY 1, 2""".stripMargin
    },

    // Join-key skew diagnostic: top-20 hottest event users with share of
    // all rows and ratio-to-mean-key — the measurement that decides
    // between broadcast, AQE and q91's salted join.
    Gate("q99_key_skew")((s, dir) =>
      graft.operators.Skew.keySkewReport(t(s, dir, "events"), "user_id",
        topK = 20)) {
      // Key-skew report: hottest 20 keys, exact-integer numerators, single
      // IEEE divisions — identical association order on both engines.
      s"""WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
         |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys
         |      FROM c),
         |r AS (SELECT user_id, cnt,
         |  CAST(row_number() OVER (ORDER BY cnt DESC, user_id ASC) AS BIGINT)
         |    AS rank FROM c)
         |SELECT rank, user_id, cnt,
         |  CAST(cnt AS DOUBLE)*100.0/total AS share_pct,
         |  CAST(cnt*n_keys AS DOUBLE)/total AS skew_x
         |FROM r CROSS JOIN t WHERE rank <= 20""".stripMargin
    },

    // Interval×interval overlap join, bucketed: per-user synthetic
    // segments (deterministic integer arithmetic off event_id), half-open
    // overlap, each pair emitted once via the max-start-bucket rule —
    // never a per-key cartesian. Oracle = the naive overlap predicate.
    Gate("q113_interval_overlap")((s, dir) => {
      val ev = t(s, dir, "events")
      def iv(m: Long, mult: Long, spanMod: Long) =
        ev.where(col("event_id") % 3 === m)
          .select(col("user_id").as("k"), col("event_id").as("id"),
            ((col("event_id") * mult) % 2000).as("s"))
          .withColumn("e", col("s") + 5 + (col("id") % spanMod))
      graft.operators.RangeJoin.joinByOverlap(
          iv(0, 37, 50), iv(1, 53, 30), Seq("k"), "s", "e", bucketWidth = 64)
        .select("k", "a_id", "a_s", "a_e", "b_id", "b_s", "b_e")
    }) {
      // Interval overlap: the naive half-open overlap predicate over the
      // same synthetic per-user segments — validates the bucketed plan's
      // exactly-once max-start-bucket rule.
      s"""WITH a AS (SELECT user_id AS k, event_id AS a_id,
         |   (event_id * 37) % 2000 AS a_s,
         |   (event_id * 37) % 2000 + 5 + (event_id % 50) AS a_e
         |  FROM events WHERE event_id % 3 = 0),
         |b AS (SELECT user_id AS k, event_id AS b_id,
         |   (event_id * 53) % 2000 AS b_s,
         |   (event_id * 53) % 2000 + 5 + (event_id % 30) AS b_e
         |  FROM events WHERE event_id % 3 = 1)
         |SELECT k, a_id, a_s, a_e, b_id, b_s, b_e
         |FROM a JOIN b USING (k)
         |WHERE a_s < b_e AND b_s < a_e""".stripMargin
    },

    // Multi-level ROLLUP aggregation (corpus census by lang → lang×source
    // with grand total): one Expand + one aggregation — Catalyst's native
    // grouping-sets machinery, grouping_id() disambiguating subtotal
    // nulls from data nulls.
    Gate("q118_rollup_census")((s, dir) =>
      t(s, dir, "documents").rollup("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(Text.tokenCount(col("text")).cast("long")).as("n_tokens"),
          grouping_id().as("lvl"))) {
      // ROLLUP census: GROUPING() carries the same leftmost-MSB bitmask
      // convention on both engines.
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens,
        | CAST(GROUPING(lang, source) AS BIGINT) AS lvl
        |FROM documents GROUP BY ROLLUP(lang, source)""".stripMargin
    },

    // Trailing RANGE-frame features: events in the PAST HOUR per user
    // (count + exact cent sum) — value-range frames keep "last hour"
    // meaning an hour on irregularly-spaced events, where ROWS frames
    // (q44) would drift with density.
    Gate("q119_trailing_hour")((s, dir) =>
      graft.operators.Aggregates.trailingRange(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_epoch"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("cents")),
        keys = Seq("user_id"), orderCol = "ts_epoch", valueCol = col("cents"),
        horizon = 3600L)) {
      // Trailing hour: RANGE frame over epoch seconds, exact cent sums.
      """SELECT event_id, user_id,
        | CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
        | CAST(floor(value*100.0+0.5) AS BIGINT) AS cents,
        | CAST(count(*) OVER w AS BIGINT) AS trail_n,
        | CAST(sum(CAST(floor(value*100.0+0.5) AS BIGINT)) OVER w AS BIGINT) AS trail_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin
    },

    // Full CUBE over (event_type, weekday): all four grouping levels in
    // one Expand + one aggregation — q118's rollup generalized to the
    // complete grouping-sets lattice; exact cent sums.
    Gate("q121_cube_census")((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), dayofweek(col("ts")).as("weekday"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
        .cube("event_type", "weekday")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_sum"),
          grouping_id().as("lvl"))) {
      // CUBE census: DuckDB dayofweek is 0=Sunday, Spark is 1=Sunday — the
      // +1 remap from the enrichment oracles; GROUPING() bitmask as q118.
      """SELECT event_type, CAST(dayofweek(ts)+1 AS INTEGER) AS weekday,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(floor(value*100.0+0.5) AS BIGINT)) AS BIGINT) AS cents_sum,
        | CAST(GROUPING(event_type, CAST(dayofweek(ts)+1 AS INTEGER)) AS BIGINT) AS lvl
        |FROM events
        |GROUP BY CUBE(event_type, CAST(dayofweek(ts)+1 AS INTEGER))""".stripMargin
    },

    // Arbitrary GROUPING SETS — ((lang),(source),()) is NOT a rollup (no
    // hierarchy) and NOT a cube (the (lang,source) cell is absent): the
    // general grouping surface beyond q118/q121's canned forms. Still one
    // Expand + one aggregation; grouping_id bitmask as q118.
    Gate("q124_grouping_sets")((s, dir) =>
      t(s, dir, "documents")
        .groupingSets(Seq(Seq(col("lang")), Seq(col("source")), Seq.empty),
          col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(Text.tokenCount(col("text")).cast("long")).as("n_tokens"),
          grouping_id().as("lvl"))) {
      // Arbitrary grouping sets: DuckDB's native GROUPING SETS, same
      // GROUPING() bitmask convention as q118/q121.
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens,
        | CAST(GROUPING(lang, source) AS BIGINT) AS lvl
        |FROM documents GROUP BY GROUPING SETS ((lang),(source),())""".stripMargin
    },

    // Bottom-k (KMV) quantile sketch: per-source length percentiles from
    // a fixed-size deterministic sample — every quantile at once, no
    // global sort, constant map-side state (the sketch family's missing
    // member beside CMS/SpaceSaving/HLL; the shape that sets screen-band
    // thresholds like a CCNet perplexity tercile at 100 TB). The retained
    // set is the k smallest (stableHash60(id), value) pairs — a pure set
    // function, so partitioning/merge-order/engine independent; the
    // oracle re-derives the identical sample with one row_number and
    // reads the same integer nearest-rank-lower positions.
    Gate("q140_sketch_quantiles")((s, dir) => {
      import graft.expressions.BottomKSketchAgg.{sampleByHash, quantileFromSample}
      t(s, dir, "documents")
        .groupBy("source")
        .agg(sampleByHash(Hashing.stableHash60(col("doc_id").cast("string")),
          col("n_chars"), SketchK).as("smp"))
        .select(col("source"),
          quantileFromSample(col("smp"), 1, 4).as("p25"),
          quantileFromSample(col("smp"), 1, 2).as("p50"),
          quantileFromSample(col("smp"), 3, 4).as("p75"),
          quantileFromSample(col("smp"), 9, 10).as("p90"),
          size(col("smp")).cast("long").as("sample_n"))
    }) {
      // Bottom-k sketch: the oracle re-derives the retained set (k smallest
      // (hash, value) pairs per source — ties on the full pair collapse to
      // the same multiset, so row_number is safe) and reads the identical
      // nearest-rank-lower positions ⌊(m−1)·num/den⌋+1 with DuckDB's exact
      // integer // division.
      {
      val h = duckHash("CAST(doc_id AS VARCHAR)")
      s"""WITH hs AS (SELECT source, n_chars,
         |  row_number() OVER (PARTITION BY source
         |                     ORDER BY $h ASC, n_chars ASC) AS hr
         | FROM documents),
         |km AS (SELECT source, n_chars,
         |  row_number() OVER (PARTITION BY source ORDER BY n_chars ASC) AS vr,
         |  count(*) OVER (PARTITION BY source) AS m
         | FROM hs WHERE hr <= $SketchK)
         |SELECT source,
         | max(CASE WHEN vr = (m-1)*1//4+1 THEN n_chars END) AS p25,
         | max(CASE WHEN vr = (m-1)*1//2+1 THEN n_chars END) AS p50,
         | max(CASE WHEN vr = (m-1)*3//4+1 THEN n_chars END) AS p75,
         | max(CASE WHEN vr = (m-1)*9//10+1 THEN n_chars END) AS p90,
         | CAST(max(m) AS BIGINT) AS sample_n
         |FROM km GROUP BY source""".stripMargin
    }
    },

    // Exact quantiles, histogram tier: when the value domain is bounded
    // (lengths, token counts), exact per-group percentiles cost one
    // map-side-combined (group, value) histogram + one window over
    // histogram-sized frames — never a corpus sort, never a whole-group
    // percentile buffer. Same nearest-rank-lower integer convention as
    // q140, so sketch estimate and exact value compare cell-for-cell.
    // The oracle is the ROW-grain formulation (row_number over all rows)
    // — a genuinely different computation that must land on the same
    // values.
    Gate("q141_exact_quantiles")((s, dir) =>
      graft.operators.CorpusStats.exactQuantilesByGroup(
        t(s, dir, "documents"), "source", "n_chars",
        Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10)))) {
      // Exact quantiles: the oracle ranks every ROW (row_number over all
      // rows per source) where the engine cumulates a value HISTOGRAM —
      // independent formulations of the same nearest-rank-lower contract.
      s"""WITH rk AS (SELECT source, n_chars,
         |  row_number() OVER (PARTITION BY source ORDER BY n_chars ASC) AS vr,
         |  count(*) OVER (PARTITION BY source) AS n
         | FROM documents)
         |SELECT source,
         | max(CASE WHEN vr = (n-1)*1//4+1 THEN n_chars END) AS p25,
         | max(CASE WHEN vr = (n-1)*1//2+1 THEN n_chars END) AS p50,
         | max(CASE WHEN vr = (n-1)*3//4+1 THEN n_chars END) AS p75,
         | max(CASE WHEN vr = (n-1)*9//10+1 THEN n_chars END) AS p90,
         | CAST(max(n) AS BIGINT) AS n
         |FROM rk GROUP BY source""".stripMargin
    },

    // Weighted exact quantiles: "the doc length below which a quarter /
    // half / ... of my TOKENS sit" — the packing-budget question. Same
    // histogram machinery as q141 with Σweight masses (weight = token
    // count); rank runs over cumulative weight. The oracle EXPANDS each
    // doc into `weight` rows and ranks them — the obviously-correct
    // formulation the histogram must reproduce.
    Gate("q142_weighted_quantiles")((s, dir) =>
      graft.operators.CorpusStats.exactQuantilesByGroup(
        t(s, dir, "documents")
          .withColumn("w", Text.tokenCount(col("text")).cast("long")),
        "source", "n_chars",
        Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10)),
        weightCol = Some("w"))) {
      // Weighted quantiles: the oracle literally expands each doc into
      // `token count` rows (unnest(range(w))) and ranks the expansion —
      // the engine's cumulative-weight histogram must land on the same
      // values at the same ⌊(W−1)·num/den⌋+1 positions.
      s"""WITH ex AS (SELECT source, n_chars FROM (
         |  SELECT source, n_chars,
         |    unnest(range(CAST(len(string_split(text,' ')) AS BIGINT))) AS r
         |  FROM documents)),
         |rk AS (SELECT source, n_chars,
         |  row_number() OVER (PARTITION BY source ORDER BY n_chars ASC) AS vr,
         |  count(*) OVER (PARTITION BY source) AS n
         | FROM ex)
         |SELECT source,
         | max(CASE WHEN vr = (n-1)*1//4+1 THEN n_chars END) AS p25,
         | max(CASE WHEN vr = (n-1)*1//2+1 THEN n_chars END) AS p50,
         | max(CASE WHEN vr = (n-1)*3//4+1 THEN n_chars END) AS p75,
         | max(CASE WHEN vr = (n-1)*9//10+1 THEN n_chars END) AS p90,
         | CAST(max(n) AS BIGINT) AS n
         |FROM rk GROUP BY source""".stripMargin
    }
  )

  /** Bottom-k sketch size for the q140 quantile gate: rank error
    * O(1/√k) ≈ 6% at 256 — the screen-band-threshold regime (SketchSpec
    * pins the observed error), while the sample comfortably broadcasts. */
  private val SketchK = 256

  /** Interior decile probabilities shared by q55's query and oracle. */
  private val DecileProbs: Seq[Double] = (1 to 9).map(_ / 10.0)
}
