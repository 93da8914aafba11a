package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational operator surface (SURVEY.md §2: scans, projections,
  * filters, joins, aggregations, windows, sorts/limits, set ops, scalar
  * functions). The reference engine has almost none of these natively —
  * Spark SQL provides them; these queries pin the semantics against the
  * DuckDB oracle and double as the bench workload.
  *
  * Scale notes (100 TB thinking, verified via .explain in the specs):
  *   - filters/projections sit directly on the parquet scan → pushed
  *     down and pruned (PushedFilters / narrow ReadSchema);
  *   - dimension joins (region/nation/part/supplier/customer) are
  *     explicitly broadcast() — no shuffle of the fact table;
  *   - aggregations are partial+final hash aggregates (map-side combine)
  *     keyed on low-cardinality columns → tiny shuffles;
  *   - windows partition on high-cardinality keys (suppkey/custkey) so
  *     partitions stay small and spill-free at any SF.
  */
object RelationalQueries {
  import QueryDef._

  val all: Seq[QueryDef] = Seq(
    // ---- aggregation -----------------------------------------------------
    sql(
      "q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 2) AS avg_qty,
        |  round(avg(l_extendedprice), 2) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          round(sum($"l_quantity"), 2).as("sum_qty"),
          round(sum($"l_extendedprice"), 2).as("sum_base_price"),
          round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("sum_disc_price"),
          round(sum($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax")), 2).as("sum_charge"),
          round(avg($"l_quantity"), 2).as("avg_qty"),
          round(avg($"l_extendedprice"), 2).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    // ---- filter + projection (parquet pushdown) --------------------------
    sql(
      "q02_filter_pushdown",
      """SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty,
        |       round(l_extendedprice, 2) AS price
        |FROM lineitem
        |WHERE l_quantity >= 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter($"l_quantity" >= 45 && $"l_returnflag" === "R")
        .select(
          $"l_orderkey", $"l_linenumber",
          round($"l_quantity", 2).as("qty"),
          round($"l_extendedprice", 2).as("price"))
        .orderBy($"l_orderkey", $"l_linenumber")
    },

    // ---- join + aggregation (TPC-H Q3 shape) ------------------------------
    sql(
      "q03_top_revenue_orders",
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
      val o = Tables.orders(s, d)
        .filter($"o_orderdate" < lit("2000-01-01 00:00:00").cast("timestamp"))
      val l = Tables.lineitem(s, d)
      l.join(broadcast(o.join(broadcast(c), $"c_custkey" === $"o_custkey")),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_orderkey")
        .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
    },

    // ---- broadcast dimension join -----------------------------------------
    sql(
      "q04_brand_volume",
      """SELECT p_brand,
        |  round(sum(l_quantity), 2) AS total_qty,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(round(sum($"l_quantity"), 2).as("total_qty"), count(lit(1)).as("n_lines"))
        .orderBy($"p_brand")
    },

    // ---- multi-way join (TPC-H Q5 shape, region→nation→customer→orders→lineitem)
    sql(
      "q05_regional_revenue",
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin) { (s, d) =>
      val dims = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, d).filter($"r_name" === "ASIA")),
          $"n_regionkey" === $"r_regionkey")
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).join(broadcast(dims), $"o_custkey" === $"c_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"n_name")
        .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"))
        .orderBy($"n_name")
    },

    // ---- semi join ---------------------------------------------------------
    sql(
      "q06_active_customers",
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_totalprice > 300000)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d).filter($"o_totalprice" > 300000)
      Tables.customer(s, d)
        .join(o, $"c_custkey" === $"o_custkey", "left_semi")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy($"c_mktsegment")
    },

    // ---- anti join ---------------------------------------------------------
    sql(
      "q07_inactive_customers",
      """SELECT c_nationkey, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy($"c_nationkey")
    },

    // ---- window: ranking (top-n per group) ----------------------------------
    sql(
      "q08_top_orders_per_customer",
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rn
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY round(o_totalprice, 2) DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 2
        |ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"o_custkey")
        .orderBy(round($"o_totalprice", 2).desc, $"o_orderkey")
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 2)
        .select($"o_custkey", $"o_orderkey", round($"o_totalprice", 2).as("price"), $"rn")
        .orderBy($"o_custkey", $"rn")
    },

    // ---- window: running aggregate ------------------------------------------
    // NOTE: (l_suppkey, l_orderkey, l_linenumber) is not unique in the
    // synthetic data, so the window input is pre-aggregated to a unique
    // key — otherwise tied sort keys make the running sum nondeterministic
    // across engines.
    sql(
      "q09_running_supplier_volume",
      """WITH g AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |         min(l_shipdate) AS ship, round(sum(l_quantity), 2) AS qty
        |  FROM lineitem GROUP BY l_suppkey, l_orderkey, l_linenumber)
        |SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(sum(qty) OVER (PARTITION BY l_suppkey
        |    ORDER BY ship, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
        |FROM g
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"l_suppkey")
        .orderBy($"ship", $"l_orderkey", $"l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .groupBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
        .agg(min($"l_shipdate").as("ship"), round(sum($"l_quantity"), 2).as("qty"))
        .select(
          $"l_suppkey", $"l_orderkey", $"l_linenumber",
          round(sum($"qty").over(w), 2).as("running_qty"))
        .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
    },

    // ---- sort + limit --------------------------------------------------------
    sql(
      "q10_largest_orders",
      """SELECT o_orderkey, round(o_totalprice, 2) AS price
        |FROM orders
        |ORDER BY round(o_totalprice, 2) DESC, o_orderkey
        |LIMIT 10""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select($"o_orderkey", round($"o_totalprice", 2).as("price"))
        .orderBy($"price".desc, $"o_orderkey")
        .limit(10)
    },

    // ---- distinct --------------------------------------------------------------
    sql(
      "q11_distinct_flags",
      """SELECT DISTINCT l_returnflag, l_linestatus
        |FROM lineitem ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select($"l_returnflag", $"l_linestatus")
        .distinct()
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    // ---- set ops: union / intersect / except ------------------------------------
    sql(
      "q12_union_nations",
      """SELECT c_nationkey AS nkey FROM customer
        |UNION
        |SELECT s_nationkey AS nkey FROM supplier
        |ORDER BY nkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select($"c_nationkey".as("nkey"))
        .union(Tables.supplier(s, d).select($"s_nationkey".as("nkey")))
        .distinct()
        .orderBy($"nkey")
    },
    sql(
      "q13_intersect_nations",
      """SELECT c_nationkey AS nkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nkey FROM supplier
        |ORDER BY nkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select($"c_nationkey".as("nkey"))
        .intersect(Tables.supplier(s, d).select($"s_nationkey".as("nkey")))
        .orderBy($"nkey")
    },
    sql(
      "q14_except_nations",
      """SELECT n_nationkey AS nkey FROM nation WHERE n_nationkey >= 20
        |EXCEPT
        |SELECT s_nationkey AS nkey FROM supplier
        |ORDER BY nkey""".stripMargin) { (s, d) =>
      Tables.nation(s, d).filter($"n_nationkey" >= 20).select($"n_nationkey".as("nkey"))
        .except(Tables.supplier(s, d).select($"s_nationkey".as("nkey")))
        .orderBy($"nkey")
    },

    // ---- rollup ---------------------------------------------------------------
    sql(
      "q15_rollup_volume",
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |       coalesce(l_linestatus, 'ALL') AS status,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(round(sum($"l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce($"l_returnflag", lit("ALL")).as("flag"),
          coalesce($"l_linestatus", lit("ALL")).as("status"),
          $"sum_qty")
        .orderBy($"flag", $"status")
    },

    // ---- having ----------------------------------------------------------------
    sql(
      "q16_big_suppliers",
      """SELECT l_suppkey, round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem
        |GROUP BY l_suppkey
        |HAVING sum(l_quantity) > 14000
        |ORDER BY l_suppkey""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy($"l_suppkey")
        .agg(round(sum($"l_quantity"), 2).as("total_qty"), sum($"l_quantity").as("raw"))
        .filter($"raw" > 14000)
        .select($"l_suppkey", $"total_qty")
        .orderBy($"l_suppkey")
    },

    // ---- count distinct ----------------------------------------------------------
    sql(
      "q17_distinct_parts_per_flag",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("n_parts"))
        .orderBy($"l_returnflag")
    },

    // ---- event-time bucketing (batch analogue of the streaming window) -----------
    sql(
      "q18_hourly_events",
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, event_type,
        |  count(*) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY hour_ts, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", $"ts").as("hour_ts"), $"event_type")
        .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("total_value"))
        .orderBy($"hour_ts", $"event_type")
    },

    // ---- top-k by frequency ---------------------------------------------------------
    sql(
      "q19_top_users",
      """SELECT user_id, count(*) AS n_events
        |FROM events
        |GROUP BY user_id
        |ORDER BY n_events DESC, user_id
        |LIMIT 20""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"))
        .orderBy($"n_events".desc, $"user_id")
        .limit(20)
    },

    // ---- scalar expression surface ------------------------------------------------
    sql(
      "q20_scalar_functions",
      """SELECT o_orderkey,
        |  upper(o_orderpriority) AS pri_upper,
        |  substr(o_orderstatus, 1, 1) AS status_c,
        |  CAST(year(o_orderdate) AS INT) AS order_year,
        |  CAST(month(o_orderdate) AS INT) AS order_month,
        |  round(sqrt(o_totalprice), 4) AS price_sqrt,
        |  CASE WHEN o_totalprice >= 250000 THEN 'big'
        |       WHEN o_totalprice >= 100000 THEN 'mid'
        |       ELSE 'small' END AS bucket,
        |  CAST(length(o_orderpriority) AS INT) AS pri_len
        |FROM orders
        |WHERE o_orderkey < 1000
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .filter($"o_orderkey" < 1000)
        .select(
          $"o_orderkey",
          upper($"o_orderpriority").as("pri_upper"),
          substring($"o_orderstatus", 1, 1).as("status_c"),
          year($"o_orderdate").as("order_year"),
          month($"o_orderdate").as("order_month"),
          round(sqrt($"o_totalprice"), 4).as("price_sqrt"),
          when($"o_totalprice" >= 250000, "big")
            .when($"o_totalprice" >= 100000, "mid")
            .otherwise("small").as("bucket"),
          length($"o_orderpriority").as("pri_len"))
        .orderBy($"o_orderkey")
    },

    // ---- cube ------------------------------------------------------------------
    sql(
      "q21_cube_volume",
      """SELECT coalesce(event_type, 'ALL') AS etype,
        |       coalesce(CAST(bucket AS VARCHAR), 'ALL') AS ubucket,
        |       CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total
        |FROM (SELECT event_type, CAST(user_id % 3 AS INT) AS bucket, value FROM events)
        |GROUP BY CUBE(event_type, bucket)
        |ORDER BY etype, ubucket""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select($"event_type", ($"user_id" % 3).cast("int").as("bucket"), $"value")
        .cube($"event_type", $"bucket")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
        .select(
          coalesce($"event_type", lit("ALL")).as("etype"),
          coalesce($"bucket".cast("string"), lit("ALL")).as("ubucket"),
          $"n", $"total")
        .orderBy($"etype", $"ubucket")
    },

    // ---- pivot -----------------------------------------------------------------
    sql(
      "q22_pivot_event_types",
      """SELECT CAST(user_id % 10 AS INT) AS ubucket,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY ubucket""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(($"user_id" % 10).cast("int").as("ubucket"), $"event_type")
        .groupBy($"ubucket")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy($"ubucket")
    },

    // ---- semi-structured (JSON) -------------------------------------------------
    sql(
      "q23_json_props",
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 2) AS k_avg
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val k = get_json_object($"props", "$.k").cast("int")
      Tables.events(s, d)
        .groupBy($"event_type")
        .agg(sum(k).as("k_sum"), round(avg(k), 2).as("k_avg"))
        .orderBy($"event_type")
    },

    // ---- skew-resistant aggregation ----------------------------------------------
    // Salted two-phase count+sum: identical results to the direct
    // groupBy (the oracle IS the direct groupBy) with the shuffle
    // spread over (key, salt) first — the hot-key-safe layout at 100 TB.
    sql(
      "q24_salted_user_stats",
      """SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(value), 2) AS total
        |FROM events GROUP BY user_id ORDER BY key""".stripMargin) { (s, d) =>
      graft.operators.Skew
        .saltedCountSum(Tables.events(s, d), $"user_id", $"value", saltBuckets = 16)
        .select($"key", $"n", round($"total", 2).as("total"))
        .orderBy($"key")
    },

    // ---- deterministic sampling --------------------------------------------------
    // Hash-based 1/16 sample: reproducible across engines, runs, and
    // partitionings (unlike seed-based RNG sampling) — the right
    // primitive for auditable training-data subsets.
    sql(
      "q25_hash_sample",
      """SELECT event_id, user_id, event_type
        |FROM events
        |WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0'
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .filter(substring(md5($"event_id".cast("string").cast("binary")), 1, 1) === "0")
        .select($"event_id", $"user_id", $"event_type")
        .orderBy($"event_id")
    },

    // ---- exact quantiles ---------------------------------------------------------
    sql(
      "q26_value_quantiles",
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy($"event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"))
        .orderBy($"event_type")
    },

    // HLL approximate distinct gated against exact — sketch internals
    // differ per engine, so the hashed output carries the exact count
    // plus a within-tolerance flag the HLL estimate must satisfy (the
    // oracle asserts TRUE). Tolerance 15% = 3× the default relative
    // standard deviation (rsd 0.05) — an estimate outside 3σ means the
    // sketch is broken, not unlucky. (A 5% flag was a coin flip by
    // construction: 1σ holds only ~68% of the time per group, and at
    // sf0.1 one group legitimately landed at 5.9% error.) The per-group
    // ≲1σ behavior on well-spread data is spec territory:
    // ApproxDistinctSpec measures it on controlled cardinalities.
    sql(
      "q29_approx_distinct",
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS hll_within_3sigma
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy($"event_type")
        .agg(
          approx_count_distinct($"user_id").as("approx_users"),
          countDistinct($"user_id").as("exact_users"))
        .select($"event_type", $"exact_users",
          (abs($"approx_users" - $"exact_users").cast("double") /
            greatest($"exact_users", lit(1L)) <= 0.15).as("hll_within_3sigma"))
        .orderBy($"event_type")
    },

    // Sketch-based percentiles gated against exact — the quantile a
    // 100 TB user actually runs: exact percentile materializes every
    // group's values for a per-group sort, while approx_percentile
    // (KLL/GK-style sketch) is a bounded-memory partial+final
    // aggregate; at scale ONLY the sketch is feasible, and this query
    // is the standing proof it can be trusted. Sketch internals differ
    // per engine (q29's HLL precedent), so the hashed output carries
    // the exact quantiles plus a within-band flag the estimate must
    // satisfy (the oracle asserts TRUE): at accuracy 10000 the sketch
    // guarantees rank error ≤ n/10000, so the estimate must lie
    // between the exact 'p ± 0.001' quantiles — 10× the guaranteed
    // rank band, so a flag failure means a broken sketch, never an
    // unlucky one. Band endpoints get the ±1e-9 FP cushion.
    sql(
      "q39_approx_percentile",
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99,
        |  TRUE AS p50_in_band, TRUE AS p90_in_band, TRUE AS p99_in_band
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      // In-band contract in RANK space, from the GK sketch's own
      // guarantee (round-11 verdict #3): approx_percentile(accuracy a)
      // returns a data value whose rank is within ε·n of p·n, ε = 1/a.
      // A value-space band (exact percentile at p±ε) collapses below
      // the inter-sample spacing at small n — sf0.001's ~100-row
      // groups flipped the flag even though the sketch met its
      // guarantee. Rank-space is scale-free: count the returned
      // value's rank interval [lt+1, le] directly and allow ε·n + 1
      // ranks (+1 pads the floor/ceil convention), so the flag is
      // TRUE at ANY n exactly iff the sketch honors its ε. Costs one
      // extra scan joined against the 1-row-per-type broadcast.
      val ev = Tables.events(s, d)
      val stats = ev.groupBy($"event_type")
        .agg(
          expr("percentile(value, array(0.5, 0.9, 0.99))").as("ex"),
          expr("approx_percentile(value, array(0.5, 0.9, 0.99), 10000)").as("ap"),
          count(lit(1)).as("n"))
      val ranks = ev
        .join(broadcast(stats.select($"event_type", $"ap")), Seq("event_type"))
        .groupBy($"event_type")
        .agg(
          sum(when($"value" < $"ap" (0), 1L).otherwise(0L)).as("lt50"),
          sum(when($"value" <= $"ap" (0), 1L).otherwise(0L)).as("le50"),
          sum(when($"value" < $"ap" (1), 1L).otherwise(0L)).as("lt90"),
          sum(when($"value" <= $"ap" (1), 1L).otherwise(0L)).as("le90"),
          sum(when($"value" < $"ap" (2), 1L).otherwise(0L)).as("lt99"),
          sum(when($"value" <= $"ap" (2), 1L).otherwise(0L)).as("le99"))
      def inBand(lt: org.apache.spark.sql.Column, le: org.apache.spark.sql.Column,
          p: Double): org.apache.spark.sql.Column = {
        val tol = $"n" * (1.0 / 10000) + 1.0
        lt <= $"n" * p + tol && le >= $"n" * p - tol
      }
      stats.join(ranks, Seq("event_type"))
        .select($"event_type",
          round($"ex" (0), 4).as("p50"),
          round($"ex" (1), 4).as("p90"),
          round($"ex" (2), 4).as("p99"),
          inBand($"lt50", $"le50", 0.5).as("p50_in_band"),
          inBand($"lt90", $"le90", 0.9).as("p90_in_band"),
          inBand($"lt99", $"le99", 0.99).as("p99_in_band"))
        .orderBy($"event_type")
    },

    // ---- analytic window functions ------------------------------------------------
    sql(
      "q27_window_analytics",
      """SELECT event_id,
        |  lag(event_id) OVER w AS prev_event,
        |  lead(event_id) OVER w AS next_event,
        |  CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS value_rank,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val wr = Window.partitionBy($"user_id").orderBy($"value".desc, $"event_id")
      Tables.events(s, d)
        .select(
          $"event_id",
          lag($"event_id", 1).over(w).as("prev_event"),
          lead($"event_id", 1).over(w).as("next_event"),
          rank().over(wr).cast("long").as("value_rank"),
          ntile(4).over(w).as("quartile"))
        .orderBy($"event_id")
    },

    // ---- ordered array aggregation ------------------------------------------------
    sql(
      "q28_array_agg",
      """SELECT user_id,
        |  list_aggregate(list_sort(list(DISTINCT event_type)), 'string_agg', ',') AS types,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy($"user_id")
        .agg(
          array_join(sort_array(collect_set($"event_type")), ",").as("types"),
          countDistinct($"event_type").as("n_types"))
        .orderBy($"user_id")
    },

    // ---- bucketed co-located join ---------------------------------------
    // The 100 TB layout technique the other joins can't show: both
    // sides written bucketed (8 buckets, Spark-native murmur3) + sorted
    // on the join key, so the fact-fact join is Exchange-FREE — each
    // task merge-zips one pre-sorted bucket file per side. The merge
    // hint pins SortMergeJoin (broadcast would win at test SF and hide
    // the property); PlanQualitySpec asserts no exchange or sort feeds
    // the join and both scans carry the bucket spec. Oracle: the same
    // join over the plain tables — bucketing must not change a row.
    sql(
      "q30_bucketed_join",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val (li, ord) = bucketedPair(s, d)
      s.table(li).hint("merge")
        .join(s.table(ord), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).as("n_items"),
          round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"))
        .orderBy($"o_orderpriority")
    },

    // ---- MERGE-style snapshot upsert over the bucketed layout ------------
    // The write side of the incremental pipeline (t25 dedups the
    // increment; this applies it): one full-outer join on the key where
    // the update wins ('U'), unmatched update keys insert ('I'), the
    // rest carry over ('K'). The snapshot is the q30 bucketed table —
    // read IN PLACE, zero shuffle on the 100 TB side; only the raw
    // increment (modified keys %10 + brand-new keys offset by 1e9)
    // shuffles, into the snapshot's bucket count (plan-gated: exactly
    // one Exchange below the join). Rounding happens on the INPUTS in
    // both engines so the coalesce compares identical doubles.
    sql(
      "q31_bucketed_upsert",
      """WITH upd AS (
        |  SELECT o_orderkey, round(o_totalprice * 1.1 + 1e-9, 2) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, round(o_totalprice + 1e-9, 2)
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |snap AS (SELECT o_orderkey, round(o_totalprice + 1e-9, 2) AS o_totalprice FROM orders)
        |SELECT coalesce(u.o_orderkey, s.o_orderkey) AS o_orderkey,
        |  coalesce(u.o_totalprice, s.o_totalprice) AS o_totalprice,
        |  CASE WHEN u.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL THEN 'U'
        |       WHEN u.o_orderkey IS NOT NULL THEN 'I' ELSE 'K' END AS action
        |FROM snap s FULL OUTER JOIN upd u ON s.o_orderkey = u.o_orderkey
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val (_, ord) = bucketedPair(s, d)
      val snap = s.table(ord)
        .select($"o_orderkey", round($"o_totalprice" + 1e-9, 2).as("o_totalprice"))
      val plain = Tables.orders(s, d)
      val upd = plain.filter($"o_orderkey" % 10 === 0)
        .select($"o_orderkey", round($"o_totalprice" * 1.1 + 1e-9, 2).as("o_totalprice"))
        .unionByName(plain.filter($"o_orderkey" % 97 === 0)
          .select(($"o_orderkey" + 1000000000L).as("o_orderkey"),
            round($"o_totalprice" + 1e-9, 2).as("o_totalprice")))
      graft.operators.Upsert.upsert(snap, upd, "o_orderkey")
        .orderBy($"o_orderkey")
    },

    // Dataset profiling — per-column row/null/exact-distinct counts and
    // min/max, ALL columns in ONE table pass: the multiple exact
    // count(distinct)s plan as a single Expand (row × profiled-column
    // fan-out) + partial+final aggregate, min/max/nulls ride the same
    // aggregate, and the per-column unpivot is a literal struct explode
    // over the single 1-row result (see operators/Profile.scala). The
    // ingestion data-quality gate every training pipeline runs first.
    sql(
      "q32_profile",
      """SELECT 'event_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) - count(event_id) AS BIGINT) AS n_nulls,
        |  CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |  CAST(min(event_id) AS VARCHAR) AS min_v, CAST(max(event_id) AS VARCHAR) AS max_v
        |FROM events
        |UNION ALL
        |SELECT 'event_type', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(event_type) AS BIGINT),
        |  CAST(count(DISTINCT event_type) AS BIGINT),
        |  CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR)
        |FROM events
        |UNION ALL
        |SELECT 'user_id', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(user_id) AS BIGINT),
        |  CAST(count(DISTINCT user_id) AS BIGINT),
        |  CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
        |FROM events
        |ORDER BY col_name""".stripMargin) { (s, d) =>
      graft.operators.Profile.profile(
        Tables.events(s, d), Seq("event_id", "event_type", "user_id"))
    },

    // Z-order (Morton) cell assignment over (l_partkey, l_suppkey):
    // the lakehouse multi-dimensional layout key — write the table
    // partitionBy(zcell) and a range box on EITHER or BOTH keys prunes
    // at listing time (ZOrderSpec proves the pruning end-to-end; this
    // query pins the cell assignment itself). Pure integer shift/mask
    // arithmetic, generated from ONE loop for both engines — no
    // floats, no UDF, whole-stage codegen. Per-cell extents double as
    // the locality evidence: each cell's partkey/suppkey spread is
    // ~1/8 of the domain, both dimensions at once.
    sql(
      "q33_zorder_cells", {
        val qa = graft.operators.ZOrder.quantizeSql("l_partkey", "r.pmin", "r.pmax", 3)
        val qb = graft.operators.ZOrder.quantizeSql("l_suppkey", "r.smin", "r.smax", 3)
        s"""WITH r AS (SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
           |             min(l_suppkey) AS smin, max(l_suppkey) AS smax FROM lineitem),
           |q AS (SELECT $qa AS qa, $qb AS qb, l_partkey, l_suppkey FROM lineitem, r),
           |z AS (SELECT ${graft.operators.ZOrder.zValueSql("qa", "qb", 3)} AS zcell,
           |        l_partkey, l_suppkey FROM q)
           |SELECT zcell, CAST(count(*) AS BIGINT) AS n,
           |  min(l_partkey) AS p_min, max(l_partkey) AS p_max,
           |  min(l_suppkey) AS s_min, max(l_suppkey) AS s_max
           |FROM z GROUP BY zcell ORDER BY zcell""".stripMargin
      }) { (s, d) =>
      import graft.operators.ZOrder
      val li = Tables.lineitem(s, d).select($"l_partkey", $"l_suppkey")
      val rng = li.agg(
        min($"l_partkey").as("pmin"), max($"l_partkey").as("pmax"),
        min($"l_suppkey").as("smin"), max($"l_suppkey").as("smax"))
      li.crossJoin(broadcast(rng))
        .select(
          ZOrder.zValue(
            ZOrder.quantize($"l_partkey", $"pmin", $"pmax", 3),
            ZOrder.quantize($"l_suppkey", $"smin", $"smax", 3), 3).as("zcell"),
          $"l_partkey", $"l_suppkey")
        .groupBy($"zcell")
        .agg(count(lit(1)).as("n"),
          min($"l_partkey").as("p_min"), max($"l_partkey").as("p_max"),
          min($"l_suppkey").as("s_min"), max($"l_suppkey").as("s_max"))
        .orderBy($"zcell")
    },

    // Batch sessionization (30-minute inactivity gap): the canonical
    // event-log feature-engineering op — lag-gap flag, running count
    // of flags = session id, then per-session stats. Both windows
    // partition on user_id (high cardinality → small, parallel,
    // spill-free partitions at any SF) and share ONE ordering
    // (ts, event_id), so the plan sorts each user partition once and
    // runs both window functions in a single Window node. The gap test
    // compares exact epoch MICROSECONDS (unix_micros ⇄ epoch_us) —
    // float seconds would round ties differently across engines.
    sql(
      "q34_sessionize",
      """WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM g)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val prev = lag($"ts", 1).over(w)
      Tables.events(s, d)
        .withColumn("new_sess",
          when(prev.isNull ||
            unix_micros($"ts") - unix_micros(prev) > 1800000000L, 1).otherwise(0))
        .withColumn("session_no",
          sum($"new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"session_no")
        .agg(
          min($"ts").as("session_start"), max($"ts").as("session_end"),
          count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
        .orderBy($"user_id", $"session_no")
    },

    // Time-series resample + gap-fill: hourly mean per event_type over
    // a complete hour spine (sequence() from the global [min,max]
    // hour), missing hours forward-filled with the last observed value
    // (last(_, ignoreNulls) over an unbounded-preceding window — the
    // LOCF every monitoring/feature pipeline needs). The spine is
    // |event_types| × |hours| — dimension-table sized, built from a
    // broadcast 1-row range — and BOTH spine inputs (type set, hour
    // range) are derived from the hourly aggregate, which is
    // materialized ONCE via eager localCheckpoint (Collapse's idiom):
    // date_trunc is monotone, so min/max over hourly hours equal the
    // truncated global min/max, and without the materialization
    // Catalyst pushes those aggregates straight back to the base table
    // — three full fact scans at any SF. Gated: the final plan holds
    // exactly one parquet scan. The fill window partitions per type, so
    // state is one value per partition. avg is rounded to 4dp BEFORE
    // the fill in both engines so summation-order noise can't propagate
    // through the carried values.
    sql(
      "q35_gapfill",
      """WITH rng AS (SELECT date_trunc('hour', min(ts)) AS hmin,
        |                    date_trunc('hour', max(ts)) AS hmax FROM events),
        |spine AS (
        |  SELECT et.event_type, h.hour
        |  FROM (SELECT DISTINCT event_type FROM events) et
        |  CROSS JOIN (SELECT unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS hour
        |              FROM rng) h),
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |         round(avg(value) + 1e-9, 4) AS avg_value
        |  FROM events GROUP BY 1, 2)
        |SELECT s.event_type, s.hour,
        |  h.avg_value IS NULL AS is_gap,
        |  last_value(h.avg_value IGNORE NULLS) OVER (
        |    PARTITION BY s.event_type ORDER BY s.hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM spine s LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hour = h.hour
        |ORDER BY s.event_type, s.hour""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val hourly = ev
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
        .agg(round(avg($"value") + 1e-9, 4).as("avg_value"))
        .localCheckpoint(true)
      val rng = hourly.agg(min($"hour").as("hmin"), max($"hour").as("hmax"))
      val spine = hourly.select($"event_type").distinct()
        .crossJoin(broadcast(rng))
        .select($"event_type",
          explode(expr("sequence(hmin, hmax, interval 1 hour)")).as("hour"))
      val fillW = Window.partitionBy($"event_type").orderBy($"hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("event_type", "hour"), "left")
        .select($"event_type", $"hour",
          $"avg_value".isNull.as("is_gap"),
          last($"avg_value", ignoreNulls = true).over(fillW).as("filled_value"))
        .orderBy($"event_type", $"hour")
    },

    // Explicit GROUPING SETS (beyond q15's rollup / q21's cube): the
    // arbitrary-combination form a reporting layer asks for, planned as
    // ONE Expand + partial+final aggregate — the fact table is scanned
    // once, never per set. grouping() flags disambiguate the
    // superaggregate rows portably (the data has no NULL flags, so the
    // 'ALL' coalesce is unambiguous); both engines cast the flag to INT
    // because Spark's grouping() is TINYINT and DuckDB's is BIGINT.
    sql(
      "q36_grouping_sets",
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_rflag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_lstatus,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_rflag, g_lstatus, rflag, lstatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"), Seq.empty),
          $"l_returnflag", $"l_linestatus")
        .agg(
          grouping($"l_returnflag").cast("int").as("g_rflag"),
          grouping($"l_linestatus").cast("int").as("g_lstatus"),
          count(lit(1)).as("n"),
          round(sum($"l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce($"l_returnflag", lit("ALL")).as("rflag"),
          coalesce($"l_linestatus", lit("ALL")).as("lstatus"),
          $"g_rflag", $"g_lstatus", $"n", $"sum_qty")
        .orderBy($"g_rflag", $"g_lstatus", $"rflag", $"lstatus")
    },

    // The remaining rank-family window functions in one query (q08/q09
    // cover row_number/rank/lag/running frames; q34 lag-gap; q35 LOCF):
    // dense_rank / percent_rank / cume_dist on the tie-TOLERANT window
    // (they depend only on rank and count, so price ties can't make
    // them nondeterministic), nth_value on the tie-BROKEN refinement —
    // whose ordering extends w1's, so Catalyst satisfies both Window
    // nodes with ONE sort (plan-gated). percent_rank/cume_dist are
    // exact small-integer divisions — bit-identical across engines.
    sql(
      "q38_window_suite",
      """SELECT o_custkey, o_orderkey,
        |  CAST(dense_rank() OVER w1 AS INT) AS dr,
        |  round(percent_rank() OVER w1 + 1e-9, 6) AS pr,
        |  round(cume_dist() OVER w1 + 1e-9, 6) AS cd,
        |  round(nth_value(o_totalprice, 2) OVER (w2 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS second_price
        |FROM orders
        |WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC),
        |       w2 AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w1 = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc)
      val w2 = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        // w2 computes FIRST: its (price DESC, orderkey) sort is a
        // refinement of w1's required ordering, so the w1 Window node
        // reuses it and the plan carries ONE window sort, not two
        .withColumn("second_price", round(nth_value($"o_totalprice", 2).over(w2), 2))
        .select($"o_custkey", $"o_orderkey",
          dense_rank().over(w1).cast("int").as("dr"),
          round(percent_rank().over(w1) + 1e-9, 6).as("pr"),
          round(cume_dist().over(w1) + 1e-9, 6).as("cd"),
          $"second_price")
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // Incremental aggregate maintenance (materialized-view delta): the
    // per-type statistics snapshot of the historical half is STORED
    // (mergeable state — count/sum/min/max, never finalized averages),
    // and the arriving half is aggregated alone and MERGED in; the
    // history contributes only its state parquet at query time, never
    // raw rows (plan-gated: the only scans are the state table and the
    // increment). The oracle recomputes from the FULL table — merge
    // associativity means the two must agree exactly; avg derives from
    // (sum, cnt) at finalize, because an average cannot be merged from
    // averages. Double sums round 2dp / avgs 4dp with the +1e-9 nudge
    // in both engines (summation-order noise).
    sql(
      "q37_incremental_agg",
      incrementalAggOracle) { (s, d) =>
      import graft.operators.IncrementalAgg
      val snapshot = s.read.parquet(incAggSnapshot(s, d))
      val increment = IncrementalAgg.aggState(
        Tables.events(s, d).filter(!Tables.inLowMd5Half($"event_id")),
        Seq($"event_type"), $"value")
      finalizeIncAgg(IncrementalAgg.merge(snapshot, increment, Seq("event_type")))
    },

    // SCD2 history build: each user's event_type change-log collapses
    // into versioned [valid_from, valid_to) runs with is_current on the
    // open row — the dimension-history shape (Scd2.fromChangeLog). ONE
    // hash shuffle: flagging, version numbering, the per-version
    // aggregate, and the valid_to chain all reuse the user_id
    // clustering (plan-gated). The oracle spells the identical window
    // algebra in DuckDB.
    sql("q41_scd2_history", scd2OracleSql) { (s, d) =>
      graft.operators.Scd2.fromChangeLog(
          Tables.events(s, d), key = "user_id", ts = "ts",
          tieBreak = "event_id", attrs = Seq("event_type"))
        .orderBy($"user_id", $"version_no")
    },

    // SCD2 incremental merge: the STORED dimension (built once from the
    // first half of the log, ts < Jan 16, and persisted — the q37
    // snapshot precedent; production dims live in parquet, not in a
    // recomputed subtree) absorbs the second half as an increment —
    // only touched keys' CURRENT rows are replayed (closed history and
    // untouched keys pass through), and out-of-order updates are
    // refused via last_seen_ts. The oracle is the FULL-log rebuild
    // (q41's SQL verbatim): merge == rebuild is the exactness claim,
    // and this query is its standing hash-proof.
    sql("q42_scd2_merge", scd2OracleSql) { (s, d) =>
      import graft.operators.Scd2
      val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
      val dim = s.read.parquet(scd2Snapshot(s, d))
      Scd2.applyIncrement(dim, Tables.events(s, d).filter($"ts" >= cutoff),
          key = "user_id", ts = "ts", tieBreak = "event_id",
          attrs = Seq("event_type"))
        .orderBy($"user_id", $"version_no")
    },

    // Small-file compaction with a content-preservation proof: the
    // events table is fragmented into 64 micro-batch-sized files (the
    // streaming-ingest pathology), compacted by BYTE budget through a
    // shuffle-free coalesce rewrite, and the query hashes row count +
    // two checksums computed FROM THE COMPACTED FILES against the
    // oracle's originals — plus the files-shrank flag from the
    // compaction report. Identical aggregates ⇒ the rewrite lost and
    // invented nothing.
    sql(
      "q43_compaction",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
        |  round(sum(value) + 1e-9, 2) AS sum_value,
        |  TRUE AS files_compacted""".stripMargin + "\nFROM events") { (s, d) =>
      val (outDir, report) = compactedEvents(s, d)
      s.read.parquet(outDir)
        .agg(
          count(lit(1)).as("n_rows"),
          sum($"event_id").as("sum_event_id"),
          round(sum($"value") + 1e-9, 2).as("sum_value"))
        .select($"n_rows", $"sum_event_id", $"sum_value",
          lit(report.filesAfter < report.filesBefore).as("files_compacted"))
    },

    // Incremental DISTINCT-count maintenance: q37's state algebra
    // cannot hold count(DISTINCT user_id) — distinct counts do not
    // merge — so the production answer is a MERGEABLE sketch state:
    // the stored snapshot keeps one HLL sketch (datasketches
    // hll_sketch_agg, lgK=14) per event_type over the historical half,
    // the increment sketches its half alone, and the merge is
    // hll_union on the state rows. Two flags make the claim hashable:
    // split_invariant asserts the merged estimate is IDENTICAL under a
    // completely different increment partitioning (event-id parity vs
    // md5 halves) — union register state depends only on the data,
    // never on how increments arrived, which is q37's
    // batch-slicing-invariance claim in sketch form. (Deliberately NOT
    // compared against the single-stream sketch: datasketches serves
    // streamed sketches from the HIP estimator but unions from the
    // composite one, so that equality would be false even with
    // identical registers.) hll_within_5pct gates the served estimate
    // against the exact distinct (q29's trust pattern). The oracle
    // asserts both TRUE with exact counts.
    sql(
      "q44_incremental_distinct",
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS split_invariant, TRUE AS hll_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      def halfSketch(pred: org.apache.spark.sql.Column, as: String) =
        Tables.events(s, d).filter(pred).groupBy($"event_type")
          .agg(expr("hll_sketch_agg(user_id, 14)").as(as))
      def mergedEst(a: org.apache.spark.sql.DataFrame, an: String,
          b: org.apache.spark.sql.DataFrame, bn: String, as: String) =
        // a one-sided key must STILL estimate through hll_union (self-
        // union: identical registers, same estimate class) — a bare
        // coalesce would serve the streamed sketch's HIP estimate and
        // reintroduce the HIP-vs-composite mismatch for keys present in
        // only one half of one split
        a.join(b, Seq("event_type"), "full_outer")
          .select($"event_type",
            when(col(an).isNotNull && col(bn).isNotNull,
              expr(s"hll_union($an, $bn)"))
              .when(col(an).isNotNull, expr(s"hll_union($an, $an)"))
              .otherwise(expr(s"hll_union($bn, $bn)")).as("sk_m"))
          .select($"event_type", expr("hll_sketch_estimate(sk_m)").as(as))
      val snapshot = s.read.parquet(hllSnapshot(s, d))
      val estInc = mergedEst(
        snapshot,
        "sk", halfSketch(!Tables.inLowMd5Half($"event_id"), "sk_i"), "sk_i",
        "est_inc")
      val estAlt = mergedEst(
        halfSketch($"event_id" % 2 === 0, "sk_e"), "sk_e",
        halfSketch($"event_id" % 2 =!= 0, "sk_o"), "sk_o",
        "est_alt")
      val exact = Tables.events(s, d).groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_users"))
      exact.join(estInc, Seq("event_type")).join(estAlt, Seq("event_type"))
        .select($"event_type", $"exact_users",
          ($"est_inc" === $"est_alt").as("split_invariant"),
          (abs($"est_inc" - $"exact_users").cast("double") /
            greatest($"exact_users", lit(1L)) <= 0.05).as("hll_within_5pct"))
        .orderBy($"event_type")
    },

    // Temporal lookup against the SCD2 dimension (Scd2.lookup): every
    // event enriched with the version (and tracked attribute) VALID AT
    // its timestamp — the canonical SCD2 consumer, run as a single-
    // shuffle as-of join instead of an interval join (versions are
    // contiguous, so "covering interval" == "latest version at or
    // before ts"; a zero-width same-instant version correctly loses to
    // its superseder). The oracle is an explicit validity-INTERVAL
    // join over the independently re-derived version table — the two
    // formulations must agree row-for-row, including at exact
    // boundaries.
    sql(
      "q46_scd2_lookup",
      """WITH flagged AS (
        |  SELECT user_id, ts, event_type, event_id,
        |    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
        |              OR lag(event_id) OVER w IS NULL THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version_no FROM flagged),
        |ver AS (
        |  SELECT user_id, version_no, min(event_type) AS event_type,
        |    min(ts) AS valid_from
        |  FROM numbered GROUP BY user_id, version_no),
        |fin AS (
        |  SELECT *, lead(valid_from) OVER (PARTITION BY user_id ORDER BY version_no) AS valid_to
        |  FROM ver)
        |SELECT e.event_id, e.user_id, e.ts, f.version_no, f.event_type AS state_type
        |FROM events e JOIN fin f ON e.user_id = f.user_id
        |  AND f.valid_from <= e.ts AND (f.valid_to IS NULL OR e.ts < f.valid_to)
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      import graft.operators.Scd2
      val events = Tables.events(s, d)
      val dim = Scd2.fromChangeLog(events, key = "user_id", ts = "ts",
        tieBreak = "event_id", attrs = Seq("event_type"))
      Scd2.lookup(
          events.select($"event_id", $"user_id", $"ts"), dim,
          key = "user_id", factTs = "ts",
          payload = Seq("version_no" -> "version_no", "event_type" -> "state_type"))
        .orderBy($"event_id")
    },

    // Incremental Z-order-clustered ingest (ZOrderTable): the low-md5
    // half CREATES the cell-partitioned table (ranges trained once and
    // persisted with a layout fingerprint), the high half APPENDS under
    // the STORED ranges (drifted quantization would split cells —
    // fingerprint-refused; out-of-range values clamp into edge cells),
    // and a rectangle query serves from the two-phase table via
    // PartitionFilters cell pruning + exact re-filter (plan-gated).
    // The oracle is the PLAIN filter over the full table — hash
    // equality proves the whole create/append/query lifecycle loses
    // and invents nothing.
    sql(
      "q47_zorder_ingest",
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  round(l_extendedprice, 2) AS price
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 20 AND 60
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, price""".stripMargin) { (s, d) =>
      graft.operators.ZOrderTable.boxQuery(
          s, zorderTableDir(s, d), "l_partkey", "l_suppkey",
          aLo = 100L, aHi = 300L, bLo = 20L, bHi = 60L)
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
          round($"l_extendedprice", 2).as("price"))
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey", $"price")
    },

    // Declarative data-quality expectations (Expectations.report): the
    // publish gate an ingest pipeline runs — not-null, range, value
    // domain, key uniqueness, and two referential-integrity checks over
    // lineitem, as one report row per constraint. All scan-local checks
    // fuse into ONE aggregate over ONE scan regardless of constraint
    // count; each FK is a broadcast anti-join (plan-gated). The fixture
    // is deliberately mixed: this synthetic lineitem really does repeat
    // (l_orderkey, l_linenumber) and has quantities above 45, so the
    // report proves violation COUNTING, not just all-green flags.
    sql(
      "q45_quality_checks",
      """WITH r(check_name, violations, ord) AS (
        |  SELECT 'orderkey_not_null',
        |    CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT), 0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'quantity_range',
        |    CAST(count(*) FILTER (WHERE NOT (l_quantity BETWEEN 1 AND 45)) AS BIGINT), 1
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'discount_range',
        |    CAST(count(*) FILTER (WHERE NOT (l_discount BETWEEN 0 AND 0.1)) AS BIGINT), 2
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'returnflag_domain',
        |    CAST(count(*) FILTER (WHERE l_returnflag NOT IN ('A', 'N', 'R')) AS BIGINT), 3
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'line_unique',
        |    CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT), 4
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'fk_orders', CAST(count(*) AS BIGINT), 5 FROM lineitem
        |  WHERE l_orderkey IS NOT NULL
        |    AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |  UNION ALL
        |  SELECT 'fk_part', CAST(count(*) AS BIGINT), 6 FROM lineitem
        |  WHERE l_partkey IS NOT NULL
        |    AND l_partkey NOT IN (SELECT p_partkey FROM part))
        |SELECT check_name, violations, violations = 0 AS passed
        |FROM r ORDER BY ord""".stripMargin) { (s, d) =>
      import graft.operators.Expectations._
      report(Tables.lineitem(s, d), Seq(
        rowCheck("orderkey_not_null", $"l_orderkey".isNull),
        rowCheck("quantity_range", !$"l_quantity".between(1, 45)),
        rowCheck("discount_range", !$"l_discount".between(0, 0.1)),
        rowCheck("returnflag_domain", !$"l_returnflag".isin("A", "N", "R")),
        uniqueKey("line_unique", "l_orderkey", "l_linenumber"),
        foreignKey("fk_orders", Seq("l_orderkey"),
          Tables.orders(s, d), Seq("o_orderkey")),
        foreignKey("fk_part", Seq("l_partkey"),
          Tables.part(s, d), Seq("p_partkey"))))
    },

    // ---- unpivot (wide → long melt) --------------------------------------------
    // The inverse of q22's pivot: lineitem's four measure columns melt
    // into (measure, val) rows — the long format feature pipelines and
    // per-metric monitoring feed on. Spark's native unpivot is a NARROW
    // Expand (4× row fan-out map-side, no shuffle of its own), and the
    // partial hash aggregate collapses the fan-out back to
    // |flags|×|measures| groups before the only shuffle — so melting a
    // 100 TB fact costs one scan, never a 4× shuffle.
    sql(
      "q48_unpivot",
      """SELECT l_returnflag, measure, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(val), 2) AS total
        |FROM (
        |  SELECT l_returnflag, 'discount' AS measure, l_discount AS val FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'quantity', l_quantity FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'tax', l_tax FROM lineitem)
        |GROUP BY l_returnflag, measure
        |ORDER BY l_returnflag, measure""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select($"l_returnflag",
          $"l_discount".as("discount"), $"l_extendedprice".as("extendedprice"),
          $"l_quantity".as("quantity"), $"l_tax".as("tax"))
        .unpivot(Array($"l_returnflag"),
          Array($"discount", $"extendedprice", $"quantity", $"tax"),
          "measure", "val")
        .groupBy($"l_returnflag", $"measure")
        .agg(count(lit(1)).as("n"), round(sum($"val"), 2).as("total"))
        .orderBy($"l_returnflag", $"measure")
    },

    // ---- snapshot diff / reconciliation ----------------------------------------
    // TableDiff.drift: which keys were added / removed / changed
    // between two versions of the events table. The "new" snapshot is
    // derived deterministically (md5-'f' keys deleted, error-type
    // values doubled, md5-'0' keys cloned under shifted ids), so the
    // oracle can rebuild both sides and full-outer-join them with exact
    // value comparison — while the operator shuffles only
    // (key, xxhash64 fingerprint) pairs, never payload columns: the
    // compare cost at 100 TB is two narrow scans plus a 16-byte-row
    // join, and hash-equality with the oracle's exact compare proves
    // the fingerprint path labels every key identically.
    sql(
      "q49_table_diff",
      """WITH a AS (SELECT event_id, user_id, event_type, value FROM events),
        |b AS (
        |  SELECT event_id, user_id, event_type,
        |         CASE WHEN event_type = 'error' THEN value * 2 ELSE value END AS value
        |  FROM events WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) <> 'f'
        |  UNION ALL
        |  SELECT -event_id - 1, user_id, 'synthetic', value
        |  FROM events WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0'),
        |d AS (
        |  SELECT coalesce(a.event_id, b.event_id) AS event_id,
        |    CASE WHEN b.event_id IS NULL THEN 'removed'
        |         WHEN a.event_id IS NULL THEN 'added'
        |         WHEN a.user_id IS DISTINCT FROM b.user_id
        |           OR a.event_type IS DISTINCT FROM b.event_type
        |           OR a.value IS DISTINCT FROM b.value THEN 'changed'
        |         ELSE 'same' END AS status
        |  FROM a FULL OUTER JOIN b ON a.event_id = b.event_id)
        |SELECT event_id, status FROM d
        |WHERE status <> 'same' ORDER BY event_id""".stripMargin) { (s, d) =>
      val hex1 = substring(md5($"event_id".cast("string").cast("binary")), 1, 1)
      val snapA = Tables.events(s, d)
        .select($"event_id", $"user_id", $"event_type", $"value")
      val snapB = snapA.filter(hex1 =!= "f")
        .withColumn("value",
          when($"event_type" === "error", $"value" * 2).otherwise($"value"))
        // cloned keys live in the NEGATIVE range (-id - 1): disjoint
        // from real non-negative event_ids at EVERY scale factor —
        // a fixed positive offset would collide once event_id reaches
        // it, breaking TableDiff's unique-key precondition
        .unionAll(snapA.filter(hex1 === "0")
          .select((-$"event_id" - 1L).as("event_id"), $"user_id",
            lit("synthetic").as("event_type"), $"value"))
      graft.operators.TableDiff
        .drift(snapA, snapB, keys = Seq("event_id"),
          compare = Seq("user_id", "event_type", "value"))
        .orderBy($"event_id")
    },

    // ---- schema evolution at the scan ------------------------------------------
    // One table, two file generations: the "old" files lack the
    // `quality` column, the "new" files (appended later) carry it. A
    // single mergeSchema parquet scan serves the union schema with
    // NULL backfill for the old files — which is how a 100 TB table
    // adds a column: ZERO bytes of history rewritten, one footer-merge
    // at planning time, and readers see one relation (not a UNION of
    // two scans — plan-gated: exactly one Scan node). count(quality)
    // vs count(*) proves the backfill is NULL exactly on the old half.
    sql(
      "q50_schema_evolution",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(quality) AS BIGINT) AS n_quality,
        |  round(sum(quality) + 1e-9, 2) AS sum_quality
        |FROM (
        |  SELECT event_type, CAST(NULL AS DOUBLE) AS quality FROM events
        |  WHERE coalesce(substr(md5(CAST(event_id AS VARCHAR)), 1, 1) <= '7', TRUE)
        |  UNION ALL
        |  SELECT event_type, round(value * 0.01 + 1e-9, 4) FROM events
        |  WHERE NOT coalesce(substr(md5(CAST(event_id AS VARCHAR)), 1, 1) <= '7', TRUE))
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      s.read.option("mergeSchema", "true").parquet(evolvedEventsDir(s, d))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          count($"quality").as("n_quality"),
          round(sum($"quality") + 1e-9, 2).as("sum_quality"))
        .orderBy($"event_type")
    },

    // ---- CDC apply (insert / update / DELETE merge) -----------------------------
    // Cdc.applyChanges: the change-feed fold Upsert (q31) cannot do —
    // deletes remove keys, per-key netting keeps only the latest
    // change, and untouched rows leave via an anti join against the
    // increment-sized key set (the snapshot is never content-
    // shuffled). Users with user_id % 4 == 1 get no changes, so all
    // three arms (carry / upsert / delete) are exercised. The oracle
    // replays the same netting declaratively; s14 folds the SAME
    // change log in three seq-ordered micro-batches into the same
    // oracle — the composition law CdcSpec asserts directly.
    sql("q51_cdc_apply", cdcApplyOracle) { (s, d) =>
      graft.operators.Cdc
        .applyChanges(cdcSnapshot(s, d), cdcChanges(s, d), key = "user_id")
        .orderBy($"user_id")
    },

    // ---- moment statistics suite ------------------------------------------------
    // The distribution-drift monitor: correlation, covariance, spread,
    // shape (skewness/kurtosis), and geometric mean per group — every
    // one a SINGLE-PASS mergeable co-moment aggregate (partial+final,
    // no per-group value buffers), so the whole panel costs one scan
    // at any scale; exact quantiles (the non-mergeable stat) stay in
    // q26/q39. Definition care: Spark's skewness/kurtosis are
    // POPULATION moments (g1, excess g2) while DuckDB's skewness is
    // the bias-corrected sample statistic — the oracle converts via
    // g1 = G1·(n-2)/sqrt(n(n-1)) and uses kurtosis_pop, which is
    // Fisher's definition on both engines.
    sql(
      "q52_stats_suite",
      """SELECT event_type,
        |  round(corr(value, user_id) + 1e-9, 4) AS corr_vu,
        |  round(covar_samp(value, user_id) + 1e-9, 4) AS covar_vu,
        |  round(stddev_samp(value) + 1e-9, 4) AS sd_value,
        |  round(skewness(value) * (count(*) - 2) / sqrt(count(*) * (count(*) - 1.0)) + 1e-9, 4)
        |    AS skew_value,
        |  round(kurtosis_pop(value) + 1e-9, 4) AS kurt_value,
        |  round(exp(avg(ln(value + 1))) + 1e-9, 4) AS geomean_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy($"event_type")
        .agg(
          round(corr($"value", $"user_id") + 1e-9, 4).as("corr_vu"),
          round(covar_samp($"value", $"user_id") + 1e-9, 4).as("covar_vu"),
          round(stddev_samp($"value") + 1e-9, 4).as("sd_value"),
          round(skewness($"value") + 1e-9, 4).as("skew_value"),
          round(kurtosis($"value") + 1e-9, 4).as("kurt_value"),
          round(exp(avg(log($"value" + 1))) + 1e-9, 4).as("geomean_value"))
        .orderBy($"event_type")
    },

    // ---- time-decayed aggregate (recency weighting) -----------------------------
    // Per-user engagement score with a 7-day half-life: each event
    // contributes value·2^(-age/7d), aged against the table's max ts
    // (a 1-row broadcast anchor — t15's n_docs idiom — so the score is
    // a pure function of the data). The decay is inside a plain SUM —
    // single-pass, partial+final, no per-user buffers — which is the
    // trick: recency weighting costs nothing over a plain sum, where a
    // "recompute from the last 7 days" design would re-scan history
    // forever. Decay constant inlined as the same double literal in
    // both engines (dotSql's round-trip discipline).
    sql(
      "q53_time_decay", {
        val lambda = math.log(2.0) / 7.0 // per-day rate for a 7-day half-life
        s"""WITH mx AS (SELECT max(ts) AS m FROM events)
           |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           |  round(sum(value * exp(-($lambda) *
           |    (epoch_us((SELECT m FROM mx)) - epoch_us(ts)) / 86400000000.0)) + 1e-9, 4)
           |    AS decayed_score
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
      }) { (s, d) =>
      val lambda = math.log(2.0) / 7.0
      val anchor = Tables.events(s, d).agg(max($"ts").as("m"))
      Tables.events(s, d)
        .crossJoin(broadcast(anchor))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum($"value" * exp(lit(-lambda) *
            (unix_micros($"m") - unix_micros($"ts")) / 86400000000.0d)) + 1e-9, 4)
            .as("decayed_score"))
        .orderBy($"user_id")
    },

    // ---- cohort retention -------------------------------------------------------
    // The product-analytics matrix: users grouped by their FIRST-seen
    // day (cohort), counted by how many distinct users return at each
    // day offset. Two aggregations, both keyed on high-cardinality
    // columns: first-seen is a per-user min (no window over the raw
    // log), and the cohort join is a broadcast of the |users|-sized
    // first-seen table back onto the fact — at 100 TB the dimension
    // side is what moves, never the log.
    sql(
      "q54_cohort_retention",
      """WITH first_seen AS (
        |  SELECT user_id, min(date_trunc('day', ts)) AS cohort FROM events GROUP BY user_id),
        |activity AS (
        |  SELECT DISTINCT e.user_id, f.cohort,
        |    CAST(date_diff('day', f.cohort, date_trunc('day', e.ts)) AS BIGINT) AS day_offset
        |  FROM events e JOIN first_seen f ON e.user_id = f.user_id)
        |SELECT cohort, day_offset, CAST(count(*) AS BIGINT) AS active_users
        |FROM activity GROUP BY cohort, day_offset
        |ORDER BY cohort, day_offset""".stripMargin) { (s, d) =>
      val firstSeen = Tables.events(s, d)
        .groupBy($"user_id")
        .agg(min(date_trunc("day", $"ts")).as("cohort"))
      Tables.events(s, d)
        .join(broadcast(firstSeen), "user_id")
        .select($"user_id", $"cohort",
          datediff(date_trunc("day", $"ts"), $"cohort").cast("long").as("day_offset"))
        .distinct()
        .groupBy($"cohort", $"day_offset")
        .agg(count(lit(1)).as("active_users"))
        .orderBy($"cohort", $"day_offset")
    },

    // ---- incremental JOIN view maintenance --------------------------------------
    // The join-side companion to q37: the stored view V = orders ⋈
    // customer (built from the low-md5 halves, persisted as parquet)
    // absorbs BOTH sides' inserts via the classic delta rule
    // ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — V is read back as parquet and only
    // APPENDED to (never re-joined), delta sides broadcast, and the
    // oracle is the full-join rebuild: hash-equality proves the rule
    // loses no pair, including the both-sides-new ΔA⋈ΔB pairs naive
    // maintenance drops.
    sql("q55_incremental_join", incJoinOracle) { (s, d) =>
      val (aOld, dA) = joinViewOrdersSplit(s, d)
      val (bOld, dB) = joinViewCustomerSplit(s, d)
      val viewOld = s.read.parquet(joinViewSnapshot(s, d))
      graft.operators.IncrementalJoin
        .applyDelta(viewOld, aOld, dA, bOld, dB, keys = Seq("c_custkey"))
        .select($"o_orderkey", $"c_custkey", $"c_name",
          round($"o_totalprice", 2).as("price"))
        .orderBy($"o_orderkey")
    },

    // ---- aggregate-over-join view maintenance -----------------------------------
    // The full materialized-view composition: revenue per customer over
    // orders ⋈ customer, maintained incrementally END TO END — the
    // JOIN delta (IncrementalJoin: increment-sized, broadcast sides)
    // feeds the AGGREGATE state merge (IncrementalAgg: mergeable
    // never-finalized sums), so neither the join view nor the fact
    // history is ever re-scanned: per increment the work is
    // delta-join + a dimension-sized state merge. The stored agg state
    // comes from the persisted view snapshot; the oracle is the full
    // recompute over the rebuilt join.
    sql(
      "q56_incremental_join_agg",
      """SELECT c.c_name, CAST(count(*) AS BIGINT) AS n_orders,
        |       round(sum(o.o_totalprice) + 1e-9, 2) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_name ORDER BY c.c_name""".stripMargin) { (s, d) =>
      import graft.operators.{IncrementalAgg, IncrementalJoin}
      val (aOld, dA) = joinViewOrdersSplit(s, d)
      val (bOld, dB) = joinViewCustomerSplit(s, d)
      val stateOld = IncrementalAgg.aggState(
        s.read.parquet(joinViewSnapshot(s, d)), Seq($"c_name"), $"o_totalprice")
      val deltaState = IncrementalAgg.aggState(
        IncrementalJoin.delta(aOld, dA, bOld, dB, Seq("c_custkey")),
        Seq($"c_name"), $"o_totalprice")
      IncrementalAgg.finalize(
          IncrementalAgg.merge(stateOld, deltaState, Seq("c_name")), Seq("c_name"))
        .select($"c_name", $"cnt".as("n_orders"),
          round($"sum" + 1e-9, 2).as("revenue"))
        .orderBy($"c_name")
    },

    // ---- DELETE-aware join-view maintenance (operator composition) --------------
    // q55 scopes IncrementalJoin to insert-only and points deletes at
    // CDC netting — this query CLOSES that scope by composition: the
    // stored orders⋈customer view (keyed by the unique o_orderkey) is
    // maintained under a full I/U/D change feed by applying
    // Cdc.applyChanges DIRECTLY TO THE VIEW, with each change row
    // pre-joined to its dimension payload (a broadcast of the
    // increment into customer — the view's own delta shape). Because
    // the dimension side is untouched, apply∘join == join∘apply — the
    // oracle replays the feed on the BASE table and rebuilds the join,
    // so hash-equality proves the commutation, deletes included.
    sql(
      "q57_cdc_join_view",
      """WITH snap AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE coalesce(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) <= '7', TRUE)),
        |chg AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    CASE WHEN o_orderkey % 10 = 3 THEN 'D'
        |         WHEN o_orderkey % 10 = 4 THEN 'I' ELSE 'U' END AS op
        |  FROM orders
        |  WHERE NOT coalesce(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) <= '7', TRUE)),
        |applied AS (
        |  SELECT s.o_orderkey, s.o_custkey, s.o_totalprice FROM snap s
        |  LEFT JOIN chg c ON s.o_orderkey = c.o_orderkey WHERE c.o_orderkey IS NULL
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM chg WHERE op <> 'D')
        |SELECT a.o_orderkey, c.c_custkey, c.c_name, round(a.o_totalprice, 2) AS price
        |FROM applied a JOIN customer c ON a.o_custkey = c.c_custkey
        |ORDER BY a.o_orderkey""".stripMargin) { (s, d) =>
      val customer = Tables.customer(s, d).select($"c_custkey", $"c_name")
      val o = Tables.orders(s, d)
        .select($"o_orderkey", $"o_custkey".as("c_custkey"), $"o_totalprice")
      val viewOld = o.filter(Tables.inLowMd5Half($"o_orderkey")).join(customer, "c_custkey")
      // each change row carries its dimension payload — the view-delta
      // shape: the increment broadcasts into customer, the view itself
      // is only ever anti-joined/unioned by Cdc (never re-joined)
      val chgView = o.filter(!Tables.inLowMd5Half($"o_orderkey"))
        .withColumn("op",
          when($"o_orderkey" % 10 === 3, "D")
            .when($"o_orderkey" % 10 === 4, "I").otherwise("U"))
        .withColumn("seq", $"o_orderkey")
        .join(broadcast(customer), "c_custkey")
      graft.operators.Cdc
        .applyChanges(viewOld, chgView, key = "o_orderkey")
        .select($"o_orderkey", $"c_custkey", $"c_name",
          round($"o_totalprice", 2).as("price"))
        .orderBy($"o_orderkey")
    },

    // PERMISSIVE corrupt-record ingestion: a real crawl delivers
    // malformed JSONL, and an ingestion job must QUARANTINE those
    // lines — never fail the job, never silently drop them. The
    // fixture is a JSONL rendering of the documents table with the
    // md5-'0' bucket's lines truncated (deterministically malformed);
    // Spark reads it with an explicit schema + PERMISSIVE +
    // columnNameOfCorruptRecord, so bad lines surface as rows carrying
    // the raw line. Output: per-lang counts/sums of the PARSED rows
    // (proving the parser recovered the exact field values) plus a
    // '__quarantine' row whose count/chars/fingerprint pin the exact
    // corrupt-line set. Group fingerprints are ORDER-INDEPENDENT sums
    // of md5-prefix hashes — no collect/sort, so the audit shape holds
    // at any scale (partial aggregation all the way down). Oracle:
    // rebuild the lines and the bucket split in SQL.
    sql(
      "q58_corrupt_ingest",
      """WITH l AS (
        |  SELECT doc_id, lang, n_chars,
        |    '{"doc_id":' || doc_id || ',"lang":"' || lang || '","n_chars":' || n_chars || '}' AS line,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS corrupt
        |  FROM documents),
        |c AS (
        |  SELECT CASE WHEN corrupt THEN '__quarantine' ELSE lang END AS lang,
        |    CASE WHEN corrupt THEN left(line, length(line) - 3)
        |         ELSE CAST(doc_id AS VARCHAR) END AS key,
        |    CASE WHEN corrupt THEN length(line) - 3 ELSE n_chars END AS chars
        |  FROM l)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(chars) AS BIGINT) AS total_chars,
        |  CAST(sum(CAST(('0x' || substr(md5(key), 1, 8)) AS BIGINT)) AS BIGINT) AS fp_sum
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val parsed = s.read
        .schema("doc_id LONG, lang STRING, n_chars LONG, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(corruptJsonlDir(s, d))
      // PERMISSIVE may partially fill fields on a malformed line —
      // branch on the corrupt column ONLY, so a half-parsed row never
      // leaks into the good aggregates
      val bad = $"_corrupt".isNotNull
      parsed
        .select(
          when(bad, "__quarantine").otherwise($"lang").as("lang"),
          when(bad, $"_corrupt").otherwise($"doc_id".cast("string")).as("key"),
          when(bad, length($"_corrupt").cast("long")).otherwise($"n_chars").as("chars"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_rows"), sum($"chars").as("total_chars"),
          sum(conv(substring(md5($"key".cast("binary")), 1, 8), 16, 10).cast("long"))
            .as("fp_sum"))
        .orderBy($"lang")
    },

    // FILE-level quarantine — q58's class extended from malformed rows
    // to corrupt FILES (a truncated upload's parquet footer fails the
    // whole spark.read job): the fixture renders documents as four
    // parquet files (doc_id % 4), then truncates bucket 0's tail and
    // drops in a junk file and a zero-byte file. The distributed
    // envelope probe (head/tail magic + footer length, ~12 ranged
    // bytes per file — never the content) quarantines all three;
    // the job reads the intact files and audits exact counts. Output:
    // audit counts + an order-independent fingerprint over the
    // readable rows (q58's fp_sum discipline — partial aggregation
    // all the way down). Oracle: the audit constants the fixture
    // pins, plus the fingerprint over the surviving doc_id buckets.
    sql(
      "q59_corrupt_files",
      """SELECT CAST(6 AS BIGINT) AS n_files, CAST(3 AS BIGINT) AS n_bad,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT) AS fp_sum
        |FROM documents WHERE doc_id % 4 <> 0""".stripMargin) { (s, d) =>
      val (data, audit) = graft.operators.RobustIngest
        .parquetWithQuarantine(s, corruptParquetDir(s, d),
          emptySchema = "doc_id BIGINT, lang STRING, n_chars BIGINT")
      val a = audit.agg(count(lit(1)).as("n_files"),
        sum(when(!$"ok", 1L).otherwise(0L)).as("n_bad"))
      val r = data.agg(count(lit(1)).as("n_rows"),
        sum(conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 8), 16, 10)
          .cast("long")).as("fp_sum"))
      a.crossJoin(broadcast(r))
    },

    // Range-partitioned SORTED layout + file-level min/max skipping —
    // the third leg of the layout trio (q30 bucketed join keys, q33
    // Z-order for 2-D boxes, q60 the single-key time-partitioned event
    // log, THE most common 100 TB table). The fixture lays events out
    // once per data dir on ts (16 range buckets, deterministic
    // md5-sampled bounds — no rand()), half via create + half via
    // append (the incremental path writes under the STORED bounds).
    // The 3-day window then reads ONLY the files whose parquet footer
    // min/max intersects it — the build asserts filesRead < filesTotal,
    // so the driver's correctness run also proves the pruning, not
    // just the answer. Oracle: the same aggregate over the PLAIN
    // table — layout + skipping must not change a row.
    sql("q60_range_layout", rangeWindowOracle) { (s, d) =>
      rangeWindowQuery(s, rangeLayoutDir(s, d), expectTotal = 32)
    },

    // The MAINTENANCE half of q60's layout lifecycle: appends leave
    // one file per touched bucket per increment, so file counts grow
    // with ingestion cadence — compaction rewrites each multi-file
    // bucket back to ONE sorted file (write-temp + swap per bucket;
    // an interrupted run loses nothing), restoring O(buckets) files
    // and one tight footer min/max entry per bucket. The query is
    // q60's verbatim over a compacted copy of the layout: compaction
    // must not change a row, and the pruned scan now reads half the
    // files (16 vs q60's 32; the build asserts both).
    sql("q61_range_compaction", rangeWindowOracle) { (s, d) =>
      rangeWindowQuery(s, compactedRangeLayoutDir(s, d), expectTotal = 16)
    },

    // TIME TRAVEL (q63): read an incrementally-maintained table AS OF
    // an older epoch while the pointer sits at a newer one — the
    // lakehouse read a reproducibility audit runs ("what did the table
    // say when epoch E trained that model?"). The fixture maintains a
    // per-type event-count state through the exactly-once EpochState
    // loop (init = slice 0, epochs 0-2 commit slices 1-3, keep=10),
    // then serves version 2 — slices 0..2 — and asserts the pointer
    // has MOVED ON (version 3). Counts are exact integers; the oracle
    // is the plain aggregate over the first three slices.
    sql(
      "q63_time_travel",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(min(event_id) AS BIGINT) AS min_event,
        |  CAST(max(event_id) AS BIGINT) AS max_event
        |FROM events WHERE event_id % 4 <= 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      import graft.operators.EpochState
      val dir = timeTravelDir(s, d)
      val p = EpochState.readPointer(dir).get
      require(p.version == 3L, s"q63 fixture: expected pointer at v3, got $p")
      EpochState.stateAt(s, dir, version = 2L)
        .orderBy($"event_type")
    },

    // The FOURTH leg of the layout story: point lookups on a NON-sort
    // key. q60's footer min/max skips on ts only — "find these event
    // ids" would scan every file. A per-file Bloom sidecar (the
    // Delta/Iceberg file-level bloom index) prunes by membership:
    // driver tests each file's filter against the key list (sidecar is
    // file-count-sized), survivors are scanned with the exact IN
    // predicate pushed to the reader. False positives cost one extra
    // file; false negatives are impossible — so the oracle is the
    // PLAIN IN-filter over everything, and the build asserts
    // filesRead < filesTotal (the pruning is proved by the driver's
    // correctness run, not just the answer).
    sql("q62_bloom_lookup", bloomLookupOracle) { (s, d) =>
      val dir = bloomLayoutDir(s, d)
      val keys = bloomLookupKeys(s, d)
      val (data, read, total) = graft.operators.RangeLayout
        .bloomLookup(s, dir, "event_id", keys)
      require(read < total,
        s"bloom sidecar pruned nothing ($read of $total files)")
      data.select($"event_id", $"event_type",
          round($"value" + lit(1e-9), 2).as("value_r"))
        .orderBy($"event_id")
    }
  )

  /** q62/s28's shared oracle: the plain IN-filter over everything —
    * bloom-sidecar pruning must not change a row. The key list is
    * itself deterministic SQL (5 smallest ids of a sparse residue
    * class), so both engines derive it independently. */
  private[queries] lazy val bloomLookupOracle: String = // LAZY: declared after `all`
    """SELECT event_id, event_type, round(value + 1e-9, 2) AS value_r
      |FROM events WHERE event_id IN (
      |  SELECT event_id FROM events WHERE event_id % 97 = 3
      |  ORDER BY event_id LIMIT 5)
      |ORDER BY event_id""".stripMargin

  /** q62's lookup-key list (both engines' oracle subquery, collected). */
  private[queries] def bloomLookupKeys(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[Long] =
    Tables.events(s, d)
      .filter(org.apache.spark.sql.functions.col("event_id") % 97 === 3)
      .orderBy(org.apache.spark.sql.functions.col("event_id")).limit(5)
      .collect().map(_.getLong(0)).toSeq

  /** q60/q61's shared oracle: the 3-day key-range aggregate over the
    * PLAIN events table — layout, skipping, and compaction must not
    * change a row. */
  private[queries] lazy val rangeWindowOracle: String = // LAZY: declared after `all` (incJoinOracle's note)
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  round(sum(value) + 1e-9, 2) AS sum_value,
      |  CAST(min(event_id) AS BIGINT) AS min_event,
      |  CAST(max(event_id) AS BIGINT) AS max_event
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  private def rangeWindowQuery(s: org.apache.spark.sql.SparkSession,
      dir: String, expectTotal: Int): org.apache.spark.sql.DataFrame = {
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli * 1000L
    val hi = java.time.Instant.parse("2024-01-13T00:00:00Z").toEpochMilli * 1000L
    val (data, read, total) = graft.operators.RangeLayout
      .prunedScan(s, dir, "ts", lo, hi)
    require(total == expectTotal,
      s"range layout: expected $expectTotal files, found $total")
    require(read < total,
      s"range layout: footer stats pruned nothing ($read of $total files)")
    data.groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value") + 1e-9, 2).as("sum_value"),
        min($"event_id").as("min_event"), max($"event_id").as("max_event"))
      .orderBy($"event_type")
  }

  /** q55/s16's shared oracle: the full-join REBUILD — incremental view
    * maintenance is correct iff it equals this however the inserts
    * arrive. LAZY (incrementalAggOracle's forward-reference note). */
  private[graft] lazy val incJoinOracle: String =
    """SELECT o.o_orderkey, c.c_custkey, c.c_name,
      |       round(o.o_totalprice, 2) AS price
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |ORDER BY o.o_orderkey""".stripMargin

  /** q55/s16's A side: orders keyed by customer, split into the stored
    * half and the insert delta (md5 on the order key). */
  private[graft] def joinViewOrdersSplit(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val o = Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey".as("c_custkey"), $"o_totalprice")
    (o.filter(Tables.inLowMd5Half($"o_orderkey")),
      o.filter(!Tables.inLowMd5Half($"o_orderkey")))
  }

  /** q55/s16's B side: the customer dimension split the same way. */
  private[graft] def joinViewCustomerSplit(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val c = Tables.customer(s, d).select($"c_custkey", $"c_name")
    (c.filter(Tables.inLowMd5Half($"c_custkey")),
      c.filter(!Tables.inLowMd5Half($"c_custkey")))
  }

  /** q55's stored view: old-orders ⋈ old-customers, persisted ONCE per
    * sf-dir — at query time the view contributes only this parquet,
    * never a re-join of its inputs. */
  private val joinViewCache = new PerDir[String]

  private[graft] def joinViewSnapshot(s: org.apache.spark.sql.SparkSession, d: String): String =
    joinViewCache(d) {
      val dir = PerDir.scratch("join-view")
      val (aOld, _) = joinViewOrdersSplit(s, d)
      val (bOld, _) = joinViewCustomerSplit(s, d)
      aOld.join(bOld, "c_custkey").write.mode("overwrite").parquet(dir.toString)
      dir.toString
    }

  /** q51/s14's initial state: each user's latest (event_type, value)
    * from the low-md5 half of the log — the keyed snapshot a CDC feed
    * maintains. */
  private[graft] def cdcSnapshot(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tables.events(s, d).filter(Tables.inLowMd5Half($"event_id"))
      .select($"user_id", $"event_type", $"value", $"ts", $"event_id")
      .withColumn("__rn", row_number().over(w)).filter($"__rn" === 1)
      .select($"user_id", $"event_type", $"value")
  }

  /** q51/s14's change batch: the high-md5 half of the log as a CDC
    * feed — error events delete the user's row, signups insert,
    * everything else updates; event_id is the change-log position
    * (netting order). Every fourth user is left untouched so the
    * carry arm is non-trivial. */
  private[graft] def cdcChanges(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Tables.events(s, d)
      .filter(!Tables.inLowMd5Half($"event_id") && $"user_id" % 4 =!= 1)
      .select($"user_id", $"event_type", $"value",
        when($"event_type" === "error", "D")
          .when($"event_type" === "signup", "I")
          .otherwise("U").as("op"),
        $"event_id".as("seq"))

  /** q51/s14's shared oracle: the whole-log CDC apply — snapshot from
    * the low half, netting over the high half, carry/upsert/delete.
    * LAZY (incrementalAggOracle's forward-reference note). */
  private[graft] lazy val cdcApplyOracle: String =
    """WITH snap AS (
      |  SELECT user_id, event_type, value FROM (
      |    SELECT user_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events
      |    WHERE coalesce(substr(md5(CAST(event_id AS VARCHAR)), 1, 1) <= '7', TRUE))
      |  WHERE rn = 1),
      |chg AS (
      |  SELECT user_id, event_type, value,
      |    CASE WHEN event_type = 'error' THEN 'D'
      |         WHEN event_type = 'signup' THEN 'I' ELSE 'U' END AS op,
      |    event_id AS seq
      |  FROM events
      |  WHERE NOT coalesce(substr(md5(CAST(event_id AS VARCHAR)), 1, 1) <= '7', TRUE)
      |    AND user_id % 4 <> 1),
      |net AS (
      |  SELECT user_id, event_type, value, op FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
      |    FROM chg) WHERE rn = 1)
      |SELECT user_id, event_type, value FROM (
      |  SELECT s.user_id, s.event_type, s.value FROM snap s
      |  LEFT JOIN net n ON s.user_id = n.user_id WHERE n.user_id IS NULL
      |  UNION ALL
      |  SELECT user_id, event_type, value FROM net WHERE op <> 'D')
      |ORDER BY user_id""".stripMargin

  /** q44's stored sketch state: one HLL per event_type over the
    * historical (low-md5) half, persisted once per sf-dir — the
    * mergeable-distinct counterpart of incAggSnapshot. */
  private val hllSnapshotCache = new PerDir[String]

  private[graft] def hllSnapshot(s: org.apache.spark.sql.SparkSession, d: String): String =
    hllSnapshotCache(d) {
      val dir = PerDir.scratch("hll-state")
      Tables.events(s, d)
        .filter(Tables.inLowMd5Half($"event_id"))
        .groupBy($"event_type")
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
        .write.mode("overwrite").parquet(dir.toString)
      dir.toString
    }

  /** q50's evolving table, once per sf-dir: the low-md5 half of events
    * written under the ORIGINAL schema, the high half appended later
    * WITH the new `quality` column — two file generations in one
    * directory, exactly what a column-add leaves behind on a table
    * whose history is too big to rewrite. */
  private val evolvedDirCache = new PerDir[String]

  private[graft] def evolvedEventsDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    evolvedDirCache(d) {
      val dir = PerDir.scratch("evolving-table")
      val ev = Tables.events(s, d)
      ev.filter(Tables.inLowMd5Half($"event_id"))
        .select($"event_id", $"user_id", $"event_type", $"value")
        .write.mode("overwrite").parquet(dir.toString)
      ev.filter(!Tables.inLowMd5Half($"event_id"))
        .select($"event_id", $"user_id", $"event_type", $"value",
          round($"value" * 0.01 + 1e-9, 4).as("quality"))
        .write.mode("append").parquet(dir.toString)
      dir.toString
    }

  /** q58's fixture, once per sf-dir: the documents table rendered as
    * JSONL text with the md5-'0' bucket's lines TRUNCATED by 3 chars —
    * always invalid JSON (the closing brace is gone) and always the
    * same bytes, so both engines can reconstruct the corrupt set
    * exactly. Field rendering is plain string concat (not to_json) so
    * the oracle's SQL twin is byte-identical by construction; only
    * quote-free fields ride the lines. */
  private val corruptJsonlCache = new PerDir[String]

  private def corruptJsonlDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    corruptJsonlCache(d) {
      val dir = PerDir.scratch("corrupt-jsonl")
      Tables.documents(s, d)
        .select($"doc_id", concat(lit("{\"doc_id\":"), $"doc_id",
          lit(",\"lang\":\""), $"lang",
          lit("\",\"n_chars\":"), $"n_chars", lit("}")).as("line"))
        .select(when(
            substring(md5($"doc_id".cast("string").cast("binary")), 1, 1) === "0",
            $"line".substr(lit(1), length($"line") - 3))
          .otherwise($"line").as("value"))
        .write.mode("overwrite").text(dir.toString)
      dir.toString
    }

  /** q59's fixture, once per sf-dir: documents as four parquet files
    * (one per doc_id % 4 bucket, deterministically named), with bucket
    * 0's file TRUNCATED by its last 100 bytes (tail magic gone — the
    * classic interrupted upload), plus a junk text file and a
    * zero-byte file wearing .parquet names. Exactly the delivery a
    * crawl drop-zone produces; the survivors are the % 4 != 0 rows. */
  private val corruptParquetCache = new PerDir[String]

  private def corruptParquetDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    corruptParquetCache(d) {
      import java.nio.file.{Files, StandardOpenOption}
      val dir = PerDir.scratch("corrupt-parquet")
      for (b <- 0 to 3) {
        val tmp = Files.createTempDirectory(
          graft.streaming.StreamingRelational.scratchBase, s"corrupt-parquet-b$b")
        Tables.documents(s, d).filter($"doc_id" % 4 === b)
          .select($"doc_id", $"lang", $"n_chars")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val listing = Files.list(tmp)
        val part =
          try listing.filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst().get()
          finally listing.close() // Files.list holds a directory handle

        Files.move(part, dir.resolve(s"bucket$b.parquet"))
        graft.streaming.StreamingRelational.deleteRecursively(tmp)
      }
      val victim = dir.resolve("bucket0.parquet")
      val ch = java.nio.channels.FileChannel.open(victim, StandardOpenOption.WRITE)
      try ch.truncate(math.max(ch.size() - 100, 12L)) finally ch.close()
      Files.writeString(dir.resolve("junk.parquet"), "this is not parquet at all\n")
      Files.write(dir.resolve("empty.parquet"), Array.emptyByteArray)
      dir.toString
    }

  /** q43's fixture + compaction, once per sf-dir: events re-written as
    * 64 small files (micro-batch debris), then compacted under a 4 MB
    * per-file budget into a fresh directory. */
  private val compactionCache =
    new PerDir[(String, graft.operators.Compaction.Report)]

  /** q47's two-phase clustered table, once per sf-dir: created from
    * the low-md5 lineitem half (3-bit cells over partkey × suppkey),
    * grown by appending the high half under the stored ranges. */
  private val zorderTableCache = new PerDir[String]

  private[graft] def zorderTableDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    zorderTableCache(d) {
      val base = PerDir.scratch("zorder-table")
      val dir = s"$base/table"
      val cols = Seq($"l_orderkey", $"l_linenumber", $"l_partkey",
        $"l_suppkey", $"l_extendedprice")
      val li = Tables.lineitem(s, d).select(cols: _*)
      graft.operators.ZOrderTable.create(
        li.filter(Tables.inLowMd5Half($"l_orderkey")),
        "l_partkey", "l_suppkey", bits = 3, dir = dir)
      graft.operators.ZOrderTable.append(
        li.filter(!Tables.inLowMd5Half($"l_orderkey")),
        "l_partkey", "l_suppkey", dir = dir)
      dir
    }

  private[graft] def compactedEvents(
      s: org.apache.spark.sql.SparkSession, d: String): (String, graft.operators.Compaction.Report) =
    compactionCache(d) {
      val base = PerDir.scratch("compact")
      val fragDir = s"$base/fragmented"
      val outDir = s"$base/compacted"
      Tables.events(s, d).repartition(64)
        .write.mode("overwrite").parquet(fragDir)
      val report = graft.operators.Compaction.compact(
        s, fragDir, outDir, targetBytes = 4L * 1024 * 1024)
      (outDir, report)
    }

  /** q42's stored dimension: SCD2 state over the log's first half,
    * built once per sf-dir and persisted (q37's incAggSnapshot
    * pattern) so the merge query reads dimension PARQUET — the
    * production shape — instead of re-deriving the dim four times in
    * its own plan. */
  private val scd2SnapshotCache = new PerDir[String]

  private[graft] def scd2Snapshot(s: org.apache.spark.sql.SparkSession, d: String): String =
    scd2SnapshotCache(d) {
      val dir = PerDir.scratch("scd2-dim")
      graft.operators.Scd2.fromChangeLog(
          Tables.events(s, d)
            .filter($"ts" < lit("2024-01-16 00:00:00").cast("timestamp")),
          key = "user_id", ts = "ts", tieBreak = "event_id",
          attrs = Seq("event_type"))
        .write.mode("overwrite").parquet(dir.toString)
      dir.toString
    }

  /** q41/q42/s11's shared oracle: SCD2 from the full change log. The
    * incremental merge (q42) and the streaming fold (s11) deliberately
    * use the SAME full-log SQL — the maintenance paths' correctness
    * claim IS equality with the rebuild. LAZY (incrementalAggOracle's
    * forward-reference note). */
  private[graft] lazy val scd2OracleSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_type, event_id,
      |    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |              OR lag(event_id) OVER w IS NULL THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |numbered AS (
      |  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version_no FROM flagged),
      |ver AS (
      |  SELECT user_id, version_no, min(event_type) AS event_type,
      |    min(ts) AS valid_from, max(ts) AS last_seen_ts
      |  FROM numbered GROUP BY user_id, version_no),
      |fin AS (
      |  SELECT *, lead(valid_from) OVER (PARTITION BY user_id ORDER BY version_no) AS valid_to
      |  FROM ver)
      |SELECT user_id, version_no, event_type, valid_from, last_seen_ts, valid_to,
      |  valid_to IS NULL AS is_current
      |FROM fin ORDER BY user_id, version_no""".stripMargin

  /** q37/s08's shared oracle: the FULL-table recompute — merge
    * associativity makes the incrementally-maintained state provably
    * equal to it, however the increment arrives (one batch, many
    * stream slices). LAZY: `all` above captures this during object
    * init — a strict val declared after `all` would still be null at
    * capture time (forward reference), silently voiding q37's oracle. */
  private[graft] lazy val incrementalAggOracle: String =
    """SELECT event_type,
      |  CAST(count(value) AS BIGINT) AS n_vals,
      |  round(sum(value) + 1e-9, 2) AS sum_value,
      |  round(avg(value) + 1e-9, 4) AS avg_value,
      |  round(min(value), 4) AS min_value,
      |  round(max(value), 4) AS max_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The ONE finalize-and-render for incrementally-maintained state
    * (q37 batch, s08 streaming): derived avg, rounding contract, total
    * order — shared so the two surfaces cannot drift. */
  private[graft] def finalizeIncAgg(state: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.operators.IncrementalAgg.finalize(state, Seq("event_type"))
      .select($"event_type",
        $"cnt".as("n_vals"),
        round($"sum" + 1e-9, 2).as("sum_value"),
        round($"avg" + 1e-9, 4).as("avg_value"),
        round($"vmin", 4).as("min_value"),
        round($"vmax", 4).as("max_value"))
      .orderBy($"event_type")

  /** Bucketed + in-bucket-sorted copies of lineitem/orders, written
    * ONCE per (catalog, SF dir) as EXTERNAL tables under the scratch
    * dir — the co-located layout a warehouse maintains for its hottest
    * join key. `repartition(8, key)` before the bucketed write uses the
    * SAME murmur3 partitioning as the bucket spec, so each task holds
    * exactly one bucket → one file per bucket → the read-back scan
    * reports both the partitioning AND the sort order, and the join
    * plans with neither Exchange nor Sort. */
  /** q37's stored aggregate snapshot: the mergeable per-type state of
    * the "historical" half of events (md5 half-bucket on event_id —
    * q25/t17's RNG-free split primitive), written ONCE per data dir
    * and read back from parquet — at query time the history
    * contributes only this state table, never its raw rows. */
  private val incAggSnapshotCache = new PerDir[String]

  private[graft] def incAggSnapshot(s: org.apache.spark.sql.SparkSession, d: String): String =
    incAggSnapshotCache(d) {
      val dir = PerDir.scratch("incagg-state")
      graft.operators.IncrementalAgg.aggState(
          Tables.events(s, d).filter(Tables.inLowMd5Half($"event_id")),
          Seq($"event_type"), $"value")
        .write.mode("overwrite").parquet(dir.toString)
      dir.toString
    }

  /** q60's range-laid events table, once per sf-dir: the low-md5 half
    * through [[graft.operators.RangeLayout.write]] (trains the bounds),
    * the high half through [[graft.operators.RangeLayout.append]]
    * (stored-bounds path) — so the oracled query exercises BOTH write
    * paths and still must equal the plain table. */
  private val rangeLayoutCache = new PerDir[String]

  private def rangeLayoutDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    rangeLayoutCache(d) {
      val parent = PerDir.scratch("range-layout")
      val dir = parent.resolve("t").toString
      val ev = Tables.events(s, d)
      graft.operators.RangeLayout.write(
        ev.filter(Tables.inLowMd5Half($"event_id")), "ts", 16, dir)
      graft.operators.RangeLayout.append(
        ev.filter(!Tables.inLowMd5Half($"event_id")), "ts", dir)
      dir
    }

  /** q61's layout: q60's create+append fixture COMPACTED — built
    * independently (q60's instance must keep its 2-files-per-bucket
    * state; fixtures are immutable once built). */
  private val compactedRangeCache = new PerDir[String]

  private def compactedRangeLayoutDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    compactedRangeCache(d) {
      val parent = PerDir.scratch("range-layout-c")
      val dir = parent.resolve("t").toString
      val ev = Tables.events(s, d)
      graft.operators.RangeLayout.write(
        ev.filter(Tables.inLowMd5Half($"event_id")), "ts", 16, dir)
      graft.operators.RangeLayout.append(
        ev.filter(!Tables.inLowMd5Half($"event_id")), "ts", dir)
      val n = graft.operators.RangeLayout.compact(s, dir, "ts")
      require(n > 0, "q61 fixture: compaction found nothing to rewrite")
      dir
    }

  /** q63's versioned state store, once per sf-dir: per-type event
    * counts maintained through EpochState with keep=10 so older
    * versions stay readable. */
  private val timeTravelCache = new PerDir[String]

  private def timeTravelDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    timeTravelCache(d) {
      import graft.operators.EpochState
      val parent = PerDir.scratch("time-travel")
      val dir = parent.resolve("t").toString
      def slice(k: Int) = Tables.events(s, d).filter($"event_id" % 4 === k)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          min($"event_id").as("min_event"), max($"event_id").as("max_event"))
      def merged(st: org.apache.spark.sql.DataFrame, inc: org.apache.spark.sql.DataFrame) =
        st.unionByName(inc).groupBy($"event_type")
          .agg(sum($"n_events").as("n_events"),
            min($"min_event").as("min_event"), max($"max_event").as("max_event"))
      EpochState.init(s, dir, slice(0))
      for (e <- 0 to 2)
        EpochState.commit(s, dir, epoch = e.toLong, keep = 10L)(st => merged(st, slice(e + 1)))
      dir
    }

  /** q62's layout: the compacted 16-file fixture + a Bloom sidecar on
    * event_id (built independently — fixtures are immutable once
    * built; the sidecar is written AFTER compaction, the rebuild-on-
    * maintenance contract). */
  private val bloomLayoutCache = new PerDir[String]

  private def bloomLayoutDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    bloomLayoutCache(d) {
      val parent = PerDir.scratch("range-layout-b")
      val dir = parent.resolve("t").toString
      val ev = Tables.events(s, d)
      graft.operators.RangeLayout.write(
        ev.filter(Tables.inLowMd5Half($"event_id")), "ts", 16, dir)
      graft.operators.RangeLayout.append(
        ev.filter(!Tables.inLowMd5Half($"event_id")), "ts", dir)
      graft.operators.RangeLayout.compact(s, dir, "ts")
      val n = graft.operators.RangeLayout.writeBloomIndex(s, dir, "event_id")
      require(n == 16, s"q62 fixture: expected 16 compacted files, indexed $n")
      dir
    }

  private def bucketedPair(s: org.apache.spark.sql.SparkSession, d: String): (String, String) =
    this.synchronized {
      val tag = (scala.util.hashing.MurmurHash3.stringHash(d) & 0x7fffffff).toHexString
      val li = s"lineitem_b_$tag"
      val ord = s"orders_b_$tag"
      // in-bucket sort order is reported by the scan because
      // spark.sql.legacy.bucketedTableScan.outputOrdering is set at
      // session construction (GraftSession.tuned) — never flipped here,
      // so planning doesn't depend on query execution order
      if (!s.catalog.tableExists(li) || !s.catalog.tableExists(ord)) {
        val base = graft.streaming.StreamingRelational.scratchBase.resolve(s"bucketed-$tag")
        Tables.lineitem(s, d)
          .repartition(8, $"l_orderkey")
          .write.mode("overwrite")
          .option("path", base.resolve(li).toString)
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable(li)
        Tables.orders(s, d)
          .repartition(8, $"o_orderkey")
          .write.mode("overwrite")
          .option("path", base.resolve(ord).toString)
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(ord)
        graft.streaming.StreamingRelational.registerScratch(base)
      }
      (li, ord)
    }

  // sugar: $"..." without a SparkSession import at every use site
  private implicit class Str(val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column =
      col(sc.s(args: _*))
  }
}
