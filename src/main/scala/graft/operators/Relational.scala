package graft.operators

import graft.QSpec
import graft.util.{Exact, ExactQuantiles, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational operator inventory q01–q29 (SURVEY.md §2.1–§2.8), re-expressed
  * Spark-first. Each query is declarative DataFrame API: Catalyst handles
  * pushdown/pruning, joins broadcast their small side, aggregates are
  * partial+final hash aggregates inside whole-stage codegen.
  *
  * Reference semantics cited per query (file:line into /root/reference).
  */
object Relational {

  import Tables._

  /** q01 — CSV source with header + schema inference
    * (ref: notebooks/00_prepare_data.py:43-53). Round-trips `region` through
    * CSV so the scan is genuinely exercised.
    */
  val q01 = QSpec(
    "q01_csv_scan",
    Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),
    (s, d) => {
      val p = scratch(d, "q01_csv")
      region(s, d).coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(p)
      s.read.option("header", "true").option("inferSchema", "true").csv(p)
        .select(col("r_regionkey").cast("int"), col("r_name"))
        .orderBy("r_regionkey")
    })

  /** q02 — Parquet scan (ref: src/features/feature_engineering.py:401). */
  val q02 = QSpec(
    "q02_parquet_scan",
    Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),
    (s, d) => region(s, d).select("r_regionkey", "r_name").orderBy("r_regionkey"))

  /** q03 — local-rows source with explicit schema
    * (ref: src/inference/predict.py:31-62).
    */
  val q03 = QSpec(
    "q03_local_rows",
    Some("""SELECT * FROM (VALUES
           | (1, 'alpha', CAST(1.5 AS DOUBLE)),
           | (2, 'beta',  CAST(2.5 AS DOUBLE)),
           | (3, NULL,    CAST(0.0 AS DOUBLE))) t(id, name, score)
           |ORDER BY id""".stripMargin),
    (s, _) => {
      val schema = StructType(Seq(
        StructField("id", IntegerType, nullable = false),
        StructField("name", StringType, nullable = true),
        StructField("score", DoubleType, nullable = true)))
      val rows = java.util.Arrays.asList(
        Row(1, "alpha", 1.5), Row(2, "beta", 2.5), Row(3, null, 0.0))
      s.createDataFrame(rows, schema).orderBy("id")
    })

  /** q04 — Parquet sink, overwrite (ref: notebooks/00_prepare_data.py:91). */
  val q04 = QSpec(
    "q04_parquet_sink",
    Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),
    (s, d) => {
      val p = scratch(d, "q04_parquet")
      nation(s, d).write.mode("overwrite").parquet(p)
      s.read.parquet(p).orderBy("n_nationkey")
    })

  /** q05 — CSV sink with header (ref: src/webapp/app.py:146-168). */
  val q05 = QSpec(
    "q05_csv_sink",
    Some("""SELECT * FROM (
           |  SELECT c_custkey, c_name, c_acctbal FROM customer
           |  ORDER BY c_acctbal DESC, c_custkey LIMIT 10
           |) ORDER BY c_custkey""".stripMargin),
    (s, d) => {
      val p = scratch(d, "q05_csv")
      customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(col("c_acctbal").desc, col("c_custkey")).limit(10)
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(p)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType)))
      s.read.option("header", "true").schema(schema).csv(p).orderBy("c_custkey")
    })

  /** q06 — project + cast normalization (ref: notebooks/00_prepare_data.py:65-87). */
  val q06 = QSpec(
    "q06_cast_project",
    Some(s"""SELECT l_orderkey, l_linenumber,
            | CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
            | CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price_2dp,
            | l_returnflag || '/' || l_linestatus AS flag_status
            |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    (s, d) => lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      floor(col("l_quantity")).cast("long").as("qty_floor"),
      col("l_extendedprice").cast(DecimalType(18, 2)).cast("double").as("price_2dp"),
      concat(col("l_returnflag"), lit("/"), col("l_linestatus")).as("flag_status"))
      .orderBy("l_orderkey", "l_linenumber"))

  /** q07 — column projection (pruned at the scan; ref: src/webapp/app.py:110). */
  val q07 = QSpec(
    "q07_projection",
    Some("SELECT o_orderkey, o_custkey, o_orderpriority FROM orders ORDER BY o_orderkey"),
    (s, d) => orders(s, d).select("o_orderkey", "o_custkey", "o_orderpriority")
      .orderBy("o_orderkey"))

  /** q08 — rename (ref: src/inference/predict.py:23-24). */
  val q08 = QSpec(
    "q08_rename",
    Some("SELECT o_orderkey, o_totalprice AS price FROM orders ORDER BY o_orderkey"),
    (s, d) => orders(s, d).select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_totalprice", "price").orderBy("o_orderkey"))

  /** q09 — drop column (ref: notebooks/04_model_improvement.py:90). */
  val q09 = QSpec(
    "q09_drop_column",
    Some("""SELECT p_partkey, p_brand, p_type, p_size FROM part ORDER BY p_partkey"""),
    (s, d) => part(s, d).drop("p_name", "p_retailprice").orderBy("p_partkey"))

  /** q10 — null-predicate filter (ref: notebooks/01_exploratory_data_analysis.py:79). */
  val q10 = QSpec(
    "q10_null_filter",
    Some("""SELECT l_orderkey, l_linenumber FROM lineitem
           |WHERE NULLIF(l_returnflag, 'N') IS NULL
           |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    (s, d) => lineitem(s, d)
      .withColumn("rf", when(col("l_returnflag") === "N", lit(null: String))
        .otherwise(col("l_returnflag")))
      .filter(col("rf").isNull)
      .select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber"))

  /** q11 — equality filter on a derived bucket (ref: notebooks/04_model_improvement.py:88-90). */
  val q11 = QSpec(
    "q11_bucket_filter",
    Some("""SELECT o_orderkey,
           | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_2dp
           |FROM orders
           |WHERE (CASE WHEN o_totalprice < 50000 THEN 0
           |            WHEN o_totalprice < 300000 THEN 1 ELSE 2 END) = 1
           |ORDER BY o_orderkey""".stripMargin),
    (s, d) => orders(s, d)
      .withColumn("bucket",
        when(col("o_totalprice") < 50000, 0)
          .when(col("o_totalprice") < 300000, 1).otherwise(2))
      .filter(col("bucket") === 1)
      .select(col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(18, 2)).cast("double").as("price_2dp"))
      .orderBy("o_orderkey"))

  /** q12 — isin membership (ref: src/features/feature_engineering.py:124). */
  val q12 = QSpec(
    "q12_isin",
    Some("""SELECT c_custkey, c_mktsegment FROM customer
           |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
           |ORDER BY c_custkey""".stripMargin),
    (s, d) => customer(s, d)
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select("c_custkey", "c_mktsegment").orderBy("c_custkey"))

  /** q13 — chained when/otherwise conditional projection
    * (ref: src/features/feature_engineering.py:94-148).
    */
  val q13 = QSpec(
    "q13_when_chain",
    Some("""SELECT p_partkey, p_size,
           | CASE WHEN p_size <= 10 THEN 'small'
           |      WHEN p_size <= 25 THEN 'medium'
           |      WHEN p_size <= 40 THEN 'large'
           |      ELSE 'jumbo' END AS size_class
           |FROM part ORDER BY p_partkey""".stripMargin),
    (s, d) => part(s, d).select(col("p_partkey"), col("p_size"),
      when(col("p_size") <= 10, "small")
        .when(col("p_size") <= 25, "medium")
        .when(col("p_size") <= 40, "large")
        .otherwise("jumbo").as("size_class"))
      .orderBy("p_partkey"))

  /** q14 — FLAGSHIP: equi inner join + group-agg + sort
    * (ref: notebooks/00_prepare_data.py:57 + 01_exploratory_data_analysis.py:163-165).
    * customer is the small dimension → broadcast-hash join, no shuffle of
    * orders; aggregation is partial+final hash agg.
    */
  val q14 = QSpec(
    "q14_join_agg",
    Some(s"""SELECT c_mktsegment,
            | COUNT(*) AS order_cnt,
            | ${Exact.sqlAvg("o_totalprice")} AS avg_totalprice,
            | ${Exact.sqlSum("o_totalprice")} AS sum_totalprice
            |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            |GROUP BY c_mktsegment
            |ORDER BY order_cnt DESC, c_mktsegment""".stripMargin),
    (s, d) => {
      val o = orders(s, d)
      val c = customer(s, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("order_cnt"),
          Exact.davg(col("o_totalprice")).as("avg_totalprice"),
          Exact.dsum(col("o_totalprice")).as("sum_totalprice"))
        .orderBy(col("order_cnt").desc, col("c_mktsegment"))
    })

  /** q15 — group-by count (ref: notebooks/00_prepare_data.py:114). */
  val q15 = QSpec(
    "q15_groupby_count",
    Some("""SELECT o_orderpriority, COUNT(*) AS cnt FROM orders
           |GROUP BY o_orderpriority ORDER BY cnt DESC, o_orderpriority""".stripMargin),
    (s, d) => orders(s, d).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("o_orderpriority")))

  /** q16 — group-by avg (ref: notebooks/01_exploratory_data_analysis.py:163-165). */
  val q16 = QSpec(
    "q16_groupby_avg",
    Some(s"""SELECT c_mktsegment, ${Exact.sqlAvg("c_acctbal")} AS avg_acctbal
            |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    (s, d) => customer(s, d).groupBy("c_mktsegment")
      .agg(Exact.davg(col("c_acctbal")).as("avg_acctbal"))
      .orderBy("c_mktsegment"))

  /** q17 — global multi-agg: mean/std/min/max
    * (ref: notebooks/01_exploratory_data_analysis.py:125-129).
    */
  val q17 = QSpec(
    "q17_global_stats",
    Some(s"""SELECT COUNT(*) AS n,
            | MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
            | ${Exact.sqlAvg("l_extendedprice")} AS mean_price,
            | ROUND(${Exact.sqlStd("l_extendedprice")}, 4) AS std_price,
            | MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
            | ${Exact.sqlAvg("l_quantity")} AS mean_qty,
            | ROUND(${Exact.sqlStd("l_quantity")}, 4) AS std_qty
            |FROM lineitem""".stripMargin),
    (s, d) => Exact.fanOut(lineitem(s, d).select("l_extendedprice", "l_quantity"))
      .agg(
        count(lit(1)).as("n"),
        min("l_extendedprice").as("min_price"), max("l_extendedprice").as("max_price"),
        Exact.davg(col("l_extendedprice")).as("mean_price"),
        round(Exact.dstd(col("l_extendedprice")), 4).as("std_price"),
        min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
        Exact.davg(col("l_quantity")).as("mean_qty"),
        round(Exact.dstd(col("l_quantity")), 4).as("std_qty")))

  /** q18 — count() actions / row-count audit (ref: notebooks/00_prepare_data.py:94). */
  val q18 = QSpec(
    "q18_counts",
    Some("""SELECT (SELECT COUNT(*) FROM lineitem) AS lineitem_cnt,
           |       (SELECT COUNT(*) FROM orders)   AS orders_cnt,
           |       (SELECT COUNT(*) FROM customer) AS customer_cnt""".stripMargin),
    (s, d) => lineitem(s, d).agg(count(lit(1)).as("lineitem_cnt"))
      .crossJoin(orders(s, d).agg(count(lit(1)).as("orders_cnt")))
      .crossJoin(customer(s, d).agg(count(lit(1)).as("customer_cnt"))))

  /** q19 — summary() statistics: count/mean/std/min/quartiles/max
    * (ref: src/features/target_transformer.py:34). Quartiles are EXACT
    * (quantile_cont semantics, same oracle) but computed through the
    * distributed value-frequency table ([[graft.util.ExactQuantiles]]) —
    * O(distinct values) state, never Spark's buffer-every-row `percentile`
    * aggregate, so the plan survives a 100 TB column.
    */
  val q19 = QSpec(
    "q19_summary_stats",
    Some(s"""SELECT COUNT(*) AS n,
            | ${Exact.sqlAvg("l_quantity")} AS mean_qty,
            | ROUND(${Exact.sqlStd("l_quantity")}, 4) AS std_qty,
            | MIN(l_quantity) AS min_qty,
            | ROUND(quantile_cont(l_quantity, 0.25), 4) AS p25,
            | ROUND(quantile_cont(l_quantity, 0.50), 4) AS p50,
            | ROUND(quantile_cont(l_quantity, 0.75), 4) AS p75,
            | MAX(l_quantity) AS max_qty
            |FROM lineitem""".stripMargin),
    (s, d) => {
      val li = lineitem(s, d)
      val stats = li.agg(
        count(lit(1)).as("n"),
        Exact.davg(col("l_quantity")).as("mean_qty"),
        round(Exact.dstd(col("l_quantity")), 4).as("std_qty"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"))
      val quart = ExactQuantiles.quantilesRow(li, "l_quantity",
        Seq("p25r" -> 0.25, "p50r" -> 0.50, "p75r" -> 0.75))
      stats.crossJoin(quart).select(
        col("n"), col("mean_qty"), col("std_qty"), col("min_qty"),
        round(col("p25r"), 4).as("p25"),
        round(col("p50r"), 4).as("p50"),
        round(col("p75r"), 4).as("p75"),
        col("max_qty"))
    })

  /** q20 — approxQuantile (Greenwald–Khanna, relErr 0.01)
    * (ref: src/features/feature_engineering.py:164).
    *
    * Tolerance oracle: GK guarantees |rank(q̂) − p| ≤ ε, so the comparable
    * output is the exact empirical rank of each estimate (one scalable
    * counting pass) tested against the bound (ε + 0.001 slack). The DuckDB
    * twin asserts the same rank property of its exact `quantile_cont` —
    * hash equality proves the sketch met its guarantee on the same data.
    *
    * Assumptions this bound leans on (revisit before retargeting the query
    * to another column): the rank is measured as MAX-rank
    * (count(value ≤ q̂)/n), which only approximates the GK rank interval
    * when values are near-unique — on tie-heavy columns the max-rank can
    * exceed the bound even though GK met its guarantee (the interval test
    * min-rank..max-rank vs [p−ε, p+ε] would be the tie-robust form); and
    * the fixed 0.001 slack only covers the 1/n rank discretization for
    * n ≥ 1000. o_totalprice is near-unique and n ≥ 1500 at every declared
    * SF, so both hold here.
    */
  val q20 = QSpec(
    "q20_approx_quantile",
    Some("""WITH q AS (SELECT quantile_cont(o_totalprice, 0.01) AS v01,
           |                  quantile_cont(o_totalprice, 0.50) AS v50,
           |                  quantile_cont(o_totalprice, 0.99) AS v99 FROM orders),
           |r AS (SELECT COUNT(*) AS n,
           |  CAST(SUM(CASE WHEN o_totalprice <= (SELECT v01 FROM q) THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS r01,
           |  CAST(SUM(CASE WHEN o_totalprice <= (SELECT v50 FROM q) THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS r50,
           |  CAST(SUM(CASE WHEN o_totalprice <= (SELECT v99 FROM q) THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS r99
           |  FROM orders)
           |SELECT n, ABS(r01 - 0.01) <= 0.011 AS p01_rank_ok,
           |          ABS(r50 - 0.50) <= 0.011 AS p50_rank_ok,
           |          ABS(r99 - 0.99) <= 0.011 AS p99_rank_ok
           |FROM r""".stripMargin),
    (s, d) => {
      val o = orders(s, d)
      val qs = o.stat.approxQuantile("o_totalprice", Array(0.01, 0.5, 0.99), 0.01)
      val rank = (v: Double) =>
        sum(when(col("o_totalprice") <= v, 1).otherwise(0)).cast("double") / count(lit(1))
      o.agg(
        count(lit(1)).as("n"),
        (abs(rank(qs(0)) - 0.01) <= 0.011).as("p01_rank_ok"),
        (abs(rank(qs(1)) - 0.50) <= 0.011).as("p50_rank_ok"),
        (abs(rank(qs(2)) - 0.99) <= 0.011).as("p99_rank_ok"))
    })

  /** q21 — global sort desc (range-partitioned exchange + per-partition sort)
    * (ref: notebooks/01_exploratory_data_analysis.py:151).
    */
  val q21 = QSpec(
    "q21_sort_desc",
    Some("""SELECT s_suppkey, s_name, s_acctbal FROM supplier
           |ORDER BY s_acctbal DESC, s_suppkey""".stripMargin),
    (s, d) => supplier(s, d).select("s_suppkey", "s_name", "s_acctbal")
      .orderBy(col("s_acctbal").desc, col("s_suppkey")))

  /** q22 — top-k (lowers to TakeOrderedAndProject — no full sort/shuffle)
    * (ref: notebooks/00_prepare_data.py:54 show/limit).
    */
  val q22 = QSpec(
    "q22_topk",
    Some("""SELECT o_orderkey,
           | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_2dp
           |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin),
    (s, d) => orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(18, 2)).cast("double").as("price_2dp"))
      .limit(15))

  /** q23 — natural log (ref: src/features/feature_engineering.py:130-148). */
  val q23 = QSpec(
    "q23_log",
    Some("""SELECT o_orderkey, ROUND(LN(o_totalprice), 6) AS log_price
           |FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""".stripMargin),
    (s, d) => orders(s, d).filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), round(log(col("o_totalprice")), 6).as("log_price"))
      .orderBy("o_orderkey"))

  /** q24 — exp (ref: src/features/target_transformer.py:84-87). */
  val q24 = QSpec(
    "q24_exp",
    Some("""SELECT l_orderkey, ROUND(EXP(l_discount), 6) AS exp_disc
           |FROM lineitem WHERE l_orderkey % 97 = 0 AND l_linenumber = 1
           |ORDER BY l_orderkey""".stripMargin),
    (s, d) => lineitem(s, d)
      .filter(col("l_orderkey") % 97 === 0 && col("l_linenumber") === 1)
      .select(col("l_orderkey"), round(exp(col("l_discount")), 6).as("exp_disc"))
      .orderBy("l_orderkey"))

  /** q25 — trig/sqrt/pow scalar math (haversine building blocks;
    * ref: src/features/feature_engineering.py:182-209).
    */
  val q25 = QSpec(
    "q25_math_funcs",
    Some("""SELECT p_partkey,
           | ROUND(SIN(p_size), 6)  AS sin_size,
           | ROUND(COS(p_size), 6)  AS cos_size,
           | ROUND(ASIN(p_size / 1000.0), 6) AS asin_size,
           | ROUND(SQRT(p_retailprice), 6) AS sqrt_price,
           | ROUND(POW(p_size, 2), 6) AS size_sq
           |FROM part WHERE p_partkey % 53 = 0 ORDER BY p_partkey""".stripMargin),
    (s, d) => part(s, d).filter(col("p_partkey") % 53 === 0)
      .select(col("p_partkey"),
        round(sin(col("p_size")), 6).as("sin_size"),
        round(cos(col("p_size")), 6).as("cos_size"),
        round(asin(col("p_size") / 1000.0), 6).as("asin_size"),
        round(sqrt(col("p_retailprice")), 6).as("sqrt_price"),
        round(pow(col("p_size"), 2), 6).as("size_sq"))
      .orderBy("p_partkey"))

  /** q26 — literal constants (ref: src/features/feature_engineering.py:98). */
  val q26 = QSpec(
    "q26_lit",
    Some("""SELECT r_regionkey, CAST(42 AS BIGINT) AS answer,
           | CAST(2.5 AS DOUBLE) AS factor, 'graft' AS tag
           |FROM region ORDER BY r_regionkey""".stripMargin),
    (s, d) => region(s, d).select(col("r_regionkey"),
      lit(42L).as("answer"), lit(2.5).as("factor"), lit("graft").as("tag"))
      .orderBy("r_regionkey"))

  /** q27 — coalesce to default (ref: notebooks/01_exploratory_data_analysis.py:143-146). */
  val q27 = QSpec(
    "q27_coalesce",
    Some("""SELECT c_custkey,
           | COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'Unknown') AS seg_or_unknown
           |FROM customer ORDER BY c_custkey""".stripMargin),
    (s, d) => customer(s, d).select(col("c_custkey"),
      coalesce(
        when(col("c_mktsegment") === "BUILDING", lit(null: String))
          .otherwise(col("c_mktsegment")),
        lit("Unknown")).as("seg_or_unknown"))
      .orderBy("c_custkey"))

  /** q28 — na.fill per-column defaults (ref: src/features/feature_engineering.py:83-91). */
  val q28 = QSpec(
    "q28_na_fill",
    Some("""SELECT c_custkey,
           | COALESCE(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0) AS acct_filled,
           | COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'unknown') AS seg_filled
           |FROM customer ORDER BY c_custkey""".stripMargin),
    (s, d) => customer(s, d)
      .withColumn("acct_filled",
        when(col("c_acctbal") < 0, lit(null: java.lang.Double)).otherwise(col("c_acctbal")))
      .withColumn("seg_filled",
        when(col("c_mktsegment") === "MACHINERY", lit(null: String)).otherwise(col("c_mktsegment")))
      .na.fill(Map("acct_filled" -> 0.0, "seg_filled" -> "unknown"))
      .select("c_custkey", "acct_filled", "seg_filled")
      .orderBy("c_custkey"))

  /** q29 — cast normalization incl. timestamps→date parts
    * (ref: notebooks/00_prepare_data.py:65-87).
    */
  val q29 = QSpec(
    "q29_cast",
    Some("""SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS key_str,
           | CAST(YEAR(CAST(o_orderdate AS DATE)) AS BIGINT) AS order_year,
           | CAST(MONTH(CAST(o_orderdate AS DATE)) AS BIGINT) AS order_month,
           | strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date_str
           |FROM orders WHERE o_orderkey % 101 = 0 ORDER BY o_orderkey""".stripMargin),
    (s, d) => orders(s, d).filter(col("o_orderkey") % 101 === 0)
      .select(col("o_orderkey"),
        col("o_orderkey").cast("string").as("key_str"),
        year(col("o_orderdate").cast("date")).cast("long").as("order_year"),
        month(col("o_orderdate").cast("date")).cast("long").as("order_month"),
        date_format(col("o_orderdate").cast("date"), "yyyy-MM-dd").as("order_date_str"))
      .orderBy("o_orderkey"))

  /** q32 — correlated EXISTS / NOT EXISTS through the SQL front end
    * (`spark.sql` over temp views): customers with at least one urgent
    * order and no filled order. Catalyst decorrelates the subqueries into
    * a left-semi + left-anti join pair on o_custkey — the same physical
    * shape as q31's explicit semi/anti joins, proving the SQL surface and
    * the DataFrame surface meet in one plan space. Both join smalls are
    * broadcast at dim scale; at fact scale they hash-shuffle on the
    * correlation key, which is exactly the hand-written plan.
    */
  val q32 = QSpec(
    "q32_exists_subquery",
    Some("""SELECT c_custkey, c_name FROM customer c
           |WHERE EXISTS (SELECT 1 FROM orders o
           |              WHERE o.o_custkey = c.c_custkey
           |                AND o.o_orderpriority = '1-URGENT')
           |  AND NOT EXISTS (SELECT 1 FROM orders o
           |                  WHERE o.o_custkey = c.c_custkey
           |                    AND o.o_orderstatus = 'F')
           |ORDER BY c_custkey""".stripMargin),
    (s, d) => {
      // per-sf view names: concurrent/back-to-back runs on different sf
      // dirs must not read each other's registrations (the memory-sink
      // naming pattern from StreamOps)
      val tag = new java.io.File(d).getName.replace('.', '_')
      val (vc, vo) = (s"graft_q32_customer_$tag", s"graft_q32_orders_$tag")
      customer(s, d).createOrReplaceTempView(vc)
      orders(s, d).createOrReplaceTempView(vo)
      s.sql(s"""SELECT c_custkey, c_name FROM $vc c
               |WHERE EXISTS (SELECT 1 FROM $vo o
               |              WHERE o.o_custkey = c.c_custkey
               |                AND o.o_orderpriority = '1-URGENT')
               |  AND NOT EXISTS (SELECT 1 FROM $vo o
               |                  WHERE o.o_custkey = c.c_custkey
               |                    AND o.o_orderstatus = 'F')
               |ORDER BY c_custkey""".stripMargin)
    })

  /** q33 — partition-pruned scan THROUGH the correctness gate: orders is
    * written as a Hive-style layout partitioned by o_orderpriority
    * ([[graft.sources.Sinks.writePartitioned]] shape), and the read-back
    * filter must prune at the DIRECTORY level — the `require` asserts the
    * scan node carries a partition filter, i.e. four of five partitions
    * are never opened. At 100 TB partition pruning on an ingest-date or
    * category column is the difference between scanning the table and
    * scanning one directory; this declares it as checkable semantics, not
    * just a Sinks unit test.
    */
  val q33 = QSpec(
    "q33_partition_pruning",
    Some(s"""SELECT o_orderstatus, COUNT(*) AS cnt,
            | ${Exact.sqlSum("o_totalprice")} AS sum_price
            |FROM orders WHERE o_orderpriority = '1-URGENT'
            |GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, d) => {
      val path = scratch(d, "q33_part")
      orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
      val pruned = s.read.parquet(path)
        .filter(col("o_orderpriority") === "1-URGENT")
      val scans = pruned.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      require(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
        "priority filter must reach the scan as a partition filter")
      pruned.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          Exact.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    })

  /** q34 — schema-evolution read (`mergeSchema`): two parquet batches of
    * the same logical table written with DIFFERENT schemas (an early
    * batch without a later-added column, a late batch without a dropped
    * one) are read back as one unified frame, absent columns null-padded.
    * This is the lakehouse reality at 100 TB — a table's schema drifts
    * across months of ingest and the reader must reconcile per-file
    * footers, not fail. The oracle is the explicit NULL-padded UNION.
    */
  val q34 = QSpec(
    "q34_schema_merge",
    Some("""SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
           |FROM orders WHERE o_orderkey % 2 = 0
           |UNION ALL
           |SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice, o_orderpriority
           |FROM orders WHERE o_orderkey % 2 = 1
           |ORDER BY o_orderkey""".stripMargin),
    (s, d) => {
      val path = scratch(d, "q34_merge")
      val o = orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$path/batch=v1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$path/batch=v2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$path/batch=v1", s"$path/batch=v2")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    })

  /** q35 — NULL-safe equi-join (`<=>` / IS NOT DISTINCT FROM): customers
    * bucketed by a nullable key (negative balances → NULL) joined to a
    * dimension that includes a NULL row — plain `=` would silently drop
    * every NULL-keyed row, the classic audit-table bug. `<=>` remains a
    * HASHABLE equi-condition (SortMergeJoin/HashJoin, not a nested loop),
    * which is exactly why it exists instead of `(a = b OR (a IS NULL AND
    * b IS NULL))`.
    */
  val q35 = QSpec(
    "q35_null_safe_join",
    Some("""WITH c AS (SELECT c_custkey,
           |    CASE WHEN c_acctbal < 0 THEN NULL
           |         ELSE CAST(FLOOR(c_acctbal / 2500) AS BIGINT) END AS bal_band
           |  FROM customer),
           |dim AS (SELECT CAST(band AS BIGINT) AS bal_band, label FROM (VALUES
           |  (0, 'low'), (1, 'mid'), (2, 'high'), (3, 'top'),
           |  (NULL, 'delinquent')) d(band, label))
           |SELECT d.label, CAST(COUNT(c.c_custkey) AS BIGINT) AS n_cust
           |FROM c JOIN dim d ON c.bal_band IS NOT DISTINCT FROM d.bal_band
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, d) => {
      import s.implicits._
      val c = customer(s, d).select(col("c_custkey"),
        when(col("c_acctbal") < 0, lit(null))
          .otherwise(floor(col("c_acctbal") / 2500)).cast("long").as("bal_band"))
      val dim = Seq((Some(0L), "low"), (Some(1L), "mid"), (Some(2L), "high"),
        (Some(3L), "top"), (Option.empty[Long], "delinquent"))
        .toDF("bal_band", "label")
      c.join(dim, c("bal_band") <=> dim("bal_band"))
        .groupBy("label")
        .agg(count(col("c_custkey")).as("n_cust"))
        .orderBy("label")
    })

  /** q36 — ORC source/sink round-trip: the third columnar format next to
    * parquet (q02/q04) and CSV (q01/q05). ORC scans vectorize and take
    * predicate pushdown exactly like parquet in Spark — declared so the
    * format surface is oracle-checked, not assumed. The read-back filter
    * lands in the ORC reader's pushed filters.
    */
  val q36 = QSpec(
    "q36_orc_roundtrip",
    Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
           |WHERE n_regionkey <> 2 ORDER BY n_nationkey""".stripMargin),
    (s, d) => {
      val p = scratch(d, "q36_orc")
      nation(s, d).write.mode("overwrite").orc(p)
      s.read.orc(p)
        .filter(col("n_regionkey") =!= 2)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    })

  /** q37 — JSONL (newline-delimited JSON) source: the de-facto corpus
    * interchange format (every open dataset ships as .jsonl.zst). Documents
    * round-trip through `.write.json` with a NESTED object column, then
    * read back BOTH ways a corpus user would: schema inference over the
    * files (even doc_ids) and an explicit schema that skips the inference
    * pass entirely (odd doc_ids — the 100 TB path: inference reads every
    * byte once before the real scan even starts). Inference fidelity is
    * part of the contract: JSON integers must come back as bigint and the
    * nested object as a struct, or the oracle's types won't match.
    * (Analogue of q01's CSV-inference pattern,
    * ref: notebooks/00_prepare_data.py:43-53.)
    */
  val q37 = QSpec(
    "q37_jsonl_scan",
    Some("""SELECT doc_id, lang, source, n_chars,
           | lang || ':' || source AS meta_tag
           |FROM documents ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val p = scratch(d, "q37_jsonl")
      documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          struct(col("lang"), col("source")).as("meta"))
        .write.mode("overwrite").json(p)
      val inferred = s.read.json(p)
      val explicitSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType),
        StructField("n_chars", LongType),
        StructField("meta", StructType(Seq(
          StructField("lang", StringType),
          StructField("source", StringType))))))
      val explicit = s.read.schema(explicitSchema).json(p)
      def shape(df: DataFrame): DataFrame = df.select(
        col("doc_id"), col("lang"), col("meta.source").as("source"),
        col("n_chars"),
        concat(col("lang"), lit(":"), col("meta.source")).as("meta_tag"))
      shape(inferred.filter(col("doc_id") % 2 === 0))
        .unionByName(shape(explicit.filter(col("doc_id") % 2 =!= 0)))
        .orderBy("doc_id")
    })

  /** q38 — Avro source/sink round-trip (q36's shape, fourth format).
    * This environment has no `spark-avro` module, so the round-trip runs
    * through [[graft.sources.AvroIO]] — a purpose-built container-file
    * connector (per-partition part files over the Hadoop FS API, logical
    * date/timestamp-micros types). The projection deliberately crosses
    * long, string, double AND timestamp so the logical-type path is
    * oracle-checked: `o_orderdate` must come back to the exact
    * microsecond or `odate_ms` hash-mismatches.
    */
  val q38 = QSpec(
    "q38_avro_roundtrip",
    Some("""SELECT o_orderkey, o_orderstatus, o_totalprice,
           | epoch_ms(o_orderdate) AS odate_ms
           |FROM orders WHERE o_orderkey % 10 = 3
           |ORDER BY o_orderkey""".stripMargin),
    (s, d) => {
      val p = scratch(d, "q38_avro")
      graft.sources.AvroIO.write(
        orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice",
          "o_orderdate"), p)
      graft.sources.AvroIO.read(s, p)
        .filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          // o_orderdate reads as TimestampNTZ (parquet ms, no UTC flag);
          // the cast is wall-clock-preserving under the session's UTC tz,
          // matching DuckDB's epoch_ms on the naive timestamp
          unix_millis(col("o_orderdate").cast("timestamp")).as("odate_ms"))
        .orderBy("o_orderkey")
    })

  /** q39 — malformed-CSV row policy: the three ingest modes a production
    * CSV loader needs, exercised on a scratch CSV of `customer` plus
    * three PLANTED type-malformed lines (non-numeric key ×2, non-numeric
    * balance) written as a sibling file in the scan dir. PERMISSIVE
    * captures them in the corrupt-record column (nulls + raw line),
    * DROPMALFORMED drops exactly those rows, FAILFAST throws on first
    * touch. Declared output: parsed-row and captured-corrupt counts
    * under PERMISSIVE, survivors under DROPMALFORMED, and whether
    * FAILFAST threw — the oracle derives every count from the live
    * customer table (+ the planted 3), so the gate scales with the data
    * instead of pinning constants.
    */
  val q39 = QSpec(
    "q39_csv_malformed_modes",
    Some("""SELECT CAST((SELECT COUNT(*) FROM customer) + 3 AS BIGINT) AS n_permissive,
           | CAST(3 AS BIGINT) AS n_corrupt,
           | CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_dropmalformed,
           | TRUE AS failfast_threw""".stripMargin),
    (s, d) => {
      val p = scratch(d, "q39_csv")
      customer(s, d).select("c_custkey", "c_name", "c_acctbal")
        .coalesce(1).write.mode("overwrite").csv(p)
      val bad = new java.io.File(p, "part-z-planted-bad.csv")
      val w = new java.io.PrintWriter(bad, "UTF-8")
      try w.print("oops,Bad Key,1.5\n12x,Bad Key Two,2.5\n99,Bad Balance,abc\n")
      finally w.close()
      val strict = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType)))
      val withCorrupt = StructType(strict.fields :+
        StructField("_corrupt_record", StringType))
      // cache before counting: Spark (correctly) refuses lazy queries that
      // reference ONLY the internal corrupt-record column on a raw scan
      val permissive = s.read.schema(withCorrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record").csv(p)
        .cache()
      val nPerm = permissive.count()
      val nCorrupt = permissive.filter(col("_corrupt_record").isNotNull).count()
      permissive.unpersist(blocking = false)
      // .rdd.count(), not .count(): a bare CSV count() never parses a
      // field (Spark counts records schema-free), so DROPMALFORMED would
      // keep the planted rows and FAILFAST would never see them. The RDD
      // conversion requires the FULL row schema, forcing the parse that
      // the mode semantics are about.
      val nDrop = s.read.schema(strict).option("mode", "DROPMALFORMED")
        .csv(p).rdd.count()
      val threw =
        try {
          s.read.schema(strict).option("mode", "FAILFAST").csv(p).rdd.count()
          false
        } catch { case _: org.apache.spark.SparkException => true }
      import s.implicits._
      Seq((nPerm, nCorrupt, nDrop, threw))
        .toDF("n_permissive", "n_corrupt", "n_dropmalformed", "failfast_threw")
    })

  /** q41 — Avro SCHEMA-EVOLUTION read ([[graft.sources.AvroIO]] with an
    * explicit READER schema — Avro's schema-resolution rules, the
    * contract that makes the format an evolution-safe interchange): one
    * directory holds two file GENERATIONS — v1 (even order keys; no
    * `o_totalprice`, `bucket` written as INT) and v2 (odd keys; adds
    * nullable `o_totalprice`, `bucket` widened to LONG) — read under a
    * single reader schema, with v1 rows null-filled on the added column
    * (union-null default) and int→long PROMOTED on the widened one.
    * Fields resolve by NAME, so the generations' differing field layouts
    * interleave freely across part files. The oracle derives both
    * generations from the live orders table (v1 = even keys, v2 = odd),
    * so a resolution bug on either leg — a default not applied, a
    * promotion mis-decoded, rows of one generation dropped —
    * hash-fails. (q38 pins the single-schema round-trip; this pins the
    * cross-generation read.)
    */
  val q41 = QSpec(
    "q41_avro_evolution",
    Some("""SELECT o_orderkey, o_orderstatus,
           | CAST(o_orderkey % 100 AS BIGINT) AS bucket,
           | CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END AS o_totalprice_ev
           |FROM orders WHERE o_orderkey % 5 = 0
           |ORDER BY o_orderkey""".stripMargin),
    (s, d) => {
      val o = orders(s, d)
      val root = scratch(d, "q41_avro")
      val v2dir = scratch(d, "q41_avro_v2")
      graft.sources.AvroIO.write(
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            (col("o_orderkey") % 100).cast("int").as("bucket")), root)
      graft.sources.AvroIO.write(
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_orderstatus"),
            (col("o_orderkey") % 100).as("bucket"), col("o_totalprice")),
        v2dir)
      // merge the generations into one scan dir: driver-side renames of
      // a handful of part files (scratch-dir arrangement, not data
      // motion — a real deployment's generations land in one prefix)
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = rootPath.getFileSystem(s.sessionState.newHadoopConf())
      fs.listStatus(new org.apache.hadoop.fs.Path(v2dir))
        .filter(_.getPath.getName.endsWith(".avro"))
        .foreach { st =>
          fs.rename(st.getPath, new org.apache.hadoop.fs.Path(
            rootPath, "gen2-" + st.getPath.getName)): Unit
        }
      val readerSchema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("bucket", LongType),
        StructField("o_totalprice", DoubleType)))
      graft.sources.AvroIO.read(s, root, readerSchema)
        .filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("bucket"),
          col("o_totalprice").as("o_totalprice_ev"))
        .orderBy("o_orderkey")
    })

  /** q42 — CSV SCHEMA-EVOLUTION read (q41's CSV twin, the round-12
    * vetted seed): one scan dir holds two file GENERATIONS — v1 (even
    * custkeys; 3 columns, written before `c_mktsegment` existed) and v2
    * (odd keys; the current 4-column shape) — read under the current
    * 4-column schema. Measured Spark 4.1.2 semantics (probe
    * commit 8dbc707): PERMISSIVE keeps the old
    * generation, parses its column prefix, null-fills the missing
    * trailing column AND flags the row in the corrupt-record column;
    * DROPMALFORMED silently drops the old generation entirely; FAILFAST
    * throws (q39 pins that leg). This is the failure mode the
    * reference's own inferSchema CSV ingest
    * (notebooks/00_prepare_data.py:43-53) hits the day a column is
    * added upstream. Both mode legs derive from the LIVE customer
    * table: the PERMISSIVE rows pin per-row null-fill placement and
    * old-generation flagging, the DROPMALFORMED survivor count rides
    * every row — a generation dropped, a null misplaced, or a
    * mis-flagged row hash-fails.
    */
  val q42 = QSpec(
    "q42_csv_evolution",
    Some("""SELECT c_custkey, c_name, c_acctbal,
           | CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment END AS mkt_ev,
           | (c_custkey % 2 = 0) AS was_old_gen,
           | CAST((SELECT COUNT(*) FROM customer WHERE c_custkey % 2 = 1)
           |      AS BIGINT) AS n_dropmalformed
           |FROM customer WHERE c_custkey % 7 = 0
           |ORDER BY c_custkey""".stripMargin),
    (s, d) => {
      val c = customer(s, d)
      val root = scratch(d, "q42_csv")
      val v2dir = scratch(d, "q42_csv_v2")
      c.filter(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name", "c_acctbal")
        .write.mode("overwrite").csv(root)
      c.filter(col("c_custkey") % 2 === 1)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .write.mode("overwrite").csv(v2dir)
      // merge the generations into one scan dir (q41's choreography:
      // driver-side renames of a handful of part files — a real
      // deployment's generations land in one prefix over time)
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = rootPath.getFileSystem(s.sessionState.newHadoopConf())
      fs.listStatus(new org.apache.hadoop.fs.Path(v2dir))
        .filter(_.getPath.getName.endsWith(".csv"))
        .foreach { st =>
          fs.rename(st.getPath, new org.apache.hadoop.fs.Path(
            rootPath, "gen2-" + st.getPath.getName)): Unit
        }
      val current = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType)))
      val withCorrupt = StructType(current.fields :+
        StructField("_corrupt_record", StringType))
      // DROPMALFORMED leg: .rdd.count() forces the full-row parse (q39's
      // lesson — a bare count() never parses a field)
      val nDrop = s.read.schema(current).option("mode", "DROPMALFORMED")
        .csv(root).rdd.count()
      s.read.schema(withCorrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record").csv(root)
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment").as("mkt_ev"),
          col("_corrupt_record").isNotNull.as("was_old_gen"),
          lit(nDrop).as("n_dropmalformed"))
        .orderBy("c_custkey")
    })

  /** q43 — PARQUET schema-evolution read (closes the format-evolution
    * trio: Avro q41 resolves by reader schema, CSV q42 by positional
    * prefix, parquet by FOOTER MERGE). Probe-first overlap check against
    * q34, the standing rule: q34 pins the mergeSchema UNION of two
    * disjoint-column batches read as two explicitly listed paths; this
    * pins the GENERATIONAL layout — one accumulating prefix a long-lived
    * table grows in place, a column ADDED over time — and the hazard q34
    * cannot see: the DEFAULT read of that prefix picks ONE footer at
    * plan time and can silently drop the new column for every row
    * (measured on Spark 4.1.2, commit 03b78db —
    * a pipeline that forgets the option reads a narrower table, no
    * error), where `mergeSchema=true` unions the footers and null-fills
    * v1 rows. Declared output: the merged rows (null-fill placement
    * pinned per row by parity against the live table) plus the merged
    * column count riding every row — a dropped generation, a misplaced
    * null, or a lost column hash-fails.
    */
  val q43 = QSpec(
    "q43_parquet_evolution",
    Some("""SELECT c_custkey, c_acctbal,
           | CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment END AS mkt_ev,
           | CAST(3 AS INT) AS n_merged_cols
           |FROM customer WHERE c_custkey % 7 = 0
           |ORDER BY c_custkey""".stripMargin),
    (s, d) => {
      val c = customer(s, d)
      val root = scratch(d, "q43_parquet")
      // wipe, then append both generations into ONE dir — the layout a
      // long-lived table accumulates as its writer evolves
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = rootPath.getFileSystem(s.sessionState.newHadoopConf())
      if (fs.exists(rootPath)) fs.delete(rootPath, true): Unit
      c.filter(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_acctbal")
        .write.mode("append").parquet(root)
      c.filter(col("c_custkey") % 2 === 1)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
        .write.mode("append").parquet(root)
      val merged = s.read.option("mergeSchema", "true").parquet(root)
      merged
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("c_acctbal"),
          col("c_mktsegment").as("mkt_ev"),
          lit(merged.columns.length).as("n_merged_cols"))
        .orderBy("c_custkey")
    })

  val specs: Seq[QSpec] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20,
    q21, q22, q23, q24, q25, q26, q27, q28, q29, q32, q33, q34, q35, q36,
    q37, q38, q39, q41, q42, q43)
}
