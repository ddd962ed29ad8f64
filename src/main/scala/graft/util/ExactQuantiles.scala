package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated percentiles (quantile_cont semantics) computed
  * scalably.
  *
  * Spark's built-in `percentile` is an imperative aggregate that buffers
  * EVERY value in the aggregation buffer — on a 100 TB column that is an
  * OOM, not a plan. This computes the identical result through a
  * distributed value-frequency table:
  *
  *   1. groupBy(value) → count: map-side combined, output rows = DISTINCT
  *      values (50 for an int code column, ~10⁷ for 2-dp prices), spread
  *      across the cluster — never the raw rows.
  *   2. cumulative counts via a TWO-LEVEL prefix sum: values are range-
  *      bucketed (width_bucket over the observed min/max), the running sum
  *      inside each bucket is a window partitioned BY bucket (parallel
  *      across the cluster), and the per-bucket offsets come from one tiny
  *      window over ≤ nBuckets+2 rows. No global-order single-partition
  *      window anywhere, so the frequency table itself can be huge.
  *   3. each requested quantile reads the frequency row holding rank k and
  *      interpolates v_k + (v_{k+1} − v_k)·frac at 1-indexed position
  *      h = (n−1)·p + 1 — the same order-statistic formula as
  *      `percentile` / DuckDB `quantile_cont`, so oracles stay bit-exact
  *      (all rank arithmetic is on exact long counts; pinned against
  *      Spark's own `percentile` in PropertiesSpec).
  *
  * For truly unbounded continuous columns where even the distinct-value
  * table is unreasonable, the GK sketch
  * ([[org.apache.spark.sql.DataFrameStatFunctions.approxQuantile]], q20)
  * is the right tool.
  */
object ExactQuantiles {

  /** One-row frame of exact quantiles: `probs` maps output column name →
    * probability in [0, 1]. Nulls in `valueCol` are excluded (standard
    * percentile semantics).
    */
  def quantilesRow(df: DataFrame, valueCol: String,
      probs: Seq[(String, Double)], nBuckets: Int = 1024): DataFrame = {
    // the frequency table feeds the bounds aggregate, the in-bucket window,
    // and the bucket-offset aggregate — deliberately NOT cache()d: the
    // shuffle exchange under it is reused across consumers anyway
    // (ReusedExchange), and measured cache materialization cost more than
    // it saved at every scale tried
    val freq = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("cnt"))

    // lazy min/max/total (1-row broadcast) so bucket ids are column math
    val bounds = freq.agg(min("v").as("lo"), max("v").as("hi"), sum("cnt").as("n"))
    val bucketed = freq.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        // degenerate single-distinct-value range: width_bucket needs lo<hi
        when(col("lo") === col("hi"), lit(1L))
          .otherwise(width_bucket(col("v"), col("lo"), col("hi"), lit(nBuckets))))

    // level 1: running count inside each bucket (parallel window)
    val wIn = Window.partitionBy("bucket").orderBy("v")
    val inBucket = bucketed
      .withColumn("cum_in", sum("cnt").over(wIn))
      .withColumn("v_next_in", lead("v", 1).over(wIn))

    // level 2: bucket totals → exclusive prefix offsets + each bucket's
    // first value (the global successor of a bucket's last value); this
    // window orders ≤ nBuckets+2 rows — trivially small by construction
    val wB = Window.orderBy("bucket")
    val offsets = bucketed.groupBy("bucket")
      .agg(sum("cnt").as("bsum"), min("v").as("bmin"))
      .withColumn("offset",
        coalesce(sum("bsum").over(wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("next_bmin", lead("bmin", 1).over(wB))
      .select("bucket", "offset", "next_bmin")

    // offsets holds ≤ nBuckets+2 rows, the frequency table up to one row
    // per distinct value: broadcast offsets by hint, so the join strategy
    // (and the shuffles under it) is not an AQE runtime choice that flips
    // with stage completion order
    val withN = inBucket.join(broadcast(offsets), "bucket")
      .withColumn("cum", col("cum_in") + col("offset"))
      .withColumn("v_next", coalesce(col("v_next_in"), col("next_bmin")))

    // every quantile reads off the same frame in ONE final aggregate: the
    // per-row expression is non-null only on the frequency row holding
    // rank k, so max() just picks that row's interpolated value
    val aggs: Seq[Column] = probs.map { case (name, p) =>
      // 1-indexed continuous position h = (n-1)p + 1; k = floor(h)
      val h = (col("n") - 1) * lit(p) + 1
      val k = floor(h)
      val frac = h - k
      // if rank k+1 falls in the same frequency row, v_{k+1} = v
      val vk1 = when(col("cum") >= k + 1, col("v")).otherwise(coalesce(col("v_next"), col("v")))
      max(when(col("cum") >= k && (col("cum") - col("cnt")) < k,
        col("v") + (vk1 - col("v")) * frac)).as(name)
    }
    withN.agg(aggs.head, aggs.tail: _*)
  }
}
