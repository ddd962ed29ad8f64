package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-18-wave pins: the two growth operators added after the bc17
  * measurement round — s13 (two-level-IVF ANN as a first-class query)
  * and st23 (the streaming PSI drift monitor).
  */
class Round18OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("s13: contract booleans hold on the driver corpus (gate SF)") {
    // sf0.01 = the oracle gate's SF; the flat route engages there
    // (n = 500 ≪ the 65 k ivf2 boundary) with the s02-measured dial.
    // The ivf2 route's recall/scan is probe-pinned at its design scale
    // (SCALE.md "s13 size-routed ANN — probe ledger") and its exactness contracts
    // are unit-pinned in Round17OpsSpec.
    val row = graft.SparkEntry.queries("s13_ivf2_ann")(spark, "/root/testdata/sf0.01").head()
    assert(row.getAs[Long]("n_probes") === 5L)
    assert(row.getAs[Boolean]("recall_ge_090"))
    assert(row.getAs[Boolean]("scan_frac_le_050"))
  }

  test("st23: streaming histogram equals the batch twin, PSI math exact") {
    // batch twin computed directly (a14's math on the same planted split)
    val e = graft.util.Tables.events(spark, sf)
    val side = when(col("event_id") % 2 === 0, 0).otherwise(1)
    val value = when(col("event_id") % 2 === 0, col("value"))
      .otherwise(col("value") * 1.1)
    val batch = e.select(side.as("side"),
        greatest(least(floor(value / 50).cast("long"), lit(9L)), lit(0L))
          .as("bin"))
      .groupBy("side", "bin").count()
      .as[(Int, Long, Long)].collect()
      .map { case (s, b, c) => (s, b) -> c }.toMap
    val nRef = batch.collect { case ((0, _), c) => c }.sum
    val nCur = batch.collect { case ((1, _), c) => c }.sum
    def p(sideN: Int, tot: Long)(b: Long): Double =
      (batch.getOrElse((sideN, b), 0L) + 0.5) / (tot + 5.0)
    val got = graft.SparkEntry.queries("st23_stream_psi_drift")(spark, sf)
      .orderBy("bin")
      .as[(Long, Double, Double, Double)].collect()
    assert(got.length === 10)
    // Spark's round() is HALF_UP; math.rint is HALF_EVEN — an exact tie
    // at the 6th decimal would diverge, so the expectation uses the same
    // HALF_UP rule (the round-15 ADVICE pin)
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    for ((bin, pRef, pCur, term) <- got) {
      val er = p(0, nRef)(bin); val ec = p(1, nCur)(bin)
      assert(pRef === r6(er), s"p_ref bin $bin")
      assert(pCur === r6(ec), s"p_cur bin $bin")
      assert(term === r6((er - ec) * math.log(er / ec)), s"psi_term bin $bin")
    }
    // the planted x1.1 shift must actually register as drift: total PSI
    // clearly positive (an identically-distributed split would read ~0)
    assert(got.map(_._4).sum > 0.001)
  }
}
