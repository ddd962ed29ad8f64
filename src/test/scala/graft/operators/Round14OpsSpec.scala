package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-computed fixtures and brute-force equivalences for the round-14
  * operators: st18's per-row box-overlap aggregator, x15 windowed heavy
  * hitters, p16 curriculum staging, s11 filtered ANN.
  */
class Round14OpsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------ st18 ---

  /** Round13OpsSpec's j12 fixture: coincident corners on both sides, an
    * exact edge-touch, negative coordinates, and no-overlap boxes. */
  private val aBoxes = Seq(
    (1L, 0.0, 0.0), (2L, 0.0, 0.0),
    (3L, 15.0, 25.0),
    (4L, -40.0, -60.0),
    (5L, 70.0, 120.0)
  ).toDF("aid", "alat", "alon")

  private val bBoxes = Seq(
    (10L, 5.0, 10.0), (11L, 5.0, 10.0),
    (12L, 20.0, 30.0),
    (13L, -45.0, -70.0),
    (14L, 25.0, 55.0),
    (15L, -100.0, -200.0)
  ).toDF("bid", "blat", "blon")

  test("boxOverlapEachRow == boxOverlapStats on the same batch frames " +
      "(the st18 streaming form is the batch answer per box)") {
    val collapsed = graft.joins.GeoJoin.boxOverlapStats(
      aBoxes, "aid", "alat", "alon", 20.0, 30.0,
      bBoxes, "bid", "blat", "blon", 10.0, 15.0)
      .orderBy("box_id").as[(Long, Long, Long)].collect().toSeq
    val perRow = graft.joins.GeoJoin.boxOverlapEachRow(
      aBoxes, "aid", "alat", "alon", 20.0, 30.0,
      bBoxes, "bid", "blat", "blon", 10.0, 15.0)
      .orderBy("box_id").as[(Long, Long, Long)].collect().toSeq
    collapsed.nonEmpty shouldBe true
    perRow shouldBe collapsed
  }

  test("boxOverlapEachRow is partitioning-invariant and keeps coincident " +
      "a-boxes as SEPARATE output rows (no corner collapse on the a side)") {
    val base = graft.joins.GeoJoin.boxOverlapEachRow(
      aBoxes, "aid", "alat", "alon", 20.0, 30.0,
      bBoxes, "bid", "blat", "blon", 10.0, 15.0)
      .orderBy("box_id").as[(Long, Long, Long)].collect().toSeq
    base.count(r => r._1 == 1L || r._1 == 2L) shouldBe 2
    val got = graft.joins.GeoJoin.boxOverlapEachRow(
      aBoxes.repartition(7), "aid", "alat", "alon", 20.0, 30.0,
      bBoxes.repartition(5), "bid", "blat", "blon", 10.0, 15.0)
      .orderBy("box_id").as[(Long, Long, Long)].collect().toSeq
    got shouldBe base
  }

  // ------------------------------------------------------- x15 ---

  test("x15 rank math: per-window top-3 with count-desc/user-asc ties " +
      "equals the brute replay, incl. a window with fewer than 3 users") {
    // window spine fixture: hour buckets with count ties inside a window
    val rows = Seq((8L, 100L), (8L, 100L), (3L, 100L), (3L, 100L), (5L, 100L),
      (9L, 101L), (9L, 101L), (9L, 101L), (1L, 104L))
    val ev = rows.toDF("user_id", "h")
    val x = ev.select(col("user_id"),
      explode(sequence(col("h") - 2, col("h"))).as("win_h"))
      .groupBy("win_h", "user_id").agg(count(lit(1)).as("n_events"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("win_h").orderBy(col("n_events").desc, col("user_id"))
    val got = x.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= 3)
      .orderBy("win_h", "rk")
      .as[(Long, Long, Long, Int)].collect().toSeq
    // brute: expand each event's 3 windows, count, sort, take 3
    val want = rows.flatMap { case (u, h) => (h - 2 to h).map(wh => (wh, u)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((wh, u), n) => (wh, u, n) }
      .groupBy(_._1).toSeq.flatMap { case (wh, g) =>
        g.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
          .map { case ((_, u, n), i) => (wh, u, n, i + 1) }
      }.sortBy(r => (r._1, r._4))
    got shouldBe want
    // window 100 covers hours 100-102: user 9 (3 events at 101) leads,
    // and the 2-2 count tie between users 3 and 8 resolves by user_id
    got.filter(_._1 == 100L).map(_._2) shouldBe Seq(9L, 3L, 8L)
  }

  // ------------------------------------------------------- p16 ---

  test("curriculumStages: exact BIGINT stage formula, dense per-stage " +
      "positions, and a (key, id)-sorted intra-stage order") {
    val docs = Seq((1L, 10L), (2L, 19L), (3L, 20L), (4L, 29L), (5L, 30L),
      (6L, 39L), (7L, 40L), (8L, 49L), (9L, 49L), (10L, 10L))
      .toDF("doc_id", "score")
    val got = graft.llm.Curation
      .curriculumStages(docs, "doc_id", "score", "t0", 4)
      .select("doc_id", "score", "stage", "pos")
      .as[(Long, Long, Int, Long)].collect().toSeq.sortBy(_._1)
    // stage = (4 * (score - 10)) div (49 - 10 + 1) — hand-computed
    got.map(r => (r._1, r._3)) shouldBe Seq(1L -> 0, 2L -> 0, 3L -> 1,
      4L -> 1, 5L -> 2, 6L -> 2, 7L -> 3, 8L -> 3, 9L -> 3, 10L -> 0)
    // positions dense from 0 within each stage
    got.groupBy(_._3).foreach { case (_, g) =>
      g.map(_._4).sorted shouldBe g.indices.map(_.toLong)
    }
    // intra-stage order follows the md5 key (ties by id): replay stage 3
    val key = conv(substring(md5(concat(lit("t0:"),
      col("doc_id").cast("string"))), 1, 12), 16, 10).cast("long")
    val want3 = docs.filter(col("doc_id").isin(7L, 8L, 9L))
      .withColumn("k", key).orderBy("k", "doc_id")
      .select("doc_id").as[Long].collect().toSeq
    got.filter(_._3 == 3).sortBy(_._4).map(_._1) shouldBe want3
  }

  test("curriculumStages is partitioning-invariant and seed-sensitive") {
    val docs = (1L to 200L).map(i => (i, i % 37)).toDF("doc_id", "score")
    val base = graft.llm.Curation
      .curriculumStages(docs, "doc_id", "score", "s1", 4)
      .select("doc_id", "stage", "pos")
      .as[(Long, Int, Long)].collect().toSeq.sortBy(_._1)
    val repart = graft.llm.Curation
      .curriculumStages(docs.repartition(13), "doc_id", "score", "s1", 4)
      .select("doc_id", "stage", "pos")
      .as[(Long, Int, Long)].collect().toSeq.sortBy(_._1)
    repart shouldBe base
    val other = graft.llm.Curation
      .curriculumStages(docs, "doc_id", "score", "s2", 4)
      .select("doc_id", "stage", "pos")
      .as[(Long, Int, Long)].collect().toSeq.sortBy(_._1)
    // stage assignment is a pure function of the score — seed-free
    other.map(r => (r._1, r._2)) shouldBe base.map(r => (r._1, r._2))
    // the intra-stage order is seed-keyed
    other.map(_._3) should not be base.map(_._3)
  }

  test("curriculumStages rejects nStages < 1") {
    an[IllegalArgumentException] should be thrownBy
      graft.llm.Curation.curriculumStages(
        Seq((1L, 1L)).toDF("doc_id", "score"), "doc_id", "score", "x", 0)
  }

  // ------------------------------------------------------- q41 ---

  test("q41 is re-runnable in one session: the overwrite + generation " +
      "rename choreography leaves no stale gen2 files behind (sf0.001)") {
    val d = "/root/testdata/sf0.001"
    val first = graft.SparkEntry.queries("q41_avro_evolution")(spark, d)
      .collect().map(_.toSeq).toSeq
    val second = graft.SparkEntry.queries("q41_avro_evolution")(spark, d)
      .collect().map(_.toSeq).toSeq
    first.nonEmpty shouldBe true
    second shouldBe first
  }

  // ------------------------------------------------------- w15 ---

  test("w15 interval-union math: nested and swallowing intervals merge " +
      "into one segment (the case gap-logic gets wrong), equal-ts ties " +
      "are total-ordered, and coverage is max(end) - min(start)") {
    // user 1: [0,100] swallows [10,20] and [90,150] chains → one segment
    //   [0,150]; [200,210] separate. user 2: two equal-ts intervals.
    val iv = Seq(
      (1L, 10L, 0L, 100L), (1L, 11L, 10L, 20L), (1L, 12L, 90L, 150L),
      (1L, 13L, 200L, 210L),
      (2L, 20L, 5L, 15L), (2L, 21L, 5L, 30L)
    ).toDF("user_id", "event_id", "s", "e")
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("s"), col("event_id"))
    import org.apache.spark.sql.expressions.Window.{unboundedPreceding, currentRow}
    val segs = iv
      .withColumn("pmax", max("e").over(byUser.rowsBetween(unboundedPreceding, -1)))
      .withColumn("isnew", when(col("pmax").isNull || col("s") > col("pmax"), 1).otherwise(0))
      .withColumn("seg", sum("isnew").over(byUser.rowsBetween(unboundedPreceding, currentRow)))
      .groupBy("user_id", "seg")
      .agg(min("s").as("seg_s"), max("e").as("seg_e"), count(lit(1)).as("n_iv"))
      .groupBy("user_id")
      .agg(sum("n_iv").as("n_intervals"), count(lit(1)).as("n_segments"),
        sum(col("seg_e") - col("seg_s")).as("covered"),
        max(col("seg_e") - col("seg_s")).as("longest"))
      .orderBy("user_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    segs shouldBe Seq(
      (1L, 4L, 2L, 160L, 150L), // [0,150] + [200,210] = 150 + 10
      (2L, 2L, 1L, 25L, 25L)) // union of the equal-ts pair = [5,30]
  }

  // ------------------------------------------------------- m17 ---

  test("m17 PAV closed form: the planted violator pair pools to its " +
      "weighted mean and nothing else moves off the per-level mean") {
    // levels 1..4 monotone except a (30, 24) violation at x=2,3 with
    // counts 2 and 1 → pooled (30+30+24)/3 = 28, inside (20, 40)
    val src = Seq((1.0, 10.0), (2.0, 30.0), (2.0, 30.0), (3.0, 24.0),
      (4.0, 40.0)).toDF("x", "y")
    val model = new org.apache.spark.ml.regression.IsotonicRegression()
      .setFeaturesCol("x").setLabelCol("y").setPredictionCol("p").fit(src)
    val got = model.transform(src.select("x").distinct())
      .select(col("x"), round(col("p"), 4).as("p"))
      .orderBy("x").as[(Double, Double)].collect().toSeq
    got shouldBe Seq((1.0, 10.0), (2.0, 28.0), (3.0, 28.0), (4.0, 40.0))
  }

  // ------------------------------------------------------- st19 ---

  test("lshTop1EachRow == lshTopK(k=1) on the same batch frames (the " +
      "st19 streaming form is the batch top-1 per probe), sf0.01") {
    val d = "/root/testdata/sf0.01"
    val base = graft.util.Tables.embeddings(spark, d)
      .select("vec_id", "embedding")
    val probes = base.filter(col("vec_id") % 10 === 5)
      .select((col("vec_id") + 300000L).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.5f)).cast("float"))
          .as("embedding"))
    val batch = graft.llm.Similarity.lshTopK(spark, base, probes,
      "vec_id", "embedding", 1)
      .select("p_id", "neighbor_id", "rank", "sim")
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val perRow = graft.llm.Similarity.lshTop1EachRow(spark, base, probes,
      "vec_id", "embedding")
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    batch.nonEmpty shouldBe true
    perRow shouldBe batch
  }

  // ------------------------------------------------------- s11 ---

  test("s11 pre-filtering: every returned neighbor satisfies the filter, " +
      "and with all cells probed the filtered search IS the filtered " +
      "brute force (sf0.01)") {
    val d = "/root/testdata/sf0.01"
    val emb = graft.util.Tables.embeddings(spark, d)
    val eligible = emb.filter(col("label") < 5)
    val probes = emb.filter(col("vec_id") < 5)
    val idx = graft.llm.Similarity.buildIvfIndex(
      spark, emb, "vec_id", "embedding", 512).persisted
    val fidx = idx.copy(inverted = idx.inverted.join(
      eligible.select(col("vec_id").as("neighbor_id")),
      Seq("neighbor_id"), "left_semi"))
    // probe EVERY cell → candidate set = the whole filtered corpus →
    // the IVF result must equal the exact filtered brute force
    val all = graft.llm.Similarity.ivfSearch(spark, fidx, probes,
      "vec_id", "embedding", 10, idx.centroids.length)
      .select("p_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val brute = graft.llm.Similarity.bruteTopK(spark, eligible, probes,
      "vec_id", "embedding", 10)
      .select("p_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    all shouldBe brute
    val ok = eligible.select("vec_id").as[Long].collect().toSet
    all.map(_._2).toSet.subsetOf(ok) shouldBe true
  }
}
