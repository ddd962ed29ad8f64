package graft.llm

import graft.SparkSpec
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Round 18 (optimization, cont.): nnDescentGraph's fused per-round
  * candidate generation — ONE nbr_union aggregation + a<b double-explode —
  * must produce exactly the candidate-pair SET of the unfused chain it
  * replaced (reverse topk_sim aggregate → union → distinct → self-join on
  * id → distinct), over a REAL seed edge list from the sf0.01 corpus (the
  * organic ties / asymmetric in-degrees are what a synthetic fixture would
  * miss). Downstream consumes the pairs as a set (distinct → anti-join →
  * deterministic cosine), so set equality here is result identity for s12.
  */
class NbrUnionSpec extends SparkSpec {

  private val kBuild = 10

  private def corpus = spark.read
    .parquet("/root/testdata/sf0.01/embeddings.parquet")
    .select(col("vec_id").cast("long").as("id"), col("embedding").as("emb"))

  /** A real NN-Descent round input: the IVF seed edge list (directed,
    * ranked, per-id ≤ kBuild rows) over the sf0.01 corpus.
    */
  private def seedCur = {
    val emb = corpus
    val idx = Similarity.buildIvfIndex(spark, emb, "id", "emb", 64)
    Similarity.ivfSearch(spark, idx, emb, "id", "emb", kBuild, 8)
      .select(col("p_id").as("id"), col("neighbor_id").as("nbr"), col("sim"))
      .localCheckpoint()
  }

  test("fused nbr_union candidate pairs == unfused rev/union/distinct/self-join chain") {
    GraftFunctions.ensureRegistered(spark)
    val cur = seedCur

    // the pre-fusion formulation, verbatim
    val rev = cur.select(col("nbr").as("id"), col("id").as("nbr"), col("sim"))
      .groupBy("id")
      .agg(call_function("topk_sim", col("sim"), col("nbr"), lit(kBuild)).as("top"))
      .select(col("id"), explode(col("top.id")).as("nbr"))
    val b = cur.select("id", "nbr").union(rev).distinct()
    val oldPairs = b.as("x").join(b.as("y"),
        col("x.id") === col("y.id") && col("x.nbr") < col("y.nbr"))
      .select(col("x.nbr").as("a"), col("y.nbr").as("b")).distinct()

    // the shipped fused formulation (mirrors nnDescentGraph's round body)
    val lists = cur.select(explode(array(
        struct(col("id"), col("nbr"), col("sim"), lit(true).as("fwd")),
        struct(col("nbr").as("id"), col("id").as("nbr"), col("sim"),
          lit(false).as("fwd")))).as("e"))
      .groupBy(col("e.id").as("id"))
      .agg(call_function("nbr_union", col("e.sim"), col("e.nbr"),
        col("e.fwd"), lit(kBuild)).as("nbrs"))
    val newPairs = lists
      .select(explode(col("nbrs")).as("a"), col("nbrs"))
      .select(col("a"), explode(col("nbrs")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()

    val old = oldPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fused = newPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(old.nonEmpty, "degenerate test: empty candidate-pair set")
    assert(fused === old)
  }

  test("nbr_union list == fwd ∪ capped-reverse set per node") {
    GraftFunctions.ensureRegistered(spark)
    val cur = seedCur
    val lists = cur.select(explode(array(
        struct(col("id"), col("nbr"), col("sim"), lit(true).as("fwd")),
        struct(col("nbr").as("id"), col("id").as("nbr"), col("sim"),
          lit(false).as("fwd")))).as("e"))
      .groupBy(col("e.id").as("id"))
      .agg(call_function("nbr_union", col("e.sim"), col("e.nbr"),
        col("e.fwd"), lit(kBuild)).as("nbrs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fwd = cur.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val revTop = cur.select(col("nbr").as("id"), col("id").as("nbr"), col("sim"))
      .groupBy("id")
      .agg(call_function("topk_sim", col("sim"), col("nbr"), lit(kBuild)).as("top"))
      .select(col("id"), col("top.id").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val nodes = fwd.keySet ++ revTop.keySet
    assert(lists.keySet === nodes)
    nodes.foreach { n =>
      val expected = fwd.getOrElse(n, Set.empty) ++ revTop.getOrElse(n, Set.empty)
      assert(lists(n).toSet === expected, s"node $n")
      assert(lists(n) === lists(n).sorted, s"node $n: list not sorted")
      assert(lists(n).distinct === lists(n), s"node $n: duplicates")
    }
  }

  test("nbr_union keeps a forward edge whose score is null; a null-score " +
      "reverse edge cannot rank and is dropped") {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val edges = Seq[(Long, Long, Option[Double], Boolean)](
      (1L, 2L, None, true), (1L, 3L, Some(0.5), true),
      (1L, 4L, None, false), (1L, 5L, Some(0.9), false),
      (6L, 7L, None, true))
      .toDF("id", "nbr", "sim", "fwd")
    val lists = edges.groupBy("id")
      .agg(call_function("nbr_union", col("sim"), col("nbr"), col("fwd"),
        lit(kBuild)).as("nbrs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the unfused chain kept forward pairs regardless of the score
    lists shouldBe Map(1L -> Seq(2L, 3L, 5L), 6L -> Seq(7L))
  }

  test("ivfSearch minScanPartitions spread is row-identical to the unspread scan") {
    val emb = corpus
    val idx = Similarity.buildIvfIndex(spark, emb, "id", "emb", 64)
    def search(minParts: Int) =
      Similarity.ivfSearch(spark, idx, emb, "id", "emb", kBuild, 8,
          minScanPartitions = minParts)
        .collect().map(_.toSeq).toSeq
    assert(search(spark.sparkContext.defaultParallelism) === search(1))
  }
}
