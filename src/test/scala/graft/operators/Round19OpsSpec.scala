package graft.operators

import graft.SparkSpec
import graft.llm.Similarity
import org.apache.spark.sql.functions._

/** Round-19-wave pins: the vector-index LIFECYCLE (s14–s16 — persisted
  * append / tombstone / compaction on the IVF store, the round-15
  * verdict's top directive), the size-routed media ANN twin (mm13), the
  * streaming ANN retrieval twin (st24), and the decontaminated curation
  * composition (p18). Contract booleans run at the tiny fixture SF; the
  * interleaving/refusal pins exercise the store choreography directly
  * (the Round13OpsSpec pattern for d19–d21, transposed).
  */
class Round19OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def emb = graft.util.Tables.embeddings(spark, sf)
    .select("vec_id", "embedding")

  test("s14/s15/s16: lifecycle contract booleans hold at the fixture SF") {
    for ((name, cols) <- Seq(
        "s14_ivf_index_append" -> Seq("n_rows", "n_mismatch", "appended_in_topk"),
        "s15_ivf_index_tombstones" -> Seq("n_rows", "n_mismatch", "no_dead_neighbors"),
        "s16_ivf_index_compaction" ->
          Seq("n_rows", "n_mismatch", "physical_rows_match_live", "tombstones_reset"))) {
      val row = graft.SparkEntry.queries(name)(spark, sf).head()
      withClue(name) {
        row.getAs[Long]("n_rows") shouldBe 50L
        row.getAs[Long]("n_mismatch") shouldBe 0L
        for (c <- cols.drop(2)) assert(row.getAs[Boolean](c), c)
      }
    }
  }

  test("ivf store: append refuses a missing store, 'base', unsafe batch ids") {
    val dir = tmpDir("s14-refusals")
    val batch = emb.limit(10)
    // no store yet → the meta-sidecar guard must fire, not a parquet error
    val e1 = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(batch, "vec_id", "embedding", s"$dir/none", "b1")
    }
    e1.getMessage should include("meta")
    for (bad <- Seq("base", "", "a/b", "a=b", "a b")) {
      intercept[IllegalArgumentException] {
        Similarity.appendToIvfIndex(batch, "vec_id", "embedding", dir, bad)
      }
    }
    intercept[IllegalArgumentException] {
      Similarity.tombstoneIvfIndex(spark, dir, batch.select("vec_id"), "vec_id", "a=b")
    }
    intercept[IllegalArgumentException] {
      Similarity.compactIvfIndex(spark, dir, dir) // in-place refused
    }
  }

  test("ivf store: re-appending the same batchId is idempotent (overwrite, no dup rows)") {
    val dir = tmpDir("s14-idem")
    val base = emb.filter(col("vec_id") % 3 < 2)
    val shard = emb.filter(col("vec_id") % 3 === 2)
    val idx = Similarity.buildIvfIndex(spark, base, "vec_id", "embedding", 64)
    Similarity.writeIvfIndex(idx, dir)
    Similarity.appendToIvfIndex(shard, "vec_id", "embedding", dir, "shard1")
    val once = Similarity.readIvfIndex(spark, dir).inverted.count()
    // a retried append (same shard identity) must REPLACE, not duplicate
    Similarity.appendToIvfIndex(shard, "vec_id", "embedding", dir, "shard1")
    val twice = Similarity.readIvfIndex(spark, dir).inverted.count()
    twice shouldBe once
    twice shouldBe emb.count()
  }

  test("ivf store: rebuild drops surviving generations and stale tombstones") {
    val dir = tmpDir("s14-rebuild")
    val base = emb.filter(col("vec_id") % 3 < 2)
    val idx = Similarity.buildIvfIndex(spark, base, "vec_id", "embedding", 64)
    Similarity.writeIvfIndex(idx, dir)
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 3 === 2),
      "vec_id", "embedding", dir, "shard1")
    Similarity.tombstoneIvfIndex(spark, dir,
      emb.filter(col("vec_id") < 100).select("vec_id"), "vec_id", "t1")
    // REBUILD at the same path: the old generation and the takedown list
    // must both vanish — a stale tombstone surviving a rebuild would
    // silently anti-join ids that are live in the new corpus (d13's rule)
    Similarity.writeIvfIndex(idx, dir)
    val after = Similarity.readIvfIndex(spark, dir)
    after.inverted.count() shouldBe base.count()
    assert(!graft.util.IndexStore.exists(spark, dir, "tombstones"))
  }

  test("ivf store: tombstone of unknown ids is harmless; compaction reclaims physically") {
    val dir = tmpDir("s15-carve")
    val dest = tmpDir("s15-carve-dest")
    val idx = Similarity.buildIvfIndex(spark, emb, "vec_id", "embedding", 64)
    Similarity.writeIvfIndex(idx, dir)
    Similarity.tombstoneIvfIndex(spark, dir,
      Seq(3L, 5L, 999999L).toDF("vec_id"), "vec_id", "t1")
    val n = emb.count()
    Similarity.readIvfIndex(spark, dir).inverted.count() shouldBe n - 2
    Similarity.compactIvfIndex(spark, dir, s"$dest/c")
    // physical reclamation: raw parquet rows, before any tombstone join
    spark.read.parquet(s"$dest/c/inverted").count() shouldBe n - 2
    assert(!graft.util.IndexStore.exists(spark, s"$dest/c", "tombstones"))
    // compacted store must answer identically to the grown store
    val probes = emb.filter(col("vec_id") < 3)
    val a = Similarity.ivfSearch(spark, Similarity.readIvfIndex(spark, dir),
      probes, "vec_id", "embedding", 5, 26).collect()
    val b = Similarity.ivfSearch(spark, Similarity.readIvfIndex(spark, s"$dest/c"),
      probes, "vec_id", "embedding", 5, 26).collect()
    a should contain theSameElementsInOrderAs b
  }

  test("assignToCentroids ties ranking to probeClusters at nprobe=1") {
    val cents = Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    val df = Seq((1L, Seq(0.9f, 0.1f)), (2L, Seq(0.2f, 0.8f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.assignToCentroids(spark, df, "vec_id", "embedding", cents)
      .select("neighbor_id", "cluster").as[(Long, Int)].collect().toMap
    got shouldBe Map(1L -> 0, 2L -> 1)
  }

  test("mm13/st24: routed contract booleans hold at the fixture SF") {
    val mm = graft.SparkEntry.queries("mm13_media_ann_routed")(spark, sf).head()
    mm.getAs[Long]("n_probes") shouldBe 5L
    assert(mm.getAs[Boolean]("recall_ge_090"))
    assert(mm.getAs[Boolean]("scan_frac_le_050"))
    val st = graft.SparkEntry.queries("st24_stream_ann_retrieval")(spark, sf).head()
    st.getAs[Long]("n_probes") shouldBe 50L
    assert(st.getAs[Boolean]("dup_hit_rate_ge_095"))
    st.getAs[Long]("stream_batch_mismatch") shouldBe 0L
  }

  test("p18: selection is a valid contiguous per-source ranking of clean docs") {
    val out = graft.SparkEntry.queries("p18_decontaminated_curation")(spark, sf)
      .select($"source", $"doc_id", $"rank").as[(String, Long, Long)].collect()
    assert(out.nonEmpty)
    // only train-split docs ship
    all(out.map(_._2 % 3)) should be < 2L
    // ranks contiguous from 1 per source — the anti-join runs BEFORE the
    // quota window, so decontamination can never leave rank holes
    out.groupBy(_._1).foreach { case (src, rows) =>
      withClue(src)(rows.map(_._3).sorted shouldBe (1L to rows.length))
    }
  }
}
