package graft.operators

import graft.SparkSpec
import graft.llm.Similarity
import org.apache.spark.sql.functions._

/** Round-20-wave pins: index HEALTH + re-quantize (s17), incremental
  * generational compaction (s18), and the manifest protocol the round-17
  * store upgrade introduced — the meta sidecar is now the single commit
  * point for every store mutation, so orphan generation directories
  * (crashed appends/compactions) must be INVISIBLE to readers, and a
  * mid-rebuild crash must leave a store that refuses loudly.
  */
class Round20OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def emb = graft.util.Tables.embeddings(spark, sf)
    .select("vec_id", "embedding")

  test("s17/s18: contract booleans hold at the fixture SF") {
    for ((name, boolCols) <- Seq(
        "s17_ivf_requantize" ->
          Seq("drift_degrades_health", "requantize_repairs_health"),
        "s18_ivf_gen_compaction" ->
          Seq("rewrote_only_hot_gen", "hot_gen_reclaimed",
            "rewrite_lt_cold_rows"))) {
      val row = graft.SparkEntry.queries(name)(spark, sf).head()
      withClue(name) {
        row.getAs[Long]("n_rows") shouldBe 50L
        row.getAs[Long]("n_mismatch") shouldBe 0L
        for (c <- boolCols) assert(row.getAs[Boolean](c), c)
      }
    }
  }

  test("st25: stream-appended store equals the batch twin; mid-stream " +
      "appends visible to later batches; one generation per micro-batch") {
    val row = graft.SparkEntry
      .queries("st25_stream_index_append")(spark, sf).head()
    row.getAs[Long]("stream_batch_store_mismatch") shouldBe 0L
    assert(row.getAs[Boolean]("earlier_appends_visible"))
    row.getAs[Long]("n_append_batches") shouldBe 3L
  }

  test("mm14: stored-index media dedup labels exact copies dup with min-id " +
      "keeper, perturbed arrivals clean (organic seed+1 collisions aside)") {
    val rows = graft.SparkEntry
      .queries("mm14_media_dedup_stored_index")(spark, sf).collect()
    rows.length shouldBe 50
    // exact re-encoded copies (doc_id ≡ 0 mod 20) MUST be dups — the
    // container differs, the PCM doesn't, and stored-index retrieval of
    // an identical vector is structural at nprobe = 1
    val copies = rows.filter(_.getAs[Long]("arrival_id") % 20 == 0)
    copies.length shouldBe 25
    assert(copies.forall(_.getAs[Boolean]("is_dup")))
    // a copy's keeper is its own source unless a smaller id shares the
    // seed (ids ≡ mod 1009 — none below 1009, and arrivals stop at 2000)
    assert(copies.forall(r =>
      r.getAs[Long]("keeper_id") <= r.getAs[Long]("arrival_id")))
  }

  test("p19: every kept doc packs exactly once; chunk accounting is a " +
      "partition of the keep-set's token mass") {
    val out = graft.SparkEntry.queries("p19_curate_pack_shard")(spark, sf)
      .collect()
    val kept = graft.SparkEntry
      .queries("p18_decontaminated_curation")(spark, sf).collect()
    out.map(_.getAs[Long]("n_docs")).sum shouldBe kept.length.toLong
    // chunks are dense from 0 within each shard (no cut-point gaps)
    out.groupBy(_.getAs[Int]("shard")).foreach { case (_, rows) =>
      rows.map(_.getAs[Long]("chunk")).sorted shouldBe
        (0L until rows.length.toLong)
    }
  }

  test("manifest: an orphan generation dir (uncommitted append) is invisible") {
    val dir = tmpDir("manifest-orphan")
    val idx = Similarity.buildIvfIndex(spark, emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", 16)
    Similarity.writeIvfIndex(idx, dir)
    val before = Similarity.readIvfIndex(spark, dir).inverted.count()
    // simulate a crashed append: generation data published, meta commit
    // never reached — write the dir directly, bypassing the commit
    Similarity.assignToCentroids(spark,
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 120),
        "vec_id", "embedding", idx.centroids)
      .write.parquet(s"$dir/inverted/gen=orphan")
    Similarity.readIvfIndex(spark, dir).inverted.count() shouldBe before
    Similarity.readIvfMeta(spark, dir).gens shouldBe Seq("base")
    // a real append both publishes and commits
    Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 120),
      "vec_id", "embedding", dir, "b1")
    Similarity.readIvfMeta(spark, dir).gens shouldBe Seq("base", "b1")
    Similarity.readIvfIndex(spark, dir).inverted.count() shouldBe (before + 20)
  }

  test("manifest: re-appending the same batchId does not double-list it") {
    val dir = tmpDir("manifest-idem")
    val idx = Similarity.buildIvfIndex(spark, emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", 16)
    Similarity.writeIvfIndex(idx, dir)
    val batch = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
    Similarity.appendToIvfIndex(batch, "vec_id", "embedding", dir, "b1")
    Similarity.appendToIvfIndex(batch, "vec_id", "embedding", dir, "b1")
    Similarity.readIvfMeta(spark, dir).gens shouldBe Seq("base", "b1")
  }

  test("crash safety: a store missing its meta sidecar refuses loudly") {
    val dir = tmpDir("crash-refuse")
    val idx = Similarity.buildIvfIndex(spark, emb.filter(col("vec_id") < 100),
      "vec_id", "embedding", 16)
    Similarity.writeIvfIndex(idx, dir)
    // simulate the writeIvfIndex upfront delete having run and the
    // rebuild crashing before the final meta write
    graft.util.IndexStore.deleteIfExists(spark, dir, "_graft_index.json")
    val e = intercept[IllegalArgumentException] {
      Similarity.readIvfIndex(spark, dir)
    }
    e.getMessage should include("meta")
    intercept[IllegalArgumentException] {
      Similarity.tombstoneIvfIndex(spark, dir,
        emb.limit(1).select("vec_id"), "vec_id", "t1")
    }
    // ...and the refused tombstone wrote NOTHING (no orphan takedown list)
    assert(!graft.util.IndexStore.exists(spark, dir, "tombstones"))
  }

  test("health: fixed-quantizer drift degrades both metrics; baseline persists") {
    val dir = tmpDir("health")
    val base = emb.filter(col("vec_id") % 3 < 2)
    val idx = Similarity.buildIvfIndex(spark, base, "vec_id", "embedding", 64)
    Similarity.writeIvfIndex(idx, dir)
    val meta = Similarity.readIvfMeta(spark, dir)
    assert(meta.health.isDefined, "fit-time baseline must be persisted")
    val drifted = emb.filter(col("vec_id") % 3 === 2)
      .select(col("vec_id"), transform(col("embedding"),
        x => (x + lit(1.0f)).cast("float")).as("embedding"))
    Similarity.appendToIvfIndex(drifted, "vec_id", "embedding", dir, "drift")
    val (h0, h1) = Similarity.ivfIndexHealth(spark, dir)
    h0.n should be < h1.n
    h1.occMaxOverMean should be > h0.occMaxOverMean
    h1.meanResidual should be > h0.meanResidual
  }

  test("requantize: refuses in-place; repaired store searches the live set") {
    val dir = tmpDir("requant")
    val idx = Similarity.buildIvfIndex(spark, emb.filter(col("vec_id") < 200),
      "vec_id", "embedding", 16)
    Similarity.writeIvfIndex(idx, dir)
    intercept[IllegalArgumentException] {
      Similarity.requantizeIvfIndex(spark, dir, dir, 16)
    }
    Similarity.tombstoneIvfIndex(spark, dir,
      emb.filter(col("vec_id") < 10).select("vec_id"), "vec_id", "t1")
    val dest = tmpDir("requant-dest")
    Similarity.requantizeIvfIndex(spark, dir, dest, 16)
    val re = Similarity.readIvfIndex(spark, dest)
    // tombstoned rows never entered the rebuilt store (physically gone)
    re.inverted.filter(col("neighbor_id") < 10).count() shouldBe 0
    re.inverted.count() shouldBe 190
    // the repaired store starts a fresh lifecycle: no takedown list, a
    // fresh baseline measured on the repaired layout
    assert(!graft.util.IndexStore.exists(spark, dest, "tombstones"))
    assert(Similarity.readIvfMeta(spark, dest).health.isDefined)
  }

  test("incremental compaction: threshold routes rewrites; manifest swaps; cold stays") {
    val dir = tmpDir("gencompact")
    val idx = Similarity.buildIvfIndex(spark, emb.filter(col("vec_id") < 200),
      "vec_id", "embedding", 16)
    Similarity.writeIvfIndex(idx, dir)
    Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 240),
      "vec_id", "embedding", dir, "g1")
    Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") >= 240 && col("vec_id") < 280),
      "vec_id", "embedding", dir, "g2")
    // kill 20 of g1's 40 rows (50% dead) and 1 of base's 200 (0.5%)
    Similarity.tombstoneIvfIndex(spark, dir,
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 220 ||
        col("vec_id") === 0).select("vec_id"), "vec_id", "t1")
    val liveBefore = Similarity.readIvfIndex(spark, dir).inverted
      .orderBy("neighbor_id").collect().toSeq
    val report = Similarity.compactIvfGenerations(spark, dir, 0.1)
    report.rewritten.map(_._1) shouldBe Seq("g1")
    report.rowsRewritten shouldBe 20L
    report.rowsReclaimed shouldBe 20L
    report.coldGens.sorted shouldBe Seq("base", "g2")
    val meta = Similarity.readIvfMeta(spark, dir)
    meta.gens.toSet shouldBe Set("base", "g1.c1", "g2")
    meta.epoch shouldBe 1
    // result-invisible: the live view is unchanged row for row
    Similarity.readIvfIndex(spark, dir).inverted
      .orderBy("neighbor_id").collect().toSeq shouldBe liveBefore
    // the rewritten generation physically holds only live rows
    spark.read.parquet(s"$dir/inverted/gen=g1.c1").count() shouldBe 20
    // vec 0 is still dead only via merge-on-read (below threshold in base)
    spark.read.parquet(s"$dir/inverted/gen=base")
      .filter(col("neighbor_id") === 0).count() shouldBe 1
    // idempotent second pass at the same threshold: nothing left hot
    val report2 = Similarity.compactIvfGenerations(spark, dir, 0.1)
    report2.rewritten shouldBe empty
  }
}
