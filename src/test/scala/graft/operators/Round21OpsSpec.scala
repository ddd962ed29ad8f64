package graft.operators

import graft.SparkSpec
import graft.llm.Similarity
import org.apache.spark.sql.functions._

/** Round-21-wave pins: concurrent-mutation safety for the IVF store
  * manifest (the round-17 verdict's ask 1 — the lost-update window of a
  * plain read-modify-write on `_graft_index.json`), the Jackson manifest
  * serialization + batchId charset hardening (round-17 advice), and the
  * health-triggered maintenance routing (ask 3).
  *
  * The race tests here INJECT the interleavings deterministically (a
  * mutate function that holds the lock while a second writer runs, a
  * thread pool hammering the same manifest); the declared s19 query runs
  * the same choreographies under genuine concurrency, where the contract
  * terms hold under ANY schedule.
  */
class Round21OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def emb = graft.util.Tables.embeddings(spark, sf)
    .select("vec_id", "embedding")

  private def freshStore(name: String, n: Int = 100): String = {
    val dir = tmpDir(name)
    val idx = Similarity.buildIvfIndex(spark, emb.filter(col("vec_id") < n),
      "vec_id", "embedding", 16)
    Similarity.writeIvfIndex(idx, dir)
    dir
  }

  test("manifest commit: injected lost-update race — the slow writer's " +
      "re-read under the lock preserves the fast writer's generation") {
    val dir = freshStore("race-inject")
    val slowEntered = new java.util.concurrent.CountDownLatch(1)
    val slow = new Thread(() => {
      Similarity.mutateIvfMeta(spark, dir) { m =>
        slowEntered.countDown()
        // hold the lock long enough that the fast writer must WAIT on it
        // (without the lock, the fast writer would commit now and this
        // mutate's stale-read result would clobber it — the exact
        // round-17 lost-update scenario)
        Thread.sleep(400)
        m.copy(gens = m.gens :+ "slow")
      }: Unit
    })
    slow.start()
    slowEntered.await()
    Similarity.mutateIvfMeta(spark, dir)(m => m.copy(gens = m.gens :+ "fast"))
    slow.join()
    Similarity.readIvfMeta(spark, dir).gens.toSet shouldBe
      Set("base", "slow", "fast")
  }

  test("manifest commit: 8 threads × 3 commits each — all 24 generations land") {
    val dir = freshStore("race-hammer")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val futs = (0 until 8).flatMap { t =>
      (0 until 3).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = Similarity.mutateIvfMeta(spark, dir)(m =>
            m.copy(gens = m.gens :+ s"g$t-$i")): Unit
        })
      }
    }
    futs.foreach(_.get())
    pool.shutdown()
    val gens = Similarity.readIvfMeta(spark, dir).gens
    gens.size shouldBe 25
    gens.toSet shouldBe (for (t <- 0 until 8; i <- 0 until 3)
      yield s"g$t-$i").toSet + "base"
  }

  test("manifest commit: a reader never observes a missing or partial " +
      "manifest while a writer rename-replaces it") {
    val dir = freshStore("atomic-read")
    @volatile var writerDone = false
    val writer = new Thread(() => {
      for (i <- 0 until 40)
        Similarity.mutateIvfMeta(spark, dir)(m =>
          m.copy(gens = m.gens :+ s"w$i")): Unit
      writerDone = true
    })
    writer.start()
    var reads = 0
    while (!writerDone) {
      val m = Similarity.readIvfMeta(spark, dir) // throws on partial/missing
      m.gens.head shouldBe "base"
      reads += 1
    }
    writer.join()
    assert(reads > 0, "reader must have overlapped the writer")
    Similarity.readIvfMeta(spark, dir).gens.size shouldBe 41
  }

  test("append ∥ append on a real store: both generations committed, " +
      "store equals the sequential twin") {
    val dir = freshStore("cc-append", 120)
    val a = emb.filter(col("vec_id") >= 120 && col("vec_id") < 160)
    val b = emb.filter(col("vec_id") >= 160 && col("vec_id") < 200)
    val ta = new Thread(() =>
      Similarity.appendToIvfIndex(a, "vec_id", "embedding", dir, "cc_a"))
    val tb = new Thread(() =>
      Similarity.appendToIvfIndex(b, "vec_id", "embedding", dir, "cc_b"))
    ta.start(); tb.start(); ta.join(); tb.join()
    Similarity.readIvfMeta(spark, dir).gens.toSet shouldBe
      Set("base", "cc_a", "cc_b")
    Similarity.readIvfIndex(spark, dir).inverted.count() shouldBe 200L
  }

  test("stale lock: a crashed holder's leftover lock is broken after the " +
      "TTL instead of blocking forever") {
    val dir = freshStore("stale-lock")
    // plant a crashed writer's lock and age it past the TTL
    val lock = new java.io.File(dir, "_graft_index.lock")
    assert(lock.createNewFile())
    assert(lock.setLastModified(System.currentTimeMillis() - 3600000L))
    Similarity.mutateIvfMeta(spark, dir)(m => m.copy(gens = m.gens :+ "x")): Unit
    Similarity.readIvfMeta(spark, dir).gens shouldBe Seq("base", "x")
    // a LIVE lock (fresh mtime) blocks until timeout — refused loudly
    assert(lock.createNewFile())
    val e = intercept[RuntimeException] {
      graft.util.IndexStore.withLockFile(spark, dir, "_graft_index.lock",
        staleMs = 600000L, timeoutMs = 300L) { () }
    }
    e.getMessage should include("lock")
    assert(lock.delete())
  }

  test("batchId charset: JSON-unsafe and layout-unsafe ids refused; " +
      "numeric ids accepted and compactable (no partition-type inference)") {
    val dir = freshStore("batchid", 120)
    val batch = emb.filter(col("vec_id") >= 120 && col("vec_id") < 160)
    for (bad <- Seq("a\"b", "a\\b", "a=b", "a/b", "a b", "", "base"))
      intercept[IllegalArgumentException] {
        Similarity.appendToIvfIndex(batch, "vec_id", "embedding", dir, bad)
      }
    // '2024' and '01' are legal and must survive the stats read verbatim
    // (the old basePath partition read coerced them to int and crashed)
    Similarity.appendToIvfIndex(batch, "vec_id", "embedding", dir, "2024")
    Similarity.appendToIvfIndex(
      emb.filter(col("vec_id") >= 160 && col("vec_id") < 200),
      "vec_id", "embedding", dir, "01")
    Similarity.tombstoneIvfIndex(spark, dir,
      emb.filter(col("vec_id") >= 120 && col("vec_id") < 150)
        .select("vec_id"), "vec_id", "t1")
    val report = Similarity.compactIvfGenerations(spark, dir, 0.1)
    report.rewritten.map(_._1) shouldBe Seq("2024")
    Similarity.readIvfMeta(spark, dir).gens.toSet shouldBe
      Set("base", "2024.c1", "01")
    Similarity.readIvfIndex(spark, dir).inverted.count() shouldBe 170L
  }

  test("manifest JSON: generation names and health round-trip through " +
      "Jackson; non-finite health refuses the commit") {
    val dir = tmpDir("meta-json")
    val meta = Similarity.IvfMeta(16, 8, Seq("base", "shard-1", "b.c2"), 3,
      Some(Similarity.IvfHealth(42L, 1.5, 0.25)))
    Similarity.writeIvfMeta(spark, dir, meta)
    Similarity.readIvfMeta(spark, dir) shouldBe meta
    intercept[IllegalArgumentException] {
      Similarity.writeIvfMeta(spark, dir, meta.copy(health =
        Some(Similarity.IvfHealth(1L, Double.NaN, 0.1))))
    }
    intercept[IllegalArgumentException] {
      Similarity.writeIvfMeta(spark, dir, meta.copy(health =
        Some(Similarity.IvfHealth(1L, 1.0, Double.PositiveInfinity))))
    }
  }

  test("health: a zero vector yields a defined residual (1), not NaN") {
    import spark.implicits._
    val inv = Seq((1L, Array(0f, 0f, 0f, 0f), 0),
        (2L, Array(1f, 0f, 0f, 0f), 0))
      .toDF("neighbor_id", "emb", "cluster")
    val h = Similarity.computeIvfHealth(spark, inv,
      Array(Array(1f, 0f, 0f, 0f)))
    h.n shouldBe 2L
    assert(java.lang.Double.isFinite(h.meanResidual))
    // zero vector contributes residual 1, the exact vector 0 → mean 0.5
    h.meanResidual shouldBe 0.5 +- 1e-9
  }

  test("compaction ∥ maintenance exclusion: a concurrent epoch advance is " +
      "refused loudly, not silently merged") {
    val dir = freshStore("epoch-clash", 120)
    // replay compactIvfGenerations' commit closure with a stale pre-read:
    // the stats/rewrite phase read epoch N, another maintenance job swaps
    // to N+1 before our commit — the closure's epoch guard must refuse
    val metaAtStats = Similarity.readIvfMeta(spark, dir)
    Similarity.mutateIvfMeta(spark, dir)(m => m.copy(epoch = m.epoch + 1)): Unit
    val e = intercept[IllegalArgumentException] {
      Similarity.mutateIvfMeta(spark, dir) { cur =>
        require(cur.epoch == metaAtStats.epoch,
          s"concurrent maintenance detected at $dir: epoch moved " +
            s"${metaAtStats.epoch} -> ${cur.epoch} during incremental " +
            "compaction; maintenance jobs must run one at a time")
        cur.copy(epoch = cur.epoch + 1)
      }
    }
    e.getMessage should include("concurrent maintenance")
    // the refused commit changed nothing
    Similarity.readIvfMeta(spark, dir).epoch shouldBe metaAtStats.epoch + 1
  }

  test("s19/s20: declared contract booleans hold at the fixture SF") {
    for ((name, boolCols) <- Seq(
        "s19_ivf_concurrent_mutations" ->
          Seq("all_gens_committed", "rewrote_only_hot_gen"),
        "s20_ivf_maintenance_routing" ->
          Seq("drifted_repaired", "healthy_noop"))) {
      val row = graft.SparkEntry.queries(name)(spark, sf).head()
      withClue(name) {
        row.getAs[Long]("n_rows") shouldBe 50L
        row.getAs[Long]("n_mismatch") shouldBe 0L
        for (c <- boolCols) assert(row.getAs[Boolean](c), c)
      }
    }
  }

  test("st26: mid-stream compaction swaps the manifest; store equals the " +
      "sequential batch twin; one generation per micro-batch survives") {
    val row = graft.SparkEntry
      .queries("st26_stream_compaction_under_ingest")(spark, sf).head()
    row.getAs[Long]("stream_batch_store_mismatch") shouldBe 0L
    assert(row.getAs[Boolean]("compacted_midstream"))
    row.getAs[Long]("n_append_batches") shouldBe 3L
  }

  test("p20: manifest matches the on-disk read-back per shard; doc totals " +
      "equal the p19 layout's; a manifest-less dataset refuses loudly") {
    val rows = graft.SparkEntry
      .queries("p20_shard_sink_manifest")(spark, sf).collect()
    rows.length shouldBe 8
    assert(rows.forall(_.getAs[Boolean]("manifest_matches_readback")))
    val p19Docs = graft.SparkEntry.queries("p19_curate_pack_shard")(spark, sf)
      .collect().map(_.getAs[Long]("n_docs")).sum
    rows.map(_.getAs[Long]("n_docs")).sum shouldBe p19Docs
    val e = intercept[IllegalArgumentException] {
      graft.llm.Curation.readShardManifest(spark, tmpDir("no-manifest"))
    }
    e.getMessage should include("manifest")
  }

  test("writePackedShards: manifest round-trips; each shard dir reads back " +
      "ordered by pos with its checksum") {
    import spark.implicits._
    val packed = Seq(
      (0, 0L, 10L, 5L, 0L), (0, 1L, 20L, 7L, 0L), (0, 2L, 30L, 260L, 1L),
      (1, 0L, 40L, 100L, 0L))
      .toDF("shard", "pos", "doc_id", "tok", "chunk")
    val dir = tmpDir("packed-sink")
    val entries = graft.llm.Curation.writePackedShards(packed, dir)
    graft.llm.Curation.readShardManifest(spark, dir) shouldBe entries
    entries.map(_.shard) shouldBe Seq(0, 1)
    entries.head.nDocs shouldBe 3L
    entries.head.nTokens shouldBe 272L
    entries.head.nChunks shouldBe 2L
    // checksum = Σ (pos+1)·(doc_id%1000003 + 1) = 1·11 + 2·21 + 3·31 = 146
    entries.head.orderChecksum shouldBe 146L
    val rb = spark.read.parquet(s"$dir/data")
      .filter(col("shard") === 0).orderBy("pos")
      .select("doc_id").collect().map(_.getLong(0))
    rb shouldBe Array(10L, 20L, 30L)
  }

  test("maintainIvfIndex: drifted store repairs, healthy store is a byte-" +
      "identical no-op") {
    val base = emb.filter(col("vec_id") % 3 < 2)
    val healthyShard = emb.filter(col("vec_id") % 3 === 2)
    val driftShard = healthyShard.select(col("vec_id"),
      transform(col("embedding"), x => (x + lit(1.0f)).cast("float"))
        .as("embedding"))
    val idx = Similarity.buildIvfIndex(spark, base, "vec_id", "embedding", 64)

    val driftDir = tmpDir("maint-drift")
    Similarity.writeIvfIndex(idx, driftDir)
    Similarity.appendToIvfIndex(driftShard, "vec_id", "embedding",
      driftDir, "d1")
    val driftDest = tmpDir("maint-drift-dest") + "/out"
    val out1 = Similarity.maintainIvfIndex(spark, driftDir, driftDest, 64)
    assert(out1.repaired, s"drift must trip the trigger: $out1")
    // the refit reliably repairs the RESIDUAL at any dial (it re-explains
    // the drifted blob); occupancy-skew repair needs the bench dial
    // (512 cells on the full corpus — s17/s20's declared boolean), not
    // this 64-cell 500-vector fixture
    val repaired = Similarity.readIvfMeta(spark, driftDest).health.get
    repaired.meanResidual should be < out1.current.meanResidual

    val okDir = tmpDir("maint-ok")
    Similarity.writeIvfIndex(idx, okDir)
    Similarity.appendToIvfIndex(healthyShard, "vec_id", "embedding",
      okDir, "d1")
    val bytesBefore = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(okDir, "_graft_index.json"))
    val okDest = tmpDir("maint-ok-dest") + "/out"
    val out2 = Similarity.maintainIvfIndex(spark, okDir, okDest, 64)
    assert(!out2.repaired, s"healthy store must not trip the trigger: $out2")
    assert(!new java.io.File(okDest).exists(), "no-op must not create dest")
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(okDir, "_graft_index.json")) shouldBe bytesBefore
  }

  test("p21: resume cursors are manifest-consistent and every cursor " +
      "survives the partition-pruned read-back") {
    val rows = graft.SparkEntry
      .queries("p21_dataloader_resume_plan")(spark, sf).collect()
    val manifest = graft.llm.Curation.readShardManifest(spark,
      graft.util.Tables.scratch(sf, "p20_shards"))
    // worker partition of the manifest: every chunk assigned exactly once
    rows.map(_.getAs[Long]("assigned_chunks")).sum shouldBe
      manifest.map(_.nChunks).sum
    rows.map(_.getAs[Long]("n_shards")).sum shouldBe manifest.size.toLong
    rows.foreach { r =>
      assert(r.getAs[Boolean]("cursor_in_data"), s"cursor missing: $r")
      val rs = r.getAs[Int]("resume_shard")
      val assigned = r.getAs[Long]("assigned_chunks")
      if (rs >= 0) {
        // cursor inside its shard's chunk range, owned by this worker
        rs % 3 shouldBe r.getAs[Int]("worker")
        val rc = r.getAs[Long]("resume_chunk")
        val nc = manifest.find(_.shard == rs).get.nChunks
        assert(rc >= 0 && rc < nc, s"cursor out of range: $r (shard has $nc)")
        r.getAs[Long]("chunks_remaining") shouldBe assigned - 3L
      } else {
        // exhausted worker: sentinel cursor, checkpoint covers it all
        r.getAs[Long]("resume_chunk") shouldBe -1L
        assert(assigned <= 3L, s"non-exhausted worker lost its cursor: $r")
        r.getAs[Long]("chunks_remaining") shouldBe 0L
      }
    }
  }

  test("st27: stream-routed deletes equal the batch twin, and the " +
      "tombstones really mask rows (live < physical)") {
    val r = graft.SparkEntry
      .queries("st27_stream_delete_routing")(spark, sf).collect().head
    r.getAs[Long]("stream_batch_store_mismatch") shouldBe 0L
    r.getAs[Boolean]("deletes_invisible_midstream") shouldBe true
    r.getAs[Long]("n_append_batches") shouldBe 3L
    val p = graft.util.Tables.scratch(sf, "st27_ivf_stream")
    val live = Similarity.readIvfIndex(spark, p).inverted.count()
    val phys = spark.read.parquet(s"$p/inverted").count()
    assert(live < phys,
      s"merge-on-read must mask the takedown set: live=$live phys=$phys")
  }
}
