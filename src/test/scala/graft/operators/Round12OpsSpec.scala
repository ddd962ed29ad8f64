package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-computed fixtures and brute-force equivalences for the round-12
  * operators: j09 k-nearest geo join, p14 domain quota sampling, s09 SQ8
  * product-quantization ANN — plus the w12 overflow-headroom audit the
  * round-11 advice asked for.
  */
class Round12OpsSpec extends SparkSpec {
  import spark.implicits._

  /** The synthetic lattice, extended past the 360-point wrap so COINCIDENT
    * positions exist (ids k and k+360 share (lat, lon)) — the pile-up case
    * kNearestJoin's position collapse is built for.
    */
  private def lattice(n: Int) = (1 to n).map { k =>
    (k.toLong,
      ((k * 7) % 180).toDouble - 90 + 0.25,
      ((k * 13) % 360).toDouble - 180 + 0.5)
  }.toDF("id", "lat", "lon")

  /** Exact O(N²) k-NN replay under the (rounded dist, id) total order. */
  private def bruteKnn(pts: org.apache.spark.sql.DataFrame, r: Double, k: Int) = {
    val a = pts.select(col("id"), col("lat").as("la"), col("lon").as("oa"))
    val b = pts.select(col("id").as("neighbor_id"),
      col("lat").as("lb"), col("lon").as("ob"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("dist_km"), col("neighbor_id"))
    a.crossJoin(b).filter(col("id") =!= col("neighbor_id"))
      .withColumn("dist_km", round(graft.features.Derived.haversineKm(
        col("la"), col("oa"), col("lb"), col("ob")), 4))
      .filter(col("dist_km") <= r)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("id", "neighbor_id", "rank", "dist_km")
      .orderBy("id", "rank")
  }

  test("kNearestJoin: grid+collapse result == brute-force k-NN, " +
      "including coincident-position piles and distance-0 neighbors") {
    // 800 points → piles of 2-3 per position past the 360 wrap; distance-0
    // neighbors (same position, different id) must rank FIRST by id
    val pts = lattice(800)
    for ((r, k) <- Seq((2000.0, 3), (800.0, 2))) {
      val got = graft.joins.GeoJoin.kNearestJoin(pts, "id", "lat", "lon", r, k)
        .orderBy("id", "rank")
        .as[(Long, Long, Long, Double)].collect().toSeq
      val want = bruteKnn(pts, r, k).as[(Long, Long, Long, Double)].collect().toSeq
      withClue(s"radius $r k $k: ") {
        want.nonEmpty shouldBe true
        // the pile case is actually exercised: some neighbor at dist 0
        assert(want.exists(_._4 == 0.0), "fixture must contain coincident pairs")
        got shouldBe want
      }
    }
  }

  test("kNearestJoin: points with fewer than k in-radius neighbors emit " +
      "what exists (bounded-kNN contract) and output ≤ N·k") {
    val pts = lattice(40) // sparse: most points lack 3 neighbors in 1500 km
    val got = graft.joins.GeoJoin.kNearestJoin(pts, "id", "lat", "lon", 1500.0, 3)
    val want = bruteKnn(pts, 1500.0, 3)
    got.orderBy("id", "rank").as[(Long, Long, Long, Double)].collect().toSeq shouldBe
      want.as[(Long, Long, Long, Double)].collect().toSeq
    got.count() should be <= (40L * 3)
  }

  test("kNearestJoin is partitioning-invariant") {
    val pts = lattice(500)
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.joins.GeoJoin.kNearestJoin(df, "id", "lat", "lon", 2000.0, 3)
        .orderBy("id", "rank")
        .as[(Long, Long, Long, Double)].collect().toSeq
    val base = run(pts)
    base.nonEmpty shouldBe true
    run(pts.repartition(13)) shouldBe base
    run(pts.repartition(1)) shouldBe base
  }

  /** Exact O(N·M) two-table k-NN replay (no self-exclusion). */
  private def bruteKnnAgainst(probe: org.apache.spark.sql.DataFrame,
      build: org.apache.spark.sql.DataFrame, r: Double, k: Int) = {
    val a = probe.select(col("id"), col("lat").as("la"), col("lon").as("oa"))
    val b = build.select(col("id").as("neighbor_id"),
      col("lat").as("lb"), col("lon").as("ob"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("dist_km"), col("neighbor_id"))
    a.crossJoin(b)
      .withColumn("dist_km", round(graft.features.Derived.haversineKm(
        col("la"), col("oa"), col("lb"), col("ob")), 4))
      .filter(col("dist_km") <= r)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("id", "neighbor_id", "rank", "dist_km")
      .orderBy("id", "rank")
  }

  test("kNearestJoinAgainst: two-table grid+collapse == brute force, " +
      "including coincident build piles and sparse probes") {
    // build: the 800-point lattice (piles of 2-3 per position past the 360
    // wrap); probes: offset lattice so positions never coincide with build
    val build = lattice(800)
    val probes = (1 to 90).map { j =>
      (j.toLong, ((j * 11) % 180).toDouble - 90 + 0.75,
        ((j * 17) % 360).toDouble - 180 + 0.25)
    }.toDF("id", "lat", "lon")
    for ((r, k) <- Seq((2000.0, 2), (900.0, 3))) {
      val got = graft.joins.GeoJoin.kNearestJoinAgainst(
          probes, "id", build, "id", "lat", "lon", r, k)
        .orderBy("id", "rank").as[(Long, Long, Long, Double)].collect().toSeq
      val want = bruteKnnAgainst(probes, build, r, k)
        .as[(Long, Long, Long, Double)].collect().toSeq
      withClue(s"radius $r k $k: ") {
        want.nonEmpty shouldBe true
        got shouldBe want
      }
    }
    // sparse build: most probes lack k in-radius neighbors → emit what
    // exists, never more than k per probe
    val sparse = lattice(25)
    val got = graft.joins.GeoJoin.kNearestJoinAgainst(
        probes, "id", sparse, "id", "lat", "lon", 1500.0, 2)
    got.orderBy("id", "rank").as[(Long, Long, Long, Double)].collect().toSeq shouldBe
      bruteKnnAgainst(probes, sparse, 1500.0, 2)
        .as[(Long, Long, Long, Double)].collect().toSeq
    got.groupBy("id").count().agg(max("count")).as[Long].head() should be <= 2L
  }

  test("kNearestJoinAgainst: COINCIDENT probe and build positions rank " +
      "the distance-0 neighbors first") {
    // probes sit exactly ON build positions (same lattice) → dist 0 pairs
    val build = lattice(400)
    val probes = lattice(50).select((col("id") + 1000L).as("id"),
      col("lat"), col("lon"))
    val got = graft.joins.GeoJoin.kNearestJoinAgainst(
        probes, "id", build, "id", "lat", "lon", 2000.0, 3)
      .orderBy("id", "rank").as[(Long, Long, Long, Double)].collect().toSeq
    got shouldBe bruteKnnAgainst(probes, build, 2000.0, 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.exists(_._4 == 0.0), "fixture must exercise distance-0 pairs")
  }

  test("domainQuotaSample: corpus-relative cap, rank by score desc, " +
      "md5 tiebreak on equal scores") {
    // 220 docs over 2 domains → cap = greatest(5, 220 div 100) = 5.
    // Domain "a": scores descend with id (distinct) → top-5 = ids 1..5.
    // Domain "b": ALL scores equal → the kept 5 are the 5 smallest md5
    // keys (computed independently here), not the 5 smallest ids.
    val rows = (1 to 110).map(i => (i.toLong, "a", 1.0 - i * 0.001)) ++
      (111 to 220).map(i => (i.toLong, "b", 0.5))
    val df = rows.toDF("doc_id", "source", "quality_score")
    val got = graft.llm.Curation.domainQuotaSample(
        df, "doc_id", "source", "quality_score")
      .orderBy("source", "rank")
      .as[(String, Long, Double, Long)].collect().toSeq
    got should have size 10
    got.take(5).map(_._2) shouldBe Seq(1L, 2L, 3L, 4L, 5L)
    def md5key(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"quota:$id".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 12), 16)
    }
    val wantB = (111L to 220L).sortBy(i => (md5key(i), i)).take(5)
    got.drop(5).map(_._2) shouldBe wantB
    // small domains pass whole: 7 docs in one domain, cap 5 → 5 kept, but
    // a 3-doc domain keeps all 3
    val small = ((1 to 3).map(i => (i.toLong, "x", 0.9)) ++
      (4 to 10).map(i => (i.toLong, "y", 0.1))).toDF("doc_id", "source", "quality_score")
    graft.llm.Curation.domainQuotaSample(small, "doc_id", "source", "quality_score")
      .groupBy("source").count().as[(String, Long)].collect().toMap shouldBe
      Map("x" -> 3L, "y" -> 5L)
  }

  test("fitSq8/sq8Codes: closed-form per-dim codebook on normalized vectors") {
    // already-unit vectors spanning [0,1] per dim: codebook min=0 scale=255
    // → codes are round(v·255)
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val cb = graft.llm.Similarity.fitSq8(spark, df, "embedding")
    cb.mins.toSeq shouldBe Seq(0.0, 0.0)
    cb.scales.toSeq shouldBe Seq(255.0, 255.0)
    val codes = df.select(col("vec_id"),
        graft.llm.Similarity.sq8Codes(col("embedding"), cb).as("code"))
      .as[(Long, Seq[Long])].collect().toMap
    codes(1L) shouldBe Seq(255L, 0L)
    codes(2L) shouldBe Seq(0L, 255L)
    codes(3L) shouldBe Seq(153L, 204L) // 0.6·255=153, 0.8·255=204
    // non-normalized input quantizes its NORMALIZED form: (3,4) ≡ (0.6,0.8)
    val scaled = Seq((4L, Array(3.0f, 4.0f))).toDF("vec_id", "embedding")
    scaled.select(graft.llm.Similarity.sq8Codes(col("embedding"), cb).as("code"))
      .as[Seq[Long]].head() shouldBe Seq(153L, 204L)
  }

  test("sq8TopK: full-shortlist search == exact bruteTopK; 4k shortlist " +
      "keeps recall ≥ 0.9 on the real embeddings") {
    val emb = graft.util.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val probes = emb.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("p_id", "neighbor_id", "rank", "sim")
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    // shortlist = corpus → the re-rank sees every candidate → exact
    val full = rows(graft.llm.Similarity.sq8TopK(spark, emb, probes,
      "vec_id", "embedding", 10, shortlist = 600))
    full shouldBe rows(graft.llm.Similarity.bruteTopK(spark, emb, probes,
      "vec_id", "embedding", 10))
    // the declared 4k shortlist: recall vs exact ≥ 0.9 (measured 1.0)
    val short = rows(graft.llm.Similarity.sq8TopK(spark, emb, probes,
      "vec_id", "embedding", 10, shortlist = 40))
      .map(r => (r._1, r._2)).toSet
    val exact = full.map(r => (r._1, r._2)).toSet
    (short & exact).size.toDouble / exact.size should be >= 0.9
  }

  test("x13: approx-quantile rank contract holds on real orders and the " +
      "check itself is non-vacuous (a wrong value fails it)") {
    val got = graft.SparkEntry.queries("x13_grouped_quantiles_approx")(
        spark, "/root/testdata/sf0.01")
      .as[(String, Long, Boolean, Boolean)].collect().toSeq
    got should have size 5
    got.map(_._2).sum shouldBe 15000L
    all(got.map(_._3)) shouldBe true
    all(got.map(_._4)) shouldBe true
    // non-vacuity: run the SAME rank predicate against a deliberately
    // wrong "p50" (each group's MINIMUM price) — it must fail for every
    // group, proving the booleans can actually go false
    val o = graft.util.Tables.orders(spark, "/root/testdata/sf0.01")
      .select("o_orderpriority", "o_totalprice")
    val wrong = o.groupBy("o_orderpriority")
      .agg(min("o_totalprice").as("v50"))
    val checked = o.join(broadcast(wrong), "o_orderpriority")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_totalprice") <= col("v50"), 1L).otherwise(0L)).as("le"),
        sum(when(col("o_totalprice") < col("v50"), 1L).otherwise(0L)).as("lt"))
      .select(((col("le").cast("double") / col("n") >=
          lit(0.5) - (lit(0.001) + lit(1.0) / col("n"))) &&
        (col("lt").cast("double") / col("n") <=
          lit(0.5) + (lit(0.001) + lit(1.0) / col("n")))).as("ok"))
      .as[Boolean].collect().toSeq
    checked should have size 5
    all(checked) shouldBe false
  }

  test("d18 bloom gate: output equals the ungated index ingest row for row " +
      "on a hand fixture (whitespace/case dups, novel rows, fp attribution)") {
    // fp = md5(lower(ws-normalized)): docs 1 and 2 collide → keeper 1
    val docs = Seq((1L, "alpha beta"), (2L, "Alpha  BETA"), (3L, "gamma ray"),
      (4L, "delta flyer")).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft-d18-fixture").toString + "/idx"
    graft.llm.Dedup.writeExactIndex(docs, "doc_id", "text", path)
    graft.llm.Dedup.writeExactIndexBloom(spark, path)
    val batch = Seq((10L, "ALPHA beta"), (11L, "epsilon"), (12L, "gamma  ray"),
      (13L, "zeta")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("batch_id")
        .as[(Long, String, Option[Long])].collect().toSeq
    val gated = rows(graft.llm.Dedup.matchAgainstExactIndexBloom(
      spark, batch, "doc_id", "text", path))
    gated shouldBe rows(graft.llm.Dedup.matchAgainstExactIndex(
      spark, batch, "doc_id", "text", path))
    gated shouldBe Seq((10L, "dup", Some(1L)), (11L, "new", None),
      (12L, "dup", Some(3L)), (13L, "new", None))
  }

  test("d18 bloom gate: the sidecar actually prunes — ≥ 90 % of novel fps " +
      "rejected without touching the index") {
    val corpus = (1 to 200).map(i => (i.toLong, s"corpus document number $i"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft-d18-prune").toString + "/idx"
    graft.llm.Dedup.writeExactIndex(corpus, "doc_id", "text", path)
    graft.llm.Dedup.writeExactIndexBloom(spark, path)
    val in = java.nio.file.Files.newInputStream(
      java.nio.file.Paths.get(path, "_graft_bloom.bin"))
    val bloom = try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
    val novelKeys = (1 to 200).map(i => (i.toLong, s"novel payload $i"))
      .toDF("doc_id", "text")
      .select(xxhash64(graft.llm.TextAnalysis.fingerprint(col("text"))))
      .as[Long].collect()
    val pruned = novelKeys.count(k => !bloom.mightContainLong(k))
    pruned should be >= 180 // fpp 1 % leaves ~2 expected false positives
    // and every INDEXED fp must pass (no false negatives, ever)
    val idxKeys = corpus
      .select(xxhash64(graft.llm.TextAnalysis.fingerprint(col("text"))))
      .as[Long].collect()
    all(idxKeys.map(bloom.mightContainLong)) shouldBe true
  }

  test("appendToMinhashIndex: grown index ≡ one-shot rebuild, wrong params " +
      "refused loudly, write+append reruns idempotent") {
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val a = docs.filter(col("doc_id") % 3 === 0)
    val b = docs.filter(col("doc_id") % 3 === 1)
    val probe = docs.filter(col("doc_id") % 3 === 2)
    val root = java.nio.file.Files.createTempDirectory("graft-d19-fixture").toString
    def rows(path: String) =
      graft.llm.Dedup.minhashPairsAgainstIndex(probe, "doc_id", "text", path, 0.5)
        .orderBy("new_id", "corpus_id")
        .as[(Long, Long, Double)].collect().toSeq
    graft.llm.Dedup.writeMinhashIndex(a, "doc_id", "text", s"$root/grown", 0.5)
    graft.llm.Dedup.appendToMinhashIndex(b, "doc_id", "text", s"$root/grown",
      "b", 0.5)
    graft.llm.Dedup.writeMinhashIndex(a.unionByName(b), "doc_id", "text",
      s"$root/rebuilt", 0.5)
    val grown = rows(s"$root/grown")
    grown.nonEmpty shouldBe true
    grown shouldBe rows(s"$root/rebuilt")
    // parameter mismatch is refused, not silently mixed into the key space
    an[IllegalArgumentException] should be thrownBy
      graft.llm.Dedup.appendToMinhashIndex(b, "doc_id", "text", s"$root/grown",
        "b2", 0.7)
    // the declared query's rerun shape (bench min-of-2): overwrite + append
    // again must land in the same state, not accumulate
    graft.llm.Dedup.writeMinhashIndex(a, "doc_id", "text", s"$root/grown", 0.5)
    graft.llm.Dedup.appendToMinhashIndex(b, "doc_id", "text", s"$root/grown",
      "b", 0.5)
    rows(s"$root/grown") shouldBe grown
    // RETRYING a (possibly half-landed) append with the same batchId is
    // idempotent — the generation dirs are overwritten, never re-appended
    graft.llm.Dedup.appendToMinhashIndex(b, "doc_id", "text", s"$root/grown",
      "b", 0.5)
    rows(s"$root/grown") shouldBe grown
    // a batch id that would collide with the base generation is refused
    an[IllegalArgumentException] should be thrownBy
      graft.llm.Dedup.appendToMinhashIndex(b, "doc_id", "text", s"$root/grown",
        "base", 0.5)
  }

  test("appendToMinhashIndex commit point: a half-landed append (both " +
      "generation dirs written, manifest commit not reached) is INVISIBLE " +
      "to index queries") {
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val a = docs.filter(col("doc_id") % 3 === 0)
    val b = docs.filter(col("doc_id") % 3 === 1)
    val probe = docs.filter(col("doc_id") % 3 === 2)
    val root = java.nio.file.Files.createTempDirectory("graft-d19-crash").toString
    def rows(path: String) =
      graft.llm.Dedup.minhashPairsAgainstIndex(probe, "doc_id", "text", path, 0.5)
        .orderBy("new_id", "corpus_id")
        .as[(Long, Long, Double)].collect().toSeq
    graft.llm.Dedup.writeMinhashIndex(a, "doc_id", "text", s"$root/idx", 0.5)
    val baseline = rows(s"$root/idx")
    // simulate the crash window: a full append whose manifest commit never
    // landed — both generation dirs published, the manifest as it was
    // before the append (the manifest commit is the only commit point)
    val manifest = java.nio.file.Paths.get(s"$root/idx/_graft_index.json")
    val committed = java.nio.file.Files.readAllBytes(manifest)
    graft.llm.Dedup.appendToMinhashIndex(b, "doc_id", "text", s"$root/idx",
      "crash", 0.5)
    java.nio.file.Files.write(manifest, committed)
    for (sub <- Seq("bands", "hashes"))
      new java.io.File(s"$root/idx/$sub/gen=crash").exists() shouldBe true
    // the orphan generation must not change any query result
    rows(s"$root/idx") shouldBe baseline
    // and the retry completes the append to the exact grown state
    graft.llm.Dedup.appendToMinhashIndex(b, "doc_id", "text", s"$root/idx",
      "crash", 0.5)
    graft.llm.Dedup.writeMinhashIndex(a.unionByName(b), "doc_id", "text",
      s"$root/rebuilt", 0.5)
    rows(s"$root/idx") shouldBe rows(s"$root/rebuilt")
  }

  test("w12 TWAP headroom audit: Σ c·dur per user is bounded by " +
      "max-cents × stream-span, ≥ 10× inside 2^63 on the shipped corpus") {
    // the round-11 advice: the scaladoc's 'exact BIGINT sums' claim needs a
    // verified bound like w14's. Per user, Σ c·dur ≤ max(c) · Σ dur and
    // Σ dur ≤ (max t_us − min t_us), so max(c)·span is a corpus-wide upper
    // bound on every per-user numerator (measured 4.8e4 · 2.6e12 ≈ 1.2e17,
    // 75× under 2^63 — the w12 scaladoc carries the same arithmetic).
    val p = graft.util.Tables.events(spark, "/root/testdata/sf0.1")
      .filter(col("event_type") === "purchase")
      .select(expr("ts div 1000").as("t_us"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * lit(100)).cast("long").as("c"))
    val r = p.agg(max("c").as("cmax"),
      (max("t_us") - min("t_us")).as("span")).head()
    val bound = BigInt(r.getLong(0)) * BigInt(r.getLong(1))
    assert(bound > 0 && bound < BigInt(Long.MaxValue) / 10,
      s"w12 worst-case Σ c·dur bound $bound must sit ≥10× under 2^63")
  }

  /** Brute-force point-in-box replay: cross join + exact containment. */
  private def bruteZoneTag(pts: org.apache.spark.sql.DataFrame,
      zones: org.apache.spark.sql.DataFrame, h: Double, w: Double) =
    pts.crossJoin(zones)
      .filter(col("lat") >= col("lat0") && col("lat") <= col("lat0") + h &&
        col("lon") >= col("lon0") && col("lon") <= col("lon0") + w)
      .groupBy("id")
      .agg(min("zone_id").as("zone_id"), count(lit(1)).as("n_zones"))

  test("zoneTag: grid+collapse == brute-force containment replay, incl. " +
      "overlapping boxes, coincident points/boxes, straddled cells, " +
      "and untagged points dropping out") {
    // points: a coincident pair (1, 2), a point inside two overlapping
    // boxes (3), a point exactly on a box edge (4), a point in no box
    // (5), and a point whose box's corner lies in the NEIGHBORING grid
    // cell (6: box corner at (12, 17) covers (25.5, 33.5) from cells
    // (0,0)/(1,1) away)
    val pts = Seq(
      (1L, 5.25, 10.5), (2L, 5.25, 10.5), (3L, -15.75, 40.5),
      (4L, 20.0, 30.0), (5L, 80.25, 170.5), (6L, 25.5, 33.5))
      .toDF("id", "lat", "lon")
    // boxes 20×30: two coincident corners (ids 101 < 107), two
    // overlapping boxes over point 3, the edge box for 4, the
    // straddling box for 6
    val zones = Seq(
      (101L, 0.0, 0.0), (107L, 0.0, 0.0), (202L, -20.0, 30.0),
      (203L, -30.0, 20.0), (301L, 0.0, 0.0), (401L, 12.0, 17.0))
      .toDF("zone_id", "lat0", "lon0")
    val got = graft.joins.GeoJoin.zoneTag(pts, "id", "lat", "lon",
      zones, "zone_id", "lat0", "lon0", 20.0, 30.0)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = bruteZoneTag(pts, zones, 20.0, 30.0)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got shouldBe want
    // the fixture exercises what it claims: 5 is untagged, 3 sees two
    // zones, 1 and 2 share the coincident-corner boxes' min id 101
    got.map(_._1) should not contain 5L
    want.find(_._1 == 3L).get._3 should be >= 2L
    got.filter(t => t._1 == 1L || t._1 == 2L).map(_._2).toSet shouldBe Set(101L)
  }

  test("zoneTag is partitioning-invariant") {
    val pts = lattice(400)
    val zones = (1 to 40).map { k =>
      (k.toLong, ((k * 23) % 140).toDouble - 70, ((k * 29) % 300).toDouble - 150)
    }.toDF("zone_id", "lat0", "lon0")
    def run(p: org.apache.spark.sql.DataFrame) =
      graft.joins.GeoJoin.zoneTag(p, "id", "lat", "lon",
        zones, "zone_id", "lat0", "lon0", 20.0, 30.0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    run(pts) shouldBe run(pts.repartition(13))
  }

  test("ivfSq8Search: full-coverage settings == exact bruteTopK; " +
      "restricted settings stay within k rows per probe with contiguous ranks") {
    // 4 well-separated direction clusters in 4-d so the seeded k-means is
    // stable; 10 vectors per cluster with small deterministic jitter
    val vecs = (0 until 40).map { i =>
      val c = i % 4
      val base = Array.fill(4)(0.05f)
      base(c) = 1.0f
      base((c + 1) % 4) += (i / 4) * 0.01f
      (i.toLong, base)
    }.toDF("id", "emb")
    val idx = graft.llm.Similarity.buildIvfIndex(spark, vecs, "id", "emb", 4)
    val cb = graft.llm.Similarity.fitSq8(spark, vecs, "emb")
    val probes = vecs.filter(col("id") < 6)
    // nprobe = all cells, shortlist = corpus → candidate set is ALL
    // non-self pairs and the exact re-rank must equal brute force
    val full = graft.llm.Similarity.ivfSq8Search(spark, idx, cb, probes,
      "id", "emb", 5, nprobe = idx.centroids.length, shortlist = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val brute = graft.llm.Similarity.bruteTopK(spark, vecs, probes, "id", "emb", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    full shouldBe brute
    // restricted: 2 of the cells, 8-candidate shortlist — bounded output,
    // contiguous ranks from 1, no self matches
    val got = graft.llm.Similarity.ivfSq8Search(spark, idx, cb, probes,
      "id", "emb", 5, nprobe = 2, shortlist = 8).collect()
    val byProbe = got.groupBy(_.getLong(0))
    byProbe.foreach { case (p, rows) =>
      rows.length should be <= 5
      rows.map(_.getLong(2)).sorted.toSeq shouldBe (1L to rows.length).toSeq
      rows.map(_.getLong(1)) should not contain p
    }
  }

  test("q39 CSV malformed modes on a hand fixture: corrupt capture, drop, " +
      "failfast throw") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("q39fix").toFile
    val f = new java.io.File(dir, "data.csv")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.print("1,alpha,1.5\n2,beta,2.5\noops,gamma,3.5\n4,delta,abc\n")
    finally w.close()
    val strict = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    val withCorrupt = StructType(strict.fields :+
      StructField("_corrupt_record", StringType))
    val perm = spark.read.schema(withCorrupt).option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir.getAbsolutePath).cache()
    perm.count() shouldBe 4
    perm.filter(col("_corrupt_record").isNotNull).count() shouldBe 2
    perm.unpersist(blocking = false)
    // .rdd.count() forces the full-schema parse — a bare count() counts
    // CSV records without parsing any field, so neither mode would fire
    spark.read.schema(strict).option("mode", "DROPMALFORMED")
      .csv(dir.getAbsolutePath).rdd.count() shouldBe 2
    an[org.apache.spark.SparkException] should be thrownBy
      spark.read.schema(strict).option("mode", "FAILFAST")
        .csv(dir.getAbsolutePath).rdd.count()
  }
}
