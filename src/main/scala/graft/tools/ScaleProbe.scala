package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.llm.Dedup

/** Count-based scale probes. Wall-times on this host are episodically
  * noisy (SCALE.md "Measurement noise"), so scale conclusions are
  * grounded in COUNTS — candidate volumes, kept-shingle rows — measured
  * by the COMPILED library code across recipe-identical GenData dirs.
  *
  * Usage: runMain graft.tools.ScaleProbe d09 <dataDir> [<dataDir> ...]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleProbe <probe> <dataDir>...")
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("WARN")

    args(0) match {
      case "d09" => args.drop(1).foreach(d => d09Counts(spark, d))
      case "d02" => args.drop(1).foreach(d => d02Counts(spark, d, 2))
      case "d02r3" => args.drop(1).foreach(d => d02Counts(spark, d, 3))
      case "d15" => args.drop(1).foreach(d => d15Counts(spark, d))
      case "d13" => args.drop(1).foreach(d => d13Counts(spark, d))
      case "d14" => args.drop(1).foreach(d => d14Counts(spark, d))
      case "s06" => args.drop(1).foreach(d => s06Counts(spark, d))
      case "st15dial" => args.drop(1).foreach(d => st15DialCounts(spark, d))
      case "nnd" => args.drop(1).foreach(d => nndCounts(spark, d))
      case "stfloor" => stFloor(spark, args(1), args.drop(2).toSeq)
      case "s20" => args.drop(1).foreach(d => s20Ratios(spark, d))
      case "sigcount" => args.drop(1).foreach(d => sigCounts(spark, d))
      // generic declared-query run: show the result rows at each dir —
      // the contract-boolean probe for new operators (dial vetting at
      // gsf* scales the sf0.01 oracle gate never reaches)
      case "query" =>
        val name = args(1)
        args.drop(2).foreach { d =>
          val t0 = System.nanoTime()
          val rows = graft.SparkEntry.queries(name)(spark, d).collect()
          val secs = (System.nanoTime() - t0) / 1e9
          println(f"PROBE query $name $d secs=$secs%.2f rows=${rows.length}")
          rows.take(20).foreach(r => println(s"PROBE query $name $d ROW $r"))
          spark.catalog.clearCache()
          graft.util.Tables.dropGraftTempViews(spark)
        }
      case other => sys.error(s"unknown probe: $other")
    }
    spark.stop()
  }

  private def timedP[T](probe: String, dir: String, label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val res = f
    println(f"PROBE $probe $dir $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    res
  }

  /** d13's persisted-index ingest shape at scale: build the corpus index
    * once (even ids), then match the batch (odd ids) against the STORE.
    * Counts: stored band keys, cross candidate pairs (batch keys × stored
    * keys — measured by also writing the batch's keys and joining the two
    * band tables, public API only), verified output pairs. The scale
    * claim under test: ingest cost tracks batch size + collisions, with
    * the corpus contributing only its one-time key volume.
    */
  private def d13Counts(spark: SparkSession, dir: String): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val root = s"/tmp/graft_probe_d13_${new java.io.File(dir).getName}"
    timedP("d13", dir, "index_build")(
      Dedup.writeMinhashIndex(corpus, "doc_id", "text", s"$root/c", 0.5))
    spark.catalog.clearCache()
    def bands(p: String) =
      graft.util.IndexStore.open(spark, p, Dedup.minhashStore).table("bands")
    val keyN = bands(s"$root/c").count()
    Dedup.writeMinhashIndex(batch, "doc_id", "text", s"$root/b", 0.5)
    spark.catalog.clearCache()
    val candN = bands(s"$root/b").as("a")
      .join(bands(s"$root/c").as("b"),
        col("a.bk") === col("b.bk"))
      .select(col("a.id"), col("b.id")).distinct().count()
    val out1 = timedP("d13", dir, "match_run1")(
      Dedup.minhashPairsAgainstIndex(batch, "doc_id", "text", s"$root/c", 0.5)
        .count())
    spark.catalog.clearCache()
    val out2 = timedP("d13", dir, "match_run2")(
      Dedup.minhashPairsAgainstIndex(batch, "doc_id", "text", s"$root/c", 0.5)
        .count())
    spark.catalog.clearCache()
    println(s"PROBE d13 $dir COUNTS corpus_keys=$keyN candidates=$candN " +
      s"pairs=$out1 pairs2=$out2")
  }

  /** d14's group-then-keep pipeline at scale: df-capped gram pairs →
    * connected components → one-shuffle struct-max keeper. Counts: kept
    * pairs, group-membership rows, keeper rows. The pair stage is d04's
    * (bounded fanout ≤ cap² per gram); components and keeper add one
    * bounded iteration and one group_id shuffle on top.
    */
  private def d14Counts(spark: SparkSession, dir: String): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val quality = docs.select(col("doc_id"),
      (least(lit(1.0), size(split(col("text"), " ")).cast("double") / 100.0))
        .as("quality_score"))
    def run(): (Long, Long, Long) = {
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5,
        maxDocFreq = Some(10))
      val pairN = pairs.count()
      val groups = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      val memberN = groups.count()
      val keeperN = Dedup.keeperByQuality(groups, quality,
        "doc_id", "quality_score").count()
      (pairN, memberN, keeperN)
    }
    val (p1, m1, k1) = timedP("d14", dir, "pipeline_run1")(run())
    spark.catalog.clearCache()
    val _ = timedP("d14", dir, "pipeline_run2")(run())
    spark.catalog.clearCache()
    println(s"PROBE d14 $dir COUNTS pairs=$p1 members=$m1 keepers=$k1")
  }

  /** s06's persisted-IVF shape at production sizing (nClusters ≈ √n,
    * nprobe at s02's 31 % scan ratio): build + write, read + search 50
    * probes from the STORE. Counts: inverted rows (= corpus), scanned
    * candidate rows across all probes, result rows. The scale claim:
    * search cost per probe tracks scanned-fraction × corpus, and the
    * store round-trip changes nothing (the s06 gate's fidelity claim).
    */
  private def s06Counts(spark: SparkSession, dir: String): Unit = {
    import graft.llm.Similarity
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val n = emb.count()
    val nClusters = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    val nprobe = math.max(1, math.ceil(nClusters * 80.0 / 256.0).toInt)
    val probes = emb.filter(col("vec_id") < 50)
    val root = s"/tmp/graft_probe_s06_${new java.io.File(dir).getName}"
    val idx = timedP("s06", dir, s"build(k=$nClusters)")(
      Similarity.buildIvfIndex(spark, emb, "vec_id", "embedding", nClusters))
    timedP("s06", dir, "write")(Similarity.writeIvfIndex(idx, root))
    val stored = Similarity.readIvfIndex(spark, root)
    val invN = stored.inverted.count()
    val scanned = Similarity
      .probeClusters(spark, stored, probes, "vec_id", "embedding", nprobe)
      .join(stored.inverted.groupBy("cluster").count(), "cluster")
      .agg(coalesce(sum(col("count")), lit(0L))).head.getLong(0)
    val r1 = timedP("s06", dir, "search_run1")(
      Similarity.ivfSearch(spark, stored, probes, "vec_id", "embedding",
        10, nprobe).count())
    val r2 = timedP("s06", dir, "search_run2")(
      Similarity.ivfSearch(spark, stored, probes, "vec_id", "embedding",
        10, nprobe).count())
    println(s"PROBE s06 $dir COUNTS inverted=$invN scanned=$scanned " +
      s"results=$r1 results2=$r2 nprobe=$nprobe nClusters=$nClusters")
  }

  /** Counts [[Dedup.minhashPairs]]'s banded candidate set and output at
    * θ = 0.5 on the documents table — the d02 declared query's shape.
    */
  /** d15's operating point (θ=0.7, r=4): the candidate exponent the
    * gsf5 analysis predicts drops to the J⁴ background term. */
  private def d15Counts(spark: SparkSession, dir: String): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val res = f
      println(f"PROBE d15 $dir $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      res
    }
    val candN = timed("candidates")(
      Dedup.minhashCandidateKeys(docs, "doc_id", "text", 0.7, 8, 4)._2.count())
    spark.catalog.clearCache()
    val outN = timed("output")(
      Dedup.minhashPairs(docs, "doc_id", "text", 0.7, rowsPerBand = 4).count())
    spark.catalog.clearCache()
    println(s"PROBE d15 $dir COUNTS candidates=$candN pairs=$outN")
  }

  private def d02Counts(spark: SparkSession, dir: String, r: Int): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val res = f
      println(f"PROBE d02(r=$r) $dir $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      res
    }
    val candN = timed("candidates")(
      Dedup.minhashCandidateKeys(docs, "doc_id", "text", 0.5, 8, r)._2.count())
    spark.catalog.clearCache() // shingleAndBand caches per call (see Dedup)
    val outN = timed("output_run1")(
      Dedup.minhashPairs(docs, "doc_id", "text", 0.5, 8, r).count())
    spark.catalog.clearCache()
    val out2 = timed("output_run2")(
      Dedup.minhashPairs(docs, "doc_id", "text", 0.5, 8, r).count())
    spark.catalog.clearCache()
    println(s"PROBE d02(r=$r) $dir COUNTS candidates=$candN pairs=$outN pairs2=$out2")
  }

  /** Replays the d09 declared query's augmented corpus (every 50th doc
    * re-planted under id+100000 with a 12-token copied span) and counts
    * each stage of [[Dedup.longSubstringPairs]]: kept positioned
    * shingles, phase-1 candidate pairs, final qualifying pairs. The
    * candidate count is THE scale signal — it must track planted-dup
    * density (linear), not background shingle collisions (quadratic).
    */
  private def d09Counts(spark: SparkSession, dir: String): Unit = {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val planted = base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(lit("zzp"), col("doc_id"), lit(" zzq"), col("doc_id"),
          lit(" "), array_join(slice(split(col("text"), " "), 5, 12), " "),
          lit(" zzr"), col("doc_id")).as("text"))
    val corpus = base.unionByName(planted)
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROBE d09 $dir $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val kept = Dedup.keptPositionedShingles(corpus, "doc_id", "text", 8, 32)
    val keptN = timed("kept_shingles")(kept.count())
    val candN = timed("candidates")(
      Dedup.longSubstringCandidates(kept, 8, 12).count())
    val outN = timed("output_run1")(
      Dedup.longSubstringPairs(corpus, "doc_id", "text", 8, 12, 32).count())
    val t2 = timed("output_run2")(
      Dedup.longSubstringPairs(corpus, "doc_id", "text", 8, 12, 32).count())
    println(s"PROBE d09 $dir COUNTS kept=$keptN candidates=$candN " +
      s"pairs=$outN pairs2=$t2")
  }

  /** The NN-Descent kNN-graph probe (round-13 directive #2 — the
    * sub-quadratic route s12's non-starter note named but never
    * measured): build the graph at k = 3 via
    * [[graft.llm.Similarity.nnDescentGraph]] (IVF np = 8 seed, kBuild =
    * 10, then 1..3 refinement rounds), measure RECALL against brute
    * force on a 500-node audit slice and SIMILARITY MASS (exact sim
    * evaluations) per stage. Decision bar: recall ≥ 0.9 at every SF with
    * mass growing linearly in N — then s12 re-lands; otherwise the
    * numbers go into the non-starter note.
    */
  private def nndCounts(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val kBuild = sys.env.getOrElse("NND_KBUILD", "10").toInt
    val roundsList = sys.env.getOrElse("NND_ROUNDS", "1,2,3")
      .split(",").map(_.trim.toInt).toSeq
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val n = emb.count()
    val k = 3
    val probes = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 500)
    val brute = graft.llm.Similarity
      .bruteTopK(spark, emb, probes, "vec_id", "embedding", k)
      .select("p_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val seedMode = sys.env.getOrElse("NND_SEED", "ivf")
    val np = sys.env.getOrElse("NND_NP", "8").toInt
    // NND_MAXFLAT forces the two-level seed quantizer below its natural
    // n ≈ 65 k engagement point (e.g. 64 at sf0.1 ⇒ ivf2 on 2 k vectors)
    val maxFlat = sys.env.getOrElse("NND_MAXFLAT", "2048").toInt
    for (rounds <- roundsList) {
      val res = timedP("nnd", dir, s"kb=$kBuild seed=$seedMode np=$np rounds=$rounds maxflat=$maxFlat build")(
        graft.llm.Similarity.nnDescentGraph(spark, emb, "vec_id",
          "embedding", k, kBuild = kBuild, rounds = rounds,
          seedNprobe = np, seedMode = seedMode, maxFlatCells = maxFlat))
      val got = res.edges
        .filter(org.apache.spark.sql.functions.col("p_id") < 500)
        .select("p_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val recall = got.intersect(brute).size.toDouble / brute.size
      println(s"PROBE nnd $dir COUNTS n=$n kb=$kBuild seed=$seedMode np=$np rounds=$rounds " +
        f"recall=$recall%.3f mass=${res.simEvals.mkString("+")}" +
        s" total=${res.simEvals.sum} brute_mass=${n * (n - 1)}")
      res.cleanup()
      res.edges.sparkSession.catalog.clearCache()
    }
  }

  /** The s20 trigger-factor probe: runs the maintenance choreography's
    * two branches (drifted +1-shift append vs in-distribution append) on
    * the bounded s20 slice at each dir and prints the health ratios
    * (current / fit-time baseline) the occ/res factors must separate —
    * the drifted branch's ratios must clear BOTH factors at every dir,
    * the healthy branch must fail at least one, with margin on both
    * sides. Dial knobs via env: S20_SLICE (default 50000),
    * S20_NCELLS (512).
    */
  private def s20Ratios(spark: SparkSession, dir: String): Unit = {
    import graft.llm.Similarity
    val sliceN = sys.env.getOrElse("S20_SLICE", "50000").toLong
    val nCells = sys.env.getOrElse("S20_NCELLS", "512").toInt
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").filter(col("vec_id") < sliceN)
    val base = emb.filter(col("vec_id") % 3 < 2)
    val shard = emb.filter(col("vec_id") % 3 === 2)
    val drifted = shard.select(col("vec_id"),
      transform(col("embedding"), x => (x + lit(1.0f)).cast("float"))
        .as("embedding"))
    val idx = timedP("s20", dir, s"fit n=${base.count()} cells=$nCells")(
      Similarity.buildIvfIndex(spark, base, "vec_id", "embedding", nCells))
    for ((branch, sh) <- Seq("drift" -> drifted, "healthy" -> shard)) {
      val path = java.nio.file.Files
        .createTempDirectory(s"s20probe-$branch").toString
      Similarity.writeIvfIndex(idx, path)
      Similarity.appendToIvfIndex(sh, "vec_id", "embedding", path, "b1")
      val (h0, h1) = Similarity.ivfIndexHealth(spark, path)
      println(f"PROBE s20 $dir COUNTS branch=$branch " +
        f"occ0=${h0.occMaxOverMean}%.3f occ1=${h1.occMaxOverMean}%.3f " +
        f"occ_ratio=${h1.occMaxOverMean / h0.occMaxOverMean}%.3f " +
        f"res0=${h0.meanResidual}%.4f res1=${h1.meanResidual}%.4f " +
        f"res_ratio=${h1.meanResidual / h0.meanResidual}%.4f")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  /** Directive: make driver-run st-family noise FALSIFIABLE. Every st
    * query pays a micro-batch FLOOR (maxFilesPerTrigger = 1 ⇒ wall ≈
    * batch count × per-batch overhead), which a contended host inflates
    * multiplicatively — this probe measures each query's batch count and
    * per-batch cost so a driver-vs-calm delta can be read as
    * (driver per-batch ms / calm per-batch ms) instead of guessed at.
    * Counts come from the engine's own progress events.
    */
  private def stFloor(spark: SparkSession, dir: String,
      names: Seq[String]): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val trigMs = new java.util.concurrent.atomic.AtomicLong(0)
    val inRows = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        batches.incrementAndGet()
        trigMs.addAndGet(Option(e.progress.durationMs
          .get("triggerExecution")).map(_.longValue()).getOrElse(0L))
        inRows.addAndGet(e.progress.numInputRows)
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val qmap = graft.SparkEntry.queries
    val run = if (names.nonEmpty) names
      else qmap.keys.filter(_.startsWith("st")).toSeq.sorted
    for (name <- run) {
      batches.set(0); trigMs.set(0); inRows.set(0)
      val t0 = System.nanoTime()
      qmap(name)(spark, dir).queryExecution.toRdd.foreach(_ => ())
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(2000) // listener bus is async — let events drain
      val b = batches.get
      println(f"PROBE stfloor $dir $name batches=$b " +
        f"trigger_s=${trigMs.get / 1000.0}%.2f input_rows=${inRows.get} " +
        f"wall_s=$wall%.2f " +
        f"per_batch_ms=${if (b > 0) trigMs.get.toDouble / b else 0.0}%.1f")
      spark.catalog.clearCache()
      graft.util.Tables.dropGraftTempViews(spark)
    }
    spark.streams.removeListener(listener)
  }

  /** mm11/mm12 scale guard (round-14 verdict #5): distinct-signature
    * growth vs corpus size. The collapse-first band join is
    * |sigs|-bounded, so the scale question is whether |sigs| tracks N.
    * Also counts mm11's band-key candidate volume — the quantity a
    * d04-style occupancy cap would bound if signatures ever grew ≈ N.
    */
  private def sigCounts(spark: SparkSession, dir: String): Unit = {
    import graft.llm.Multimodal
    val docs = graft.util.Tables.documents(spark, dir)
    val nDocs = docs.count()
    val hashes = Multimodal.extractAHash(
      Multimodal.syntheticPpm(docs, "doc_id", 8, 8)).toDF()
    val g = hashes.groupBy("ahash").count()
    val nSigs = g.count()
    val bands = g.select(col("ahash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("ahash"), col("band"),
        expr("substring(ahash, band*16 + 1, 16)").as("key"))
    val maxBucket = bands.groupBy("band", "key").count()
      .agg(max("count")).head().getLong(0)
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.ahash") =!= col("b.ahash"))
      .select(col("a.ahash"), col("b.ahash")).distinct().count()
    val vsigs = Multimodal.extractVideoSignature(
      Multimodal.syntheticVideo(docs, "doc_id", 6, 8, 8)).toDF()
      .select("sig").distinct().count()
    println(s"PROBE sigcount $dir COUNTS docs=$nDocs img_sigs=$nSigs " +
      s"img_band_max_bucket=$maxBucket img_band_cand_pairs=$cands " +
      s"video_sigs=$vsigs")
  }

  /** st15's banding dial measured on the SAME backlog (round-12
    * directive #2): key traffic, raw candidate emissions (pre-dedup —
    * the state-store write volume), distinct candidates, and verified
    * pairs, at r = 3 (42 keys/doc) vs r = 1 (8 keys/doc). SCALE.md
    * carries the rows; StreamDialSpec pins result equality.
    */
  private def st15DialCounts(spark: SparkSession, dir: String): Unit = {
    for ((r, tag) <- Seq((3, "dial3"), (1, "dial1"))) {
      val (raw, ver) =
        graft.operators.StreamOps.streamLshDedup(spark, dir, s"st15$tag", 8, r)
      val emissions = timedP("st15dial", dir, s"r=$r drain+count")(raw.count())
      val distinctC = raw.select("doc_a", "doc_b").distinct().count()
      val verified = ver.count()
      val docs = graft.util.Tables.documents(spark, dir).count()
      // per-doc key count derived from the SAME banding formula the
      // operator uses (round-13 advice: the old hardcoded 42/8 would
      // silently misreport if θ/nTables/r moved, and SCALE.md cites
      // these rows as measurements)
      val keysPerDoc = graft.llm.Dedup.bandsFor(0.5, 8, r)
      println(s"PROBE st15dial $dir COUNTS r=$r docs=$docs " +
        s"keys=${docs * keysPerDoc} emissions=$emissions " +
        s"distinct_cands=$distinctC verified=$verified")
    }
  }
}
