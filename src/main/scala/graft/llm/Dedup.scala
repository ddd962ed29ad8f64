package graft.llm

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators, each designed for 100 TB scale: every candidate
  * generation step is a bucketed equi-join (grams / LSH bands / hash bands),
  * never an all-pairs crossJoin, and exact verification only runs on
  * candidates.
  */
object Dedup {

  /** Exact dedup statistics: total rows, distinct texts, duplicate rows.
    * (Keeper assignment — one surviving row per text — is [[dedupKeepFirst]].)
    */
  def exactStats(df: DataFrame, textCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col(textCol)).as("n_distinct"),
      (count(lit(1)) - countDistinct(col(textCol))).as("n_dup_rows"))

  /** Exact dedup: one surviving row per distinct text (minimal id wins). */
  def dedupKeepFirst(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(col(textCol)).agg(min(col(idCol)).as(idCol))

  /** Keep-first dedup keyed on the 128-bit [[TextAnalysis.fingerprint]]
    * instead of the raw text: the groupBy shuffles a 16-byte key per row, not
    * multi-KB documents — the difference between moving ~2 % and ~100 % of a
    * 100 TB corpus through the exchange. Output: (fp, keeper_id, n_copies).
    */
  def dedupKeepFirstByFingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(TextAnalysis.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Persisted EXACT-dedup index — the cheap first pass in front of the
    * d13 near-dup index: the corpus's distinct (fingerprint → keeper)
    * rows, written once at index-build time. Every arriving batch then
    * equi-joins its 16-byte fingerprints against the store — O(batch)
    * work per ingest with NO recall/θ budget at all (exact duplicates
    * only), which is why production pipelines run this pass before any
    * minhash machinery: it deletes the easy mass for the price of a
    * hash join. At 100 TB the index would be written bucketed on `fp`
    * (x11's co-located-join lever); plain parquet keeps the gate
    * portable.
    */
  def writeExactIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
    dedupKeepFirstByFingerprint(corpus, textCol, idCol)
      .select("fp", "keeper_id")
      .write.mode("overwrite").parquet(path)

  /** Incremental exact-dedup of a batch against a [[writeExactIndex]]
    * store: (batch_id, status 'dup' | 'new', keeper_id — null for new
    * docs). The corpus contributes nothing per ingest but the stored
    * join side.
    */
  def matchAgainstExactIndex(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, path: String): DataFrame = {
    val idx = spark.read.parquet(path)
    batch.select(col(idCol).as("batch_id"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .join(idx, Seq("fp"), "left")
      .select(col("batch_id"),
        when(col("keeper_id").isNotNull, "dup").otherwise("new").as("status"),
        col("keeper_id"))
  }

  /** Bloom sidecar for a [[writeExactIndex]] store — written once at
    * index-build time next to the parquet (`<path>/_graft_bloom.bin`):
    * a Bloom filter over xxhash64(fp) at the given fpp. At ingest,
    * [[matchAgainstExactIndexBloom]] broadcasts this bitmap and rows it
    * rejects are DEFINITE non-members — they short-circuit to
    * status 'new' without ever touching the index join. The long-key
    * reduction (fp → xxhash64) is sound for the gate: a 2⁻⁶⁴ collision
    * can only turn a true 'new' into a 'maybe' that the exact join then
    * resolves — never the reverse. ~9.6 bits/key at fpp 1 %: the 16-byte
    * fp index summarized ~13× smaller, which is what makes the gate
    * broadcastable long after the index itself has outgrown broadcast.
    */
  def writeExactIndexBloom(spark: SparkSession, path: String,
      fpp: Double = 0.01): Unit = {
    val keys = spark.read.parquet(path).select(xxhash64(col("fp")).as("k"))
      .cache()
    val n = math.max(keys.count(), 1L) // materializes the cache
    val bloom = keys.stat.bloomFilter("k", n, fpp)
    keys.unpersist()
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    graft.util.IndexStore.writeBytesAtomic(spark, path, "_graft_bloom.bin",
      bos.toByteArray)
  }

  /** [[matchAgainstExactIndex]] behind the [[writeExactIndexBloom]] gate:
    * identical output (the d17 oracle pins it row-for-row), different
    * plan. The batch's fingerprints first probe the broadcast bloom via
    * the codegen'd [[graft.functions.BloomMightContainLong]]; rejected
    * rows are emitted as 'new' directly — at 100 TB that's the index-side
    * shuffle/lookup SKIPPED for the (1−fpp)·new fraction of every ingest,
    * for the price of one KB–MB broadcast — and only 'maybe' rows pay the
    * exact fp join, whose left-join semantics then clean up the fpp
    * stragglers. The same runtime-filter shape as x10, but against a
    * PERSISTED index artifact with short-circuit classification rather
    * than inline inner-join pruning.
    */
  def matchAgainstExactIndexBloom(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, path: String): DataFrame = {
    val bloom = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(
        graft.util.IndexStore.readBytes(spark, path, "_graft_bloom.bin")))
    val bc = spark.sparkContext.broadcast(bloom)
    val fps = batch.select(col(idCol).as("batch_id"),
        TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .withColumn("maybe",
        graft.functions.BloomMightContainLong(bc, xxhash64(col("fp"))))
    val definiteNew = fps.filter(!col("maybe"))
      .select(col("batch_id"), lit("new").as("status"),
        lit(null).cast("long").as("keeper_id"))
    val idx = spark.read.parquet(path)
    val checked = fps.filter(col("maybe"))
      .join(idx, Seq("fp"), "left")
      .select(col("batch_id"),
        when(col("keeper_id").isNotNull, "dup").otherwise("new").as("status"),
        col("keeper_id"))
    // both legs re-derive `fps` from the batch scan (cheap, fused,
    // scan-shaped) — no cache: at ingest scale the scan is the batch
    // shard, read twice map-side, vs materializing it in executor memory
    definiteNew.unionByName(checked)
  }

  /** Word n-grams as zip_with over shifted slices of the split array:
    * gram[i] = w[i] ⧺ w[i+1] ⧺ … ⧺ w[i+n−1]. Each slice/split evaluates
    * once per ROW — an element_at-per-index formulation re-evaluates the
    * split inside every lambda call (no common-subexpression elimination
    * inside higher-order functions), which measured ~50× slower. zip_with
    * null-pads the shorter side, so the trailing partial grams become null
    * (concat propagates null) and are filtered off.
    */
  def wordNGrams(text: Column, n: Int): Column = {
    val w = split(text, " ")
    val joined = (2 to n).foldLeft(w) { (acc, k) =>
      zip_with(acc, slice(w, lit(k), size(w)), (a, b) => concat(a, lit(" "), b))
    }
    filter(joined, g => g.isNotNull)
  }

  /** Byte-identical to [[wordNGrams]] via the fused
    * [[graft.functions.WordNGrams]] kernel (split once, one loop — no
    * shifted-slice/concat intermediates per row); equality pinned in
    * DedupSpec. Used by every shingling pipeline below.
    */
  def wordNGramsFused(spark: org.apache.spark.sql.SparkSession,
      text: Column, n: Int): Column = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    call_function("word_ngrams", text, lit(n))
  }

  /** n-gram Jaccard near-dup: explode distinct grams, self-join on the gram
    * (the gram IS the bucket — candidate pairs only ever share a gram),
    * count intersections, compute |A∩B|/|A∪B|, keep pairs ≥ threshold.
    * Shuffle cost is O(total grams), not O(n²).
    *
    * `maxDocFreq` (stop-gram pruning) drops grams appearing in more than
    * that many documents before the self-join: the pair fanout of a gram is
    * O(df²), so capping df bounds the worst-case join size — the lever that
    * keeps this exact-verification path viable at corpus scale. Jaccard is
    * then computed over the kept (rare) grams on both intersection AND
    * set-size sides, a well-defined and still discriminative measure.
    */
  /** Spread a narrow source across at least the session's default
    * parallelism BEFORE a per-row kernel fan-out (gram explode): at the
    * bench SFs the documents table is ONE small parquet file = one scan
    * partition, so every downstream narrow stage — the word_ngrams kernel,
    * array_distinct, explode, the partial aggregates, and each RE-evaluation
    * of the gram subtree (df-cap count, join inputs) — runs on one core
    * (measured: three 1-task 0.3–0.9 s stages per d04 run). Size-adaptive
    * like ivfSearch's minScanPartitions: an input already wider than the
    * floor (any real deployment) is returned untouched, so no shuffle is
    * ever added at scale. Round-robin repartition is retry-safe
    * (sortBeforeRepartition) and result-neutral here — everything
    * downstream is aggregation/join on the exploded grams.
    */
  private def spreadForKernel(df: DataFrame): DataFrame = {
    val floor = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < floor) df.repartition(floor)
    else df
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Option[Int] = None): DataFrame = {
    val src = spreadForKernel(df.select(col(idCol), col(textCol)))
    val allGrams = src.select(col(idCol).as("doc"),
      explode(array_distinct(wordNGramsFused(df.sparkSession, col(textCol), n))).as("gram"))
    val grams = maxDocFreq match {
      case None => allGrams
      case Some(cap) =>
        // no broadcast hint: the gram vocabulary and per-doc size tables
        // scale with the corpus, so strategy is left to AQE — it broadcasts
        // them when they're actually small, and falls back to shuffle joins
        // (with skew splitting) when they aren't
        val rare = allGrams.groupBy("gram").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("gram")
        allGrams.join(rare, "gram")
    }
    val sizes = grams.groupBy("doc").agg(count(lit(1)).as("n_grams"))
    val inter = grams.as("a").join(grams.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_grams", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_grams", "nb"), "doc_b")
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT near-dup (Broder's second resemblance
    * measure): C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)| — the measure
    * that catches a document EMBEDDED in a larger one (boilerplate
    * wrappers, quote-expansions, a chunk re-shipped inside its source),
    * which symmetric Jaccard structurally misses: a 100-gram doc inside
    * a 1000-gram doc has J ≈ 0.1 but C = 1.0. Standard containment-side
    * dedup keeps the container and drops the contained copy.
    *
    * Same gram-bucketed machinery and stop-gram df cap as
    * [[ngramJaccardPairs]] (the pair fanout argument is identical; only
    * the normalizer changes), but emitted DIRECTIONALLY: (inner_doc,
    * outer_doc) with C(inner→outer). Exactness is pure 64-bit integers —
    * `containment_micro = inter·10⁶ div n_inner` over gram COUNTS, no
    * floating point anywhere, `div` on positives ≡ DuckDB `//` — so the
    * qualifying set and every emitted value are bit-deterministic by
    * construction (no round-before-compare subtlety to even document).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, minContainmentMicro: Long,
      maxDocFreq: Option[Int] = None): DataFrame = {
    // same scan-spread as ngramJaccardPairs — the gram subtree here is
    // evaluated by three consumers (df-cap count, both join sides)
    val src = spreadForKernel(df.select(col(idCol), col(textCol)))
    val allGrams = src.select(col(idCol).as("doc"),
      explode(array_distinct(wordNGramsFused(df.sparkSession, col(textCol), n))).as("gram"))
    val grams = maxDocFreq match {
      case None => allGrams
      case Some(cap) =>
        val rare = allGrams.groupBy("gram").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("gram")
        allGrams.join(rare, "gram")
    }
    val sizes = grams.groupBy("doc").agg(count(lit(1)).as("n_grams"))
    // Containment is asymmetric but the INTERSECTION is not: build it once
    // over unordered pairs (a < b — halves the join fanout and the pair
    // aggregate, the two heaviest stages) and emit both directions only
    // after the counts have collapsed to one row per pair (measured
    // in-suite at sf0.1: 3.02 → 1.77 s). The oracle's a≠b self-join pins
    // the semantics unchanged.
    val undirected = grams.as("a").join(grams.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("da"), col("b.doc").as("db"))
      .agg(count(lit(1)).as("inter"))
    val inter = undirected.select(explode(array(
        struct(col("da").as("inner_doc"), col("db").as("outer_doc"), col("inter")),
        struct(col("db").as("inner_doc"), col("da").as("outer_doc"), col("inter")))).as("e"))
      .select(col("e.inner_doc"), col("e.outer_doc"), col("e.inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "inner_doc")
        .withColumnRenamed("n_grams", "n_inner"), "inner_doc")
      .withColumn("containment_micro",
        expr("inter * 1000000 div n_inner"))
      .filter(col("containment_micro") >= minContainmentMicro)
      .select(col("inner_doc"), col("outer_doc"), col("containment_micro"))
  }

  /** Near-dup GROUP assignment: connected components over the near-dup
    * pair graph — the step between pair generation (d02–d05) and keeper
    * selection in a real dedup pipeline (one group ⇒ one retained doc;
    * pairs alone under-delete because near-dup relations chain: a~b, b~c
    * must collapse a,b,c together even when a≁c).
    *
    * Iterative min-label propagation: every round, each node takes the min
    * label among itself and its neighbors (one equi-join + one partial+final
    * min-aggregate per round — both distributed, nothing driver-side but the
    * convergence check). Rounds needed = component diameter, and near-dup
    * components are shallow star-ish clusters in practice, so this beats the
    * constant-factor-heavy O(log n) star-contraction variants at the scales
    * that matter; `maxIter` guards pathological chains.
    *
    * Output: (doc_id, group_id) for every node in the pair graph, where
    * group_id = min doc id of the component (so the keeper rule "keep the
    * group_id row" is keep-first).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    // both edge directions from ONE evaluation of the (possibly expensive)
    // pair-generation subtree — a union of two selects over `pairs` would
    // run that whole DAG twice
    val edges = pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct().cache()
    // localCheckpoint (not cache) each round: `labels` appears TWICE in the
    // next round's plan (union + join side), so without lineage truncation
    // the logical plan doubles per iteration — exponential analysis cost on
    // long-diameter graphs. Checkpointing pins the materialized rows and
    // restarts the plan from them, the standard Spark iterative pattern.
    // labels are monotonically non-increasing under min-propagation, so the
    // exact label sum strictly decreases until the fixpoint (decimal: exact
    // at any node-count × id scale). The sum is OBSERVED during the
    // checkpoint materialization itself (CollectMetrics accumulators on the
    // eager-checkpoint action) instead of re-aggregating the checkpointed
    // frame afterwards — one driver action per round, not two; the metric
    // rides the job that must run anyway. sum over an empty frame is null →
    // coalesce to 0 so a corpus with no qualifying pairs converges to the
    // empty result instead of NPE-ing.
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def labelSumExpr = coalesce(
      sum(col("lbl").cast(dec38)),
      lit(java.math.BigDecimal.ZERO).cast(dec38)).as("lbl_sum")
    // NB string-named observe + queryExecution.observedMetrics, NOT the
    // Observation helper: constructing an Observation initializes the
    // session's ObservationManager, a non-serializable non-@transient
    // SparkSession field (Spark 4.1.2) — after which ANY later closure
    // that captures the session (e.g. a Spark ML model carrying its
    // training summary, p08) dies with Task not serializable. The named
    // form reads the CollectMetrics accumulators off the executed plan
    // directly and touches no session state.
    def observedCheckpoint(df: DataFrame, obsName: String)
        : (DataFrame, java.math.BigDecimal) = {
      val observed = df.observe(obsName, labelSumExpr)
      val ck = observed.localCheckpoint(true) // eager: runs observed's plan
      val row = observed.queryExecution.observedMetrics(obsName)
      (ck, row.getDecimal(row.fieldIndex("lbl_sum")))
    }
    val ccRun = java.util.UUID.randomUUID().toString.take(8)
    var (labels, prevSum) = observedCheckpoint(
      edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl")), s"cc_${ccRun}_init")
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val viaNeighbor = edges
        .join(labels.select(col("node").as("dst"), col("lbl")), "dst")
        .select(col("src").as("node"), col("lbl"))
      val (next, s) = observedCheckpoint(
        labels.union(viaNeighbor).groupBy("node").agg(min("lbl").as("lbl")),
        s"cc_${ccRun}_it$it")
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      it += 1
    }
    edges.unpersist(blocking = false)
    if (!converged)
      throw new IllegalStateException(s"connectedComponents: no fixpoint after $maxIter rounds")
    labels.select(col("node").as("doc_id"), col("lbl").as("group_id"))
  }

  /** The gram-bucketed near-dup component map ([[ngramJaccardPairs]] →
    * [[connectedComponents]]): the group assignment d07 declares and the
    * input of keeper selection (d14) and leakage-safe splitting (p11).
    * Each caller runs the whole chain; the returned frame is the final
    * localCheckpoint of the label-propagation loop, so consumers re-scan
    * materialized rows. The chain has no RNG, so every call yields the
    * same rows.
    */
  def ngramComponents(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minJaccard: Double, maxDocFreq: Int): DataFrame =
    connectedComponents(
      ngramJaccardPairs(docs, idCol, textCol, n, minJaccard,
        maxDocFreq = Some(maxDocFreq)),
      "doc_a", "doc_b")

  /** MinHash near-dup, native banded-LSH form: per doc, `bands` bucket
    * keys, each the hash of `rowsPerBand` consecutive minhash values;
    * candidates are documents colliding in at least one band; exact
    * Jaccard via array_intersect on the candidates only. Deterministic,
    * no RNG state.
    *
    * Banding is the scale lever. A pair with Jaccard J collides in a band
    * of r minhashes with probability J^r, so the candidate volume over a
    * corpus scales with the r-th moment Σ_pairs b·J^r — and the background
    * similarity of unrelated documents (J ≪ θ) is suppressed by the power
    * r. With r = 1 (one minhash per bucket, the degenerate scheme) the
    * candidate set scales with Σ J over ALL N² pairs: measured on the
    * synthetic corpus, 2× the docs produced 4.0× the candidates (33.2M at
    * 100k docs, >70% from buckets of >100 docs whose pairwise J is far
    * below θ) — a quadratic shuffle that becomes THE bottleneck long
    * before 100 TB. Raising r suppresses those background pairs by J^r
    * while planted near-dups (J ≈ 1) still collide in every band. The
    * N²·E[J^r] term never vanishes for finite r, but each increment of
    * r divides its constant by ~E[J]: measured on the synthetic corpus
    * (three recipe-identical scale points, round 8), r = 2 → r = 3 cut
    * candidates 25× at 50 k docs (251 k → 9.9 k) and 40× at 250 k docs
    * (6.13 M → 152 k) with IDENTICAL verified output at both scales —
    * which is why r = 3 is the default.
    *
    * Recall budget: bands is derived from `minJaccard` so the banded miss
    * probability at J = θ, (1-θ^r)^b, is at most the documented 8-table
    * single-row budget (1-θ)^8 — for θ = 0.5: r = 2 gives b = 20, r = 3
    * gives b = 42 (miss ≤ 0.39%, and ≈ 1e-9 for the J ≈ 0.97 planted
    * pairs; precision is exact because candidates are re-verified). The
    * sig shuffle carries b rows/doc instead of 8 (5.3× at θ = 0.5,
    * r = 3) — bought back many times over by the candidate reduction.
    * Below θ ≈ 0.3 the r = 3 band count hits the 64 cap ([[bandsFor]]
    * warns); drop `rowsPerBand` to 2 or 1 there.
    *
    * Signatures come from the fused [[graft.functions.MinHashSigs]] kernel:
    * one byte-hash per shingle + b·r integer re-hashes, bit-identical
    * to the per-table HOF formulation but without hashing every shingle's
    * bytes b·r times. Bucket keys are xxhash64(band, mh…) — 8 bytes
    * through the self-join; a 2^-64 key collision can only ADD a candidate,
    * which exact verification then discards.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double, nTables: Int = 8, rowsPerBand: Int = 3): DataFrame = {
    val (shingled, candKeys) =
      minhashCandidateKeys(df, idCol, textCol, minJaccard, nTables, rowsPerBand)
    val cand = candKeys
      .join(shingled.select(col("id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(shingled.select(col("id").as("doc_b"), col("hs").as("hb")), "doc_b")
    verifyJaccard(cand, minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** [[minhashPairs]]'s candidate stage — (shingled, distinct candidate
    * id pairs). Exposed so scale probes can COUNT the banded candidate
    * set across scale factors (the quantity the banding exponent
    * controls; SCALE.md grounds its curves in it).
    */
  private[graft] def minhashCandidateKeys(df: DataFrame, idCol: String,
      textCol: String, minJaccard: Double, nTables: Int,
      rowsPerBand: Int): (DataFrame, DataFrame) = {
    val bands = bandsFor(minJaccard, nTables, rowsPerBand)
    val (shingled, withSigs) =
      shingleAndBand(df, idCol, textCol, bands, rowsPerBand)
    val candKeys = withSigs.as("a").join(withSigs.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    (shingled, candKeys)
  }

  /** Incremental near-dup: match a NEW batch of documents against an
    * already-deduped corpus, without recomputing the corpus self-join —
    * the production shape of dedup (each arriving shard is checked
    * against the retained corpus; corpus band keys are a by-product of
    * the original dedup pass and would be a persisted index in a real
    * pipeline). Same banded-LSH candidate generation and merge-scan
    * exact verification as [[minhashPairs]], but the candidate join is
    * batch-keys × corpus-keys (no `id < id` self-pairing; a doc present
    * in both frames will match itself at J = 1).
    *
    * At 100 TB this is the lever that turns dedup from O(corpus²) per
    * ingest into O(batch × collision rate): the corpus side contributes
    * b band keys per doc ONCE (written at index time), and each new
    * batch shuffles only its own keys plus the candidates they hit.
    * Output: (new_id, corpus_id, jaccard) for pairs with J ≥ θ.
    *
    * CACHE NOTE: each call `.cache()`s both sides' shingle frames (see
    * [[shingleAndBand]]) and cannot unpersist them before the lazy result
    * is consumed — REPEATED ingest calls in one long-lived session
    * accumulate executor storage. A production ingest loop should call
    * `spark.catalog.clearCache()` (or unpersist the session's cached
    * frames) between shards, or persist the corpus index externally as
    * this docstring's design intends.
    */
  def minhashPairsAgainst(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, minJaccard: Double,
      nTables: Int = 8, rowsPerBand: Int = 3): DataFrame = {
    val bands = bandsFor(minJaccard, nTables, rowsPerBand)
    val (bShingled, bKeys) =
      shingleAndBand(batch, idCol, textCol, bands, rowsPerBand)
    val (cShingled, cKeys) =
      shingleAndBand(corpus, idCol, textCol, bands, rowsPerBand)
    val candKeys = bKeys.as("a").join(cKeys.as("b"), col("a.bk") === col("b.bk"))
      .select(col("a.id").as("new_id"), col("b.id").as("corpus_id"))
      .distinct()
    val cand = candKeys
      .join(bShingled.select(col("id").as("new_id"), col("hs").as("ha")), "new_id")
      .join(cShingled.select(col("id").as("corpus_id"), col("hs").as("hb")), "corpus_id")
    verifyJaccard(cand, minJaccard)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** The LSH parameters a MinHash store's band keys were built with — its
    * manifest `params` ([[graft.util.IndexStore]]). Stores are matched
    * only against identical params: band keys from different
    * (θ, nTables, r) are incomparable key spaces, and a θ/r mismatch would
    * silently change the recall budget.
    */
  final case class MinhashParams(minJaccard: Double, nTables: Int,
      rowsPerBand: Int, bands: Int)

  private def minhashParams(minJaccard: Double, nTables: Int,
      rowsPerBand: Int): MinhashParams =
    MinhashParams(minJaccard, nTables, rowsPerBand,
      bandsFor(minJaccard, nTables, rowsPerBand))

  /** The MinHash payload of the generational store: per generation, one
    * `hashes` row (id, sorted gram hashes) and b `bands` rows (id, band
    * key) per document. */
  private[graft] val minhashStore = new graft.util.IndexStore
    .Layout[MinhashParams]("minhash", "id", Seq("hashes", "bands"), Nil)

  /** A MinHash store, refused loudly unless it was built with exactly `p`. */
  private def checked(store: graft.util.IndexStore.Snapshot[MinhashParams],
      p: MinhashParams): graft.util.IndexStore.Snapshot[MinhashParams] = {
    require(store.params == p,
      s"index at ${store.path} was built with ${store.params}, requested $p")
    store
  }

  private def openMinhash(spark: SparkSession, path: String,
      p: MinhashParams): graft.util.IndexStore.Snapshot[MinhashParams] =
    checked(graft.util.IndexStore.open(spark, path, minhashStore), p)

  /** Persist the corpus side of [[minhashPairsAgainst]] as an on-disk
    * dedup INDEX: band keys (`bands`) + sorted gram hashes (`hashes`) in
    * the generational store ([[graft.util.IndexStore]] — layout, manifest
    * commit, rebuild-replaces-all), the LSH parameters pinned in its
    * manifest. This is the shape d12's docstring promises for production:
    * the corpus pays its shingle + signature cost ONCE at index-build
    * time, and every arriving batch joins against the stored keys — no
    * corpus recompute per shard, no per-session cache accumulation. At
    * 100 TB the bands table would be written bucketed on `bk` so ingest
    * joins are co-located (x11's lever); plain parquet here keeps the
    * gate portable.
    */
  def writeMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, minJaccard: Double, nTables: Int = 8,
      rowsPerBand: Int = 3): Unit = {
    val p = minhashParams(minJaccard, nTables, rowsPerBand)
    val (shingled, keys) =
      shingleAndBand(corpus, idCol, textCol, p.bands, rowsPerBand)
    graft.util.IndexStore.build(corpus.sparkSession, path, minhashStore) { dir =>
      keys.write.mode("overwrite").parquet(dir("bands"))
      shingled.select(col("id"), col("hs"))
        .write.mode("overwrite").parquet(dir("hashes"))
      p
    }
    shingled.unpersist() // both consumers are materialized — no cache leak
  }

  /** Append a new shard to a [[writeMinhashIndex]] store — incremental
    * index MAINTENANCE, the missing half of the d13 ingest lifecycle: a
    * production pipeline doesn't rebuild its LSH index per shard, it
    * appends each deduped shard's band keys + sorted hashes as one new
    * store generation (at 100 TB, partition adds to the bucketed bands
    * table — a metadata operation). The shard pays its shingle +
    * signature cost exactly once, here; matching future batches against
    * the grown index is then identical to matching against a one-shot
    * rebuild over the union corpus — which d19's exact cross-set oracle
    * asserts against brute force, not against the rebuild. The stored
    * LSH parameters must match the requested ones (a θ/r mismatch would
    * silently mix incompatible signatures into one key space).
    *
    * The generation is invisible until the store's manifest commit
    * ([[graft.util.IndexStore.append]]); retrying the same `batchId`
    * overwrites it and commits once. `batchId` is the caller's shard
    * identity (ingest shard id, date partition, …); reusing one replaces
    * that shard in the index.
    */
  def appendToMinhashIndex(batch: DataFrame, idCol: String, textCol: String,
      path: String, batchId: String, minJaccard: Double, nTables: Int = 8,
      rowsPerBand: Int = 3): Unit = {
    val spark = batch.sparkSession
    val p = minhashParams(minJaccard, nTables, rowsPerBand)
    graft.util.IndexStore.append(spark, path, minhashStore, batchId) { (store, dir) =>
      checked(store, p): Unit
      val (shingled, keys) =
        shingleAndBand(batch, idCol, textCol, p.bands, rowsPerBand)
      shingled.select(col("id"), col("hs"))
        .write.mode("overwrite").parquet(dir("hashes"))
      keys.write.mode("overwrite").parquet(dir("bands"))
      shingled.unpersist() // both consumers materialized — no cache leak
    }
  }

  /** TOMBSTONE corpus documents in a [[writeMinhashIndex]] store — the
    * DELETE of the index lifecycle (retracted sources, takedowns,
    * right-to-be-forgotten): an append-only id list
    * ([[graft.util.IndexStore.tombstone]]), never an in-place rewrite of
    * the band/hash tables. Queries exclude the ids merge-on-read; the
    * physical rows are reclaimed by the next [[compactMinhashIndex]] —
    * the delete-vector / merge-on-read pattern lakehouse table formats
    * use.
    */
  def tombstoneMinhashIndex(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String, batchId: String): Unit =
    graft.util.IndexStore.tombstone(spark, path, ids, idCol, batchId)

  /** COMPACT a [[writeMinhashIndex]] store into a fresh single-generation
    * index at `destPath` ([[graft.util.IndexStore.compact]]) — the
    * maintenance step that closes the index lifecycle (build d13 → append
    * d19 → query → compact): after many appends the store is many small
    * per-shard generations; compaction rewrites the same live rows as one
    * generation, applying tombstones physically. Pure IO — the corpus is
    * never re-shingled, which is the entire economics of the persisted
    * index. d20's oracle pins compacted-index results ≡ the grown index's
    * ≡ brute force over the union corpus.
    */
  def compactMinhashIndex(spark: SparkSession, srcPath: String,
      destPath: String): Unit =
    graft.util.IndexStore.compact(spark, srcPath, destPath, minhashStore)

  /** Incremental near-dup against a [[writeMinhashIndex]] index: the
    * batch contributes its own shingles + keys; the corpus side comes
    * entirely from the store's committed generations. The index's
    * recorded LSH parameters must match the requested ones (refused
    * loudly otherwise). Output: (new_id, corpus_id, jaccard), identical
    * to [[minhashPairsAgainst]] on the same frames — which is exactly
    * what the d13 oracle asserts.
    */
  def minhashPairsAgainstIndex(batch: DataFrame, idCol: String,
      textCol: String, path: String, minJaccard: Double, nTables: Int = 8,
      rowsPerBand: Int = 3): DataFrame = {
    val p = minhashParams(minJaccard, nTables, rowsPerBand)
    val store = openMinhash(batch.sparkSession, path, p)
    val (bShingled, bKeys) =
      shingleAndBand(batch, idCol, textCol, p.bands, rowsPerBand)
    // tombstoned docs are excluded merge-on-read on the 1-row/doc hashes
    // table alone: the candidate join is INNER on corpus_id, so a dead
    // doc's band keys can never reach the output once its hashes row is gone
    val candKeys = bKeys.as("a")
      .join(store.table("bands").as("b"), col("a.bk") === col("b.bk"))
      .select(col("a.id").as("new_id"), col("b.id").as("corpus_id"))
      .distinct()
    val cand = candKeys
      .join(bShingled.select(col("id").as("new_id"), col("hs").as("ha")), "new_id")
      .join(store.live("hashes").select(col("id").as("corpus_id"),
        col("hs").as("hb")), "corpus_id")
    verifyJaccard(cand, minJaccard)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** CROSS-INDEX near-dup retrieval: match one [[writeMinhashIndex]]
    * store against another with BOTH sides answered from stored parquet —
    * no document is ever re-shingled. This is the train/eval
    * CONTAMINATION check at index level (does any eval doc near-dup a
    * train doc?): each corpus pays its shingle + signature cost once, at
    * its own build/append time, and the leak check itself is a band-key
    * equi-join of the two stored key tables followed by exact Jaccard
    * verification on the two stored sorted-hash tables. At 100 TB both
    * bands tables are bucketed on `bk`, making the candidate join
    * co-located, and re-running the check after either side grows
    * (appends) or shrinks (tombstones) costs only the join — the
    * economics that make "re-check contamination per eval refresh"
    * viable at all. Both stores' LSH parameters must match the requested
    * ones (and hence each other). Tombstones on BOTH sides are honored
    * merge-on-read, same mechanism as single-index queries.
    * Output: (a_id, b_id, jaccard) — exact Jaccard ≥ θ, ids from the
    * `pathA` / `pathB` store respectively.
    */
  def minhashPairsIndexVsIndex(spark: SparkSession, pathA: String,
      pathB: String, minJaccard: Double, nTables: Int = 8,
      rowsPerBand: Int = 3): DataFrame = {
    val p = minhashParams(minJaccard, nTables, rowsPerBand)
    val a = openMinhash(spark, pathA, p)
    val b = openMinhash(spark, pathB, p)
    val candKeys = a.table("bands").as("a")
      .join(b.table("bands").as("b"), col("a.bk") === col("b.bk"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    val cand = candKeys
      .join(a.live("hashes").select(col("id").as("a_id"),
        col("hs").as("ha")), "a_id")
      .join(b.live("hashes").select(col("id").as("b_id"),
        col("hs").as("hb")), "b_id")
    verifyJaccard(cand, minJaccard)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Keeper selection over near-dup GROUPS: given [[connectedComponents]]
    * output and a per-doc quality frame, keep the highest-quality doc per
    * group (doc id breaks ties deterministically). The step that turns
    * dedup groups into a retention decision — keep-BEST, the curation
    * upgrade over d06's keep-first. One shuffle on group_id; the
    * struct-max aggregates map-side like any min/max.
    * Output: (group_id, keeper_id, keeper_quality, n_docs).
    */
  def keeperByQuality(groups: DataFrame, quality: DataFrame,
      idCol: String, qualityCol: String): DataFrame =
    groups.join(quality.withColumnRenamed(idCol, "__q_id"),
        col("doc_id") === col("__q_id"))
      .groupBy("group_id")
      .agg(
        max(struct(col(qualityCol).as("q"), (-col("__q_id")).as("nid"))).as("best"),
        count(lit(1)).as("n_docs"))
      .select(col("group_id"), (-col("best.nid")).cast("long").as("keeper_id"),
        col("best.q").as("keeper_quality"), col("n_docs"))

  /** Bands needed so the banded miss probability at J = θ, (1−θ^r)^b,
    * stays within the single-row scheme's documented budget (1−θ)^nTables:
    * b ≥ nTables·ln(1−θ)/ln(1−θ^r).
    *
    * b is capped at 64 (key volume = b rows/doc through the shuffle). For
    * very low thresholds the formula exceeds the cap — e.g. θ ≈ 0.1 at
    * r = 2 wants b ≈ 84 — and the clamp then weakens recall below the
    * documented budget (miss at J = θ ~0.53 vs the promised ~0.43), so
    * the clamp is WARNED, not silent: drop to rowsPerBand = 1 (b = 8
    * suffices at any θ) or raise θ if the warning fires.
    */
  private[graft] def bandsFor(minJaccard: Double, nTables: Int, rowsPerBand: Int): Int = {
    require(rowsPerBand >= 1, "rowsPerBand must be >= 1")
    require(minJaccard > 0 && minJaccard < 1, "minJaccard must be in (0, 1)")
    val raw = math.ceil(
      nTables * math.log1p(-minJaccard) /
        math.log1p(-math.pow(minJaccard, rowsPerBand))).toInt
    if (raw > 64) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"bandsFor(θ=$minJaccard, nTables=$nTables, r=$rowsPerBand) wants " +
          s"$raw bands, clamped to 64: recall at J=θ degrades below the " +
          "documented (1−θ)^nTables budget. Use rowsPerBand=1 or a higher θ.")
    }
    math.max(1, math.min(64, raw))
  }

  /** Shared front-end of the banded-LSH dedup operators.
    *
    * Returns (shingled, bandKeys):
    * - `shingled` (cached: consumed by the signature pass and the
    *   candidate rejoins; without it the shingle construction re-runs per
    *   consumer) carries `hs`, the sorted-unique 64-bit hash of each gram
    *   ([[SortedHashes]]). Exact verification intersects THESE, not the
    *   gram strings — `array_intersect` on string arrays evaluates as an
    *   interpreted per-row hash-set build (measured 60-90 µs/pair, the
    *   dominant cost of the whole query once banding shrinks the
    *   candidate join), while the sorted-long merge scan is codegen'd,
    *   allocation-free and ~3× smaller through the rejoin shuffle.
    *   Hash-set Jaccard equals gram-set Jaccard absent a 64-bit collision
    *   (P ≈ n²·2⁻⁶⁴ per pair; the exact-oracle gate verifies equality on
    *   its corpora).
    * - `bandKeys` is (id, bk) with b rows per doc — signatures only; the
    *   candidate join and pair-dedup must not drag gram arrays through
    *   the shuffle. The fused [[graft.functions.MinHashBands]] kernel
    *   emits the b 8-byte band keys directly (building them with
    *   element_at inside a `transform` lambda would re-evaluate the
    *   signature kernel per band — HOF lambdas get no CSE).
    */
  private def shingleAndBand(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    // scan-spread before the shingle/minhash kernels (see spreadForKernel):
    // the cache build and every band/verify consumer inherit the width
    val src = spreadForKernel(df.select(col(idCol), col(textCol)))
    val shingled = src.select(col(idCol).as("id"),
      array_distinct(wordNGramsFused(df.sparkSession, col(textCol), 3)).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("hs", call_function("sorted_hashes", col("shingles")))
      .cache()
    val bandKeys = shingled
      .select(col("id"), explode(
        call_function("minhash_bands", col("shingles"), lit(bands), lit(rowsPerBand)))
        .as("bk"))
    (shingled, bandKeys)
  }

  /** STREAM-safe LSH band-key projection — [[shingleAndBand]]'s key half
    * without the cache (streaming DataFrames can't be cached, and the
    * keys are consumed exactly once by the stateful bucket operator):
    * one (id, bk) row per band per doc, same fused shingle kernel and
    * xxhash64 bucket keys as the batch path, so a streaming consumer's
    * buckets are IDENTICAL to [[minhashPairs]]'s candidate buckets —
    * which is exactly the equivalence st15's shared oracle asserts.
    */
  private[graft] def streamBandKeys(df: DataFrame, idCol: String,
      textCol: String, minJaccard: Double, nTables: Int = 8,
      rowsPerBand: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val bands = bandsFor(minJaccard, nTables, rowsPerBand)
    df.select(col(idCol).as("id"),
      array_distinct(wordNGramsFused(df.sparkSession, col(textCol), 3)).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(col("id"), explode(
        call_function("minhash_bands", col("shingles"), lit(bands), lit(rowsPerBand)))
        .as("bk"))
  }

  /** Exact-Jaccard verification of an externally-generated candidate pair
    * set (doc_a, doc_b) against the corpus — [[minhashPairs]]'s verify
    * stage factored out for consumers that produce candidates elsewhere
    * (st15's streaming bucket state). Pair-proportional cost: shingles
    * are joined in for candidate rows only.
    */
  private[graft] def verifyCandidatePairs(docs: DataFrame, candKeys: DataFrame,
      idCol: String, textCol: String, minJaccard: Double): DataFrame = {
    val s = docs.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(s)
    val shingled = docs.select(col(idCol).as("id"),
      array_distinct(wordNGramsFused(s, col(textCol), 3)).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("hs", call_function("sorted_hashes", col("shingles")))
    val cand = candKeys
      .join(shingled.select(col("id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(shingled.select(col("id").as("doc_b"), col("hs").as("hb")), "doc_b")
    verifyJaccard(cand, minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Exact-Jaccard verification over candidate rows carrying (ha, hb)
    * sorted hash sets; keeps pairs with J ≥ θ, emits `jaccard` rounded
    * to 6 dp plus the caller's id columns. */
  private def verifyJaccard(cand: DataFrame, minJaccard: Double): DataFrame =
    cand
      .withColumn("inter", call_function("sorted_intersect_n", col("ha"), col("hb")))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("ha")) + size(col("hb")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .withColumn("jaccard", round(col("jaccard"), 6))

  /** MinHash+LSH via spark.ml (HashingTF + MinHashLSH.approxSimilarityJoin)
    * — the library-API twin of [[minhashPairs]], kept for `spark.ml`
    * parity; the native form shuffles less (no hash-entry explode into
    * the ml join machinery).
    */
  def minhashPairsMl(df: DataFrame, idCol: String, textCol: String,
      maxJaccardDist: Double): DataFrame = {
    val withTokens = df.select(col(idCol).as("id"),
      array_distinct(wordNGramsFused(df.sparkSession, col(textCol), 3)).as("toks"))
      .filter(size(col("toks")) > 0)
    val tf = new HashingTF().setInputCol("toks").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    // cache: approxSimilarityJoin(feat, feat, …) walks this DAG from both
    // sides — without the cache the shingle+hash pipeline runs twice
    val feat = tf.transform(withTokens).cache()
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("bands")
      .setNumHashTables(8).setSeed(42L)
    val model = lsh.fit(feat)
    model.approxSimilarityJoin(feat, feat, maxJaccardDist, "dist")
      .filter(col("datasetA.id") < col("datasetB.id"))
      .select(col("datasetA.id").as("doc_a"), col("datasetB.id").as("doc_b"),
        round(col("dist"), 6).as("jaccard_dist"))
  }

  /** SimHash: per-token 64-bit xxhash64 (seed 42, same values as the SQL
    * `xxhash64`); each bit contributes ±1; sign of the per-bit sum forms the
    * 64-bit signature. Computed by the fused native kernel
    * [[graft.functions.SimHash64]] — one loop per row instead of per-token
    * array allocations. Near-dups = signatures within `maxHamming`;
    * candidates come from banding the signature into four 16-bit bands
    * (equi-join per band), then exact hamming via bit_count(xor).
    */
  def simhash(spark: org.apache.spark.sql.SparkSession, text: Column): Column = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    call_function("simhash64", split(text, " "))
  }

  /** Long-substring exact dedup — the granularity between chunk-level
    * (d08: fixed windows) and whole-document Jaccard (d04): document pairs
    * sharing an EXACT run of ≥ `minSpan` consecutive tokens, the
    * RefinedWeb / "Deduplicating Training Data Makes Language Models
    * Better" suffix-array pattern re-expressed as bucketed relational
    * algebra (no suffix array, no all-pairs):
    *
    *  1. n-token shingles WITH positions (one generate per doc — the
    *     fused [[wordNGramsFused]] kernel + posexplode);
    *  2. stop-gram pruning: shingles present in more than `maxDocFreq`
    *     distinct docs are dropped before the self-join (a shingle's pair
    *     fanout is O(df²), so the cap bounds the worst bucket — d04's
    *     lever at the span granularity);
    *  3. candidates = equi-join on the shingle (bucketed: pairs only ever
    *     meet inside a shared-shingle bucket);
    *  4. span recovery WITHOUT re-touching the texts: a match of shingle
    *     positions (i, j) lies on diagonal i−j; consecutive matches on a
    *     diagonal are one run (island id = i − row_number over the
    *     diagonal), and a run of R shingles covers R + n − 1 tokens.
    *
    * Scale shape (the round-7 curve showed the naive single-shingle
    * bucket join is ~N^1.4 — background 8-gram collisions grow
    * birthday-quadratically even when no real span is shared), so the
    * join is two-phase, d02's r=2 banding re-applied at the positioned
    * granularity:
    *
    *  - PHASE 1 (candidates, hash-keyed): composite key = 64-bit hashes
    *    of the kept shingles at positions (p, p + minSpan − n) — the two
    *    ENDPOINT shingles of an exact `minSpan`-token window. Any
    *    qualifying diagonal run of ≥ minSpan − n + 1 kept shingles
    *    contains both endpoints at matching offsets, so recall is exact;
    *    background collision probability is the single-shingle
    *    probability SQUARED. Composite fanout inherits the df cap
    *    (composite df ≤ endpoint shingle df ≤ maxDocFreq).
    *  - PHASE 2 (verify, string-exact): the original positioned-shingle
    *    equi-join + diagonal-island run recovery, restricted to the
    *    candidate pairs — per-pair cost now proportional to genuinely
    *    shared spans, and a 2⁻⁶⁴ phase-1 hash collision is verified away.
    *
    * Only (doc, pos, shingle) rows enter the shuffle; the gram string is
    * kept in phase 2 so the DuckDB oracle reproduces the buckets
    * byte-for-byte.
    *
    * Output: (doc_a, doc_b, max_span_tokens) for pairs with a shared run
    * of at least `minSpan` tokens — identical to the one-phase
    * construction the oracle replays.
    */
  def longSubstringPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minSpan: Int = 12, maxDocFreq: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // kept feeds FOUR plan subtrees (both sides of the phase-1 composite
    // self-join, both sides of the phase-2 verify join); without
    // materialization Spark recomputes the posexplode + df-cap join — the
    // dominant linear cost — per subtree (measured: 13 s vs 7 s at sf1).
    // localCheckpoint (d07's pattern) computes it once and truncates
    // lineage; the ContextCleaner reclaims the blocks when unreferenced.
    val kept = keptPositionedShingles(df, idCol, textCol, n, maxDocFreq)
      .localCheckpoint()
    val cand = longSubstringCandidates(kept, n, minSpan)

    // Phase 2: exact diagonal-run replay on candidate pairs only.
    val ka = kept.join(cand, kept("doc") === cand("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("pos").as("i"), col("gram"))
    val matches = ka.as("a").join(kept.as("b"),
        col("a.gram") === col("b.gram") && col("b.doc") === col("a.doc_b"))
      .select(col("a.doc_a").as("doc_a"), col("a.doc_b").as("doc_b"),
        col("a.i").as("i"), col("b.pos").as("j"))
    val byDiag = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("i")
    matches
      .withColumn("diag", col("i") - col("j"))
      .withColumn("isl", col("i") - row_number().over(byDiag))
      .groupBy("doc_a", "doc_b", "diag", "isl")
      .agg(count(lit(1)).as("run"))
      .groupBy("doc_a", "doc_b")
      .agg((max(col("run")) + lit(n - 1)).cast("long").as("max_span_tokens"))
      .filter(col("max_span_tokens") >= minSpan)
  }

  /** Positioned `n`-token shingles with the stop-gram df cap applied —
    * the (doc, pos, gram) relation both phases of [[longSubstringPairs]]
    * operate on.
    */
  private[graft] def keptPositionedShingles(df: DataFrame, idCol: String,
      textCol: String, n: Int, maxDocFreq: Int): DataFrame = {
    // scan-spread before the positioned-shingle kernel (see spreadForKernel)
    val grams = spreadForKernel(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"),
        posexplode(wordNGramsFused(df.sparkSession, col(textCol), n))
        .as(Seq("pos", "gram")))
    val rare = grams.groupBy("gram")
      .agg(countDistinct(col("doc")).as("df"))
      .filter(col("df") <= maxDocFreq).select("gram")
    grams.join(rare, "gram")
  }

  /** Phase 1 of [[longSubstringPairs]]: candidate (doc_a, doc_b) pairs via
    * the minSpan-window endpoint composite key (64-bit hashes of the kept
    * shingles at positions p and p + minSpan − n). stride = 0 (minSpan ≤ n)
    * degenerates to the single-shingle key, which is exact there (any
    * shared kept shingle already spans ≥ minSpan tokens). Exposed so scale
    * probes can COUNT the candidate set across scale factors.
    */
  private[graft] def longSubstringCandidates(kept: DataFrame, n: Int,
      minSpan: Int): DataFrame = {
    val stride = math.max(0, minSpan - n)
    val keptH = kept.select(col("doc"), col("pos"), xxhash64(col("gram")).as("h"))
    val comp =
      if (stride == 0) keptH.select(col("doc"), col("h").as("h1"), col("h").as("h2"))
      else keptH.as("l").join(keptH.as("r"),
          col("l.doc") === col("r.doc") && col("l.pos") + stride === col("r.pos"))
        .select(col("l.doc").as("doc"), col("l.h").as("h1"), col("r.h").as("h2"))
    comp.as("ca").join(comp.as("cb"),
        col("ca.h1") === col("cb.h1") && col("ca.h2") === col("cb.h2") &&
          col("ca.doc") < col("cb.doc"))
      .select(col("ca.doc").as("doc_a"), col("cb.doc").as("doc_b"))
      .distinct()
  }

  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    val sigs = df.select(col(idCol).as("id"),
      simhash(df.sparkSession, col(textCol)).as("sig"))
    val bands = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * 16).bitwiseAND(0xFFFFL).as("key"))): _*)).as("bk"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
    cand.withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }
}
