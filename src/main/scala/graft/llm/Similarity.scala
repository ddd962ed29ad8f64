package graft.llm

import graft.functions.{CosineSimilarity, GraftFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Similarity search over an embedding column (array<float>).
  *
  * Baseline: brute-force cosine top-k — probes broadcast against the
  * partitioned corpus, per-partition partial top-k via a bounded-heap
  * Aggregator (map-side combine shrinks every partition to k rows BEFORE the
  * shuffle, so the exchange moves O(partitions·k) rows, not the corpus).
  *
  * Scale paths: IVF coarse quantization for top-k (spherical k-means
  * inverted file, nprobe cluster search, exact re-rank) and banded
  * hyperplane LSH for the near-dup regime (candidates only within matching
  * bands, exact verification after).
  */
object Similarity {

  /** Cosine via the native codegen expression (graft.functions.CosineSimilarity). */
  def cosine(spark: SparkSession, a: Column, b: Column): Column = {
    GraftFunctions.ensureRegistered(spark)
    call_function("cosine_sim", a, b)
  }

  /** Shared finishing stage: (p_id, neighbor_id, sim) candidates → ranked
    * top-k per probe via the bounded primitive-array aggregate
    * [[graft.functions.TopKSim]] — partial aggregation is O(k) memory per
    * group, the buffer is a raw JVM object (no per-merge encoder
    * round-trip), and the merge tree never materializes full partitions.
    */
  private def finishTopK(cand: DataFrame, k: Int): DataFrame = {
    GraftFunctions.ensureRegistered(cand.sparkSession)
    cand.groupBy("p_id")
      .agg(call_function("topk_sim", col("sim"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("p_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("p_id"),
        col("entry.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"),
        round(col("entry.sim"), 6).as("sim"))
      .orderBy("p_id", "rank")
  }

  /** Exact top-k neighbors for each probe vector.
    * Output: (p_id, neighbor_id, rank, sim).
    */
  /** Exact cosine RANGE (radius) search: every corpus vector with
    * cos ≥ minSim of each probe — the second query shape every vector
    * store exposes alongside top-k ("all matches above a similarity
    * floor", where the RESULT SIZE is data-dependent rather than k).
    * Probes are a bounded broadcast set; the corpus is scanned ONCE with
    * the codegen'd cosine kernel and the threshold predicate prunes
    * map-side — no heap, no shuffle, output rows only for qualifying
    * pairs. The similarity is rounded BEFORE the threshold compare, so
    * the qualifying set is a pure function of the rounded value (no
    * engine can disagree at the boundary without a ≥ 5e-7 cosine
    * disagreement). At scale the IVF index is the pruning path — cells
    * whose centroid distance bounds them below the radius are skipped —
    * with s02/s06's store applying unchanged; this is the exact baseline
    * that gate verifies against.
    */
  def rangeSearch(spark: SparkSession, corpus: DataFrame, probes: DataFrame,
      idCol: String, embCol: String, minSim: Double): DataFrame = {
    val p = probes.select(col(idCol).as("p_id"), col(embCol).as("p_emb"))
    corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("emb"))
      .crossJoin(broadcast(p))
      .filter(col("neighbor_id") =!= col("p_id"))
      .select(col("p_id"), col("neighbor_id"),
        round(cosine(spark, col("emb"), col("p_emb")), 6).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Late-interaction (ColBERT-style MaxSim) multi-vector retrieval:
    * documents and queries are BAGS of vectors (per-token / per-chunk
    * embeddings), and relevance of doc d to query q is
    * Σ over q's vectors of the MAX cosine against any of d's vectors —
    * the scoring rule that made multi-vector retrieval practical
    * (every query token finds its best-matching doc token; no single
    * pooled vector washes the signal out).
    *
    * Exactness: each pairwise cosine is quantized ONCE to integer
    * micro-units (round(sim·10⁶) — the repo's quantize-once recipe; the
    * codegen'd kernel and the oracle's double loop agree at this
    * granularity, as s01/d05 pin at the same 1e-6 step); MAX and SUM
    * then run on exact BIGINTs, so group results are merge-order-free,
    * and the top-k order is total (score desc, doc id asc).
    *
    * Scale shape: probes broadcast (a query batch is small by nature);
    * the corpus side is ONE scan producing (probe_vec × corpus_vec)
    * partials that collapse map-side through the two-level aggregate —
    * max within (p_doc, p_vec, d_doc), sum within (p_doc, d_doc) — and
    * the only wide exchange carries per-DOC partial rows, not
    * per-vector-pair rows. At 100 TB the d_doc stream would come from
    * the IVF index's probed cells (s02's pruning applies per query
    * vector unchanged); this is the exact scorer that reranks them.
    *
    * Output: (p_doc, d_doc, score_micro, rank) — top-k docs per probe
    * doc, self-doc excluded.
    */
  def maxSimTopK(spark: SparkSession, corpus: DataFrame, probes: DataFrame,
      docCol: String, vecCol: String, embCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(docCol).as("d_doc"), col(embCol).as("emb"))
    val p = probes.select(col(docCol).as("p_doc"), col(vecCol).as("p_vec"),
      col(embCol).as("p_emb"))
    val best = c.crossJoin(broadcast(p))
      .filter(col("d_doc") =!= col("p_doc"))
      .select(col("p_doc"), col("p_vec"), col("d_doc"),
        round(cosine(spark, col("emb"), col("p_emb")) * lit(1e6), 0)
          .cast("long").as("sim_micro"))
      .groupBy("p_doc", "p_vec", "d_doc")
      .agg(max("sim_micro").as("m"))
    val scored = best.groupBy("p_doc", "d_doc")
      .agg(sum("m").as("score_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("p_doc").orderBy(col("score_micro").desc, col("d_doc"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("p_doc", "d_doc", "score_micro", "rank")
      .orderBy("p_doc", "rank")
  }

  def bruteTopK(spark: SparkSession, corpus: DataFrame, probes: DataFrame,
      idCol: String, embCol: String, k: Int): DataFrame = {
    val p = probes.select(col(idCol).as("p_id"), col(embCol).as("p_emb"))
    val pairs = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("emb"))
      .crossJoin(broadcast(p))
      .filter(col("neighbor_id") =!= col("p_id"))
      .select(col("p_id"), col("neighbor_id"),
        cosine(spark, col("emb"), col("p_emb")).as("sim"))
    finishTopK(pairs, k)
  }

  /** Deterministic random-hyperplane signature (sign bits of `nBits`
    * pseudo-random projections), via the fused native kernel
    * [[graft.functions.HyperplaneSignature]] — a single codegen'd loop
    * instead of an nBits×dim expression tree.
    */
  def hyperplaneSignature(spark: SparkSession, emb: Column, nBits: Int): Column = {
    GraftFunctions.ensureRegistered(spark)
    call_function("hyperplane_sig", emb, lit(nBits))
  }

  /** Top-k via banded hyperplane LSH — the same sub-quadratic 64-bit/
    * 4×16-bit band geometry as the near-dup path (d05): candidates share
    * at least one 16-bit band; exact cosine re-rank on candidates only.
    *
    * Regime split (SCALE.md has the measured curve): tight bands only
    * recall NEAR-DUP neighbors (per-bit collision 1 − θ/π), so for
    * moderate-similarity top-k this finds almost nothing — use [[ivfTopK]]
    * there. In the near-dup regime it is the RIGHT index: collision prob
    * → 1 as cos → 1 and positively-scaled copies collide with certainty,
    * which is what the declared s04 duplicate-retrieval query runs ("has
    * this incoming item been seen before?"), with the selectivity that
    * keeps the candidate set sub-quadratic.
    */
  def lshTopK(spark: SparkSession, corpus: DataFrame, probes: DataFrame,
      idCol: String, embCol: String, k: Int): DataFrame = {
    val c = withLshBands(spark, corpus, idCol, embCol)
      .withColumnRenamed(idCol, "neighbor_id").withColumnRenamed(embCol, "emb")
    val p = withLshBands(spark, probes, idCol, embCol)
      .withColumnRenamed(idCol, "p_id").withColumnRenamed(embCol, "p_emb")
    val cand = c.join(broadcast(p), c("bk") === p("bk"))
      .filter(col("neighbor_id") =!= col("p_id"))
      .select(col("p_id"), col("neighbor_id"),
        cosine(spark, col("emb"), col("p_emb")).as("sim"))
      .distinct()
    finishTopK(cand, k)
  }

  /** Four 16-bit hyperplane bands per row — the s04/d05 band geometry,
    * shared by [[lshTopK]] and [[lshTop1EachRow]]. */
  private def withLshBands(spark: SparkSession, df: DataFrame,
      id: String, emb: String): DataFrame = {
    val nBits = 64
    val bands = 4 // four 16-bit bands, matching hyperplaneCandidatePairs
    val sig = hyperplaneSignature(spark, col(emb), nBits)
    df.select(col(id), col(emb), sig.as("sig"))
      .select(col(id), col(emb),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * 16).bitwiseAND(0xFFFFL).as("key"))): _*)).as("bk"))
  }

  /** [[lshTopK]] at k = 1 without the rank window or the candidate
    * distinct — per-probe-ROW duplicate retrieval as ONE max aggregate,
    * which is exactly what a STREAMING probe side needs (st19): the
    * static corpus side carries the same banded index (planned per
    * micro-batch like any stream-static join; a 100 TB deployment
    * persists it bucketed by band key), each arriving probe explodes to
    * its 4 band keys — bounded, stateless — and the only keyed state is
    * the per-probe argmax, O(1) per id, complete-mode convergent because
    * a probe's candidates arrive in its own micro-batch. Band-collision
    * duplicates are harmless under max (the batch form needs distinct()
    * only to keep rank counting honest); ties break on the SMALLER
    * neighbor id via the (sim, −id) struct ordering, matching
    * [[finishTopK]]'s (sim DESC, id ASC). Output: (p_id, neighbor_id,
    * rank = 1, sim rounded to 1e-6), inner semantics (a probe colliding
    * with nothing drops out — s04's planted copies collide with
    * certainty, which that gate already relies on).
    */
  def lshTop1EachRow(spark: SparkSession, corpus: DataFrame,
      probes: DataFrame, idCol: String, embCol: String): DataFrame = {
    val c = withLshBands(spark, corpus, idCol, embCol)
      .withColumnRenamed(idCol, "neighbor_id").withColumnRenamed(embCol, "emb")
    val p = withLshBands(spark, probes, idCol, embCol)
      .withColumnRenamed(idCol, "p_id").withColumnRenamed(embCol, "p_emb")
    p.join(c, p("bk") === c("bk"))
      .filter(col("neighbor_id") =!= col("p_id"))
      .select(col("p_id"), struct(
        cosine(spark, col("emb"), col("p_emb")).as("sim"),
        (-col("neighbor_id")).as("negn")).as("cand"))
      .groupBy("p_id")
      .agg(max("cand").as("best"))
      .select(col("p_id"), (-col("best.negn")).as("neighbor_id"),
        lit(1L).as("rank"), round(col("best.sim"), 6).as("sim"))
  }

  /** IVF (inverted-file) ANN top-k — the scale path for *top-k* search.
    * Hyperplane bands only prune well in the near-dup regime (per-bit
    * collision prob ≈ 1 − θ/π, so a cos≈0.4 neighbor matches an 8-bit band
    * ~2% of the time); coarse quantization prunes by cluster structure
    * instead: KMeans centroids over the corpus, each vector assigned to its
    * cluster (the inverted file), probes search only the `nprobe` nearest
    * clusters, exact cosine re-rank on members.
    */
  /** IVF index: the inverted file (neighbor_id, emb, cluster) plus the
    * fitted centroids (tiny: nClusters × dim floats — driver/literal-sized
    * by construction, like any ANN index's coarse quantizer).
    */
  final case class IvfIndex(inverted: DataFrame, centroids: Array[Array[Float]]) {
    /** The same index with its inverted file persisted: a search plan
      * reads the inverted file several times (members, cluster sizes,
      * scan accounting), and the persist makes the assignment pass run
      * once per action tree, not once per subtree. */
    def persisted: IvfIndex =
      copy(inverted = inverted.persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** Build the IVF coarse quantizer: spherical k-means (cluster L2-normalized
    * vectors so Euclidean assignment and cosine probe-ranking agree:
    * ‖x−y‖² = 2 − 2cos on the unit sphere). Centroids are fit on a bounded
    * deterministic sample (standard IVF build practice — k-means needs
    * ~O(100) points per centroid, not the corpus); only the ASSIGNMENT pass
    * touches every row.
    */
  def buildIvfIndex(spark: SparkSession, corpus: DataFrame,
      idCol: String, embCol: String, nClusters: Int,
      seed: Long = 42L, maxFitRows: Long = 100000L): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.feature.Normalizer
    import org.apache.spark.ml.functions.array_to_vector

    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("emb"))
      .withColumn("raw_fv", array_to_vector(col("emb")))
    val normalizer = new Normalizer().setInputCol("raw_fv").setOutputCol("fv").setP(2.0)
    val cn = normalizer.transform(c)
    val n = cn.count()
    val sampled =
      if (n <= maxFitRows) cn
      else cn.sample(withReplacement = false, maxFitRows.toDouble / n, seed)
    // the fit sample is small by construction — pack it into few partitions
    // (~25k rows each) and cache it: Lloyd iterations are per-partition
    // jobs, so 32 near-empty partitions just buy 32× task overhead per step
    val fitParts = math.max(1, (math.min(n, maxFitRows) / 25000L).toInt)
    val fitSet = sampled.coalesce(fitParts).cache()
    // cap cells at n/2 (≥ ~2 members per cell): k beyond that risks k > n
    // (kmeans|| degenerates) and bloats the centroid table for no recall.
    // Callers size nprobe as a FRACTION of the actual cell count
    // (idx.centroids.length), so the cap composes with any corpus size.
    val k = math.max(2, math.min(nClusters.toLong, n / 2L).toInt)
    val km = new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol("fv").setPredictionCol("cluster").fit(fitSet)
    fitSet.unpersist(blocking = false)
    IvfIndex(km.transform(cn).select("neighbor_id", "emb", "cluster"),
      km.clusterCenters.map(_.toArray.map(_.toFloat)))
  }

  // ----------------------------------- two-level IVF coarse quantizer ---

  /** TWO-LEVEL IVF index (the "hierarchical coarse quantizer" a flat IVF
    * needs past its k-means cap): level 1 is [[buildIvfIndex]]'s spherical
    * k-means (`k1` cells), level 2 is ONE SHARED residual codebook (`k2`
    * plain-Euclidean k-means centroids over `v − c1[assign(v)]` — the
    * IVFADC residual construction, Jégou/Douze/Schmid PAMI'11 §III).
    * Effective cell count is k1·k2 from two fits that are each bounded
    * (k1, k2 ≤ a few thousand; fit samples ≤ `maxFitRows`), so cell count
    * can track N — occupancy stays CONSTANT — long after a single flat
    * fit stops being tractable: the flat quantizer's occupancy grows
    * N/cap past n ≈ 65 k, which made the nnd seed O(N²/cap) (SCALE.md's
    * gsf10 ledger row: 421 M of 552 M sims were seed). `centroids1` and
    * `residuals2` are each driver/literal-sized like any coarse
    * quantizer; the composite centroid c1[j] + r2[l] is never
    * materialized as a table — probe ranking reconstructs it per probed
    * cell (k1 + np1·k2 work per probe, see [[probe2Cells]]).
    */
  final case class Ivf2Index(inverted: DataFrame,
      centroids1: Array[Array[Float]], residuals2: Array[Array[Float]]) {
    /** The same index with its inverted file persisted ([[IvfIndex.persisted]]). */
    def persisted: Ivf2Index =
      copy(inverted = inverted.persist(StorageLevel.MEMORY_AND_DISK))
  }

  def buildIvf2Index(spark: SparkSession, corpus: DataFrame,
      idCol: String, embCol: String, k1: Int, k2: Int,
      seed: Long = 42L, maxFitRows: Long = 100000L): Ivf2Index = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.feature.Normalizer
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import spark.implicits._

    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("emb"))
      .withColumn("raw_fv", array_to_vector(col("emb")))
    val cn = new Normalizer().setInputCol("raw_fv").setOutputCol("fv")
      .setP(2.0).transform(c)
    val n = cn.count()
    val sampled =
      if (n <= maxFitRows) cn
      else cn.sample(withReplacement = false, maxFitRows.toDouble / n, seed)
    val fitParts = math.max(1, (math.min(n, maxFitRows) / 25000L).toInt)
    val fitSet = sampled.coalesce(fitParts).cache()
    val kk1 = math.max(2, math.min(k1.toLong, n / 2L).toInt)
    val m1 = new KMeans().setK(kk1).setSeed(seed)
      .setFeaturesCol("fv").setPredictionCol("c1").fit(fitSet)
    val c1 = m1.clusterCenters.map(_.toArray.map(_.toFloat))
    // residual = fv − c1[assignment]; the centroid table is index
    // metadata (k1 × dim floats) → broadcast join, never a wide literal
    // in the per-row path
    val c1Df = c1.toIndexedSeq.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toDF("c1", "c1v")
    def withResidual(df: DataFrame): DataFrame =
      m1.transform(df)
        .join(broadcast(c1Df), "c1")
        .withColumn("rv", array_to_vector(zip_with(
          vector_to_array(col("fv")), col("c1v"),
          (a, b) => a - b.cast("double"))))
    val kk2 = math.max(2, math.min(k2.toLong, n / 2L).toInt)
    val m2 = new KMeans().setK(kk2).setSeed(seed + 1)
      .setFeaturesCol("rv").setPredictionCol("c2")
      .fit(withResidual(fitSet))
    fitSet.unpersist(blocking = false)
    val inv = m2.transform(withResidual(cn))
      .select("neighbor_id", "emb", "c1", "c2")
    Ivf2Index(inv, c1, m2.clusterCenters.map(_.toArray.map(_.toFloat)))
  }

  /** The `nprobe` nearest (c1, c2) cells per probe. Two bounded stages,
    * both per-row expression work over literal-sized quantizer tables:
    *  1. one codegen'd `cosine_sim` per level-1 centroid (k1 of them)
    *     and one per residual codeword (k2), each scaled by the
    *     centroid's DRIVER-CONSTANT norm: cos(p, c)·‖c‖ = pn·c, so the
    *     two passes yield exact inner products against the normalized
    *     probe;
    *  2. the np1·k2 composite grid is ranked by pn·(c1[j] + r2[l]) =
    *     pn·c1[j] + pn·r2[l] — the dot product DISTRIBUTES over the
    *     residual decomposition, so grid scoring is pure scalar adds
    *     over already-computed terms (the ADC trick: composite-cell
    *     score from per-codebook lookup tables, Jégou PAMI'11 §IV.A).
    *
    * PERFORMANCE SHAPE (two measured lessons):
    *  - every ranking array is a PACKED INT64 (negated dot quantized to
    *    2⁻²⁰ in the high bits, centroid id in the low bits), so the
    *    array_sort comparators — which Spark evaluates INTERPRETED, one
    *    If-eval per compare — are single long compares. The first cut
    *    sorted structs of (double, int) and nested a zip_with/aggregate
    *    L2 grid with an inlined normalization: interpreted eval
    *    re-evaluated the inlined sub-expressions per combo and hung for
    *    10 min on 2 k rows. Quantization ties break on the id bits —
    *    deterministic; a 2⁻²⁰ dot tie is noise for a cell PRUNER.
    *  - callers joining this output against the inverted file MUST put a
    *    materialization barrier (persist/localCheckpoint) on it first:
    *    without one, Catalyst collapses the whole cell expression into
    *    the join-side predicates and re-evaluates it PER CANDIDATE ROW
    *    (nprobe× the probe count — measured as 12 CPU-hours stuck in a
    *    generated Filter at gsf10). The flat path never hits this only
    *    because `broadcast()` happens to be such a barrier.
    *
    * Ranking by inner product rather than exact composite L2 drops the
    * per-cell norm correction ‖c1+r2‖²; for a SEED pruner feeding
    * NN-Descent refinement that bias is noise — the measured recall
    * ledger (SCALE.md) is the contract, not per-cell exactness.
    */
  def probe2Cells(spark: SparkSession, idx: Ivf2Index, probes: DataFrame,
      idCol: String, embCol: String, nprobe1: Int, nprobe: Int): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    // dot quantum: key = round((2 − dot)·Q)·4096 + id; grid key =
    // (q1 + q2) · 2²³ + c1 · 2¹² + c2 — all int64 shift/mask arithmetic.
    // The whole two-level ranking runs through the fused
    // [[graft.functions.Ivf2CellKeys]] kernel (round 18) — the previous
    // transform/flatten/array_sort pipeline paid per-element interpreted
    // lambda dispatch (HOFs are CodegenFallback) over k1 + k2 + np1·k2
    // elements per probe row; the kernel is one codegen'd loop with
    // bit-identical keys (Spark round semantics, same norm fold).
    val Q = (1 << 20).toDouble
    val k2n = idx.residuals2.length
    require(k2n <= 4096, s"residual codebook too large to pack: $k2n")
    require(idx.centroids1.length <= 2048,
      s"level-1 codebook too large to pack: ${idx.centroids1.length}")
    val np1 = math.min(nprobe1, idx.centroids1.length)
    val npAll = math.min(nprobe, np1 * k2n)
    probes.select(col(idCol).as("p_id"), col(embCol).as("p_emb"))
      .select(col("p_id"), col("p_emb"),
        explode(call_function("ivf2_cell_keys", col("p_emb"),
          typedLit(idx.centroids1), typedLit(idx.residuals2),
          lit(np1), lit(npAll), lit(Q))).as("cell"))
      // c1 is 11 bits (bits 12–22; c1 < 2048 by the require above) — a
      // 12-bit mask would capture bit 23, the score field's lowest bit
      .select(col("p_id"), col("p_emb"),
        shiftright(col("cell"), 12).bitwiseAND(lit(2047L)).cast("int").as("c1"),
        col("cell").bitwiseAND(lit(4095L)).cast("int").as("c2"))
  }

  /** IVF2 ANN top-k: exact cosine re-rank on the members of each probe's
    * `nprobe` composite cells. The candidate join is a plain equi-join on
    * the (c1, c2) cell key — both sides hash-partition on it (the probe
    * side is nprobe rows per probe, far too wide for a broadcast when the
    * probe set is the corpus itself, the nnd-seed case), and occupancy is
    * constant by construction, so candidate volume is nprobe·occupancy
    * per probe at any N.
    */
  def ivf2Search(spark: SparkSession, idx: Ivf2Index, probes: DataFrame,
      idCol: String, embCol: String, k: Int, nprobe1: Int, nprobe: Int)
      : DataFrame = {
    // the persist is load-bearing, not an optimization — see the
    // probe2Cells scaladoc's barrier lesson (without it the cell
    // expression is re-evaluated per candidate row inside the join)
    val p = probe2Cells(spark, idx, probes, idCol, embCol, nprobe1, nprobe)
      .persist(StorageLevel.MEMORY_AND_DISK)
    ivf2SearchFromCells(spark, idx, p, k)
  }

  /** Search from an already-materialized [[probe2Cells]] table — the
    * form callers use when they need the cell table twice (scan
    * accounting + search) or want to control its lifecycle.
    */
  def ivf2SearchFromCells(spark: SparkSession, idx: Ivf2Index,
      cells: DataFrame, k: Int): DataFrame = {
    val cand = idx.inverted.join(cells, Seq("c1", "c2"))
      .filter(col("neighbor_id") =!= col("p_id"))
      .select(col("p_id"), col("neighbor_id"),
        cosine(spark, col("emb"), col("p_emb")).as("sim"))
    finishTopK(cand, k)
  }

  // ------------------------------------------------------ IVF store ---

  /** Fit-time (or current) HEALTH of an IVF index — the two quantities
    * that erode under sustained fixed-quantizer appends (round-16
    * verdict ask 1) and that a re-quantize repairs:
    *  - `occMaxOverMean`: max cell occupancy over the mean across ALL
    *    declared cells (empty cells count — a drifted corpus that
    *    crowds into few cells leaves the rest empty). The recall/scan
    *    contract prices work as nprobe·mean-occupancy; the hot cell
    *    costs max-occupancy per probe that ranks it, so this ratio IS
    *    the contract-erosion factor.
    *  - `meanResidual`: mean (1 − cos(v, centroid[assign(v)])) over the
    *    inverted file — how well the quantizer still explains the data.
    *    Appends drawn from the fit distribution keep it flat; drifted
    *    appends raise it (their nearest stored centroid is far), which
    *    degrades cell pruning long before occupancy shows it.
    * Both are one aggregation job over the inverted file (the per-row
    * centroid lookup is an element_at into the literal centroid table —
    * the probeClusters expression shape, but only the ASSIGNED cell's
    * cosine, so per-row work is one codegen'd kernel call).
    */
  final case class IvfHealth(n: Long, occMaxOverMean: Double,
      meanResidual: Double)

  /** The IVF payload's manifest params: the quantizer's shape and the
    * FIT-TIME health baseline [[ivfIndexHealth]] measures drift against. */
  final case class IvfParams(nCells: Int, dim: Int, health: Option[IvfHealth])

  /** The IVF payload of the generational store
    * ([[graft.util.IndexStore]]): per generation, the `inverted` lists
    * (neighbor_id, emb, cluster); once per build, the `centroids` table. */
  private[graft] val ivfStore = new graft.util.IndexStore.Layout[IvfParams](
    "ivf", "neighbor_id", Seq("inverted"), Seq("centroids"))

  /** The IVF store's manifest as one flat value: the committed `gens`,
    * the maintenance `epoch` and the [[IvfParams]] — a view over
    * [[graft.util.IndexStore.Manifest]]. */
  final case class IvfMeta(nCells: Int, dim: Int, gens: Seq[String],
      epoch: Int, health: Option[IvfHealth])

  private def toMeta(m: graft.util.IndexStore.Manifest[IvfParams]): IvfMeta =
    IvfMeta(m.params.nCells, m.params.dim, m.gens, m.epoch, m.params.health)

  private def toManifest(meta: IvfMeta): graft.util.IndexStore.Manifest[IvfParams] =
    graft.util.IndexStore.Manifest(meta.gens, meta.epoch,
      IvfParams(meta.nCells, meta.dim, meta.health))

  def writeIvfMeta(spark: SparkSession, path: String, meta: IvfMeta): Unit =
    graft.util.IndexStore.writeManifest(spark, path, ivfStore, toManifest(meta))

  def readIvfMeta(spark: SparkSession, path: String): IvfMeta =
    toMeta(graft.util.IndexStore.readManifest(spark, path, ivfStore))

  /** A locked, verified manifest commit ([[graft.util.IndexStore.commit]]). */
  def mutateIvfMeta(spark: SparkSession, path: String)
      (mutate: IvfMeta => IvfMeta): IvfMeta =
    toMeta(graft.util.IndexStore.commit(spark, path, ivfStore)(m =>
      toManifest(mutate(toMeta(m)))))

  /** Measure [[IvfHealth]] of an inverted file against its quantizer —
    * one distributed aggregation; the centroid table rides as a literal
    * (index metadata, driver-sized by construction).
    */
  def computeIvfHealth(spark: SparkSession, inverted: DataFrame,
      centroids: Array[Array[Float]]): IvfHealth = {
    GraftFunctions.ensureRegistered(spark)
    // one Literal node (see probeClusters) — not nClusters·dim leaf nodes
    val centArr = typedLit(centroids)
    // nanvl: a zero vector's cosine is 0/0 = NaN; "the quantizer explains
    // none of it" is residual 1, and a NaN here must never reach the
    // manifest commit (the store refuses non-finite params loudly)
    val row = inverted
      .select(col("cluster"),
        nanvl(lit(1.0d) - call_function("cosine_sim", col("emb"),
          element_at(centArr, col("cluster") + 1)), lit(1.0d)).as("res"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("m"), sum("res").as("r"))
      .agg(sum("m").cast("long").as("n"), max("m").as("mx"), sum("r").as("rs"))
      .head()
    val n = if (row.isNullAt(0)) 0L else row.getLong(0)
    if (n == 0L) IvfHealth(0L, 1.0, 0.0)
    else IvfHealth(n,
      row.getLong(1).toDouble / (n.toDouble / centroids.length),
      row.getDouble(2) / n)
  }

  /** Fit-time baseline ([[IvfMeta.health]]) vs the CURRENT live store —
    * the index-health check a store owner runs before deciding to
    * re-quantize: returns (baseline, current). Drift shows as
    * current.occMaxOverMean / baseline.occMaxOverMean (and the residual
    * ratio) pulling away from 1.
    */
  def ivfIndexHealth(spark: SparkSession, path: String)
      : (IvfHealth, IvfHealth) = {
    val meta = readIvfMeta(spark, path)
    val idx = readIvfIndex(spark, path)
    val baseline = meta.health.getOrElse(
      sys.error(s"store at $path has no fit-time health baseline"))
    (baseline, computeIvfHealth(spark, idx.inverted, idx.centroids))
  }

  /** Persist an [[IvfIndex]] as a generational store
    * ([[graft.util.IndexStore.build]] — a rebuild replaces the whole
    * store, the manifest commits last): the inverted lists (cluster-keyed
    * member embeddings — the full-pass assignment output, the expensive
    * part) as generation `base`, the centroid table (nClusters × dim
    * floats, driver-sized by construction) alongside it. At 100 TB the
    * inverted table would additionally be bucketed/partitioned BY
    * `cluster` so a probe's nprobe cluster scan prunes to exactly those
    * files; plain parquet keeps the gate portable. Round-trip fidelity is
    * float-exact, which the s06 gate asserts search-result-for-search-result.
    */
  def writeIvfIndex(idx: IvfIndex, path: String): Unit = {
    val spark = idx.inverted.sparkSession
    import spark.implicits._
    graft.util.IndexStore.build(spark, path, ivfStore) { dir =>
      idx.inverted.select("neighbor_id", "emb", "cluster")
        .write.mode("overwrite").parquet(dir("inverted"))
      idx.centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
        .toDF("cid", "cv").coalesce(1)
        .write.mode("overwrite").parquet(dir("centroids"))
      // fit-time health baseline: measured on the just-written generation
      // (one agg job per store PUBLISH, never per search)
      IvfParams(idx.centroids.length,
        idx.centroids.headOption.map(_.length).getOrElse(0),
        Some(computeIvfHealth(spark, spark.read.parquet(dir("inverted")),
          idx.centroids)))
    }
  }

  private def centroidsOf(store: graft.util.IndexStore.Snapshot[IvfParams])
      : Array[Array[Float]] =
    store.fixed("centroids")
      .select("cid", "cv").collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).toArray)

  /** The stored coarse quantizer alone — nClusters rows of index
    * metadata, not data. Refuses a store without a committed manifest. */
  def readIvfCentroids(spark: SparkSession, path: String): Array[Array[Float]] =
    centroidsOf(graft.util.IndexStore.open(spark, path, ivfStore))

  /** Load a [[writeIvfIndex]] store: the committed generations of the
    * inverted file with tombstoned ids excluded merge-on-read
    * ([[graft.util.IndexStore.Snapshot.live]]) — an orphan generation
    * left by a crashed append is invisible, dead vectors stop surfacing
    * the moment the tombstone lands. */
  def readIvfIndex(spark: SparkSession, path: String): IvfIndex = {
    val store = graft.util.IndexStore.open(spark, path, ivfStore)
    IvfIndex(store.live("inverted").select("neighbor_id", "emb", "cluster"),
      centroidsOf(store))
  }

  /** Nearest-centroid assignment at a FIXED coarse quantizer — the
    * ingest half of incremental index maintenance: new vectors join the
    * store's existing cells (argmax cosine over the stored centroids,
    * ties to the smallest cid — [[probeClusters]] at nprobe = 1, so the
    * assignment rule and the search-time cell ranking are the SAME
    * expression), with NO refit. Per-row work is nClusters codegen'd
    * cosines against literal centroid arrays — embarrassingly parallel,
    * no shuffle, which is exactly why append never needs the k-means
    * pass that makes a rebuild expensive.
    */
  def assignToCentroids(spark: SparkSession, df: DataFrame, idCol: String,
      embCol: String, centroids: Array[Array[Float]]): DataFrame =
    probeClusters(spark, IvfIndex(null, centroids), df, idCol, embCol, 1)
      .select(col("p_id").as("neighbor_id"), col("p_emb").as("emb"),
        col("cluster"))

  /** Append a new shard to a [[writeIvfIndex]] store — incremental index
    * MAINTENANCE for the vector store (the round-15 verdict's #1: the
    * embedding store was the one 100 TB asset still requiring a full
    * refit on new data). New vectors are assigned to the EXISTING stored
    * centroids ([[assignToCentroids]] — no refit; quantizer drift is
    * [[requantizeIvfIndex]] territory, out of scope by design) and land
    * as one new store generation, committed by the manifest
    * ([[graft.util.IndexStore.append]]); retrying the same `batchId`
    * overwrites it and commits once. Search-after-append over the grown
    * store is IDENTICAL to search over an index whose inverted file was
    * built from the union corpus at the same fixed quantizer — the s14
    * oracle pins that invisibility row-for-row (at fixed centroids, a
    * vector's cell does not depend on any other vector, so append ≡
    * rebuild exactly; only a reFIT could differ, and append promises not
    * to).
    */
  def appendToIvfIndex(batch: DataFrame, idCol: String, embCol: String,
      path: String, batchId: String): Unit = {
    val spark = batch.sparkSession
    graft.util.IndexStore.append(spark, path, ivfStore, batchId) { (store, dir) =>
      assignToCentroids(spark, batch, idCol, embCol, centroidsOf(store))
        .write.mode("overwrite").parquet(dir("inverted"))
    }
  }

  /** TOMBSTONE vectors in a [[writeIvfIndex]] store — the DELETE of the
    * vector-index lifecycle ([[graft.util.IndexStore.tombstone]]):
    * consumers exclude dead ids merge-on-read ([[readIvfIndex]]); the
    * rows are physically reclaimed at the next [[compactIvfIndex]].
    */
  def tombstoneIvfIndex(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String, batchId: String): Unit =
    graft.util.IndexStore.tombstone(spark, path, ids, idCol, batchId)

  /** COMPACT a [[writeIvfIndex]] store into a fresh single-generation
    * index at `destPath` ([[graft.util.IndexStore.compact]]): live rows
    * rewrite as one generation, tombstones become physical deletes, and
    * the centroids and the fit-time health baseline copy over unchanged
    * — the k-means fit is never re-paid. The s16 oracle pins
    * compacted-search ≡ grown-store-search ≡ the fixed-quantizer
    * rebuild, and that the physical row count equals the live count.
    */
  def compactIvfIndex(spark: SparkSession, srcPath: String,
      destPath: String): Unit =
    graft.util.IndexStore.compact(spark, srcPath, destPath, ivfStore)

  /** RE-QUANTIZE a [[writeIvfIndex]] store into a fresh index at
    * `destPath` — the drift-repair step a long-lived vector store
    * eventually needs (round-16 verdict ask 1): [[appendToIvfIndex]]
    * deliberately never refits, so sustained appends from a drifted
    * distribution crowd into few cells ([[ivfIndexHealth]] measures the
    * erosion) until the recall/scan contract degrades. This is the
    * repair: the LIVE store content (merge-on-read — tombstoned rows
    * never enter the new fit) refits a fresh coarse quantizer, every
    * live vector is re-assigned by the SAME nearest-centroid expression
    * the append path uses ([[assignToCentroids]] — one assignment rule
    * across the whole rebuilt store), and the result publishes as a new
    * single-generation index whose fit-time health baseline is measured
    * on the repaired layout. Crash-safe like [[compactIvfIndex]]: new
    * directory, read-only source, manifest written last.
    *
    * Cost shape at 100 TB: one k-means fit on a BOUNDED sample
    * (`maxFitRows`) + one assignment pass over the live rows + one
    * write — the same bill as the original build, which is exactly why
    * health-triggered re-quantize (not per-append refit) is the
    * production cadence.
    */
  def requantizeIvfIndex(spark: SparkSession, srcPath: String,
      destPath: String, nClusters: Int, seed: Long = 42L,
      maxFitRows: Long = 100000L): Unit = {
    require(srcPath != destPath,
      "re-quantize writes a NEW index directory (version-swap pattern)")
    val corpus = readIvfIndex(spark, srcPath).inverted
      .select(col("neighbor_id"), col("emb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val fit = buildIvfIndex(spark, corpus, "neighbor_id", "emb",
      nClusters, seed, maxFitRows)
    val re = IvfIndex(
      assignToCentroids(spark, corpus, "neighbor_id", "emb", fit.centroids),
      fit.centroids)
    writeIvfIndex(re, destPath)
    corpus.unpersist(blocking = false)
  }

  /** Outcome of one [[maintainIvfIndex]] pass: whether the trigger fired
    * (and so whether `destPath` now holds a repaired index), plus the
    * health readings the decision was made on.
    */
  final case class MaintenanceOutcome(repaired: Boolean,
      baseline: IvfHealth, current: IvfHealth)

  /** HEALTH-TRIGGERED maintenance routing (round-17 verdict ask 3):
    * [[requantizeIvfIndex]] is the repair, [[ivfIndexHealth]] the
    * signal — this operator is the production CADENCE that connects
    * them, previously prose in SCALE.md's requantize ledger. One health
    * aggregation over the live store decides:
    *
    *  - DEGRADED — current occupancy skew > `occFactor` × the fit-time
    *    baseline AND current mean residual > `resFactor` × baseline —
    *    re-quantize into `destPath` and report `repaired = true`. Both
    *    metrics must trip because they fail independently (SCALE.md: a
    *    +0.5 shift at ≥ 20 k degrades ONLY the residual while the denser
    *    quantizer absorbs the occupancy blob — a residual-only trigger
    *    would refit on drift the quantizer is absorbing fine).
    *  - HEALTHY — no-op: `destPath` is not created and the source
    *    manifest is BYTE-identical after the call (the s20 oracle pins
    *    both), so a scheduled maintenance sweep over a healthy fleet
    *    costs one aggregation job per store and zero writes.
    *
    * The factor dial is probe-set (ScaleProbe `s20`, SCALE.md round-21
    * ledger — five dirs, both branches) and the probe's NEGATIVE result
    * shapes the rule: the residual ratio CANNOT discriminate the
    * branches alone, because the fit-time baseline is in-sample and ANY
    * appended shard — drifted or not — pays an out-of-sample penalty
    * (healthy res ratio 1.69–1.73 at ≤ 500-vector corpora, ≈ the drift
    * branch's own reading). OCCUPANCY is the discriminator: the drift
    * blob crowds cells at 12–55× baseline at every measured dir while
    * an in-distribution append reads 0.78–1.00×, so `occFactor = 4`
    * sits ≥ 3× from both sides. The residual clause (`resFactor = 1.05`;
    * drift reads ≥ 1.118 measured) is the CONFIRMATION that the
    * quantizer no longer explains the data — it is what keeps a
    * pure occupancy fluctuation (skewed-but-explained data) from
    * triggering a refit that SCALE.md's +0.5-shift negative result
    * shows the quantizer would absorb anyway.
    */
  def maintainIvfIndex(spark: SparkSession, srcPath: String,
      destPath: String, nClusters: Int, occFactor: Double = 4.0,
      resFactor: Double = 1.05, seed: Long = 42L,
      maxFitRows: Long = 100000L): MaintenanceOutcome = {
    val (h0, h1) = ivfIndexHealth(spark, srcPath)
    val degraded = h1.occMaxOverMean > occFactor * h0.occMaxOverMean &&
      h1.meanResidual > resFactor * h0.meanResidual
    if (degraded)
      requantizeIvfIndex(spark, srcPath, destPath, nClusters, seed, maxFitRows)
    MaintenanceOutcome(degraded, h0, h1)
  }

  type GenCompaction = graft.util.IndexStore.GenCompaction

  /** INCREMENTAL (generational) compaction of a [[writeIvfIndex]] store
    * ([[graft.util.IndexStore.compactGenerations]]) — the round-16
    * verdict's ask 2: [[compactIvfIndex]] rewrites the FULL payload
    * (measured 184 s at 200 k vectors) even when one small
    * generation holds all the tombstoned rows. This rewrites ONLY
    * generations whose dead fraction exceeds `deadFracThreshold`, under
    * epoch-suffixed names swapped in by one manifest commit; cold
    * generations stay byte-identical on disk.
    */
  def compactIvfGenerations(spark: SparkSession, path: String,
      deadFracThreshold: Double): GenCompaction =
    graft.util.IndexStore.compactGenerations(spark, path, ivfStore,
      deadFracThreshold)

  /** The `nprobe` nearest clusters per probe: (p_id, p_emb, cluster) rows.
    * The ranking runs through the fused [[graft.functions.NearestCells]]
    * kernel (round 18): the previous `array(struct(lit…))` +
    * `array_sort(transform(…))` formulation had TWO measured costs that
    * were pure overhead at any scale — nClusters × dim literal leaf
    * nodes (32 k at 512 cells × 64 dims) re-analyzed by Catalyst on
    * every run, and per-ELEMENT interpreted lambda dispatch (higher-order
    * functions are CodegenFallback), ~1 ms per probe row at 512 cells.
    * The kernel is one codegen'd loop with the identical ranking
    * semantics: (cosine desc, cid asc) under Spark SQL's double order
    * (−0.0 == 0.0), centroids passed as ONE literal matrix.
    */
  def probeClusters(spark: SparkSession, idx: IvfIndex, probes: DataFrame,
      idCol: String, embCol: String, nprobe: Int): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    probes.select(col(idCol).as("p_id"), col(embCol).as("p_emb"))
      .select(col("p_id"), col("p_emb"),
        explode(call_function("nearest_cells", col("p_emb"),
          typedLit(idx.centroids), lit(nprobe))).as("cluster"))
  }

  /** [[ivfSearch]] at k = 1 without the rank window — per-probe-ROW
    * duplicate retrieval as ONE max aggregate, the IVF twin of
    * [[lshTop1EachRow]] and the shape a STREAMING probe side needs
    * (st24): the static corpus carries the fitted inverted file (planned
    * per micro-batch like any stream-static join), each arriving probe
    * explodes to its `nprobe` ranked cells — bounded, stateless,
    * per-row expression work — and the only keyed state is the
    * per-probe argmax, O(1) per id, complete-mode convergent because a
    * probe's candidates arrive in its own micro-batch. The explicit
    * `repartition` on the cell key is the streaming stand-in for the
    * batch path's broadcast/persist barrier ([[probe2Cells]]'s measured
    * lesson): the exchange materializes the ranked-cell projection
    * BEFORE the join, so the centroid expression evaluates once per
    * probe row, never per candidate row. Ties break on the SMALLER
    * neighbor id via the (sim, −id) struct ordering, matching
    * [[finishTopK]]. Output: (p_id, neighbor_id, rank = 1, sim rounded
    * to 1e-6), inner semantics (a probe whose probed cells are all
    * empty drops out — which the st24 gate's closed-form probe count
    * would catch loudly).
    */
  def ivfTop1EachRow(spark: SparkSession, idx: IvfIndex, probes: DataFrame,
      idCol: String, embCol: String, nprobe: Int): DataFrame =
    top1FromCells(spark,
      probeClusters(spark, idx, probes, idCol, embCol, nprobe)
        .repartition(col("cluster")),
      idx.inverted, Seq("cluster"))

  /** [[ivfTop1EachRow]] through the TWO-LEVEL quantizer ([[Ivf2Index]]) —
    * the past-the-flat-cap leg of the size-routed streaming retrieval
    * twin (st24 ↔ s13): identical argmax shape, candidates from the
    * probe's `nprobe` ranked composite (c1, c2) cells.
    */
  def ivf2Top1EachRow(spark: SparkSession, idx: Ivf2Index, probes: DataFrame,
      idCol: String, embCol: String, nprobe1: Int, nprobe: Int): DataFrame =
    top1FromCells(spark,
      probe2Cells(spark, idx, probes, idCol, embCol, nprobe1, nprobe)
        .repartition(col("c1"), col("c2")),
      idx.inverted, Seq("c1", "c2"))

  private def top1FromCells(spark: SparkSession, cells: DataFrame,
      inverted: DataFrame, joinKey: Seq[String]): DataFrame =
    cells.join(inverted, joinKey)
      .filter(col("neighbor_id") =!= col("p_id"))
      .select(col("p_id"), struct(
        cosine(spark, col("emb"), col("p_emb")).as("sim"),
        (-col("neighbor_id")).as("negn")).as("cand"))
      .groupBy("p_id")
      .agg(max("cand").as("best"))
      .select(col("p_id"), (-col("best.negn")).as("neighbor_id"),
        lit(1L).as("rank"), round(col("best.sim"), 6).as("sim"))

  /** IVF (inverted-file) ANN top-k search over a prebuilt index: exact
    * cosine re-rank on the members of each probe's `nprobe` clusters.
    */
  def ivfSearch(spark: SparkSession, idx: IvfIndex, probes: DataFrame,
      idCol: String, embCol: String, k: Int, nprobe: Int,
      minScanPartitions: Int = 1): DataFrame = {
    val p = probeClusters(spark, idx, probes, idCol, embCol, nprobe)
    // The candidate scan fans each inverted row out to every probe of its
    // cell (×nprobe·probes/cells), so a narrowly-partitioned inverted file
    // serializes the whole cosine+topk pass onto its few tasks — at sf0.1
    // one small parquet file = ONE scan partition carrying the entire
    // probe×member fan-out (measured 1.1 s single-task). `minScanPartitions`
    // lets wide-fan-out callers (the s12 seed: kBuild=30, np=16) spread the
    // scan by cluster, ADAPTIVELY — a store already wider than the floor is
    // left untouched, so at scale (inverted = the corpus, thousands of scan
    // partitions) no extra shuffle is paid. Hash partitioning on the
    // deterministic cluster id; result identity is partition-independent
    // (topk_sim's merge order is absorbed by its total (sim desc, id asc)
    // order).
    val inverted =
      if (minScanPartitions > 1 &&
          idx.inverted.queryExecution.toRdd.getNumPartitions < minScanPartitions)
        idx.inverted.repartition(minScanPartitions, col("cluster"))
      else idx.inverted
    val cand = inverted.join(broadcast(p), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("p_id"))
      .select(col("p_id"), col("neighbor_id"),
        cosine(spark, col("emb"), col("p_emb")).as("sim"))
    finishTopK(cand, k)
  }

  /** Build + search in one call. Defaults hit recall@10 = 0.94–0.96 at
    * ~31 % of the corpus scanned on the synthetic embeddings (SCALE.md
    * records the measured recall/scan curve): at a FIXED scan fraction,
    * many small cells beat few large ones, so nClusters is sized for ~2–4
    * members per cell on this 500-vector corpus; production IVF keeps the
    * same nprobe/nClusters ratio with nClusters ≈ √n cells.
    */
  def ivfTopK(spark: SparkSession, corpus: DataFrame, probes: DataFrame,
      idCol: String, embCol: String, k: Int,
      nClusters: Int = 256, nprobe: Int = 80, seed: Long = 42L,
      maxFitRows: Long = 100000L): DataFrame = {
    val idx = buildIvfIndex(spark, corpus, idCol, embCol, nClusters, seed, maxFitRows)
    ivfSearch(spark, idx, probes, idCol, embCol, k, nprobe)
  }

  /** Scalar-quantization (SQ8) codebook: per-dimension min and scale over
    * the L2-NORMALIZED corpus — the k-means-free form of product
    * quantization (each dimension is its own subspace with a 256-level
    * uniform codebook), which keeps the fit CLOSED-FORM and deterministic:
    * two passes of exact float compares (min/max), no seeds, no
    * iteration — the round-11 vetting note's design constraint for an
    * oracle-able PQ. dim × 2 doubles — driver/literal-sized by
    * construction, like any PQ codebook.
    */
  final case class Sq8Codebook(mins: Array[Double], scales: Array[Double])

  /** Fit the SQ8 codebook: per-dimension [min, max] of the normalized
    * corpus → code c(v) = round((v − min)·255/(max − min)) ∈ [0, 255].
    * One posexplode + agg (map-side combined to `dim` rows) + an O(dim)
    * driver fetch — index metadata, not data.
    */
  def fitSq8(spark: SparkSession, corpus: DataFrame, embCol: String): Sq8Codebook = {
    GraftFunctions.ensureRegistered(spark)
    val dims = corpus
      .select(posexplode(normalized(col(embCol))).as(Seq("i", "v")))
      .groupBy("i").agg(min("v").as("mn"), max("v").as("mx"))
      .collect().sortBy(_.getInt(0))
    Sq8Codebook(
      dims.map(_.getDouble(1)),
      dims.map(r => {
        val span = r.getDouble(2) - r.getDouble(1)
        if (span > 0) 255.0 / span else 0.0
      }))
  }

  /** L2-normalize an array<float> embedding to doubles (unit sphere, so
    * squared L2 is monotone in cosine: ‖x−y‖² = 2 − 2cos). sqrt is
    * correctly rounded in IEEE-754; zero vectors pass through unscaled.
    */
  private def normalized(emb: Column): Column =
    call_function("normalize_emb", emb)

  /** SQ8 codes for one embedding column under a fitted codebook — the
    * fused [[graft.functions.Sq8CodesK]] kernel (round 18; the previous
    * `zip_with(normalized, …)` paid interpreted per-element lambda
    * dispatch — HOFs are CodegenFallback — measured ~1 ms/row at 64 dims).
    */
  def sq8Codes(emb: Column, cb: Sq8Codebook): Column =
    call_function("sq8_codes_k", emb, typedLit(cb.mins), typedLit(cb.scales))

  /** Shared ADC tail for the SQ8 family ([[sq8TopK]], [[ivfSq8Search]]):
    * symmetric integer code distance over `cand` (which must carry
    * (p_id, neighbor_id, code, p_code)) → `shortlist` best candidates per
    * probe via the bounded-heap aggregate (s01's TopKSim pattern, fed
    * −qdist: partial aggregation shrinks every partition to `shortlist`
    * rows per probe BEFORE the exchange — the code scan never rides a
    * corpus-sized window shuffle; qdist ≤ dim·255² ≈ 4.2e6 ≪ 2⁵³, so the
    * double negation is exact and the heap order is the integer order) →
    * exact-cosine re-rank of the shortlist only: the shortlist
    * (probes·shortlist rows) BROADCASTS back onto `corpus`
    * ((neighbor_id, emb)), so the exact kernel touches shortlist
    * candidates, not the corpus.
    */
  private def sq8ShortlistRerank(cand: DataFrame, corpus: DataFrame,
      pe: DataFrame, k: Int, shortlist: Int): DataFrame = {
    val spark = corpus.sparkSession
    GraftFunctions.ensureRegistered(spark)
    // fused integer code distance (round 18): the zip_with + aggregate
    // form paid interpreted per-element dispatch on every candidate row
    val qdist = call_function("sq8_dist", col("code"), col("p_code"))
    val short = cand
      .filter(col("neighbor_id") =!= col("p_id"))
      .select(col("p_id"), col("neighbor_id"),
        (-qdist).cast("double").as("negq"))
      .groupBy("p_id")
      .agg(call_function("topk_sim", col("negq"), col("neighbor_id"),
        lit(shortlist)).as("top"))
      .select(col("p_id"), explode(col("top.id")).as("neighbor_id"))
    val rerank = corpus
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(pe), Seq("p_id"))
      .select(col("p_id"), col("neighbor_id"),
        cosine(spark, col("emb"), col("p_emb")).as("sim"))
    finishTopK(rerank, k)
  }

  /** PQ/SQ8 ANN top-k: rank the corpus per probe by SYMMETRIC quantized
    * distance Σᵢ (cᵃᵢ − cᵇᵢ)² — pure BIGINT on 8-bit codes, 4× smaller
    * than the float vectors (the PQ trade every vector store sells) —
    * shortlist the best `shortlist` candidates, then EXACT-cosine re-rank
    * the shortlist only (the standard ADC + re-rank pipeline). The probe
    * side broadcasts; the corpus side is one scan of the code table; the
    * exact kernel touches shortlist·|probes| rows instead of the corpus.
    * Output: (p_id, neighbor_id, rank, sim) like [[bruteTopK]].
    */
  def sq8TopK(spark: SparkSession, corpus: DataFrame, probes: DataFrame,
      idCol: String, embCol: String, k: Int, shortlist: Int): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val cb = fitSq8(spark, corpus, embCol)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(embCol).as("emb"),
      sq8Codes(col(embCol), cb).as("code"))
    val p = probes.select(col(idCol).as("p_id"),
      sq8Codes(col(embCol), cb).as("p_code"))
    val pe = probes.select(col(idCol).as("p_id"), col(embCol).as("p_emb"))
    sq8ShortlistRerank(c.crossJoin(broadcast(p)),
      c.select(col("neighbor_id"), col("emb")), pe, k, shortlist)
  }

  /** IVF + SQ8 composed ANN — the FAISS "IVF-PQ" pipeline shape, and the
    * 100 TB default for vector search: three index layers each bound a
    * different cost. The coarse quantizer (IVF cells) bounds WHICH
    * vectors are scanned (members of `nprobe` cells per probe, the s02
    * path); the SQ8 codes bound the scan PAYLOAD per vector (8-bit
    * codes, 4× smaller than the float vectors, integer-only distance);
    * and the exact cosine kernel touches only the `shortlist` survivors
    * (the s09 ADC + re-rank tail). Probed-cell members get their
    * symmetric integer code distance; the bounded-heap aggregate (s01's
    * TopKSim pattern) shrinks every partition to `shortlist` rows per
    * probe BEFORE the exchange; the shortlist broadcasts back onto the
    * inverted file for the exact re-rank. qdist ≤ dim·255² ≈ 4.2e6 ≪ 2⁵³
    * so the negated-double heap order is the exact integer order.
    * Output: (p_id, neighbor_id, rank, sim) like [[bruteTopK]].
    */
  def ivfSq8Search(spark: SparkSession, idx: IvfIndex, cb: Sq8Codebook,
      probes: DataFrame, idCol: String, embCol: String, k: Int,
      nprobe: Int, shortlist: Int): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val p = probeClusters(spark, idx, probes, idCol, embCol, nprobe)
      .withColumn("p_code", sq8Codes(col("p_emb"), cb))
      .select("p_id", "cluster", "p_code")
    val cand = idx.inverted
      .withColumn("code", sq8Codes(col("emb"), cb))
      .join(broadcast(p), Seq("cluster"))
    val pe = probes.select(col(idCol).as("p_id"), col(embCol).as("p_emb"))
    sq8ShortlistRerank(cand,
      idx.inverted.select(col("neighbor_id"), col("emb")), pe, k, shortlist)
  }

  /** Candidate pairs for the embedding near-dup regime: 64-bit hyperplane
    * signature split into four 16-bit bands (the same band geometry as
    * SimHash d03), candidates = pairs colliding in at least one band.
    *
    * Collision math (per-bit agreement p = 1 − θ/π): a RANDOM pair
    * (cos ≈ 0 ⇒ p = 0.5) collides in a 16-bit band with prob 2⁻¹⁶, so the
    * candidate set is ≈ 4n²/65536 ≈ n²·6·10⁻⁵ — bucketed, never all-pairs —
    * while a true near-dup (cos ≥ 0.99 ⇒ p ≈ 0.955) still collides with
    * prob ≈ 0.93, and an exact-duplicate/positively-scaled copy collides
    * with prob 1 (signatures are invariant under positive scaling).
    * Narrower bands (the previous 4-bit variant) admit a CONSTANT fraction
    * (~23 %) of all pairs — quadratic at corpus scale.
    *
    * Only (id, band-key) rows enter the self-join shuffle; embeddings rejoin
    * after the pair `distinct()`, so the exchange moves 8-byte signatures,
    * not vector payloads.
    */
  def hyperplaneCandidatePairs(spark: SparkSession, df: DataFrame,
      idCol: String, embCol: String): DataFrame = {
    val nBits = 64
    val bands = 4 // four 16-bit bands
    val sig = hyperplaneSignature(spark, col(embCol), nBits)
    val withB = df.select(col(idCol).as("id"), sig.as("sig"))
      .select(col("id"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * 16).bitwiseAND(0xFFFFL).as("key"))): _*)).as("bk"))
    withB.as("a").join(withB.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Embedding near-dup pairs (cosine ≥ threshold) via banded hyperplane
    * LSH candidates + exact cosine verification — never an all-pairs
    * crossJoin. `threshold` belongs in the true near-dup regime (≥ 0.9):
    * band recall decays fast below it (by design — that selectivity is what
    * keeps the candidate set sub-quadratic); moderate-similarity search
    * routes to [[ivfTopK]] instead.
    */
  def embeddingNearDupPairs(spark: SparkSession, df: DataFrame,
      idCol: String, embCol: String, threshold: Double): DataFrame = {
    val ids = df.select(col(idCol).as("id"), col(embCol).as("emb"))
    hyperplaneCandidatePairs(spark, df, idCol, embCol)
      .join(ids.select(col("id").as("id_a"), col("emb").as("emb_a")), "id_a")
      .join(ids.select(col("id").as("id_b"), col("emb").as("emb_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        cosine(spark, col("emb_a"), col("emb_b")).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Semantic dedup (the SemDeDup pattern): drop every row whose embedding
    * is cosine-≥`threshold` to a kept representative. Near-dup pairs come
    * from the banded hyperplane LSH (never all-pairs), pairs link into
    * groups via min-label propagation, and the minimum id per group
    * survives; rows in no group pass through untouched.
    *
    * Scale shape: the LSH candidate join shuffles 8-byte band keys, the
    * component loop runs on the (tiny) duplicate-edge graph only, and the
    * final membership join keys on ids — the corpus' embedding payloads
    * never ride any of these shuffles.
    */
  def semanticDedupSurvivors(spark: SparkSession, df: DataFrame,
      idCol: String, embCol: String, threshold: Double): DataFrame = {
    val pairs = embeddingNearDupPairs(spark, df, idCol, embCol, threshold)
      .select("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .select(col("doc_id").as(idCol), col("group_id"))
    df.join(comp, Seq(idCol), "left")
      .filter(col("group_id").isNull || col(idCol) === col("group_id"))
      .drop("group_id")
  }

  // ------------------------------------------ binary-signature top-k ---

  /** Top-k NEAREST SIGNATURES by Hamming distance over a '0'/'1' bit
    * string column — the s-family index for the multimodal signature
    * columns (mm06's image aHash, any SimHash-like fingerprint): band
    * the L bits into L/`bandLen` substring keys, candidates share ≥ 1
    * band (the d03/d05 band geometry on the signature ITSELF — no
    * hyperplane projection needed, the column already IS a binary
    * sketch), exact Hamming re-rank on candidates only via
    * chunked `conv` + `bit_count` (codegen'd integer xor/popcount, no
    * per-character comparison). `sim` is the cosine of the ±1 vector
    * reading, (L − 2·ham)/L — exact rational, so the oracle reproduces
    * it bit-for-bit.
    *
    * CONTRACT: `sigs` carries one row per DISTINCT signature (the
    * caller collapses doc → signature first — on a planted-dup corpus
    * the distinct table is ~256 rows while docs grow with N, so banding
    * RAW docs would be N²/|sigs|; collapse-then-band keeps the candidate
    * join bounded by signature-space collisions, the j11 corner-collapse
    * lesson applied to media dedup). Ties break (ham asc, neighbor
    * string asc) — fully deterministic.
    */
  def signatureTopK(spark: SparkSession, sigs: DataFrame, sigCol: String,
      sigLen: Int, k: Int, bandLen: Int = 16): DataFrame = {
    require(sigLen % bandLen == 0, s"sigLen=$sigLen not a multiple of $bandLen")
    val s = sigs.select(col(sigCol).as("sig"))
    val withBands = s.select(col("sig"), posexplode(array(
      (0 until sigLen / bandLen).map(b =>
        substring(col("sig"), b * bandLen + 1, bandLen)): _*))
      .as(Seq("band", "key")))
    val cand = withBands.as("a").join(withBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.sig") =!= col("b.sig"))
      .select(col("a.sig").as("sig"), col("b.sig").as("neighbor_sig"))
      .distinct()
    val ham = (0 until sigLen by 16).map { off =>
      call_function("bit_count",
        conv(substring(col("sig"), off + 1, 16), 2, 10).cast("long")
          .bitwiseXOR(
            conv(substring(col("neighbor_sig"), off + 1, 16), 2, 10)
              .cast("long")))
    }.reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("sig").orderBy(col("ham"), col("neighbor_sig"))
    cand.withColumn("ham", ham.cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("sig"), col("neighbor_sig"), col("rank"), col("ham"),
        round((lit(sigLen) - lit(2) * col("ham")) / lit(sigLen), 6).as("sim"))
  }

  // -------------------------------------------- NN-Descent kNN graph ---

  /** Result of [[nnDescentGraph]]: the ranked edge list plus the MEASURED
    * similarity-evaluation count per stage (seed candidates, then one
    * entry per refinement round) — the graph's honesty ledger: mass must
    * stay linear in N for the operator to be declared at all (the s12
    * history: the 0.9-recall IVF route was 0.4·N² and got deleted).
    * Empty when the build ran with `trackEvals = false` (the ledger jobs
    * are opt-in measurement apparatus; the graph itself is identical).
    */
  final case class NnDescentResult(edges: DataFrame, simEvals: Seq[Long],
      cleanup: () => Unit = () => ())

  /** Free the RDD partitions a `localCheckpoint()` pinned (Dataset
    * exposes no unpersist for them — the checkpointed RDD lives inside
    * the LogicalRDD leaf). Best-effort: a plan shape this doesn't
    * recognize just stays pinned until session end, never breaks.
    */
  private def unpersistLocalCheckpoint(df: DataFrame): Unit =
    try df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(false)
      case _ => ()
    } catch { case _: Throwable => () }

  /** kNN GRAPH construction via NN-DESCENT (Dong/Charikar/Li, WWW'11 —
    * "neighbor of a neighbor is likely a neighbor"): every node's top-k
    * WITHOUT the all-pairs crossJoin and without relying on partition
    * locality (the failure mode of the grid/IVF escapes: on this
    * embedding shape mid-similarity neighbors are NOT cell-local —
    * COVERAGE.md's s12 probe record).
    *
    * Shape per refinement round, all bulk-relational (no driver loops
    * over rows — the rounds themselves are a driver-side loop of 2–3
    * DataFrame jobs):
    *  1. B = forward edges ∪ reverse edges, reverse degree CAPPED at
    *     `kBuild` by similarity rank (popular nodes would otherwise make
    *     the local join quadratic in their in-degree);
    *  2. LOCAL JOIN: co-members of any B-list become candidate pairs —
    *     a self-equi-join of B on the node id, `a < b` de-duplicated;
    *  3. exact cosine on candidates (each pair ONCE, both directions
    *     derived), merged into the per-node lists, trimmed back to
    *     `kBuild` by the bounded [[graft.functions.TopKSim]] aggregate.
    * Per-node candidate count is ≤ C(2·kBuild, 2) per list membership —
    * independent of N, so each round's similarity mass is O(N·kBuild²)
    * and the whole build is LINEAR in the corpus at fixed (kBuild,
    * rounds). Every stage is an equi-join/agg on the node id: at 100 TB
    * these co-partition on one hash exchange of 8-byte keys; embedding
    * payloads ride only the candidate-pair sim join.
    *
    * The SEED list is IVF at a small fixed nprobe (linear scan mass,
    * recall ≤ 0.74 alone — measured in commit e7a95e1); refinement
    * is what closes it to ≥ 0.9 (ScaleProbe `nnd` records the
    * per-round recall/mass curve at three SFs). `kBuild` > k is the
    * standard NN-Descent slack: a too-thin working list starves the
    * local join of exploration paths.
    */
  /** The measured recall envelope for the SHIPPED s12 dial — which is
    * SIZE-ROUTED since round 21 ([[nndDialFor]]): recall at a fixed
    * budget decays as N grows the task, so the dial spends where the
    * corpus demands it. kBuild = 30 / rounds = 2 / np = 16 holds ≥ 0.9
    * through 60 k (1.000 / 0.996 / 0.949 / 0.935 / 0.915 at
    * 500 / 2 k / 20 k / 40 k / 60 k — ScaleProbe `nnd`; the round-19
    * frontier sweep set it: width beats probes at equal mass); past
    * 60 k that dial reads 0.840 at 100 k, so (60 k, 100 k] routes to
    * the next width step kBuild = 40 / rounds = 3, which the round-21
    * probe measured at **0.911 at 100 k** (mass 284 M ≈ 2.8 % of
    * brute; kb40/r2 alone reads 0.871 — the third round is what closes
    * it at this width, unlike at kb30 where it bought only +0.028).
    * Within the envelope the declared contract promises recall at the
    * routed dial; past it (200 k: 0.567 at the old kb30 dial) only the
    * budget (seed np·occupancy + C(2·kBuild,2)·rounds sims per node,
    * linear in N at fixed dial) is promised, the route drops back to
    * the narrow dial — spending 2.7× mass outside the promise buys
    * nothing contractual — and SCALE.md's ledger carries the measured
    * out-of-envelope recall so nothing hides. 100 000 = the largest
    * measured-GREEN size at the shipped (routed) dial, NOT an
    * extrapolation (the round-15 ADVICE pin); growing the envelope
    * further means measuring a bigger corpus green first.
    */
  val NndRecallEnvelopeN = 100000L

  /** The corpus size up to which the NARROW dial (kBuild = 30,
    * rounds = 2) meets the 0.9 recall promise — the routing boundary
    * inside the envelope. */
  val NndNarrowDialMaxN = 60000L

  /** The size-routed NN-Descent dial: (kBuild, rounds) for a corpus of
    * `n` vectors — see [[NndRecallEnvelopeN]] for the measured curve
    * behind each leg. */
  def nndDialFor(n: Long): (Int, Int) =
    if (n > NndNarrowDialMaxN && n <= NndRecallEnvelopeN) (40, 3)
    else (30, 2)

  def nnDescentGraph(spark: SparkSession, corpus: DataFrame,
      idCol: String, embCol: String, k: Int, kBuild: Int = 10,
      rounds: Int = 2, nClusters: Int = -1, seedNprobe: Int = 8,
      seedMode: String = "ivf",
      maxFlatCells: Int = 2048, trackEvals: Boolean = true): NnDescentResult = {
    require(kBuild >= k, s"kBuild=$kBuild must be >= k=$k")
    require(seedMode == "ivf" || seedMode == "random",
      s"seedMode must be 'ivf' or 'random', not '$seedMode'")
    val emb = corpus.select(col(idCol).cast("long").as("id"),
      col(embCol).as("emb")).persist(StorageLevel.MEMORY_AND_DISK)
    // nClusters = -1 → OCCUPANCY-CONSTANT sizing, max(128, n/32) cells:
    // a FIXED cell count makes the seed N²/cells (the exact quadratic
    // class the round-13 s12 was deleted for, just with a smaller
    // constant); cells ∝ N keeps seed mass at np·32 sims/node — constant
    // per node, linear total. Up to `maxFlatCells` (k-means
    // tractability, default 2048 ⇒ n ≈ 65 k) one flat quantizer does it;
    // past that the seed switches to the TWO-LEVEL quantizer
    // ([[buildIvf2Index]]: k1·k2 composite cells from two bounded fits),
    // which keeps occupancy at ~32 to n ≈ 2 M at the default k2 = 32 —
    // the round-14 ledger measured the flat cap's cost at gsf10 (421 M
    // of 552 M sims were seed, N/128 per node); growing k2 (or a third
    // level) is the dial past 2 M.
    val cellsWanted =
      if (nClusters > 0) nClusters
      else {
        val n = emb.count()
        math.max(128L, n / 32L).toInt
      }
    // localCheckpoint per iteration: TRUNCATES the logical plan, not just
    // caches it — the IVF seed's lineage embeds the centroid table as a
    // literal expression tree, and without truncation every round's
    // union re-walks it through Catalyst (measured: round 1 in 21 s,
    // round 2 never finishes analysis). A multi-executor deployment uses
    // reliable checkpoint() for the same lineage cut; the iteration
    // contract is identical.
    // `trackEvals = false` skips the similarity-mass accounting JOBS (one
    // agg per seed + one count per round) for callers that only need the
    // graph (the declared s12 query): the ledger is measurement apparatus,
    // not part of the build, and each skipped job is a full driver-side
    // action. ScaleProbe's nnd ledger keeps the default and still measures.
    var (cur, seedEvals) = seedMode match {
      case "ivf" if cellsWanted <= maxFlatCells =>
        // the persisted inverted file lives until the seed is checkpointed
        val idx = buildIvfIndex(spark, corpus, idCol, embCol, cellsWanted)
          .persisted
        // seed mass = members of each probe's nprobe cells (what
        // ivfSearch scans), counted from the same cluster assignment
        val np = math.min(seedNprobe, idx.centroids.length)
        val evals = if (!trackEvals) 0L else
          probeClusters(spark, idx, corpus, idCol, embCol, np)
          .join(idx.inverted.groupBy("cluster")
            .agg(count(lit(1)).as("m")), "cluster")
          .agg(sum("m")).head().getLong(0)
        val seed = ivfSearch(spark, idx, corpus, idCol, embCol, kBuild, np,
            minScanPartitions = spark.sparkContext.defaultParallelism)
          .select(col("p_id").as("id"), col("neighbor_id").as("nbr"),
            col("sim"))
          .localCheckpoint()
        idx.inverted.unpersist(blocking = false)
        (seed, evals)
      case "ivf" =>
        // past the flat cap: TWO-LEVEL quantizer, same occupancy target
        // (cellsWanted composite cells at k2 = 32 residual codewords)
        // k1·k2 ≈ cellsWanted keeps composite-cell occupancy at the same
        // ~32 the flat path targets (no 128-cell floor here — that floor
        // is a flat-quantizer granularity guard; applied to k1 it would
        // MULTIPLY through k2 and starve every cell)
        val k2 = 32
        val k1 = math.min(maxFlatCells.toLong,
          math.max(2L, (cellsWanted.toLong + k2 - 1) / k2)).toInt
        val idx = buildIvf2Index(spark, corpus, idCol, embCol, k1, k2)
          .persisted
        val np1 = math.max(4, math.min(seedNprobe, idx.centroids1.length))
        // ONE materialized cell table feeds both the scan accounting and
        // the seed search (probe2Cells scaladoc: the barrier is
        // load-bearing), and is dropped once the seed is checkpointed
        val cells = probe2Cells(spark, idx, corpus, idCol, embCol,
            np1, seedNprobe)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val evals = if (!trackEvals) 0L else cells
          .join(idx.inverted.groupBy("c1", "c2")
            .agg(count(lit(1)).as("m")), Seq("c1", "c2"))
          .agg(sum("m")).head().getLong(0)
        val seed = ivf2SearchFromCells(spark, idx, cells, kBuild)
          .select(col("p_id").as("id"), col("neighbor_id").as("nbr"),
            col("sim"))
          .localCheckpoint()
        cells.unpersist(blocking = false)
        idx.inverted.unpersist(blocking = false)
        (seed, evals)
      case "random" =>
        // classic NN-Descent init: kBuild deterministic pseudo-random
        // neighbors per node — STRICTLY O(N·kBuild) seed mass with no
        // index build at all; convergence then rides the local joins
        // alone (the probe measures how many extra rounds that costs).
        // ASSUMES DENSE ids 0..n−1 (true of the probe corpora that use
        // this mode): the fabricated neighbor id pmod(hash(id,j), n)
        // only lands on a real row under that layout — with sparse ids
        // some fabricated neighbors match nothing and silently thin the
        // join, so a general-corpus caller must densify (zipWithIndex)
        // first or use the ivf seed.
        val n = emb.count()
        val rnd = emb.select(col("id"),
            explode(sequence(lit(0), lit(kBuild - 1))).as("j"))
          .select(col("id"), pmod(
            // splitmix-style integer hash of (id, j), reduced mod n
            hash(col("id"), col("j"), lit(0x9E3779B9L)).cast("long"),
            lit(n)).as("nbr"))
          .filter(col("nbr") =!= col("id")).distinct()
        val seeded = rnd
          .join(emb.select(col("id"), col("emb").as("ea")), "id")
          .join(emb.select(col("id").as("nbr"), col("emb").as("eb")), "nbr")
          .select(col("id"), col("nbr"),
            cosine(spark, col("ea"), col("eb")).as("sim"))
          .localCheckpoint()
        (seeded, if (trackEvals) seeded.count() else 0L)
    }
    val evals = scala.collection.mutable.ArrayBuffer[Long]()
    if (trackEvals) evals += seedEvals
    GraftFunctions.ensureRegistered(spark)
    // Already-evaluated candidate pairs, one cached (a, b) set per round.
    // Skipping a previously evaluated pair is EXACT, not approximate: the
    // per-node lists improve monotonically under the (sim desc, id asc)
    // order (merge ∪ trim), and cosine is deterministic — so re-offering
    // a pair either finds it still in the list (no-op) or finds a list
    // that already beat it once and beats it again. NN-Descent's round-2
    // pair set is dominated by round-1 repeats (the lists barely move
    // after one round), so the anti-join removes most of the round's
    // similarity mass — the cosines, the two embedding joins and the
    // merge rows — for the price of shuffling 16-byte pair keys.
    var evaluated: List[DataFrame] = Nil
    for (_ <- 1 to rounds) {
      // Per-node candidate LIST in ONE aggregation pass (nbr_union): the
      // forward edges verbatim plus the reverse edges capped at kBuild by
      // (sim desc, nbr asc) — exactly the directed edge set the former
      // four-operator chain built (reverse topk_sim aggregate → union →
      // distinct → self-join on id), but with one exchange instead of
      // four-plus and the cur subtree scanned ONCE (both orientations via
      // explode). Partial aggregation bounds every partition's buffer at
      // |fwd| + kBuild entries per id before the exchange. The list is
      // emitted sorted-distinct, so the a<b double-explode below produces
      // the identical unordered candidate-pair set the self-join produced
      // (pairs are a SET: downstream is distinct → anti-join →
      // deterministic cosine).
      val lists = cur.select(explode(array(
          struct(col("id"), col("nbr"), col("sim"), lit(true).as("fwd")),
          struct(col("nbr").as("id"), col("id").as("nbr"), col("sim"),
            lit(false).as("fwd")))).as("e"))
        .groupBy(col("e.id").as("id"))
        .agg(call_function("nbr_union", col("e.sim"), col("e.nbr"),
          col("e.fwd"), lit(kBuild)).as("nbrs"))
      val pairsAll = lists
        .select(explode(col("nbrs")).as("a"), col("nbrs"))
        .select(col("a"), explode(col("nbrs")).as("b"))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
      // NB the anti set is ONLY the prior rounds' pair sets — a round's
      // sims offer BOTH directions, so "in a prior pairs set" implies both
      // endpoints saw the offer. Edges already in `cur` do NOT qualify:
      // seed lists are DIRECTED (ivfSearch ranks into the probe's list
      // only), so a cur edge proves one direction was offered, and
      // skipping it would suppress the reverse offer (measured: recall
      // 1.0 → 0.89 at sf0.01 when cur edges were wrongly included here).
      val pairs = evaluated
        .foldLeft(pairsAll)((p, ev) => p.join(ev, Seq("a", "b"), "left_anti"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val simsBase = pairs
        .join(emb.select(col("id").as("a"), col("emb").as("ea")), "a")
        .join(emb.select(col("id").as("b"), col("emb").as("eb")), "b")
        .select(col("a"), col("b"),
          cosine(spark, col("ea"), col("eb")).as("sim"))
      val sims =
        if (!trackEvals) simsBase
        else {
          val p = simsBase.persist(StorageLevel.MEMORY_AND_DISK)
          evals += p.count()
          p
        }
      // both edge directions from ONE pass over the candidate sims (an
      // explode of the two orientations) — the previous two-branch union
      // scanned the sims subtree twice per merge — and the merge + trim
      // fused into ONE bounded aggregate: duplicates of (id, nbr) always
      // carry the identical deterministic cosine, so the per-id dedup
      // inside topk_sim_distinct yields exactly the old
      // groupBy(id, nbr).max(sim) → topk_sim result with one less
      // exchange + aggregation pass per round.
      val merged = cur
        .union(sims.select(explode(array(
            struct(col("a").as("id"), col("b").as("nbr"), col("sim")),
            struct(col("b").as("id"), col("a").as("nbr"), col("sim")))).as("e"))
          .select(col("e.id").as("id"), col("e.nbr").as("nbr"),
            col("e.sim").as("sim")))
      val prev = cur
      cur = merged.groupBy("id")
        .agg(call_function("topk_sim_distinct", col("sim"), col("nbr"),
          lit(kBuild)).as("top"))
        .select(col("id"), explode(col("top")).as("e"))
        .select(col("id"), col("e.id").as("nbr"), col("e.sim").as("sim"))
        .localCheckpoint()
      evaluated ::= pairs
      if (trackEvals) sims.unpersist(blocking = false)
      // localCheckpoint is eager, so `prev`'s partitions are dead the
      // moment the new checkpoint exists — free them (in a long-lived
      // JVM the per-round snapshots otherwise accumulate for the session)
      unpersistLocalCheckpoint(prev)
    }
    evaluated.foreach(_.unpersist(blocking = false))
    emb.unpersist(blocking = false)
    val last = cur
    val edges = finishTopK(cur.select(col("id").as("p_id"),
      col("nbr").as("neighbor_id"), col("sim")), k)
    // the FINAL checkpoint must outlive the returned edges — the caller
    // signals it is done with them via cleanup()
    NnDescentResult(edges, evals.toSeq,
      () => unpersistLocalCheckpoint(last))
  }
}
