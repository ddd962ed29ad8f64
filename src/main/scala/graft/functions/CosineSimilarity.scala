package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Loop kernel shared by interpreted eval and generated code. */
object CosineSimUtil {
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // zero-norm vectors (padding/garbage rows) define cosine 0, not NaN —
    // a NaN would otherwise float to rank 1 through every comparison
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Native Catalyst expression: cosine similarity of two array<float> columns.
  *
  * A single fused loop with full whole-stage codegen — no intermediate
  * array materialization, unlike the `zip_with`+`aggregate` composition
  * (which allocates a doubles array per row). On a 100 TB embedding corpus
  * this is the hot inner kernel of similarity search, so it is implemented
  * the preferred way per the build brief: custom `Expression` with
  * `doGenCode`, registered into the session by
  * [[GraftFunctions.ensureRegistered]].
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimUtil.cosine(
      a.asInstanceOf[ArrayData].toFloatArray(),
      b.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.CosineSimUtil.cosine($a.toFloatArray(), $b.toFloatArray());")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Idempotent registration of graft's native SQL functions into a
  * session's function registry; every query path that needs them calls
  * [[GraftFunctions.ensureRegistered]] first.
  */
object GraftFunctions {
  val cosineSimInfo = new ExpressionInfo(
    classOf[CosineSimilarity].getName, "cosine_sim")
  val hyperplaneSigInfo = new ExpressionInfo(
    classOf[HyperplaneSignature].getName, "hyperplane_sig")
  val simhash64Info = new ExpressionInfo(classOf[SimHash64].getName, "simhash64")
  val minhashSigsInfo = new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs")

  /** hyperplane_sig(emb, nBits) — nBits must be a foldable int literal. */
  def buildHyperplaneSig(children: Seq[Expression]): Expression =
    HyperplaneSignature(children(0),
      children(1).eval(null).asInstanceOf[Number].intValue())

  /** minhash_sigs(shingles, nTables) — nTables must be a foldable int literal. */
  def buildMinHashSigs(children: Seq[Expression]): Expression =
    MinHashSigs(children(0),
      children(1).eval(null).asInstanceOf[Number].intValue())

  val minhashBandsInfo = new ExpressionInfo(
    classOf[MinHashBands].getName, "minhash_bands")

  /** minhash_bands(shingles, bands, rowsPerBand) — both counts must be
    * foldable int literals. */
  def buildMinHashBands(children: Seq[Expression]): Expression =
    MinHashBands(children(0),
      children(1).eval(null).asInstanceOf[Number].intValue(),
      children(2).eval(null).asInstanceOf[Number].intValue())

  val sortedHashesInfo = new ExpressionInfo(
    classOf[SortedHashes].getName, "sorted_hashes")
  val sortedIntersectInfo = new ExpressionInfo(
    classOf[SortedLongIntersectSize].getName, "sorted_intersect_n")

  val wordNGramsInfo = new ExpressionInfo(classOf[WordNGrams].getName, "word_ngrams")

  /** word_ngrams(text, n) — n must be a foldable int literal. */
  def buildWordNGrams(children: Seq[Expression]): Expression =
    WordNGrams(children(0),
      children(1).eval(null).asInstanceOf[Number].intValue())

  val langQualityCountsInfo = new ExpressionInfo(
    classOf[LangQualityCounts].getName, "lang_quality_counts")

  val normalizeAsciiInfo = new ExpressionInfo(
    classOf[NormalizeAscii].getName, "normalize_ascii")

  val bpeCountsInfo = new ExpressionInfo(classOf[BpeCounts].getName, "bpe_counts")

  /** bpe_counts(text, merges) — merges must be a foldable array<string>
    * literal of "left right" entries. */
  def buildBpeCounts(children: Seq[Expression]): Expression =
    BpeCounts(children.head,
      children(1).eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq)

  /** lang_quality_counts(text[, stopwords]) — stopwords must be a foldable
    * array<string> literal when present. */
  def buildLangQualityCounts(children: Seq[Expression]): Expression =
    if (children.size < 2) LangQualityCounts(children.head)
    else LangQualityCounts(children.head,
      children(1).eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq)

  val normalizeEmbInfo = new ExpressionInfo(
    classOf[NormalizeEmb].getName, "normalize_emb")
  val sq8CodesInfo = new ExpressionInfo(classOf[Sq8CodesK].getName, "sq8_codes_k")
  val sq8DistInfo = new ExpressionInfo(classOf[Sq8Dist].getName, "sq8_dist")
  val nearestCellsInfo = new ExpressionInfo(
    classOf[NearestCells].getName, "nearest_cells")
  val ivf2CellKeysInfo = new ExpressionInfo(
    classOf[Ivf2CellKeys].getName, "ivf2_cell_keys")

  private def floatMatrix(e: Expression): Array[Array[Float]] =
    e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toObjectArray(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false))
      .map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toFloatArray())

  private def doubleArr(e: Expression): Array[Double] =
    e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray()

  /** sq8_codes_k(emb, minsLit, scalesLit) — codebook args must be foldable
    * array<double> literals. */
  def buildSq8Codes(children: Seq[Expression]): Expression =
    Sq8CodesK(children(0), doubleArr(children(1)), doubleArr(children(2)))

  /** nearest_cells(emb, centsLit, np) — centroid matrix must be a foldable
    * array<array<float>> literal, np a foldable int. */
  def buildNearestCells(children: Seq[Expression]): Expression =
    NearestCells(children(0), floatMatrix(children(1)),
      children(2).eval(null).asInstanceOf[Number].intValue())

  /** ivf2_cell_keys(emb, cents1Lit, res2Lit, np1, npAll, q). */
  def buildIvf2CellKeys(children: Seq[Expression]): Expression =
    Ivf2CellKeys(children(0), floatMatrix(children(1)), floatMatrix(children(2)),
      children(3).eval(null).asInstanceOf[Number].intValue(),
      children(4).eval(null).asInstanceOf[Number].intValue(),
      children(5).eval(null).asInstanceOf[Number].doubleValue())

  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val cos = org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim")
    if (!registry.functionExists(cos)) {
      registry.registerFunction(cos, cosineSimInfo,
        (children: Seq[Expression]) => CosineSimilarity(children(0), children(1)))
    }
    val sig = org.apache.spark.sql.catalyst.FunctionIdentifier("hyperplane_sig")
    if (!registry.functionExists(sig)) {
      registry.registerFunction(sig, hyperplaneSigInfo, buildHyperplaneSig _)
    }
    val sh = org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64")
    if (!registry.functionExists(sh)) {
      registry.registerFunction(sh, simhash64Info,
        (children: Seq[Expression]) => SimHash64(children.head))
    }
    val mh = org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_sigs")
    if (!registry.functionExists(mh)) {
      registry.registerFunction(mh, minhashSigsInfo, buildMinHashSigs _)
    }
    val mhb = org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_bands")
    if (!registry.functionExists(mhb)) {
      registry.registerFunction(mhb, minhashBandsInfo, buildMinHashBands _)
    }
    val shs = org.apache.spark.sql.catalyst.FunctionIdentifier("sorted_hashes")
    if (!registry.functionExists(shs)) {
      registry.registerFunction(shs, sortedHashesInfo,
        (children: Seq[Expression]) => SortedHashes(children.head))
    }
    val sin = org.apache.spark.sql.catalyst.FunctionIdentifier("sorted_intersect_n")
    if (!registry.functionExists(sin)) {
      registry.registerFunction(sin, sortedIntersectInfo,
        (children: Seq[Expression]) =>
          SortedLongIntersectSize(children(0), children(1)))
    }
    val ng = org.apache.spark.sql.catalyst.FunctionIdentifier("word_ngrams")
    if (!registry.functionExists(ng)) {
      registry.registerFunction(ng, wordNGramsInfo, buildWordNGrams _)
    }
    val lq = org.apache.spark.sql.catalyst.FunctionIdentifier("lang_quality_counts")
    if (!registry.functionExists(lq)) {
      registry.registerFunction(lq, langQualityCountsInfo, buildLangQualityCounts _)
    }
    val tk = org.apache.spark.sql.catalyst.FunctionIdentifier("topk_sim")
    if (!registry.functionExists(tk)) {
      registry.registerFunction(tk, TopKSim.info, TopKSim.build _)
    }
    val tkd = org.apache.spark.sql.catalyst.FunctionIdentifier("topk_sim_distinct")
    if (!registry.functionExists(tkd)) {
      registry.registerFunction(tkd, TopKSim.distinctInfo, TopKSim.buildDistinct _)
    }
    val nbu = org.apache.spark.sql.catalyst.FunctionIdentifier("nbr_union")
    if (!registry.functionExists(nbu)) {
      registry.registerFunction(nbu, NbrUnion.info, NbrUnion.build _)
    }
    val bpe = org.apache.spark.sql.catalyst.FunctionIdentifier("bpe_counts")
    if (!registry.functionExists(bpe)) {
      registry.registerFunction(bpe, bpeCountsInfo, buildBpeCounts _)
    }
    val rep = org.apache.spark.sql.catalyst.FunctionIdentifier("repetition_stats")
    if (!registry.functionExists(rep)) {
      registry.registerFunction(rep, RepetitionStats.info,
        (children: Seq[Expression]) => RepetitionStats(children.head))
    }
    val gm = org.apache.spark.sql.catalyst.FunctionIdentifier("gram_moments")
    if (!registry.functionExists(gm)) {
      registry.registerFunction(gm, GramMoments.info, GramMoments.build _)
    }
    val cm = org.apache.spark.sql.catalyst.FunctionIdentifier("corr_moments")
    if (!registry.functionExists(cm)) {
      registry.registerFunction(cm, CorrMoments.info, CorrMoments.build _)
    }
    val na = org.apache.spark.sql.catalyst.FunctionIdentifier("normalize_ascii")
    if (!registry.functionExists(na)) {
      registry.registerFunction(na, normalizeAsciiInfo,
        (children: Seq[Expression]) => NormalizeAscii(children.head))
    }
    val wk = org.apache.spark.sql.catalyst.FunctionIdentifier("wexp_key_q20")
    if (!registry.functionExists(wk)) {
      registry.registerFunction(wk, NegLog2Fixed.info,
        (children: Seq[Expression]) => NegLog2Fixed(children.head))
    }
    val ne = org.apache.spark.sql.catalyst.FunctionIdentifier("normalize_emb")
    if (!registry.functionExists(ne)) {
      registry.registerFunction(ne, normalizeEmbInfo,
        (children: Seq[Expression]) => NormalizeEmb(children.head))
    }
    val sqc = org.apache.spark.sql.catalyst.FunctionIdentifier("sq8_codes_k")
    if (!registry.functionExists(sqc)) {
      registry.registerFunction(sqc, sq8CodesInfo, buildSq8Codes _)
    }
    val sqd = org.apache.spark.sql.catalyst.FunctionIdentifier("sq8_dist")
    if (!registry.functionExists(sqd)) {
      registry.registerFunction(sqd, sq8DistInfo,
        (children: Seq[Expression]) => Sq8Dist(children(0), children(1)))
    }
    val nc = org.apache.spark.sql.catalyst.FunctionIdentifier("nearest_cells")
    if (!registry.functionExists(nc)) {
      registry.registerFunction(nc, nearestCellsInfo, buildNearestCells _)
    }
    val i2k = org.apache.spark.sql.catalyst.FunctionIdentifier("ivf2_cell_keys")
    if (!registry.functionExists(i2k)) {
      registry.registerFunction(i2k, ivf2CellKeysInfo, buildIvf2CellKeys _)
    }
  }
}
