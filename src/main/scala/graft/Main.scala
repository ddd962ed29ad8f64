package graft

import graft.features.{FeatureEngineering, TargetTransformer}
import graft.infer.Predictor
import graft.ml.Trainer
import org.apache.spark.sql.SparkSession

/** CLI entry points mirroring the reference's argparse mains
  * (ref: src/features/feature_engineering.py:342-398,
  * src/models/train.py:262-330, src/inference/predict.py):
  *
  * {{{
  * graft.Main fe      --input-train T.parquet --input-validation V.parquet
  *                    --output-dir data/processed --model-dir models [--mode strict]
  * graft.Main train   --input-train T.parquet --input-validation V.parquet
  *                    --output-dir models --model-type rf|lr|gbt [--overwrite]
  * graft.Main predict --model-dir models --model-type rf|lr|gbt
  *                    --input X.parquet --output preds.parquet
  * }}}
  *
  * Same workflow semantics as the reference: `fe` fits the feature
  * pipeline on train only (no leakage), persists it, and writes the
  * transformed train/validation sets; `train` fits FE + target transform +
  * the chosen regressor on log-price (the quirk-Q2 fix) and refuses to
  * clobber an existing model without `--overwrite`; `predict` loads the
  * persisted artifacts and writes (id_annonce, prediction_price).
  */
object Main {

  private val usage: String =
    """usage: graft.Main <fe|train|predict> [--key value ... --flags]
      |  fe       --input-train P --input-validation P --output-dir D --model-dir D [--mode strict|permissive]
      |  train    --input-train P --input-validation P --output-dir D [--model-type rf|lr|gbt] [--overwrite]
      |  predict  --model-dir D --input P --output P [--model-type rf|lr|gbt]""".stripMargin

  /** `--key value` pairs plus bare `--flag`s (argparse's store_true). */
  private[graft] def parseArgs(args: Seq[String]): (Map[String, String], Set[String]) = {
    val kv = scala.collection.mutable.Map[String, String]()
    val flags = scala.collection.mutable.Set[String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"unexpected argument '$a'\n$usage")
      val key = a.stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        kv(key) = args(i + 1); i += 2
      } else { flags += key; i += 1 }
    }
    (kv.toMap, flags.toSet)
  }

  private def required(kv: Map[String, String], key: String): String =
    kv.getOrElse(key, throw new IllegalArgumentException(s"missing --$key\n$usage"))

  private def session(): SparkSession = Session.local()

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("fe") =>
      val (kv, _) = parseArgs(args.toSeq.tail)
      runFe(session(), required(kv, "input-train"), required(kv, "input-validation"),
        required(kv, "output-dir"), required(kv, "model-dir"),
        kv.getOrElse("mode", "strict"))
    case Some("train") =>
      val (kv, flags) = parseArgs(args.toSeq.tail)
      runTrain(session(), required(kv, "input-train"), required(kv, "input-validation"),
        required(kv, "output-dir"), kv.getOrElse("model-type", "rf"),
        flags("overwrite"))
    case Some("predict") =>
      val (kv, _) = parseArgs(args.toSeq.tail)
      runPredict(session(), required(kv, "model-dir"),
        kv.getOrElse("model-type", "rf"), required(kv, "input"), required(kv, "output"))
    case _ =>
      System.err.println(usage)
      sys.exit(2)
  }

  /** Fit FE on train ONLY, persist it, write both transformed splits. */
  def runFe(spark: SparkSession, inputTrain: String, inputValidation: String,
      outputDir: String, modelDir: String, mode: String): Unit = {
    val train = spark.read.parquet(inputTrain)
    val fe = new FeatureEngineering(mode).fit(train)
    fe.save(s"$modelDir/feature_engineering")
    fe.transform(train).write.mode("overwrite").parquet(s"$outputDir/train.parquet")
    fe.transform(spark.read.parquet(inputValidation))
      .write.mode("overwrite").parquet(s"$outputDir/validation.parquet")
    println(s"""{"status":"ok","pipeline":"$modelDir/feature_engineering","out":"$outputDir"}""")
  }

  /** FE + log-target transform + seeded regressor; evaluate on the held-out
    * split; persist every artifact predict needs. Like the reference,
    * refuses to overwrite an existing model dir without --overwrite.
    */
  def runTrain(spark: SparkSession, inputTrain: String, inputValidation: String,
      outputDir: String, modelType: String, overwrite: Boolean): Unit = {
    val modelPath = s"$outputDir/$modelType"
    if (!overwrite && java.nio.file.Files.exists(java.nio.file.Paths.get(modelPath)))
      throw new IllegalStateException(
        s"$modelPath already exists — pass --overwrite to replace it")
    val train = spark.read.parquet(inputTrain)
    val fe = new FeatureEngineering("strict").fit(train)
    val tt = new TargetTransformer("price").fit(train)
    val trainFeats = tt.transform(fe.transform(train)).cache()
    val estimator = modelType match {
      case "rf" => Trainer.randomForest("log_price")
      case "lr" => Trainer.linear("log_price")
      case "gbt" => Trainer.gbt("log_price")
      case other => throw new IllegalArgumentException(s"unknown --model-type $other")
    }
    val model = estimator.fit(trainFeats)
    trainFeats.unpersist(blocking = false)
    val valFeats = tt.transform(fe.transform(spark.read.parquet(inputValidation)))
    val m = Trainer.evaluate(model.transform(valFeats), "log_price")
    fe.save(s"$outputDir/feature_engineering")
    tt.save(s"$outputDir/target_transform.json")
    // record the raw-input row contract (minus the target — a prediction
    // request never carries it) so ServeMain can start without
    // --schema-from (the documented fallback)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outputDir/input_schema.json"),
      org.apache.spark.sql.types.StructType(
        train.schema.filterNot(_.name == "price")).json)
    model match {
      case w: org.apache.spark.ml.util.MLWritable => w.write.overwrite().save(modelPath)
      case _ => throw new IllegalStateException("model is not MLWritable")
    }
    println(f"""{"status":"ok","model":"$modelPath","rmse":${m.rmse}%.6f,"r2":${m.r2}%.6f,"mae":${m.mae}%.6f}""")
  }

  /** Load the persisted artifacts and write batch predictions. */
  def runPredict(spark: SparkSession, modelDir: String, modelType: String,
      input: String, output: String): Unit = {
    val fe = new FeatureEngineering("strict").load(s"$modelDir/feature_engineering")
    val tt = new TargetTransformer("price").load(s"$modelDir/target_transform.json")
    val model = graft.ml.Persist.loadModelOfType(modelDir, modelType)
    val preds = new Predictor(fe, model, tt)
      .predictBatch(spark.read.parquet(input))
      .select("id_annonce", "prediction_price")
    preds.write.mode("overwrite").parquet(output)
    println(s"""{"status":"ok","out":"$output"}""")
  }
}
