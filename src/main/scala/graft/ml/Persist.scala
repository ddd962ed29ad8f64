package graft.ml

import graft.features.{FeatureEngineering, TargetTransformer}
import org.apache.spark.ml.{PipelineModel, Transformer}
import org.apache.spark.ml.regression.{GBTRegressionModel, LinearRegressionModel, RandomForestRegressionModel}
import org.apache.spark.ml.util.{MLReadable, MLWritable}
import java.nio.file.{Files, Paths}

/** Model-artifact persistence: model + feature state + target stats +
  * metadata.json side-file, mirroring the reference's artifact layout
  * (ref: src/models/train.py:152-220; models/rf/ on disk).
  *
  * Layout: <dir>/model, <dir>/feature_pipeline (or
  * <dir>/feature_engineering for the full FE state incl. capping),
  * <dir>/target_transformer.json, <dir>/metadata.json.
  */
object Persist {

  def saveAll(dir: String, model: MLWritable, fePipeline: PipelineModel,
      tt: TargetTransformer, metadata: Map[String, String]): Unit = {
    model.write.overwrite().save(s"$dir/model")
    fePipeline.write.overwrite().save(s"$dir/feature_pipeline")
    tt.save(s"$dir/target_transformer.json")
    writeMetadata(dir, metadata)
  }

  /** Full-FE variant: persists capping state + encode pipeline so inference
    * can reconstruct the exact train-time transform.
    */
  def saveAllWithFe(dir: String, model: MLWritable, fe: FeatureEngineering,
      tt: TargetTransformer, metadata: Map[String, String]): Unit = {
    model.write.overwrite().save(s"$dir/model")
    fe.save(s"$dir/feature_engineering")
    tt.save(s"$dir/target_transformer.json")
    writeMetadata(dir, metadata)
  }

  /** Rehydrate the full FE state; the structural config (mode/columns) is
    * the caller's — only fitted state lives on disk.
    */
  def loadFeatureEngineering(dir: String, template: FeatureEngineering): FeatureEngineering =
    template.load(s"$dir/feature_engineering")

  private def writeMetadata(dir: String, metadata: Map[String, String]): Unit = {
    val body = metadata.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": "${v.replace("\"", "\\\"")}"""" }
      .mkString("{", ", ", "}")
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/metadata.json"), body)
  }

  def loadModel[M](dir: String, reader: MLReadable[M]): M =
    reader.load(s"$dir/model")

  /** The CLI's `--model-type` model (`rf`, `lr` or `gbt`), saved at
    * `<modelDir>/<modelType>`; any other type is an
    * IllegalArgumentException, checked before anything is read. */
  def loadModelOfType(modelDir: String, modelType: String): Transformer = {
    val reader: MLReadable[_ <: Transformer] = modelType match {
      case "rf" => RandomForestRegressionModel
      case "lr" => LinearRegressionModel
      case "gbt" => GBTRegressionModel
      case other => throw new IllegalArgumentException(s"unknown --model-type $other")
    }
    reader.load(s"$modelDir/$modelType")
  }

  def loadPipeline(dir: String): PipelineModel =
    PipelineModel.load(s"$dir/feature_pipeline")

  def loadTargetTransformer(dir: String, labelCol: String = "price"): TargetTransformer =
    new TargetTransformer(labelCol).load(s"$dir/target_transformer.json")
}
