package graftbench

import graft.etl.Ingest

/** The serving workload's model, made once per checkout: ingest the fixture
  * listings, then `graft.Main train --model-type rf` and `graft.Main predict`
  * through their public entry points, so ServeMain loads exactly the layout
  * the CLI writes and the checks have the batch path's predictions.
  *
  * Usage: graftbench.Fixture DIR   (DIR/data holds the listings CSVs)
  */
object Fixture {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Pipeline.mainSession()
    spark.sparkContext.setLogLevel("ERROR")
    Ingest.prepare(spark, s"$dir/data/X_train.csv", s"$dir/data/y_train.csv", s"$dir/train.parquet")
    Ingest.prepare(spark, s"$dir/data/X_test.csv", s"$dir/data/y_test.csv", s"$dir/test.parquet")
    graft.Main.runTrain(spark, s"$dir/train.parquet", s"$dir/test.parquet", s"$dir/serve", "rf",
      overwrite = true)
    graft.Main.runPredict(spark, s"$dir/serve", "rf", s"$dir/test.parquet", s"$dir/predictions.parquet")
    spark.stop()
  }
}
