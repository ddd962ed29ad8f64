package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.ml.regression.RandomForestRegressionModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.etl.Ingest
import graft.features.{FeatureEngineering, TargetTransformer}
import graft.infer.Predictor
import graft.serve.PredictionServer
import graft.ml.{Persist, Trainer}

/** One pass of the reference batch flow through the program's public API,
  * in a fresh JVM:
  *
  *   Ingest.prepare (train, test) → FeatureEngineering("strict") fit and
  *   TargetTransformer fit → transform → Trainer.trainWithCV over lrGrid
  *   (3 folds) → Trainer.randomForest fit with its defaults (50 trees,
  *   depth 10) → Trainer.evaluate → Persist.saveAllWithFe → reload →
  *   Predictor.predictBatch on the test rows, written to parquet.
  *
  * After the timed pass, the run writes the in-memory model's predictions
  * and PreparedPredictor's answer for every test row, for the output checks.
  * Then, as the reference web app does with a trained model, it serves the
  * reloaded predictor through graft.serve.PredictionServer in this JVM and
  * drives `/predict` with CLIENTS closed-loop clients for SERVE_SECONDS
  * (graftbench.Load). Traced runs also time PreparedPredictor.predict alone.
  *
  * Usage: graftbench.Pipeline RUN_DIR TRACE(0|1) SERVE_SECONDS CLIENTS
  * Writes RUN_DIR/pipeline.json; exits 0 when the pass completed.
  */
object Pipeline {

  /** The session exactly as `graft.Main` builds it (its private `session()`). */
  def mainSession(): SparkSession = {
    val m = graft.Main.getClass.getDeclaredMethod("session")
    m.setAccessible(true)
    m.invoke(graft.Main).asInstanceOf[SparkSession]
  }

  def main(args: Array[String]): Unit = {
    val Array(runDir, traceArg, serveSeconds, clients) = args
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = mainSession()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(traceArg == "1", Paths.get(runDir).getFileName.toString, spark.sparkContext)
    val memo0 = memoBuilds()
    val d = s"$runDir/data"
    val art = s"$runDir/artifacts"
    val stages = scala.collection.mutable.LinkedHashMap[String, Double]()
    def stage[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = tracer.span(name)(body)
      stages(name) = (System.nanoTime() - t0) / 1e9
      r
    }

    val t0 = System.nanoTime()
    val (model, fe, tt, reloaded) = tracer.span("pipeline") {
      stage("etl.prepare") {
        Ingest.prepare(spark, s"$d/X_train.csv", s"$d/y_train.csv", s"$d/train.parquet")
        Ingest.prepare(spark, s"$d/X_test.csv", s"$d/y_test.csv", s"$d/test.parquet")
      }
      val train = spark.read.parquet(s"$d/train.parquet")
      val test = spark.read.parquet(s"$d/test.parquet")
      val (fe, tt) = stage("features.fit") {
        (new FeatureEngineering("strict").fit(train), new TargetTransformer("price").fit(train))
      }
      val trainFeats = stage("features.transform") {
        val f = tt.transform(fe.transform(train)).cache()
        f.count()
        f
      }
      stage("ml.cv") {
        val lr = Trainer.linear("log_price")
        Trainer.trainWithCV(trainFeats, lr, Trainer.lrGrid(lr), "log_price", folds = 3)
      }
      val model = stage("ml.fit")(Trainer.randomForest("log_price").fit(trainFeats))
      trainFeats.unpersist(blocking = true)
      stage("ml.evaluate") {
        Trainer.evaluate(model.transform(tt.transform(fe.transform(test))), "log_price")
      }
      stage("ml.persist") {
        Persist.saveAllWithFe(art, model, fe, tt, Map("model_type" -> "rf"))
      }
      val reloaded = stage("ml.load") {
        new Predictor(Persist.loadFeatureEngineering(art, new FeatureEngineering("strict")),
          Persist.loadModel(art, RandomForestRegressionModel), Persist.loadTargetTransformer(art))
      }
      stage("infer.batch") {
        reloaded.predictBatch(test).select("id_annonce", "prediction_price")
          .write.mode("overwrite").parquet(s"$runDir/predictions.parquet")
      }
      (model, fe, tt, reloaded)
    }
    val pipelineS = (System.nanoTime() - t0) / 1e9
    val passRssMb = peakRssMb()
    val memo = memoBuilds() - memo0

    // ---- untimed: evidence for the output checks ----
    val test = spark.read.parquet(s"$d/test.parquet")
    new Predictor(fe, model, tt).predictBatch(test).select("id_annonce", "prediction_price")
      .write.mode("overwrite").parquet(s"$runDir/predictions_in_memory.parquet")

    // ---- the reloaded model behind the program's PredictionServer, in this JVM ----
    val schema = StructType(spark.read.parquet(s"$d/train.parquet").schema.filterNot(_.name == "price"))
    val prepT0 = System.nanoTime()
    val prepared = tracer.span("infer.prepare_single")(reloaded.prepareSingle(spark, schema))
    val prepareS = (System.nanoTime() - prepT0) / 1e9
    val rows = Single.rows(test, schema)
    Single.write(prepared, rows, s"$runDir/single_predictions.csv")
    val predictUs = if (tracer.enabled) Some(Single.p50Us(prepared, rows)) else None
    val server = new PredictionServer(spark, reloaded, prepared, schema)
    val port = server.start().getPort
    try Load.run(port, runDir, Single.requests(rows), serveSeconds.toDouble, clients.toInt, None, None)
    finally server.stop()

    if (tracer.enabled) org.apache.spark.GraftBenchAccess.drainListenerBus(spark.sparkContext)
    val out = new StringBuilder("{")
    def kv(k: String, v: Double): Unit = {
      if (out.length > 1) out ++= ","
      out ++= s""""$k":$v"""
    }
    kv("setup_s", setupS)
    kv("pipeline_s", pipelineS)
    kv("stages", stages.size)
    stages.foreach { case (k, v) => kv(s"$k.seconds", v) }
    kv("infer.prepare_single.seconds", prepareS)
    predictUs.foreach(kv("infer.prepared_predict_us", _))
    kv("util.memo_builds", memo)
    if (tracer.enabled) {
      tracer.spans.foreach { s =>
        // every span reports its counters, zero when it ran no Spark job
        tracer.counters.spans.getOrElse(s.id, new Counters).toMap.foreach { case (k, v) => kv(s"${s.name}.$k", v) }
      }
      val all = tracer.counters.spans.values
      kv("spark.executor_cpu_s", all.map(_.cpuNs.get).sum / 1e9)
      kv("spark.gc_s", all.map(_.gcMs.get).sum / 1e3)
      kv("spark.shuffle_bytes", all.map(_.shuffleBytes.get).sum.toDouble)
      kv("spark.spill_bytes", all.map(_.spillBytes.get).sum.toDouble)
      Files.writeString(Paths.get(s"$runDir/spans.jsonl"), tracer.spansJsonLines)
    }
    kv("peak_rss_mb", passRssMb)
    spark.stop()
    out ++= "}"
    Files.writeString(Paths.get(s"$runDir/pipeline.json"), out.toString)
    // PredictionServer.stop() leaves its handler pool's threads alive
    sys.exit(0)
  }

  /** `SessionMemo.buildCount`, read reflectively so the benchmark keeps
    * compiling once the memo layer is gone (then there is nothing to count).
    */
  private def memoBuilds(): Long =
    try {
      val cls = Class.forName("graft.util.SessionMemo$")
      val module = cls.getField("MODULE$").get(null)
      cls.getMethod("buildCount").invoke(module)
        .asInstanceOf[java.util.concurrent.atomic.AtomicLong].get()
    } catch { case _: ReflectiveOperationException => 0L }

  /** This JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
