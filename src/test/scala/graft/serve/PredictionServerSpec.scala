package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSpec
import graft.features.{Encoding, TargetTransformer}
import graft.infer.Predictor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end HTTP parity: the served single and batch predictions must
  * equal direct calls into the same fitted pipeline (the reference's
  * webapp renders exactly these two numbers — app.py predict_single /
  * predict_batch).
  */
class PredictionServerSpec extends SparkSpec {
  import spark.implicits._

  private def listings: DataFrame = {
    val types = Seq("maison", "appartement", "propriété")
    (1 to 300).map { i =>
      val t = types(i % 3)
      val size = 30.0 + (i % 150)
      val price = size * 3000.0 + (i % 3) * 50000.0
      (i.toLong, t, size, price)
    }.toDF("id_annonce", "property_type", "size", "price")
  }

  private lazy val fitted = {
    val fe = Encoding.buildPipeline(Seq("property_type"), Seq("size"),
      handleInvalid = "skip").fit(listings)
    val tt = new TargetTransformer("price").fit(listings)
    val train = tt.transform(fe.transform(listings))
    val model = graft.ml.Trainer.linear("log_price").setSolver("normal")
      .fit(train)
    new Predictor(fe, model, tt)
  }

  private val inputSchema = StructType(Seq(
    StructField("id_annonce", LongType),
    StructField("property_type", StringType),
    StructField("size", DoubleType)))

  private val client = HttpClient.newHttpClient()

  private def withServer(f: Int => Unit): Unit = {
    val srv = new PredictionServer(spark, fitted.prepareSingle(spark, inputSchema))
    val addr = srv.start()
    try f(addr.getPort) finally srv.stop()
  }

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("health reports the input schema") {
    withServer { port =>
      val r = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:$port/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      r.statusCode() shouldBe 200
      r.body() should include(""""status":"ok"""")
      r.body() should include(""""name":"property_type"""")
    }
  }

  test("GET / serves an HTML form wired to /predict with one input per field") {
    withServer { port =>
      val r = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:$port/")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      r.statusCode() shouldBe 200
      r.headers().firstValue("Content-Type").get should include("text/html")
      for (f <- inputSchema.fields)
        r.body() should include(s"""name="${f.name}"""")
      r.body() should include("fetch('/predict'")
      r.body() should include("fetch('/predict/batch'")
      // anything else under / is a 404, not the form
      val miss = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:$port/nope")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      miss.statusCode() shouldBe 404
    }
  }

  test("POST /predict equals the direct prepared-predictor call") {
    withServer { port =>
      val direct = fitted.prepareSingle(spark, inputSchema)
        .predict(Map("id_annonce" -> 1L,
          "property_type" -> "maison", "size" -> 75.0)).get
      val r = post(port, "/predict",
        """{"id_annonce": 1, "property_type": "maison", "size": 75.0}""")
      r.statusCode() shouldBe 200
      val served = """"prediction_price":([-0-9.E]+)""".r
        .findFirstMatchIn(r.body()).get.group(1).toDouble
      served shouldBe direct +- math.abs(direct) * 1e-9
    }
  }

  test("POST /predict with a schema-violating field is a 400, not a null row") {
    withServer { port =>
      val r = post(port, "/predict",
        """{"property_type": 42, "size": 75.0}""")
      r.statusCode() shouldBe 400
      r.body() should include("property_type")
    }
  }

  test("unknown-category row dropped by handleInvalid=skip reports dropped") {
    withServer { port =>
      val r = post(port, "/predict",
        """{"property_type": "château", "size": 75.0}""")
      r.statusCode() shouldBe 200
      r.body() should include(""""prediction_price":null""")
      r.body() should include(""""dropped":true""")
    }
  }

  test("a FloatType schema field round-trips through /predict") {
    // RowEncoder validates external types: FloatType must receive a
    // java.lang.Float — a Double here fails every request on that schema
    val floatSchema = StructType(Seq(
      StructField("id_annonce", LongType),
      StructField("property_type", StringType),
      StructField("size", FloatType)))
    val srv = new PredictionServer(spark, fitted.prepareSingle(spark, floatSchema))
    val addr = srv.start()
    try {
      val r = post(addr.getPort, "/predict",
        """{"id_annonce": 1, "property_type": "maison", "size": 75.0}""")
      r.statusCode() shouldBe 200
      val served = """"prediction_price":([-0-9.E]+)""".r
        .findFirstMatchIn(r.body()).get.group(1).toDouble
      val direct = fitted.prepareSingle(spark, floatSchema)
        .predict(Map("id_annonce" -> 1L,
          "property_type" -> "maison", "size" -> 75.0f)).get
      served shouldBe direct +- math.abs(direct) * 1e-9
    } finally srv.stop()
  }

  test("batch CSV that doesn't match the model's input is a 400") {
    withServer { port =>
      val r = post(port, "/predict/batch", "id_annonce,oops\n1,2\n")
      r.statusCode() shouldBe 400
    }
  }

  test("a server-side failure surfaces as 500, not 400") {
    // a chain whose evaluation throws: a preprocess UDF that fails on every row
    val boom = udf((size: Double) =>
      if (size.isNaN) size else throw new RuntimeException("executor lost"))
    val failing = new Predictor(
      (df: DataFrame) => fitted.preprocess(df.withColumn("size", boom(col("size")))),
      fitted.model, fitted.targetTransformer)
    val srv = new PredictionServer(spark, failing.prepareSingle(spark, inputSchema))
    val port = srv.start().getPort
    try {
      for (r <- Seq(
          post(port, "/predict", """{"id_annonce": 1, "property_type": "maison", "size": 75.0}"""),
          post(port, "/predict/batch", "id_annonce,property_type,size\n1,maison,75.0\n"))) {
        r.statusCode() shouldBe 500
        r.body() should include("executor lost")
      }
    } finally srv.stop()
  }

  test("a served schema with a non-nullable field is refused, naming the field") {
    val strict = StructType(inputSchema.fields.map(f =>
      if (f.name == "size") f.copy(nullable = false) else f))
    val e = intercept[IllegalArgumentException](
      new PredictionServer(spark, fitted.prepareSingle(spark, strict)))
    e.getMessage should include("'size'")
  }

  test("a fractional value for an integer field is a 400 on both endpoints") {
    // `floor` is served but unused by the model, as extra raw columns are
    val withFloor = inputSchema.add(StructField("floor", IntegerType))
    val srv = new PredictionServer(spark, fitted.prepareSingle(spark, withFloor))
    val port = srv.start().getPort
    try {
      post(port, "/predict", """{"id_annonce": 1, "property_type": "maison", """ +
        """"size": 75.0, "floor": 2}""").statusCode() shouldBe 200
      val single = post(port, "/predict", """{"id_annonce": 1, """ +
        """"property_type": "maison", "size": 75.0, "floor": 2.7}""")
      single.statusCode() shouldBe 400
      single.body() should include("'floor'")
      val long = post(port, "/predict",
        """{"id_annonce": 1.5, "property_type": "maison", "size": 75.0}""")
      long.statusCode() shouldBe 400
      long.body() should include("'id_annonce'")
      post(port, "/predict/batch", "id_annonce,property_type,size,floor\n" +
        "1,maison,75.0,2.7\n").statusCode() shouldBe 400
    } finally srv.stop()
  }

  test("POST /predict/batch CSV equals predictBatch on the same rows") {
    withServer { port =>
      val csv = "id_annonce,property_type,size\n" +
        "10,maison,75.0\n11,appartement,100.0\n12,propriété,130.0\n"
      val r = post(port, "/predict/batch", csv)
      r.statusCode() shouldBe 200
      val lines = r.body().trim.split("\n")
      lines.head shouldBe "id_annonce,prediction_price"
      lines.length shouldBe 4
      val served = lines.drop(1).map { l =>
        val Array(id, p) = l.split(","); id.toLong -> p.toDouble
      }.toMap
      val direct = fitted.predictBatch(
        Seq((10L, "maison", 75.0), (11L, "appartement", 100.0),
          (12L, "propriété", 130.0))
          .toDF("id_annonce", "property_type", "size"))
        .select(col("id_annonce"), col("prediction_price")).collect()
        .map(row => row.getLong(0) -> row.getDouble(1)).toMap
      for ((id, p) <- direct)
        served(id) shouldBe (math.floor(p * 100 + 0.5) / 100) +- 0.011
    }
  }

  /** Served batch CSV → (id → 2-decimal price). */
  private def batchRows(r: HttpResponse[String]): Map[Long, Double] = {
    r.statusCode() shouldBe 200
    val lines = r.body().trim.split("\n")
    lines.head shouldBe "id_annonce,prediction_price"
    lines.drop(1).map { l =>
      val Array(id, p) = l.split(","); id.toLong -> p.toDouble
    }.toMap
  }

  private def directRows(rows: Seq[(Long, String, Double)]): Map[Long, Double] =
    fitted.predictBatch(rows.toDF("id_annonce", "property_type", "size"))
      .select(col("id_annonce"), col("prediction_price")).collect()
      .map(row => row.getLong(0) ->
        math.floor(row.getDouble(1) * 100 + 0.5) / 100).toMap

  test("batch columns are matched by name: reordered upload with extra " +
      "columns returns predictBatch's rows") {
    withServer { port =>
      val csv = "note,size,city,id_annonce,property_type\n" +
        "a,75.0,Paris,20,maison\nb,100.0,Lyon,21,appartement\n" +
        "c,130.0,,22,propriété\n"
      val served = batchRows(post(port, "/predict/batch", csv))
      val direct = directRows(Seq((20L, "maison", 75.0),
        (21L, "appartement", 100.0), (22L, "propriété", 130.0)))
      served.keySet shouldBe direct.keySet
      for ((id, p) <- direct) served(id) shouldBe p +- 0.011
    }
  }

  test("a batch upload that lacks a served column is a 400 naming it") {
    withServer { port =>
      val r = post(port, "/predict/batch",
        "id_annonce,property_type\n1,maison\n")
      r.statusCode() shouldBe 400
      r.body() should include("'size'")
    }
  }

  test("a batch value that does not parse as its served type is a 400") {
    withServer { port =>
      val r = post(port, "/predict/batch",
        "id_annonce,property_type,size\n1,maison,75.0\n2,maison,big\n")
      r.statusCode() shouldBe 400
      r.body() should include("does not parse")
    }
  }

  test("two concurrent batch uploads each get exactly their own rows") {
    withServer { port =>
      def upload(ids: Range) = client.sendAsync(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:$port/predict/batch"))
          .POST(HttpRequest.BodyPublishers.ofString(
            "id_annonce,property_type,size\n" + ids.map(i =>
              s"$i,maison,${30 + i % 100}.0").mkString("\n"))).build(),
        HttpResponse.BodyHandlers.ofString())
      val (a, b) = (upload(1000 until 1200), upload(2000 until 2300))
      batchRows(a.join()).keySet shouldBe (1000L until 1200L).toSet
      batchRows(b.join()).keySet shouldBe (2000L until 2300L).toSet
    }
  }

  test("after the first upload, a batch upload runs no Spark job") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // job starts in listener-bus order; a marker job run on this thread
    // brackets the server's jobs, so once the closing marker is seen every
    // job started before it has been counted (the bus is FIFO)
    val marker = "graft.test.marker"
    val starts = new ConcurrentLinkedQueue[String]
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val m = Option(e.properties).flatMap(p => Option(p.getProperty(marker)))
        starts.add(m.getOrElse("server"))
        if (m.contains("close")) closed.countDown()
      }
    }
    def mark(m: String): Unit = {
      spark.sparkContext.setLocalProperty(marker, m)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(marker, null)
    }
    val csv = "id_annonce,property_type,size\n" +
      "10,maison,75.0\n11,appartement,100.0\n12,propriété,130.0\n"
    withServer { port =>
      post(port, "/predict/batch", csv).statusCode() shouldBe 200
      spark.sparkContext.addSparkListener(listener)
      try {
        mark("open")
        (1 to 2).foreach(_ =>
          post(port, "/predict/batch", csv).statusCode() shouldBe 200)
        mark("close")
        closed.await(30, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val seen = starts.asScala.toSeq
    seen.slice(seen.indexOf("open") + 1, seen.indexOf("close"))
      .count(_ == "server") shouldBe 0
  }

  test("no batch upload, the first included, makes a model broadcast") {
    // a forest: spark.ml tree models broadcast themselves on every transform
    val forest = new Predictor(fitted.preprocess,
      graft.ml.Trainer.randomForest("log_price", numTrees = 5, maxDepth = 4)
        .fit(fitted.targetTransformer.transform(fitted.preprocess(listings))),
      fitted.targetTransformer)
    val csv = "id_annonce,property_type,size\n10,maison,75.0\n11,appartement,100.0\n"
    def broadcastsDuring(f: => Unit): Long = {
      val before = spark.sparkContext.broadcast(0).id
      f
      spark.sparkContext.broadcast(0).id - before - 1
    }
    val srv = new PredictionServer(spark, forest.prepareSingle(spark, inputSchema))
    val port = srv.start().getPort
    // the first upload spreads over several chains, made as it needs them
    val large = uploadCsv((1 to 3 * PredictionServer.ChunkRows).map(i =>
      (i.toLong, "maison", 30.0 + i % 150)))
    try broadcastsDuring {
      post(port, "/predict/batch", large).statusCode() shouldBe 200
      post(port, "/predict/batch", csv).statusCode() shouldBe 200
      post(port, "/predict", """{"id_annonce": 1, "property_type": "maison", "size": 75.0}""")
        .statusCode() shouldBe 200
    } shouldBe 0L
    finally srv.stop()
    broadcastsDuring(forest.predictBatch(
      Seq((10L, "maison", 75.0)).toDF("id_annonce", "property_type", "size"))
      .collect()) should be > 0L
  }

  private def uploadCsv(rows: Seq[(Long, String, Double)]): String =
    rows.map { case (id, t, size) => s"$id,$t,$size" }
      .mkString("id_annonce,property_type,size\n", "\n", "\n")

  test("a multi-chunk batch upload comes back in upload order and equals " +
      "predictBatch's lines") {
    val n = 3 * PredictionServer.ChunkRows + 17
    val types = Seq("maison", "appartement", "propriété")
    // ids in a scrambled order, so upload order is not id order
    val rows = (0 until n).map { i =>
      ((i.toLong * 7919) % n + 1, types(i % 3), 30.0 + i % 150)
    }
    withServer { port =>
      val r = post(port, "/predict/batch", uploadCsv(rows))
      r.statusCode() shouldBe 200
      val lines = r.body().split("\n").toSeq
      lines.head shouldBe "id_annonce,prediction_price"
      lines.tail.map(_.takeWhile(_ != ',').toLong) shouldBe rows.map(_._1)
      val direct = fitted.predictBatch(rows.toDF("id_annonce", "property_type", "size"))
        .select(format_string("%d,%.2f", col("id_annonce"), col("prediction_price")))
        .collect().map(_.getString(0)).toSet
      lines.tail.toSet shouldBe direct
    }
  }

  test("a value that does not parse in the last chunk is a 400 with no " +
      "partial answer") {
    val n = 2 * PredictionServer.ChunkRows + 10
    val csv = uploadCsv((1 to n).map(i => (i.toLong, "maison", 75.0))) +
      s"${n + 1},maison,big\n"
    withServer { port =>
      val r = post(port, "/predict/batch", csv)
      r.statusCode() shouldBe 400
      r.body() should include("does not parse")
      r.body() should not include "prediction_price"
    }
  }

  test("/predict answers equal the direct chain while a multi-chunk upload " +
      "is in flight") {
    val direct = fitted.prepareSingle(spark, inputSchema)
    val types = Seq("maison", "appartement", "propriété")
    val singles = (0 until 150).map(i => (i.toLong, types(i % 3), 30.0 + i))
    val expected = singles.map { case (id, t, size) =>
      direct.predict(Map("id_annonce" -> id, "property_type" -> t, "size" -> size))
    }
    val n = 8 * PredictionServer.ChunkRows
    val upload = uploadCsv((1 to n).map(i => (i.toLong, types(i % 3), 30.0 + i % 150)))
    withServer { port =>
      val uploaded = client.sendAsync(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/predict/batch"))
          .POST(HttpRequest.BodyPublishers.ofString(upload)).build(),
        HttpResponse.BodyHandlers.ofString())
      val during = new java.util.concurrent.atomic.AtomicInteger
      val threads = java.util.concurrent.Executors.newFixedThreadPool(3)
      try {
        val answers = (0 until 3).map { c =>
          threads.submit(() => {
            var got = Vector.empty[(Int, Option[Double])]
            var i = c
            while (i < singles.size || (!uploaded.isDone && i < 50 * singles.size)) {
              val (id, t, size) = singles(i % singles.size)
              val r = post(port, "/predict",
                s"""{"id_annonce": $id, "property_type": "$t", "size": $size}""")
              if (!uploaded.isDone) during.incrementAndGet()
              r.statusCode() shouldBe 200
              got :+= (i % singles.size) -> """"prediction_price":([-0-9.E]+)""".r
                .findFirstMatchIn(r.body()).map(_.group(1).toDouble)
              i += 3
            }
            got
          })
        }.flatMap(_.get())
        answers.size should be >= singles.size
        for ((k, served) <- answers) served shouldBe expected(k)
      } finally threads.shutdown()
      val lines = uploaded.join().body().split("\n")
      lines.length shouldBe n + 1
      during.get should be > 0
    }
  }

  test("batch rows the pipeline drops (an unseen category) are left out, " +
      "as predictBatch leaves them out") {
    val rows = Seq((30L, "maison", 75.0), (31L, "château", 90.0),
      (32L, "appartement", 100.0))
    withServer { port =>
      val served = batchRows(post(port, "/predict/batch", uploadCsv(rows)))
      val direct = directRows(rows)
      direct.keySet shouldBe Set(30L, 32L)
      served.keySet shouldBe direct.keySet
      for ((id, p) <- direct) served(id) shouldBe p +- 0.011
    }
  }

  test("stop() terminates the handler pool's threads") {
    import scala.jdk.CollectionConverters._
    def poolThreads: Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.matches("pool-\\d+-thread-\\d+")).toSet
    val before = poolThreads
    var handlers = Set.empty[Thread]
    withServer { port =>
      (1 to 3).foreach { _ =>
        client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:$port/health")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).statusCode() shouldBe 200
      }
      handlers = poolThreads -- before
    }
    handlers should not be empty
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (handlers.exists(_.isAlive) && System.nanoTime() < deadline)
      Thread.sleep(20)
    handlers.filter(_.isAlive).map(_.getName) shouldBe empty
  }
}
