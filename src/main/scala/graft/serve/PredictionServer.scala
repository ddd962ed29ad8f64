package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import java.util.concurrent.Future

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.CsvBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.infer.{PreparedPredictor, Predictor}

/** HTTP serving layer over the inference path — the reference's webapp
  * surface (ref: src/webapp/app.py:1-309, Streamlit single + batch UI)
  * re-expressed as a JSON/CSV API on the JDK's built-in HttpServer (no
  * framework dependency; Jackson ships with Spark).
  *
  * Two prediction modes, mirroring the reference exactly:
  *  - `POST /predict` — one property as a flat JSON object (the "single
  *    prediction" form). Served by [[PreparedPredictor]]: zero Spark jobs,
  *    zero planning per request — the compiled Project/Filter chain runs
  *    on the handler thread in microseconds, so a driver-side server
  *    sustains thousands of req/s. A row dropped by the strict null policy
  *    returns `prediction_price: null, dropped: true` (app.py's
  *    failed-transform warning path).
  *  - `POST /predict/batch` — a CSV upload (app.py's file_uploader flow,
  *    same format as X_test.csv), answered with `id_annonce,prediction_price`
  *    CSV (app.py:110-112's result frame). Also answered on the driver, with
  *    no Spark job: Spark's own CSV parser reads the upload with the served
  *    types, and compiled chains like the single-row one evaluate it, a
  *    chunk of rows per chain, over a pool of at most one chain per core of
  *    the session. The server runs in local mode by design (like the
  *    reference's Streamlit app), so the driver's cores ARE the cluster: a
  *    job per upload would add optimizer, scheduling and a round trip
  *    through part files, and no parallelism the pool lacks.
  *    [[Predictor.predictBatch]] stays the distributed path (the CLI's).
  *
  * Single-row eval is serialized on a lock: catalyst `Expression.eval`
  * trees may hold per-instance mutable state (codegen-fallback exprs,
  * initialized Nondeterministic nodes), so one compiled chain must not
  * run on two threads at once. The critical section is microseconds; for
  * multi-core serving run one server per executor-sized pool instead of
  * removing the lock.
  */
final class PredictionServer(
    spark: SparkSession,
    predictor: Predictor,
    prepared: PreparedPredictor,
    schema: StructType,
    port: Int = 0) {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _
  private var workers: java.util.concurrent.ExecutorService = _
  private val lock = new Object

  def start(): InetSocketAddress = synchronized {
    require(server == null, "already started")
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/", handler(handleForm))
    server.createContext("/health", handler(handleHealth))
    server.createContext("/predict/batch", streamingHandler(handleBatch))
    server.createContext("/predict", handler(handleSingle))
    pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(pool)
    workers = java.util.concurrent.Executors.newFixedThreadPool(chainCap)
    server.start()
    server.getAddress
  }

  /** Stops the listener, the handler pool and the batch workers (their
    * threads are non-daemon). */
  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
    if (pool != null) { pool.shutdown(); pool = null }
    if (workers != null) { workers.shutdown(); workers = null }
  }

  private def handler(f: HttpExchange => (Int, String, String)): HttpHandler =
    (ex: HttpExchange) =>
      try {
        val (code, contentType, body) = f(ex)
        respond(ex, code, contentType, body)
      } catch {
        case e: Exception =>
          respond(ex, errorCode(e), "application/json",
            mapper.createObjectNode()
              .put("error", String.valueOf(e.getMessage)).toString)
      } finally ex.close()

  /** [[handler]] for endpoints that stream their own response body
    * (the batch path): `f` commits headers and writes bytes itself. An
    * exception BEFORE the commit still produces the clean JSON error;
    * one after it (a failure mid-stream) can only truncate the
    * response — the client sees a protocol error instead of a silently
    * short file, which is the correct failure mode for a stream.
    */
  private def streamingHandler(f: HttpExchange => Unit): HttpHandler =
    (ex: HttpExchange) =>
      try f(ex)
      catch {
        case e: Exception =>
          try respond(ex, errorCode(e), "application/json",
            mapper.createObjectNode()
              .put("error", String.valueOf(e.getMessage)).toString)
          catch { case _: java.io.IOException => () }
      } finally ex.close()

  /** Client errors (schema violations via require/coerce, malformed
    * JSON) are 400; anything else is a genuine server-side failure and
    * must say so — a Spark executor error is not the caller's fault.
    */
  private def errorCode(e: Exception): Int = e match {
    case _: IllegalArgumentException => 400
    case _: com.fasterxml.jackson.core.JsonProcessingException => 400
    case _ => 500
  }

  private def respond(ex: HttpExchange, code: Int, contentType: String,
      body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  /** GET / — a minimal HTML form over the same two flows the reference's
    * Streamlit page offers (ref: src/webapp/app.py:184-309): one input per
    * schema field posting JSON to /predict, plus a CSV file upload posting
    * to /predict/batch. Schema-driven (numeric fields get number inputs),
    * no assets, no framework — the API stays the real surface; this is the
    * widget on top.
    */
  private def handleForm(ex: HttpExchange): (Int, String, String) = {
    if (ex.getRequestURI.getPath != "/")
      return (404, "application/json", """{"error":"not found"}""")
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")
    val fields = schema.fields.map { f =>
      val (typ, step) = f.dataType match {
        case DoubleType | FloatType => ("number", " step=\"any\"")
        case LongType | IntegerType => ("number", " step=\"1\"")
        case _ => ("text", "")
      }
      s"""<label>${esc(f.name)} <small>(${esc(f.dataType.simpleString)})</small>
         |<input name="${esc(f.name)}" type="$typ"$step></label>""".stripMargin
    }.mkString("\n")
    val html =
      s"""<!doctype html><html><head><meta charset="utf-8">
         |<title>graft prediction server</title></head><body>
         |<h1>Property price prediction</h1>
         |<form id="single">$fields
         |<button type="submit">Predict</button></form>
         |<pre id="out"></pre>
         |<h2>Batch (CSV upload)</h2>
         |<form id="batch"><input type="file" name="csv" accept=".csv">
         |<button type="submit">Predict batch</button></form>
         |<pre id="bout"></pre>
         |<script>
         |document.getElementById('single').addEventListener('submit', async e => {
         |  e.preventDefault();
         |  const body = {};
         |  for (const el of e.target.elements) {
         |    if (!el.name || el.value === '') continue;
         |    body[el.name] = el.type === 'number' ? Number(el.value) : el.value;
         |  }
         |  const r = await fetch('/predict', {method: 'POST',
         |    headers: {'Content-Type': 'application/json'},
         |    body: JSON.stringify(body)});
         |  document.getElementById('out').textContent = await r.text();
         |});
         |document.getElementById('batch').addEventListener('submit', async e => {
         |  e.preventDefault();
         |  const f = e.target.elements['csv'].files[0];
         |  if (!f) return;
         |  const r = await fetch('/predict/batch', {method: 'POST', body: f});
         |  document.getElementById('bout').textContent = await r.text();
         |});
         |</script></body></html>""".stripMargin
    (200, "text/html", html)
  }

  private def handleHealth(ex: HttpExchange): (Int, String, String) = {
    val node = mapper.createObjectNode().put("status", "ok")
    val fields = node.putArray("schema")
    schema.fields.foreach(f =>
      fields.addObject().put("name", f.name)
        .put("type", f.dataType.simpleString))
    (200, "application/json", node.toString)
  }

  private def handleSingle(ex: HttpExchange): (Int, String, String) = {
    require(ex.getRequestMethod == "POST", "POST a JSON object")
    val json = mapper.readTree(ex.getRequestBody)
    require(json != null && json.isObject, "body must be a JSON object")
    val values: Map[String, Any] = schema.fields.flatMap { f =>
      coerce(json.get(f.name), f.dataType, f.name).map(f.name -> _)
    }.toMap
    val pred = lock.synchronized { prepared.predict(values) }
    val node = mapper.createObjectNode()
    pred match {
      case Some(p) => node.put("prediction_price", p)
      case None => node.putNull("prediction_price"); node.put("dropped", true)
    }
    (200, "application/json", node.toString)
  }

  /** JSON → the schema's JVM type; wrong-typed values fail the request
    * rather than silently predicting on a null.
    */
  private def coerce(n: JsonNode, dt: DataType, name: String): Option[Any] = {
    if (n == null || n.isNull) return None
    dt match {
      case DoubleType if n.isNumber => Some(n.asDouble())
      // RowEncoder's serializer validates external types strictly: a
      // FloatType field must receive a java.lang.Float, not a Double.
      case FloatType if n.isNumber => Some(n.asDouble().toFloat)
      case LongType if n.canConvertToLong => Some(n.asLong())
      case IntegerType if n.canConvertToInt => Some(n.asInt())
      case StringType if n.isTextual => Some(n.asText())
      case BooleanType if n.isBoolean => Some(n.asBoolean())
      case _ => throw new IllegalArgumentException(
        s"field '$name' expects ${dt.simpleString}, got ${n.getNodeType}")
    }
  }

  // nullable, as a value missing from an upload reads as null
  private val batchSchema = StructType(schema.fields.map(_.copy(nullable = true)))
  // the answer's id column is the upload's, read as served; a schema
  // without one refuses every upload (lineParser), not the server
  private val idPos = batchSchema.fields.indexWhere(_.name.equalsIgnoreCase("id_annonce"))
  private lazy val answerSchema = StructType(Seq(
    StructField("id_annonce", batchSchema(idPos).dataType),
    StructField("prediction_price", StringType)))

  // Batch chains: compiled from `predictor` when an upload finds none idle
  // (never at construction, so ServeMain's start-up stays the single-row
  // path's), at most one per core of the session, and reused across
  // uploads; each runs on one worker thread at a time.
  private val chainCap = spark.sparkContext.defaultParallelism
  private val unmade = new java.util.concurrent.Semaphore(chainCap)
  private val idle = new java.util.concurrent.LinkedBlockingDeque[PreparedPredictor]

  private def borrowChain(): PreparedPredictor = {
    val chain = idle.pollFirst()
    if (chain != null) chain
    else if (unmade.tryAcquire()) {
      try predictor.prepareSingle(spark, batchSchema)
      catch { case e: Throwable => unmade.release(); throw e }
    } else idle.takeFirst()
  }

  /** Batch predictions on the driver, with no Spark job. The upload is
    * spooled, its header line names the columns (served ones are read as
    * their served type, any other as a string), and the rest is cut into
    * chunks of [[PredictionServer.ChunkRows]] lines. Each chunk is parsed
    * by Spark's line-mode CSV parser (FAILFAST) and evaluated by one
    * chain from the pool on a worker thread; at most one chunk per chain
    * is in flight per upload, and the answers are written in upload order.
    * Rows the pipeline drops (strict null policy, unseen category) are
    * left out, as [[Predictor.predictBatch]] leaves them out. Prices are
    * `%.2f` in Locale.US, so a comma-decimal default locale (fr_FR) can't
    * corrupt the 2-column CSV.
    *
    * The whole answer is computed and spooled BEFORE the response
    * commits, so a client error is always a clean 400 with no partial
    * body: a missing schema column, or a value that does not parse as its
    * served type, in any chunk. Driver heap is bounded by the chunks in
    * flight, not by the upload.
    *
    * FILESYSTEM ASSUMPTION: the upload and the answer are spooled to
    * driver-local temp files that only the handler thread reads — valid
    * in local mode, this server's deployment shape.
    */
  private def handleBatch(ex: HttpExchange): Unit = {
    require(ex.getRequestMethod == "POST", "POST a CSV body with a header row")
    import java.nio.file.Files
    // app.py:137-143 — spool the upload to a temp file
    val upload = Files.createTempFile("graft-serve-batch", ".csv")
    val answer = Files.createTempFile("graft-serve-answer", ".csv")
    try {
      Files.copy(ex.getRequestBody, upload,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val in = Files.newBufferedReader(upload, UTF_8)
      val out = Files.newOutputStream(answer)
      try {
        val parse = lineParser(in.readLine())
        out.write("id_annonce,prediction_price\n".getBytes(UTF_8))
        val inFlight = scala.collection.mutable.Queue.empty[Future[Array[Byte]]]
        def writeNext(): Unit =
          try out.write(inFlight.dequeue().get())
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        try {
          Iterator.continually(in.readLine()).takeWhile(_ != null)
            .grouped(PredictionServer.ChunkRows).foreach { lines =>
              if (inFlight.size == chainCap) writeNext()
              inFlight.enqueue(workers.submit(() => predictChunk(parse, lines)))
            }
          while (inFlight.nonEmpty) writeNext()
        } finally inFlight.foreach(_.cancel(false))
      } finally { in.close(); out.close() }
      ex.getResponseHeaders.set("Content-Type", "text/csv")
      ex.sendResponseHeaders(200, Files.size(answer))
      Files.copy(answer, ex.getResponseBody)
    } finally {
      Files.deleteIfExists(upload)
      Files.deleteIfExists(answer)
    }
  }

  /** The upload's row parser for its header line: the served columns, in
    * the served order, of Spark's FAILFAST CSV read of a file whose
    * columns the header names — the served type for each schema column,
    * string for any other.
    */
  private def lineParser(header: String): Iterator[String] => Iterator[InternalRow] = {
    require(header != null && header.nonEmpty, "POST a CSV body with a header row")
    require(idPos >= 0, "batch CSV does not match the model's input schema: " +
      "it has no column 'id_annonce'")
    val names = new com.univocity.parsers.csv.CsvParser(
      new com.univocity.parsers.csv.CsvParserSettings).parseLine(header)
      .map(n => Option(n).getOrElse(""))
    val twice = names.groupBy(_.toLowerCase).collect { case (n, v) if v.length > 1 => n }
    require(twice.isEmpty, s"batch CSV names a column twice: ${twice.mkString(", ")}")
    val served = batchSchema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    val data = StructType(names.map(n =>
      StructField(n, served.getOrElse(n.toLowerCase, StringType))))
    val required = StructType(batchSchema.fields.map(f =>
      data.find(_.name.equalsIgnoreCase(f.name)).getOrElse(
        throw new IllegalArgumentException(s"batch upload has no column '${f.name}'"))))
    lines => CsvBridge.parse(spark, data, required, Map("mode" -> "FAILFAST"), lines)
  }

  /** One chunk's answer lines, from one chain of the pool. */
  private def predictChunk(parse: Iterator[String] => Iterator[InternalRow],
      lines: Seq[String]): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream
    val csv = CsvBridge.writer(spark, answerSchema,
      new java.io.OutputStreamWriter(bytes, UTF_8))
    val chain = borrowChain()
    try {
      val row = new GenericInternalRow(2)
      parse(lines.iterator).foreach { in =>
        chain.predictInternal(in).foreach { p =>
          row.update(0, in.get(idPos, answerSchema.head.dataType))
          row.update(1, UTF8String.fromString(String.format(Locale.US, "%.2f", p)))
          csv.write(row)
        }
      }
    } catch {
      case e: org.apache.spark.SparkException if malformed(e) =>
        throw new IllegalArgumentException(
          s"batch CSV has a value that does not parse as its column's type: ${e.getMessage}")
    } finally idle.offerFirst(chain)
    csv.close()
    bytes.toByteArray
  }

  /** A FAILFAST read that met a value it cannot parse as the column's type. */
  private def malformed(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case t: org.apache.spark.SparkThrowable =>
        Option(t.getCondition).exists(_.startsWith("MALFORMED_RECORD_IN_PARSING"))
      case _ => false
    }
}

object PredictionServer {
  /** Rows per chunk of a batch upload: an upload this size or smaller
    * runs on one chain; a larger one spreads over the chain pool. */
  private[serve] val ChunkRows = 4096
}

/** `runMain graft.serve.ServeMain --model-dir D [--model-type rf|lr|gbt]
  * [--schema-from sample.parquet] [--port N]` — loads the artifacts the
  * `graft.Main train` CLI persisted (same layout as runPredict) and
  * serves them. The single-row input contract comes from `--schema-from`
  * (any file readable by spark.read.parquet whose schema is the raw input
  * row), defaulting to the train-time schema `graft.Main train` records
  * at `<model-dir>/input_schema.json`; with neither present the server
  * refuses to start rather than guess.
  */
object ServeMain {

  /** The raw-input schema `graft.Main train` recorded alongside the model
    * (StructType.json at `<model-dir>/input_schema.json`), if present.
    */
  def recordedSchema(modelDir: String): Option[StructType] = {
    val p = java.nio.file.Paths.get(s"$modelDir/input_schema.json")
    if (!java.nio.file.Files.exists(p)) None
    else Some(DataType.fromJson(java.nio.file.Files.readString(p))
      .asInstanceOf[StructType])
  }
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val modelDir = opts.getOrElse("model-dir",
      sys.error("--model-dir is required"))
    val modelType = opts.getOrElse("model-type", "rf")
    val port = opts.getOrElse("port", "8080").toInt
    val spark = graft.Session.local()
    val fe = new graft.features.FeatureEngineering("strict")
      .load(s"$modelDir/feature_engineering")
    val tt = new graft.features.TargetTransformer("price")
      .load(s"$modelDir/target_transform.json")
    val model = graft.ml.Persist.loadModelOfType(modelDir, modelType)
    val predictor = new Predictor(fe, model, tt)
    val schema = opts.get("schema-from")
      .map(p => spark.read.parquet(p).schema)
      .orElse(recordedSchema(modelDir))
      .getOrElse(sys.error(
        s"--schema-from <sample.parquet> is required ($modelDir has no " +
          "recorded input_schema.json — retrain with the current CLI or " +
          "pass the flag)"))
    val prepared = predictor.prepareSingle(spark, schema)
    val srv = new PredictionServer(spark, predictor, prepared, schema, port)
    val addr = srv.start()
    println(s"""{"status":"serving","port":${addr.getPort}}""")
    Thread.currentThread().join() // serve until killed
  }
}
