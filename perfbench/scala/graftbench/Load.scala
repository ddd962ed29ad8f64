package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.time.Duration

import scala.jdk.CollectionConverters._

/** Traffic against a running prediction server.
  *
  *  - CLIENTS closed-loop clients POST single rows to `/predict`, each
  *    cycling through the rows from its own offset; a client sends its next
  *    request when the previous one has answered.
  *  - Optionally, one open-loop client POSTs a 1,000-row CSV slice to
  *    `/predict/batch` every BATCH_EVERY seconds. Each batch is timed from
  *    when it was due, so a late start counts against it.
  *
  * Every client warms up for one second off the record (plus WarmBatches
  * batches, when batches run), then the window runs SECONDS; a batch still running at the
  * end of the window is waited for. Raw results go to RUN_DIR: `single.tsv`
  * (id, status, latency_us, predicted price), `batch.tsv` (slice, status,
  * latency_ms, late_ms), the `batch_<k>.csv` bodies and `load.json`. With a
  * counters file (traced runs) the server's Spark counters are copied at the
  * window's start and end.
  *
  * Usage: graftbench.Load PORT RUN_DIR SECONDS CLIENTS BATCH_EVERY [COUNTERS_FILE]
  * reads RUN_DIR/requests.tsv (id, JSON object) and RUN_DIR/x_rows.csv (the
  * same rows in X_test's CSV layout, in request order).
  */
object Load {
  val BatchRows = 1000
  private val WarmBatches = 2
  private val pricePattern = "\"prediction_price\":([-0-9.eE]+|null)".r

  def main(args: Array[String]): Unit = {
    val runDir = args(1)
    val requests = Files.readAllLines(Paths.get(s"$runDir/requests.tsv")).asScala
      .filter(_.nonEmpty).map { l => val t = l.indexOf('\t'); (l.take(t), l.drop(t + 1)) }.toArray
    val csv = Files.readAllLines(Paths.get(s"$runDir/x_rows.csv")).asScala.toArray
    run(args(0).toInt, runDir, requests, args(2).toDouble, args(3).toInt,
      Some((args(4).toDouble, csv.head, csv.tail)), args.lift(5))
  }

  /** @param batches (seconds between batches, CSV header, CSV rows) */
  def run(port: Int, runDir: String, requests: Array[(String, String)], seconds: Double,
      clients: Int, batches: Option[(Double, String, Array[String])],
      countersFile: Option[String]): Unit = {
    val base = s"http://127.0.0.1:$port"
    def client() = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()
    def post(c: HttpClient, path: String, payload: String, ctype: String): HttpResponse[String] =
      c.send(HttpRequest.newBuilder(URI.create(base + path)).timeout(Duration.ofSeconds(60))
        .header("Content-Type", ctype).POST(HttpRequest.BodyPublishers.ofString(payload)).build(),
        HttpResponse.BodyHandlers.ofString())

    val warmUntil = System.nanoTime() + 1000000000L
    @volatile var windowStart = Long.MaxValue
    @volatile var windowEnd = Long.MaxValue
    val singles = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until clients).map { ci =>
      new Thread(() => {
        val c = client()
        var i = ci * requests.length / clients
        var now = System.nanoTime()
        while (now < windowEnd) {
          val (id, json) = requests(i % requests.length)
          val t0 = System.nanoTime()
          val (status, price) =
            try {
              val r = post(c, "/predict", json, "application/json")
              (r.statusCode(), pricePattern.findFirstMatchIn(r.body()).map(_.group(1)).getOrElse("?"))
            } catch { case e: java.io.IOException => (-1, e.getClass.getSimpleName) }
          now = System.nanoTime()
          if (t0 >= windowStart && now <= windowEnd)
            singles.add(s"$id\t$status\t${(now - t0) / 1000}\t$price")
          i += 1
        }
      })
    }
    threads.foreach(_.start())
    while (System.nanoTime() < warmUntil) Thread.sleep(5)
    val batchLines = scala.collection.mutable.ArrayBuffer[String]()
    val batchClient = client()
    def slice(k: Int): String = batches.map { case (_, header, rows) =>
      val from = (k * BatchRows) % rows.length
      (header +: (0 until BatchRows).map(i => rows((from + i) % rows.length))).mkString("", "\n", "\n")
    }.get
    // warm-up batches off the record: the first timed batch would otherwise
    // pay the server's first-job and JIT costs (measured: a 2.1 s first timed
    // batch after one warm-up, 1.5 s by the third)
    batches.foreach(_ => (1 to WarmBatches).foreach(_ => post(batchClient, "/predict/batch", slice(0), "text/csv")))
    countersFile.foreach(f => snapshot(f, s"$runDir/serve_counters_start.json"))
    windowStart = System.nanoTime()
    windowEnd = windowStart + (seconds * 1e9).toLong
    batches.foreach { case (every, _, _) =>
      var k = 0
      var due = windowStart
      while (due < windowEnd) {
        while (System.nanoTime() < due) Thread.sleep(1)
        val start = System.nanoTime()
        val (status, text) =
          try { val r = post(batchClient, "/predict/batch", slice(k + 1), "text/csv"); (r.statusCode(), r.body()) }
          catch { case e: java.io.IOException => (-1, e.toString) }
        val end = System.nanoTime()
        Files.writeString(Paths.get(s"$runDir/batch_$k.csv"), text)
        batchLines += s"${k + 1}\t$status\t${(end - due) / 1e6}\t${(start - due) / 1e6}"
        k += 1
        due = windowStart + (k * every * 1e9).toLong
      }
    }
    threads.foreach(_.join())
    countersFile.foreach(f => snapshot(f, s"$runDir/serve_counters_end.json"))
    Files.write(Paths.get(s"$runDir/single.tsv"), singles.asScala.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.write(Paths.get(s"$runDir/batch.tsv"), batchLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.writeString(Paths.get(s"$runDir/load.json"),
      s"""{"window_s": ${(windowEnd - windowStart) / 1e9}, "clients": $clients}""")
  }

  private def snapshot(from: String, to: String): Unit = {
    val src = Paths.get(from)
    if (Files.exists(src)) Files.copy(src, Paths.get(to), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    else Files.writeString(Paths.get(to), "{}")
  }
}
