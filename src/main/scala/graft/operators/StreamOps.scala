package graft.operators

import graft.QSpec
import graft.util.{Exact, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}

/** Structured Streaming operators as DECLARED queries — not test-only.
  *
  * A live unbounded stream can't be hash-compared against DuckDB, but a
  * bounded one can: `Trigger.AvailableNow` runs a REAL `StreamingQuery`
  * (file source → stateful streaming operators → memory sink) over the
  * testdata and terminates when the backlog is drained. The final table is
  * then a plain batch DataFrame whose contents a SQL oracle can check —
  * the same pattern as a production backfill through the streaming path.
  *
  * Scale stance: these are exactly the plans a 100 TB Kafka/file stream
  * would run — keyed state partitioned by group, watermarks bounding
  * state, no per-batch driver logic. The micro-batch boundary placement is
  * the ONLY thing AvailableNow changes vs a live trigger, and the declared
  * outputs are chosen to be invariant to it: complete-mode aggregates
  * (st01) converge to the batch answer regardless of batch splits, and
  * dedup-by-key (st02) keeps exactly one row per key whose payload is
  * identical across duplicates, so batch placement can't show through.
  *
  * The streaming forms of session windows / custom state live in
  * [[graft.streaming.EventStreams]] with MemoryStream ScalaTests (late
  * data, timeouts — things a static file can't exercise).
  */
object StreamOps {

  import Tables._

  /** Events as an unbounded-style file stream: same schema as the batch
    * table (long nanos `ts`; see Tables.events), one parquet file treated
    * as the drainable backlog.
    */
  private def eventStream(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    // The file source's user-supplied schema must match the on-disk files,
    // so take the RAW schema here and apply the long-ns normalization to
    // the streamed frame below (same contract as the batch loader).
    val schema = eventsRaw(s, d).schema // also sets the nanosAsLong conf
    val src = new java.io.File(s"$d/events.parquet")
    val backlogDir =
      if (src.isDirectory) src // Spark-written table dir: read it directly
      else {
        // single-file layout (the driver's testdata): the file source only
        // accepts directories, so expose the file through a scratch dir
        // (symlink — no copy). NB a symlink to a DIRECTORY is not followed
        // by the file-source listing and silently yields an empty stream —
        // which is why the directory case above must not go through here
        // (it made st05's pre-r9 gsf* scale points measure nothing).
        val dir = new java.io.File(Tables.scratch(d, "stream_events_src"))
        dir.mkdirs()
        val link = new java.io.File(dir, "events.parquet").toPath
        // NOFOLLOW: a dangling symlink must read as "present" (plain
        // exists() follows to the missing target and then
        // createSymbolicLink throws); the catch absorbs the create/create
        // race of concurrent runs
        if (!java.nio.file.Files.exists(link,
            java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
          try java.nio.file.Files.createSymbolicLink(link, src.toPath)
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
        }
        dir
      }
    Tables.normalizeEventTs(
      s.readStream.schema(schema).parquet(backlogDir.getAbsolutePath))
  }

  /** Runs `q` as an AvailableNow streaming query into a memory sink and
    * returns the drained result as a batch DataFrame. The memory-sink view
    * name is keyed by query + sf dir so concurrent/back-to-back runs (the
    * bench's min-of-2) never collide with an earlier registration.
    */
  private def drainToTable(df: DataFrame, name: String, d: String,
      mode: String, statePartitions: Int = 8): DataFrame = {
    val s = df.sparkSession
    val view = s"__graft_${name}_${new java.io.File(d).getName.replaceAll("[^A-Za-z0-9_]", "_")}"
    s.catalog.dropTempView(view)
    // Streaming state-store count = shuffle partitions AT QUERY START
    // (pinned in the checkpoint thereafter) — size it to the STATE volume,
    // not the session's scan parallelism: every partition pays a
    // StateStore provider + maintenance + commit per micro-batch, so 32
    // near-empty stores cost ~1.6× the whole query (measured 2.9 s → 1.8 s
    // at 8 partitions, sf0.1). Production sizing scales this with keys,
    // which is exactly why it is a per-query parameter. Scoped set/restore
    // (the j03 pattern): batch queries keep the session's parallelism.
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    try {
      val q = df.writeStream.format("memory").queryName(view)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(view)
  }

  /** st01 — tumbling 1-hour event-time aggregation through the STREAMING
    * engine (StateStore-backed HashAggregate, complete mode): the w01
    * batch query and this one must converge to the identical table, which
    * is exactly what the shared DuckDB oracle asserts. Complete-mode
    * output is invariant to micro-batch placement, so the declared result
    * is deterministic even though a streaming engine is free to split the
    * backlog into any number of batches.
    */
  val st01 = QSpec(
    "st01_stream_tumbling",
    Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
            | event_type, COUNT(*) AS cnt,
            | CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS sum_value
            |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    (s, d) => {
      val agg = eventStream(s, d)
        .withColumn("ts_us", timestamp_micros(expr("ts div 1000")))
        .groupBy(window(col("ts_us"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), Exact.dsum(col("value"), 6).as("sum_value"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("cnt"), col("sum_value"))
      drainToTable(agg, "st01", d, "complete")
        .orderBy("hour_start", "event_type")
    })

  /** st02 — streaming exact dedup with watermark-bounded state
    * (`dropDuplicatesWithinWatermark`): the corpus-dedup primitive (d01/
    * d06) in its streaming form, the shape that makes dedup viable on an
    * unbounded 100 TB stream because keys older than the watermark are
    * evicted from state. Duplicates are planted by unioning the stream
    * with itself (every event arrives exactly twice, identical payload,
    * same event time — always within any watermark of each other), so the
    * deduped output must be exactly the distinct event set, which the
    * oracle checks row-for-row.
    */
  val st02 = QSpec(
    "st02_stream_dedup",
    Some("""SELECT event_id, user_id, event_type,
           |  epoch_us(ts) AS ts_us, value
           |FROM events ORDER BY event_id""".stripMargin),
    (s, d) => {
      val src = eventStream(s, d)
      val doubled = src.union(src)
        .withColumn("ts_event", timestamp_micros(expr("ts div 1000")))
        .withWatermark("ts_event", "2 hours")
      val deduped = doubled.dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts_us"), col("value"))
      drainToTable(deduped, "st02", d, "append")
        .orderBy("event_id")
    })

  /** st03 — stream-STATIC enrichment join, the third streaming operator
    * class next to stateful aggregation (st01) and stateful dedup (st02):
    * each streamed event is enriched against the static customer dimension
    * (user_id = c_custkey, market segment as the tier), then aggregated
    * per (segment, event_type). Stream-static joins are stateless on the
    * stream side — the static side is planned per micro-batch exactly like
    * a batch broadcast join — which is what makes enrichment viable on an
    * unbounded stream with zero state growth. Complete-mode output again
    * makes the declared result invariant to micro-batch placement.
    */
  val st03 = QSpec(
    "st03_stream_enrich",
    Some(s"""SELECT c.c_mktsegment AS segment, e.event_type,
            | COUNT(*) AS cnt,
            | CAST(SUM(CAST(e.value AS DECIMAL(18, 6))) AS DOUBLE) AS sum_value
            |FROM events e JOIN customer c ON e.user_id = c.c_custkey
            |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    (s, d) => {
      val dim = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      val enriched = eventStream(s, d)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), Exact.dsum(col("value"), 6).as("sum_value"))
      drainToTable(enriched, "st03", d, "complete")
        .orderBy("segment", "event_type")
    })

  /** st04 — stream-STREAM inner join (the fourth streaming operator
    * class: symmetric-hash join with keyed state on both sides): views
    * joined to purchases of the same user within the following hour —
    * the attribution query every event pipeline runs. The range compare
    * is quantized to µs TICKS in BOTH engines (the j06 precision rule:
    * DuckDB truncates the ns column to µs on read, and a membership
    * predicate like `p − v ≤ 1h` can flip on sub-µs deltas with no
    * same-key collision anywhere — raw-ns compares are only sound for
    * ORDERING-based matches like j01), with
    * event-time watermarks on both inputs; the watermark delay is set
    * beyond the fixture's span so no state is evicted regardless of how
    * AvailableNow slices the backlog — making the emitted pair set
    * exactly the batch join result (inner-join pairs are emitted exactly
    * once). Production tightens the delay to bound state; the semantics
    * of what's emitted per pair are identical. The declared output
    * aggregates the drained pairs per user.
    */
  val st04 = QSpec(
    "st04_stream_stream_join",
    Some("""SELECT v.user_id, CAST(COUNT(*) AS BIGINT) AS pairs,
           |  MIN(p.event_id) AS first_purchase_id
           |FROM events v JOIN events p
           |  ON v.user_id = p.user_id
           | AND epoch_us(p.ts) >= epoch_us(v.ts)
           | AND epoch_us(p.ts) <= epoch_us(v.ts) + 3600000000
           |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, d) => {
      val src = eventStream(s, d)
      val views = src.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), expr("ts div 1000").as("ts_v"),
          timestamp_micros(expr("ts div 1000")).as("et_v"))
        .withWatermark("et_v", "30 days")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), expr("ts div 1000").as("ts_p"),
          col("event_id").as("purchase_id"),
          timestamp_micros(expr("ts div 1000")).as("et_p"))
        .withWatermark("et_p", "30 days")
      val joined = views.join(purchases,
        col("v_user") === col("p_user") &&
          col("ts_p") >= col("ts_v") &&
          col("ts_p") <= col("ts_v") + lit(3600000000L))
        .select(col("v_user").as("user_id"), col("purchase_id"))
      drainToTable(joined, "st04", d, "append")
        .groupBy("user_id")
        .agg(count(lit(1)).as("pairs"),
          min(col("purchase_id")).as("first_purchase_id"))
        .orderBy("user_id")
    })

  /** st05 — CUSTOM-STATE streaming sessionization as a declared query:
    * [[graft.streaming.EventStreams.closedSessions]]
    * (flatMapGroupsWithState, event-time timeout) drained with
    * AvailableNow. Emission semantics are exactly reproducible in SQL:
    * a session is emitted either when a LATER event of the same user
    * opens the next one (gap ≥ 30 min — islands below), or when the
    * final watermark (max event time − 2 h delay) strictly passes its
    * event-time timeout (end + gap) — Spark fires EventTimeTimeout on
    * `timeout < watermark`, and the no-data micro-batch that
    * AvailableNow runs after the backlog guarantees that final flush
    * happens. Each user's still-open last session is correctly NOT
    * emitted. All comparisons are on ms integers (Spark's event-time
    * stats granularity), so both engines make identical boundary
    * decisions.
    */
  val st05 = QSpec(
    "st05_stream_sessionize",
    Some("""WITH e AS (
           |  SELECT user_id, ts, event_id, epoch_ms(ts) AS ms FROM events
           |), f AS (
           |  SELECT user_id, ts, event_id, ms,
           |    CASE WHEN LAG(ms) OVER w IS NULL OR ms - LAG(ms) OVER w >= 1800000
           |         THEN 1 ELSE 0 END AS new_s
           |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |), s AS (
           |  SELECT user_id, ms,
           |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                     ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM f
           |), g AS (
           |  SELECT user_id, sid, MIN(ms) AS start_ms, MAX(ms) AS end_ms,
           |    CAST(COUNT(*) AS BIGINT) AS n_events,
           |    MAX(sid) OVER (PARTITION BY user_id) AS max_sid
           |  FROM s GROUP BY user_id, sid
           |), m AS (SELECT MAX(epoch_ms(ts)) AS max_ms FROM events)
           |SELECT user_id, start_ms, end_ms, n_events
           |FROM g, m
           |WHERE sid < max_sid OR end_ms + 1800000 < max_ms - 7200000
           |ORDER BY user_id, start_ms""".stripMargin),
    (s, d) => {
      import s.implicits._
      val typed = eventStream(s, d)
        .select(col("event_id"),
          timestamp_micros(expr("ts div 1000")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .as[graft.streaming.EventRow]
      val sessions = graft.streaming.EventStreams
        .closedSessions(typed, gapMinutes = 30, watermark = "2 hours")
        .toDF()
      drainToTable(sessions, "st05", d, "append")
        .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
        .orderBy("user_id", "start_ms")
    })

  /** st06 — LATE-DATA ACCOUNTING through the oracle gate: a three-batch
    * file backlog (parquet files, modTime-ordered, drained one per
    * micro-batch via `maxFilesPerTrigger=1`) whose LAST file carries
    * 30-day-late copies of batch 1's rows. After batch 1 the watermark
    * is max(batch-1 event time) − 1 h; batch 2's on-time rows (shifted
    * ≥ max) land ≥ 1 h above it, and batch 3's planted rows sit 30 days
    * below — no boundary-straddling anywhere, so both engines can
    * predict the drop set exactly. Three batches, not two, because
    * Spark's late-record filter deliberately lags one micro-batch (it
    * filters with the PREVIOUS batch's watermark —
    * `watermarkForLateEvents` — so reading both files in two batches
    * would admit the late rows with filter-watermark still at its
    * initial value; pinned empirically on 4.1).
    *
    * Two things are oracle-checked: (1) the hourly counts in UPDATE mode
    * — the memory sink accumulates one row per updated window per batch,
    * and `max(cnt)` per window reconstructs the final state because
    * streaming counts only grow; (2) the engine's own accounting —
    * `numRowsDroppedByWatermark` summed over the run's progress events,
    * emitted as a `LATE_DROPPED` summary row. The metric counts rows
    * dropped AT THE STATEFUL OPERATOR, which sits downstream of the
    * partial aggregation — so it counts dropped (window, partial) rows,
    * not raw input events (measured: 5 000 late events → 720 = the
    * distinct late windows). With each backlog batch being one coalesced
    * file (one map task → exactly one partial row per window), that
    * equals COUNT(DISTINCT late window), which is what the oracle
    * predicts. This is the metric a production pipeline alarms on;
    * EventStreams' MemoryStream tests remain the live-trigger twin.
    */
  val st06 = QSpec(
    "st06_stream_late_drop",
    Some("""WITH ev AS (SELECT event_id, epoch_ms(ts) AS ms FROM events),
           |even AS (SELECT * FROM ev WHERE event_id % 2 = 0),
           |m AS (SELECT MAX(ms) AS m FROM even),
           |ontime AS (
           |  SELECT ms FROM even
           |  UNION ALL
           |  SELECT m.m + (event_id % 1000) * 1000 AS ms
           |  FROM ev, m WHERE event_id % 2 <> 0),
           |agg AS (
           |  SELECT strftime(date_trunc('hour', make_timestamp(ms * 1000)),
           |                  '%Y-%m-%d %H:%M:%S') AS hour_start,
           |    CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM ontime GROUP BY 1)
           |SELECT hour_start, cnt FROM agg
           |UNION ALL
           |SELECT 'LATE_DROPPED', CAST(COUNT(DISTINCT
           |    date_trunc('hour', make_timestamp((ms - 2592000000) * 1000)))
           |  AS BIGINT)
           |FROM even
           |ORDER BY hour_start""".stripMargin),
    (s, d) => {
      val evMs = events(s, d)
        .select(col("event_id"), expr("ts div 1000000").as("ms"))
      val even = evMs.filter(col("event_id") % 2 === 0)
      val m = even.agg(max("ms")).head.getLong(0) // O(1) driver fetch
      val batch1 = even
        .select(col("event_id"), timestamp_millis(col("ms")).as("et"))
      val onTime = evMs.filter(col("event_id") % 2 =!= 0)
        .select(col("event_id"),
          timestamp_millis(lit(m) + (col("event_id") % 1000) * 1000).as("et"))
      val late = even.select((col("event_id") + 1000000000L).as("event_id"),
        timestamp_millis(col("ms") - lit(30L * 24 * 3600 * 1000)).as("et"))
      val backlog = batchBacklog(s, d, "st06", batch1, onTime, late)

      val stream = s.readStream
        .schema(StructType(Seq(StructField("event_id", LongType),
          StructField("et", TimestampType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(backlog)
        .withWatermark("et", "1 hour")
        .groupBy(window(col("et"), "1 hour").as("w"))
        .agg(count(lit(1)).as("cnt"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour_start"), col("cnt"))
      val (updates, dropped) = drainWithDropCount(stream, "st06", d, "update")
      updates.groupBy("hour_start").agg(max(col("cnt")).as("cnt"))
        .unionByName(s.range(1).select(lit("LATE_DROPPED").as("hour_start"),
          lit(dropped).as("cnt")))
        .orderBy("hour_start")
    })

  /** st07 — stream-stream LEFT OUTER join: the streaming operator class
    * st04 (inner) doesn't cover — unmatched left rows are held in state
    * and emitted null-extended only when the watermark proves no match
    * can still arrive. Determinism needs every outer state to FLUSH
    * before the query ends, so the backlog appends typed watermark
    * HEARTBEAT batches 30/60 days past the fixture (see the pusher
    * comment below — each side's watermark only advances on rows that
    * survive that side's type filter): after they drain, the final
    * micro-batch's watermark postdates every view's expiry, so the
    * drained result equals the batch left-outer join exactly — views
    * with an in-window purchase emit pairs, views without emit one null
    * row, nothing is stranded in state. Unlike st04's raw-µs condition, the range condition here
    * MUST be on the watermarked timestamp columns — outer joins refuse
    * to plan without an event-time constraint to derive state expiry
    * from. Output: per-user matched-pair and unmatched-view counts.
    */
  val st07 = QSpec(
    "st07_stream_outer_join",
    Some("""WITH v AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS ts_v
           |          FROM events WHERE event_type = 'view'),
           |p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS ts_p
           |      FROM events WHERE event_type = 'purchase'),
           |j AS (SELECT v.user_id, v.view_id, p.purchase_id
           |      FROM v LEFT JOIN p ON v.user_id = p.user_id
           |       AND p.ts_p >= v.ts_v AND p.ts_p <= v.ts_v + 3600000000)
           |SELECT user_id, CAST(COUNT(purchase_id) AS BIGINT) AS n_matched,
           |  CAST(SUM(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_unmatched
           |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin),
    (s, d) => {
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), expr("ts div 1000").as("ts_us"))
      val maxUs = ev.agg(max("ts_us")).head.getLong(0) // O(1) driver fetch
      val base = ev.withColumn("et", timestamp_micros(col("ts_us")))
      // Watermark-heartbeat batches: each side's watermark operator only
      // sees rows that SURVIVE that side's type filter (Catalyst pushes
      // the deterministic filter below EventTimeWatermark), so a
      // neutral-typed pusher row would advance nothing and the last
      // ~delay of views would stay stranded in state. The heartbeats are
      // therefore typed 'view' and 'purchase' for a sentinel user (−1,
      // matches nothing; 30 d apart so they can't pair with each other),
      // exactly the production pattern for keeping watermarks moving on
      // sparse streams; the sentinel is filtered from the drained result.
      def pusher(us: Long, typ: String) = s.range(1).select(
        lit(-1L).as("event_id"), lit(-1L).as("user_id"),
        lit(typ).as("event_type"), lit(us).as("ts_us"),
        timestamp_micros(lit(us)).as("et"))
      val backlog = batchBacklog(s, d, "st07", base,
        pusher(maxUs + 2592000000000L, "view"),
        pusher(maxUs + 2L * 2592000000000L, "purchase"))
      val stream = s.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog)
      val views = stream
        .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
          col("event_type").as("v_type"), col("et").as("et_v"))
        .withWatermark("et_v", "1 hour")
        .filter(col("v_type") === "view")
      val purchases = stream
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("event_type").as("p_type"), col("et").as("et_p"))
        .withWatermark("et_p", "1 hour")
        .filter(col("p_type") === "purchase")
      val joined = views.join(purchases,
          col("v_user") === col("p_user") &&
            col("et_p") >= col("et_v") &&
            col("et_p") <= col("et_v") + expr("INTERVAL 1 HOUR"),
          "left_outer")
        .select(col("v_user").as("user_id"), col("purchase_id"))
      drainToTable(joined, "st07", d, "append")
        .filter(col("user_id") >= 0) // drop the sentinel heartbeats
        .groupBy("user_id")
        .agg(count(col("purchase_id")).as("n_matched"),
          sum(when(col("purchase_id").isNull, 1).otherwise(0)).cast("long")
            .as("n_unmatched"))
        .orderBy("user_id")
    })

  /** Materializes DataFrames as an N-file backlog dir (one parquet file
    * each, modTimes 2 min apart so the file source's oldest-first order
    * is deterministic) and returns the dir path. Rebuilt from scratch on
    * every call — the bench's min-of-2 must not see stale files.
    */
  private def batchBacklog(s: org.apache.spark.sql.SparkSession,
      d: String, qname: String, batches: DataFrame*): String = {
    import java.nio.file.{Files, Paths}
    val root = Tables.scratch(d, s"${qname}_backlog")
    def materialize(df: DataFrame, idx: Int): Unit = {
      val tmp = s"$root/_stage$idx"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val dst = Paths.get(root, f"batch-$idx%05d.parquet")
      Files.deleteIfExists(dst)
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(1000000L + idx * 120000L)
    }
    val rootDir = new java.io.File(root)
    if (rootDir.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(rootDir)
    }
    rootDir.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) => materialize(b, i) }
    root
  }

  /** [[drainToTable]] plus the run's watermark accounting: returns the
    * drained table and the sum of `numRowsDroppedByWatermark` across all
    * stateful operators and micro-batches.
    */
  private def drainWithDropCount(df: DataFrame, name: String, d: String,
      mode: String, statePartitions: Int = 8): (DataFrame, Long) = {
    val s = df.sparkSession
    val view = s"__graft_${name}_${new java.io.File(d).getName.replaceAll("[^A-Za-z0-9_]", "_")}"
    s.catalog.dropTempView(view)
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    val dropped = try {
      val q = df.writeStream.format("memory").queryName(view)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsDroppedByWatermark).sum
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    (s.table(view), dropped)
  }

  /** st08 — streaming CDC upsert through a foreachBatch MERGE sink: the
    * streaming form of w10's batch apply, and the one streaming operator
    * class st01–st07 don't cover — STATE IN THE SINK rather than in the
    * engine. Each micro-batch merges into a versioned parquet state table
    * (read current → union → latest-wins per key → write next → atomic
    * swap), the exact pattern a lakehouse MERGE INTO runs per ingest
    * cycle, expressed engine-agnostically with plain parquet.
    *
    * Determinism under any micro-batch placement: latest-row-per-key with
    * the (ts µs, event_id) TOTAL order is a semilattice fold — merging
    * incrementally over any partition of the rows yields the same final
    * row per key — provided DELETE rows are retained in state as
    * TOMBSTONES (dropping them early would let an older row in a later
    * batch resurrect the key). The final read filters tombstones, so the
    * drained state equals w10's one-shot batch apply over the full log,
    * which is exactly what the shared oracle shape asserts per user.
    */
  /** st08's per-batch MERGE step, exposed for the fold-invariance
    * property test: latest row per `user_id` under the (ts_us, event_id)
    * total order, DELETE tombstones retained. Folding any partition of a
    * changelog through this in any batch arrangement yields the same
    * final state (semilattice: argmax per key under a total order).
    */
  private[operators] def cdcMergeStep(state: Option[DataFrame],
      batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val unioned = state.map(_.unionByName(batch)).getOrElse(batch)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    unioned.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  val st08 = QSpec(
    "st08_stream_cdc_upsert",
    Some("""WITH u AS (
           |  SELECT user_id, event_id, event_type, value, ts,
           |    CASE WHEN ts >= TIMESTAMP '2024-01-08' AND event_id % 17 = 0
           |         THEN 'D' ELSE 'U' END AS op
           |  FROM events
           |), r AS (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
           |                               ORDER BY ts DESC, event_id DESC) AS rn
           |  FROM u)
           |SELECT user_id, event_id AS state_event_id,
           |  event_type AS state_type, value AS state_value
           |FROM r WHERE rn = 1 AND op = 'U' ORDER BY user_id""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cutoffNs = 1704672000000000000L // 2024-01-08T00:00:00Z, epoch ns
      val ev = events(s, d)
      // three backlog slices → three REAL incremental merge cycles
      val slices = (0 to 2).map(i => ev.filter(col("event_id") % 3 === i))
      val backlog = batchBacklog(s, d, "st08", slices: _*)
      // CLUSTER NOTE: the state commit below (write `next`, POSIX-rename
      // onto `current`) is a single-node sandbox simulation of a
      // transactional table commit. The MERGE itself (cdcMergeStep: a
      // distributed join + window) is scale-correct as-is, but on a real
      // cluster the atomic swap must be a table-format commit (Delta/
      // Iceberg MERGE INTO, whose manifest swap is the same latest-wins
      // contract) or the engine's checkpointed state store — an
      // object-store rename is neither atomic nor cross-node visible.
      // Do not lift the File.renameTo pattern off this harness. SCALE.md
      // ("Streaming at 100 TB") has the full mapping.
      val stateRoot = new java.io.File(Tables.scratch(d, "st08_state"))
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(stateRoot); stateRoot.mkdirs()
      val current = new java.io.File(stateRoot, "current")
      val next = new java.io.File(stateRoot, "next")

      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog)
        .withColumn("op", when(
          col("ts") >= cutoffNs && col("event_id") % 17 === 0, "D")
          .otherwise("U"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), expr("ts div 1000").as("ts_us"), col("op"))

      val prevConf = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = stream.writeStream.trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], _: Long) =>
            val sess = batch.sparkSession
            // µs-tick total order (the w10/j06 precision rule); tombstones
            // survive the merge — only the final projection drops them
            val state =
              if (current.isDirectory)
                Some(sess.read.parquet(current.getAbsolutePath))
              else None
            cdcMergeStep(state, batch)
              .write.mode("overwrite").parquet(next.getAbsolutePath)
            rm(current)
            if (!next.renameTo(current)) sys.error(
              s"state swap failed: $next -> $current")
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevConf)

      s.read.parquet(current.getAbsolutePath)
        .filter(col("op") === "U")
        .select(col("user_id"), col("event_id").as("state_event_id"),
          col("event_type").as("state_type"), col("value").as("state_value"))
        .orderBy("user_id")
    })

  /** st09 — OHLC bars through the STREAMING engine: the st-twin of w13,
    * and a deliberately DIFFERENT formulation converging to the IDENTICAL
    * oracle table — open/close come from `min_by`/`max_by` over the
    * unique (t_us, event_id) struct key (streaming state can't run w13's
    * row_number windows; an order-keyed extremum aggregate is the
    * streaming-native way to say "first/last by event time", and complete
    * mode makes the result invariant to micro-batch placement). One keyed
    * StateStore aggregate; state per (user, hour) is O(1) — six scalars —
    * exactly the footprint a 100 TB bar-builder carries per open bucket.
    */
  val st09 = QSpec(
    "st09_stream_ohlc",
    Some("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
           |    epoch_us(ts) // 3600000000 AS hour,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
           |  FROM events WHERE event_type = 'purchase'),
           |r AS (SELECT user_id, hour, c,
           |    ROW_NUMBER() OVER (PARTITION BY user_id, hour
           |                       ORDER BY t_us, event_id) AS rna,
           |    ROW_NUMBER() OVER (PARTITION BY user_id, hour
           |                       ORDER BY t_us DESC, event_id DESC) AS rnd
           |  FROM p)
           |SELECT user_id, CAST(hour AS BIGINT) AS hour,
           |  CAST(MAX(CASE WHEN rna = 1 THEN c END) AS BIGINT) AS open_cents,
           |  CAST(MAX(c) AS BIGINT) AS high_cents,
           |  CAST(MIN(c) AS BIGINT) AS low_cents,
           |  CAST(MAX(CASE WHEN rnd = 1 THEN c END) AS BIGINT) AS close_cents,
           |  CAST(COUNT(*) AS BIGINT) AS n_trades,
           |  CAST(SUM(c) AS BIGINT) AS vol_cents
           |FROM r GROUP BY user_id, hour ORDER BY user_id, hour""".stripMargin),
    (s, d) => {
      val p = eventStream(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("t_us"),
          (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            * lit(100)).cast("long").as("c"))
        .withColumn("hour", expr("t_us div 3600000000"))
        .withColumn("ord", struct(col("t_us"), col("event_id")))
      val agg = p.groupBy("user_id", "hour")
        .agg(min_by(col("c"), col("ord")).as("open_cents"),
          max(col("c")).as("high_cents"),
          min(col("c")).as("low_cents"),
          max_by(col("c"), col("ord")).as("close_cents"),
          count(lit(1)).as("n_trades"),
          sum(col("c")).as("vol_cents"))
      drainToTable(agg, "st09", d, "complete")
        .orderBy("user_id", "hour")
    })

  /** st10 — rolling z-score anomaly flags through the STREAMING engine
    * (w14's st-twin): [[graft.streaming.EventStreams.rollingAnomalies]]
    * carries each user's trailing-8 baseline as a BOUNDED ring-buffer
    * state — eight longs per key, the O(1) streaming-feature-store
    * footprint — across a three-batch event-TIME-sliced backlog
    * (`maxFilesPerTrigger=1`), i.e. the per-key ordered-log ingest shape.
    * The slice cutoffs are thirds of the observed purchase time range
    * (two O(1) driver fetches, the st06 pattern), so batches arrive in
    * event-time order and the cross-batch ring state reproduces w14's
    * batch window EXACTLY — which is what the shared oracle asserts: the
    * same integer compare, the same flag set, bit-identical.
    */
  val st10 = QSpec(
    "st10_stream_zscore",
    Some("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
           |  FROM events WHERE event_type = 'purchase'),
           |w AS (SELECT user_id, event_id, c,
           |    COUNT(*) OVER win AS n,
           |    SUM(c) OVER win AS s,
           |    SUM(c*c) OVER win AS sq
           |  FROM p
           |  WINDOW win AS (PARTITION BY user_id ORDER BY t_us, event_id
           |                 ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
           |SELECT user_id, event_id, c, CAST(s AS BIGINT) AS base_sum,
           |  CAST(sq AS BIGINT) AS base_sumsq,
           |  CAST(CASE WHEN (c*8 - s)*(c*8 - s) > 9*(8*sq - s*s)
           |       THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
           |FROM w WHERE n = 8 ORDER BY user_id, event_id""".stripMargin),
    (s, d) => {
      import s.implicits._
      val p = events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("t_us"),
          (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            * lit(100)).cast("long").as("c"))
      val backlog = tercileBacklog(s, d, "st10", p, "t_us")
      val stream = s.readStream.schema(p.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog)
        .as[graft.streaming.EventStreams.PurchaseCents]
      val flags = graft.streaming.EventStreams.rollingAnomalies(stream).toDF()
      drainToTable(flags, "st10", d, "append")
        .select(col("user_id"), col("event_id"), col("c"),
          col("base_sum"), col("base_sumsq"), col("is_anomaly"))
        .orderBy("user_id", "event_id")
    })

  /** st11 — SLIDING (hopping) event-time window through the STREAMING
    * engine: w05's st-twin, closing the window-kind gap in the st-suite
    * (st01 covers tumbling, st05/w02 sessions — sliding was the one
    * missing grid). The streaming engine expands each event into its 4
    * overlapping windows exactly like the batch Expand, then runs the
    * same StateStore-backed aggregate as st01; complete mode makes the
    * declared table invariant to micro-batch placement, so the shared
    * DuckDB oracle is w05's VERBATIM — the strongest convergence claim
    * (streaming result ≡ batch result ≡ oracle, bit-identical). State is
    * one row per open (window × 4 overlap) bucket, the same bounded
    * footprint a production hopping-window aggregation carries.
    */
  val st11 = QSpec(
    "st11_stream_sliding",
    Some("""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS t, value FROM events),
           |w AS (SELECT t, value,
           |        time_bucket(INTERVAL '30 minutes', t) - (k * INTERVAL '30 minutes') AS wstart
           |      FROM e, UNNEST(range(0, 4)) AS x(k))
           |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           | COUNT(*) AS cnt,
           | CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS sum_value
           |FROM w GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, d) => {
      val agg = eventStream(s, d)
        .withColumn("ts_us", timestamp_micros(expr("ts div 1000")))
        .groupBy(window(col("ts_us"), "2 hours", "30 minutes").as("w"))
        .agg(count(lit(1)).as("cnt"), Exact.dsum(col("value"), 6).as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"), col("cnt"), col("sum_value"))
      drainToTable(agg, "st11", d, "complete")
        .orderBy("window_start")
    })

  /** Shared helper for the ordered-log st-twins (st10/st12/st13): slices
    * `df` into a three-file backlog by event-time terciles of `tCol`
    * (two O(1) driver fetches — the st06 pattern), so micro-batches
    * arrive in per-key event-time order and O(1) ring/interval state
    * reproduces the batch window exactly.
    */
  private def tercileBacklog(s: org.apache.spark.sql.SparkSession, d: String,
      qname: String, df: DataFrame, tCol: String): String = {
    val Array(lo, hi) = df.agg(min(tCol), max(tCol)).head() match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
    batchBacklog(s, d, qname,
      df.filter(col(tCol) < c1),
      df.filter(col(tCol) >= c1 && col(tCol) < c2),
      df.filter(col(tCol) >= c2))
  }

  /** st12 — SCD2 interval history through the STREAMING engine (w09's
    * st-twin, the harder state shape the round-11 notes flagged: an OPEN
    * interval per key, closed by the next state change):
    * [[graft.streaming.EventStreams.scd2ClosedIntervals]] carries
    * (value, start, count) per user and emits an interval exactly when a
    * type change closes it — the emitted valid_to_us IS w09's
    * LEAD(valid_from). Each user's final interval is still open when the
    * backlog drains and is correctly NOT emitted (the st05 contract), so
    * the oracle is w09's construction restricted to closed rows. Backlog
    * is event-time-tercile-sliced ([[tercileBacklog]]), the per-key
    * ordered-log ingest shape; within-batch rows are sorted in the state
    * function.
    */
  val st12 = QSpec(
    "st12_stream_scd2",
    Some("""WITH e AS (
           |  SELECT user_id, event_id, event_type, ts,
           |    CASE WHEN LAG(event_type) OVER w IS NULL
           |              OR event_type <> LAG(event_type) OVER w
           |         THEN 1 ELSE 0 END AS chg
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |), i AS (
           |  SELECT user_id, event_type, ts,
           |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                   ROWS UNBOUNDED PRECEDING) AS island
           |  FROM e
           |), g AS (
           |  SELECT user_id, island, event_type,
           |    MIN(epoch_us(ts)) AS valid_from_us,
           |    CAST(COUNT(*) AS BIGINT) AS n_events
           |  FROM i GROUP BY 1, 2, 3
           |), h AS (
           |  SELECT user_id, event_type, valid_from_us,
           |    LEAD(valid_from_us) OVER (PARTITION BY user_id ORDER BY island)
           |      AS valid_to_us,
           |    n_events
           |  FROM g)
           |SELECT user_id, event_type, valid_from_us, valid_to_us, n_events
           |FROM h WHERE valid_to_us IS NOT NULL
           |ORDER BY user_id, valid_from_us""".stripMargin),
    (s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("t_us"), col("event_type"))
      val backlog = tercileBacklog(s, d, "st12", ev, "t_us")
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog)
        .as[graft.streaming.EventStreams.TypedEvent]
      val closed = graft.streaming.EventStreams.scd2ClosedIntervals(stream).toDF()
      drainToTable(closed, "st12", d, "append")
        .select(col("user_id"), col("event_type"), col("valid_from_us"),
          col("valid_to_us"), col("n_events"))
        .orderBy("user_id", "valid_from_us")
    })

  /** st13 — time-decayed sum through the STREAMING engine (w11's st-twin,
    * verdict directive #4): [[graft.streaming.EventStreams.decayedSums]]
    * carries the last ≤ 7 cents per user as ring state and emits
    * Σ_{k=0..7} c_{i−k}·(10⁷/2ᵏ) BIGINT nanos per purchase — the same
    * exact integer weights as the batch window, so the drained table is
    * bit-identical to w11's and the oracle is w11's VERBATIM. Backlog and
    * ordering contract as st10/st12 (event-time terciles, within-batch
    * sort); state is eight longs per user, the O(1) streaming
    * feature-store footprint.
    */
  val st13 = QSpec(
    "st13_stream_decayed_sum",
    Some("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
           |  FROM events WHERE event_type = 'purchase'),
           |l AS (SELECT event_id, user_id, t_us, c,
           |    LAG(c, 1) OVER w AS c1, LAG(c, 2) OVER w AS c2,
           |    LAG(c, 3) OVER w AS c3, LAG(c, 4) OVER w AS c4,
           |    LAG(c, 5) OVER w AS c5, LAG(c, 6) OVER w AS c6,
           |    LAG(c, 7) OVER w AS c7
           |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id))
           |SELECT event_id, user_id, t_us,
           |  CAST(c * 10000000 + COALESCE(c1, 0) * 5000000
           |    + COALESCE(c2, 0) * 2500000 + COALESCE(c3, 0) * 1250000
           |    + COALESCE(c4, 0) * 625000 + COALESCE(c5, 0) * 312500
           |    + COALESCE(c6, 0) * 156250 + COALESCE(c7, 0) * 78125
           |    AS BIGINT) AS decayed_nanos
           |FROM l ORDER BY event_id""".stripMargin),
    (s, d) => {
      import s.implicits._
      val p = events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("t_us"),
          (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
            * lit(100)).cast("long").as("c"))
      val backlog = tercileBacklog(s, d, "st13", p, "t_us")
      val stream = s.readStream.schema(p.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog)
        .as[graft.streaming.EventStreams.PurchaseCents]
      val decayed = graft.streaming.EventStreams.decayedSums(stream).toDF()
      drainToTable(decayed, "st13", d, "append")
        .select(col("event_id"), col("user_id"), col("t_us"),
          col("decayed_nanos"))
        .orderBy("event_id")
    })

  /** st14 — latest-record-per-key through the STREAMING engine (w07's
    * st-twin): [[graft.streaming.EventStreams.latestPerKey]] maintains the
    * per-user argmax under the (t_us µs-tick, event_id) total order as
    * O(1) keyed state — the incrementally-maintained CDC current-state
    * view, vs w07's full-log window recompute. argmax under a total order
    * is a semilattice fold, so the final state needs NO ordering contract:
    * the backlog is sliced by event_id RESIDUE (deliberately scrambling
    * event time across batches), and the drained result must still equal
    * w07's batch answer. Update-mode emission appends every state change
    * to the sink; the final state per user is recovered from the drained
    * updates by the same total order (the st06 max-reconstruction
    * pattern — sound because every emitted row is a prefix-maximum, so
    * the overall maximum IS the final state).
    */
  val st14 = QSpec(
    "st14_stream_latest_per_key",
    Some("""WITH r AS (SELECT user_id, event_id, event_type, value,
           |    ROW_NUMBER() OVER (PARTITION BY user_id
           |                       ORDER BY ts DESC, event_id DESC) AS rn
           |  FROM events)
           |SELECT user_id, event_id AS last_event_id,
           |  event_type AS last_event_type, value AS last_value
           |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin),
    (s, d) => {
      import s.implicits._
      val ev = events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("t_us"), col("event_type"), col("value"))
      // event_id-residue slices: each batch spans the full time range, so
      // the semilattice invariance (NOT arrival order) is what's exercised
      val backlog = batchBacklog(s, d, "st14",
        ev.filter(col("event_id") % 3 === 0),
        ev.filter(col("event_id") % 3 === 1),
        ev.filter(col("event_id") % 3 === 2))
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog)
        .as[graft.streaming.EventStreams.FullEvent]
      val updates = graft.streaming.EventStreams.latestPerKey(stream).toDF()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("t_us").desc, col("event_id").desc)
      drainToTable(updates, "st14", d, "update")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"), col("value").as("last_value"))
        .orderBy("user_id")
    })

  /** st15 — streaming MinHash-LSH near-dup detection (d02's st-twin, the
    * INGEST-time form of corpus dedup): each arriving micro-batch's docs
    * are banded into their LSH buckets in-stream (the same fused shingle +
    * xxhash64 band keys as the batch path —
    * [[graft.llm.Dedup.streamBandKeys]]) and checked against per-bucket
    * membership state ([[graft.streaming.DocStreams.lshCandidatePairs]]) —
    * d02's bucket self-join with the bucket index held as KEYED STATE
    * instead of re-shuffled per run, i.e. d13's persisted LSH index
    * maintained incrementally by the streaming engine. The drained
    * candidate pairs (dedup'd across bands, the batch path's `.distinct()`)
    * then pass the SAME pair-proportional exact-Jaccard verify stage, and
    * the oracle is d02's exact ALL-PAIRS SQL — streaming recall is pinned
    * against brute force, not against the batch LSH. The backlog slices by
    * doc_id RESIDUE (every batch spans the whole corpus): per-bucket pair
    * enumeration makes the emitted pair SET placement-invariant (each
    * unordered pair emits when its later member arrives), which the shared
    * hash gate proves, not just asserts.
    */
  val st15 = QSpec(
    "st15_stream_lsh_dedup",
    LlmOps.d02.oracle,
    (s, d) => streamLshDedup(s, d, "st15", nTables = 8, rowsPerBand = 3)._2)

  /** st15's parameterized core — the (nTables, rowsPerBand) BANDING DIAL
    * exposed as an argument instead of prose (round-12 directive #2):
    * r trades state/key traffic against candidate volume exactly as in
    * the batch path ([[graft.llm.Dedup.minhashPairs]]'s banding analysis
    * — b ≈ 42 keys/doc at r = 3 vs 8 at r = 1, against background
    * candidates suppressed by J^r), under the SAME (1−θ^r)^b ≤ (1−θ)^8
    * recall budget by construction. Both shipped settings verify to the
    * identical exact-Jaccard pair set on the synthetic corpora
    * (StreamDialSpec pins it; SCALE.md records the measured traffic).
    * Returns (raw drained candidate emissions, verified pairs) so the
    * dial's cost — emissions BEFORE pair-dedup — is measurable, not
    * inferred.
    */
  private[graft] def streamLshDedup(s: org.apache.spark.sql.SparkSession,
      d: String, tag: String, nTables: Int, rowsPerBand: Int)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val backlog = batchBacklog(s, d, tag,
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2))
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(backlog)
    val keys = graft.llm.Dedup.streamBandKeys(stream, "doc_id", "text", 0.5,
        nTables, rowsPerBand)
      .as[graft.streaming.BandKeyRow]
    val cands = graft.streaming.DocStreams.lshCandidatePairs(keys).toDF()
    val raw = drainToTable(cands, tag, d, "append")
    val pairs = raw.select("doc_a", "doc_b").distinct()
    (raw,
      graft.llm.Dedup.verifyCandidatePairs(docs, pairs, "doc_id", "text", 0.5)
        .orderBy("doc_a", "doc_b"))
  }

  /** st16 — streaming exact-dedup KEEPER INDEX (d06's st-twin,
    * [[graft.streaming.DocStreams.fpKeeperUpdates]]): each arriving
    * document's 128-bit fingerprint probes per-fp state holding
    * (keeper = min id so far, copies so far) — d17's persisted exact
    * index maintained INCREMENTALLY by the streaming engine, the
    * ingest-time "have we seen this document?" gate in front of a 100 TB
    * corpus. Duplicate arrivals emit keeper REVISIONS (one row per
    * fp-batch, not per doc) and the drained revision log compacts to
    * exactly d06's (fp, keeper_id, n_copies) table under min/max — the
    * oracle is d06's, shared verbatim, so batch-placement invariance is
    * proven by the hash gate, not asserted. The backlog slices by doc_id
    * residue in DESCENDING residue order, so later batches carry smaller
    * ids and keepers genuinely revise across batches rather than landing
    * right on the first write.
    */
  val st16 = QSpec(
    "st16_stream_exact_dedup_index",
    LlmOps.d06.oracle,
    (s, d) => {
      import s.implicits._
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val backlog = batchBacklog(s, d, "st16",
        docs.filter(col("doc_id") % 3 === 2),
        docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 0))
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog)
      val rows = stream.select(
        graft.llm.TextAnalysis.fingerprint(col("text")).as("fp"),
        col("doc_id").as("id")).as[graft.streaming.FpRow]
      val upd = graft.streaming.DocStreams.fpKeeperUpdates(rows).toDF()
      drainToTable(upd, "st16", d, "append")
        .groupBy("fp")
        .agg(min("keeper_id").as("keeper_id"), max("n_copies").as("n_copies"))
        .orderBy("keeper_id")
    })

  /** st17 — streaming geo ZONE TAGGING (j11's st-twin, the geofencing
    * form every location pipeline runs at ingest: "which service areas
    * cover this arriving point"). The static zone side pre-reduces to
    * j11's collapsed corner-cell table and is planned per micro-batch
    * exactly like st03's dimension broadcast; each arriving point
    * equi-joins its single grid cell — stateless per-row candidate work,
    * zero stream-side state growth — and the only stateful step is the
    * final per-point min/sum aggregate
    * ([[graft.joins.GeoJoin.zoneTagEachRow]]): O(1) state per point id,
    * convergent in complete mode because every candidate zone for a
    * point arrives in the point's own micro-batch. The oracle is j11's
    * SQL verbatim — the backlog slices by id residue, and the hash gate
    * proves placement invariance rather than asserting it.
    */
  val st17 = QSpec(
    "st17_stream_zone_tag",
    CorpusOps.j11.oracle,
    (s, d) => {
      val pts = customer(s, d).select(col("c_custkey").as("id"),
        (((col("c_custkey") * 7) % 180).cast("double") - 90 + 0.25).as("lat"),
        (((col("c_custkey") * 13) % 360).cast("double") - 180 + 0.5).as("lon"))
      val backlog = batchBacklog(s, d, "st17",
        pts.filter(col("id") % 3 === 0),
        pts.filter(col("id") % 3 === 1),
        pts.filter(col("id") % 3 === 2))
      val stream = s.readStream.schema(pts.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog)
      val zones = supplier(s, d).select(col("s_suppkey").as("zone_id"),
        (((col("s_suppkey") * 23) % 140).cast("double") - 70).as("lat0"),
        (((col("s_suppkey") * 29) % 300).cast("double") - 150).as("lon0"))
      val tagged = graft.joins.GeoJoin.zoneTagEachRow(stream,
        "id", "lat", "lon", zones, "zone_id", "lat0", "lon0", 20.0, 30.0)
      drainToTable(tagged, "st17", d, "complete")
        .orderBy("id")
    })

  /** st18 — streaming BOX-OVERLAP stats (j12's st-twin: arriving service
    * areas scored against a static box layer at ingest — "how many
    * listing clusters does this new coverage area intersect, and which
    * is the canonical one"). The static part-box side pre-reduces to
    * j12's collapsed corner-cell table and plans per micro-batch like
    * st03's dimension broadcast; each arriving supplier box
    * grid-explodes to its ≤ 2×2 covered cells (bounded, stateless
    * candidate work) and pairs dedup by the intersection-min-corner
    * filter ([[graft.joins.GeoJoin.boxOverlapEachRow]]); the only
    * stateful step is the final per-box sum/min aggregate — O(1) state
    * per box id, complete-mode convergent because every candidate for a
    * box arrives in the box's own micro-batch. The oracle is j12's SQL
    * verbatim — the backlog slices by id residue, and the hash gate
    * proves batch-placement invariance rather than asserting it.
    */
  val st18 = QSpec(
    "st18_stream_box_overlap",
    CorpusOps.j12.oracle,
    (s, d) => {
      val sup = supplier(s, d).select(col("s_suppkey").as("sid"),
        (((col("s_suppkey") * 23) % 140).cast("double") - 70).as("alat"),
        (((col("s_suppkey") * 29) % 300).cast("double") - 150).as("alon"))
      val backlog = batchBacklog(s, d, "st18",
        sup.filter(col("sid") % 3 === 0),
        sup.filter(col("sid") % 3 === 1),
        sup.filter(col("sid") % 3 === 2))
      val stream = s.readStream.schema(sup.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog)
      val par = part(s, d).select(col("p_partkey").as("pid"),
        (((col("p_partkey") * 31) % 150).cast("double") - 75).as("blat"),
        (((col("p_partkey") * 37) % 310).cast("double") - 155).as("blon"))
      val out = graft.joins.GeoJoin.boxOverlapEachRow(stream,
        "sid", "alat", "alon", 20.0, 30.0,
        par, "pid", "blat", "blon", 10.0, 15.0)
      drainToTable(out, "st18", d, "complete")
        .orderBy("box_id")
    })

  /** st19 — streaming LSH DUPLICATE RETRIEVAL (s04's st-twin: "have we
    * already got this arriving item?" — the ingest-time lookup form of
    * the near-dup index, where st15 deduped the stream against ITSELF).
    * The static corpus carries s04's banded hyperplane index, planned
    * per micro-batch like st03's dimension broadcast; each arriving
    * probe explodes to its 4 band keys — bounded, stateless — and the
    * only keyed state is the per-probe argmax
    * ([[graft.llm.Similarity.lshTop1EachRow]]): one max aggregate
    * replaces the batch rank window (duplicate band collisions are
    * harmless under max; ties break on the smaller neighbor id via the
    * (sim, −id) struct ordering, matching the batch form), O(1) state
    * per probe id, complete-mode convergent because a probe's
    * candidates arrive in its own micro-batch. The oracle is s04's SQL
    * verbatim — the EXACT all-pairs top-1 recomputed in DuckDB — so a
    * banding miss, a wrong argmax, or a dropped probe hash-fails, and
    * the id-residue backlog slices prove placement invariance.
    */
  val st19 = QSpec(
    "st19_stream_dup_retrieval",
    LlmOps.s04.oracle,
    (s, d) => {
      val base = embeddings(s, d).select("vec_id", "embedding")
      val probes = base.filter(col("vec_id") % 10 === 5)
        .select((col("vec_id") + LlmOps.ProbeIdOffset).as("vec_id"),
          transform(col("embedding"), x => (x * lit(1.5f)).cast("float"))
            .as("embedding"))
      val backlog = batchBacklog(s, d, "st19",
        probes.filter(col("vec_id") % 3 === 0),
        probes.filter(col("vec_id") % 3 === 1),
        probes.filter(col("vec_id") % 3 === 2))
      val stream = s.readStream.schema(probes.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog)
      val out = graft.llm.Similarity.lshTop1EachRow(
        s, base, stream, "vec_id", "embedding")
      drainToTable(out, "st19", d, "complete")
        .orderBy("p_id")
    })

  /** st20 — streaming INTERVAL COVERAGE (w15's st-twin,
    * [[graft.streaming.EventStreams.intervalCoverage]]): the
    * machine-uptime / sensor-coverage analytic maintained AT INGEST —
    * per-user state holds the merged disjoint segment list (the minimal
    * sufficient statistic for interval union), each arriving micro-batch
    * sort-merges its intervals in, and the drained revision log compacts
    * under per-user max(n_intervals) (strictly monotone per revision).
    * Interval union is an idempotent commutative fold, so the final
    * state is batch-placement-invariant: the backlog slices by event_id
    * RESIDUE (every batch spans the whole time range, intervals arrive
    * wildly out of time order and segments genuinely merge ACROSS
    * batches), and the oracle is w15's SQL verbatim — the hash gate
    * proves the placement invariance rather than asserting it.
    */
  val st20 = QSpec(
    "st20_stream_interval_coverage",
    Windows.w15.oracle,
    (s, d) => {
      import s.implicits._
      val iv = events(s, d).select(col("user_id"), col("event_id"),
        col("ts").as("s"),
        (col("ts") + (col("event_id") % 5 + 1) * 1800000000000L).as("e"))
      val backlog = batchBacklog(s, d, "st20",
        iv.filter(col("event_id") % 3 === 0),
        iv.filter(col("event_id") % 3 === 1),
        iv.filter(col("event_id") % 3 === 2))
      val stream = s.readStream.schema(iv.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog)
        .as[graft.streaming.EventStreams.IntervalArrival]
      val revs = graft.streaming.EventStreams.intervalCoverage(stream).toDF()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_intervals").desc)
      drainToTable(revs, "st20", d, "append")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("n_intervals"), col("n_segments"),
          col("covered_ns"), col("longest_segment_ns"))
        .orderBy("user_id")
    })

  /** st21 — streaming CONFORMAL calibration (m18's st-twin,
    * [[graft.streaming.EventStreams.conformalQuantile]]): calibration
    * residuals arrive in micro-batches and per-key state holds their
    * bounded-domain HISTOGRAM — m18's exact-order-statistic trick made
    * stateful, O(domain) per key forever — so the published half-width
    * q̂ revises as the window grows instead of being refit by a batch
    * job. Histogram folding is commutative, so the final (n, q̂) is
    * batch-placement-invariant: the backlog slices by order-key residue
    * and the oracle is m18's SQL VERBATIM (drained revisions compact
    * under strictly-monotone n_cal; the test-side coverage counts run
    * batch-side against the final q̂, exactly like m18).
    */
  val st21 = QSpec(
    "st21_stream_conformal",
    MlOps.m18.oracle,
    (s, d) => {
      import s.implicits._
      def resid = abs(pmod(
        conv(substring(md5(concat(lit("m18:"), col("o_orderkey").cast("string"))),
          1, 12), 16, 10).cast("long"), lit(2001L)) - 1000L)
      val o = orders(s, d)
      val cal = o.filter(pmod(col("o_orderkey"), lit(5)).isin(1, 2))
        .select(col("o_orderkey").as("k"), resid.as("r"))
      val backlog = batchBacklog(s, d, "st21",
        cal.filter(col("k") % 3 === 0).select("r"),
        cal.filter(col("k") % 3 === 1).select("r"),
        cal.filter(col("k") % 3 === 2).select("r"))
      val stream = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("r",
            org.apache.spark.sql.types.LongType))))
        .option("maxFilesPerTrigger", "1").parquet(backlog)
        .as[graft.streaming.EventStreams.ResidualArrival]
      val revs = graft.streaming.EventStreams.conformalQuantile(stream).toDF()
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n_cal").desc)
      val fin = drainToTable(revs, "st21", d, "append")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("n_cal", "q_hat")
      val test = o.filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .select(resid.as("r"))
      test.crossJoin(broadcast(fin))
        .agg(min("n_cal").as("n_cal"), min("q_hat").as("q_hat"),
          count(lit(1)).as("n_test"),
          sum(when(col("r") <= col("q_hat"), 1L).otherwise(0L)).as("n_covered"))
        .select("n_cal", "q_hat", "n_test", "n_covered")
    })

  /** st22 — KEYED streaming conformal calibration (st21 generalized to
    * the production shape its scaladoc promised, round-13 directive #3:
    * [[graft.streaming.EventStreams.conformalQuantileByKey]]): one
    * conformal monitor per segment (`o_orderkey % 4` here — (model,
    * segment) in production), each holding its own O(domain) residual
    * histogram in the state store, revising its own q̂ as its
    * calibration window grows. The fold is st21's verbatim (shared
    * `foldConformal`), so each key's final (n, q̂) is batch-placement-
    * invariant independently — the backlog slices by order-key residue
    * mod 3, deliberately mis-aligned with the mod-4 segments so every
    * batch carries rows for every monitor. Per-key compaction by
    * strictly-monotone n_cal, then the test-side coverage counts run
    * batch-side per segment against a BROADCAST of the 4 final q̂ rows.
    * Oracle: m18's SQL grouped by segment.
    */
  val st22 = QSpec(
    "st22_stream_conformal_keyed",
    Some("""WITH cal AS (SELECT o_orderkey % 4 AS seg,
           |        abs(CAST(('0x' || substr(md5('m18:' || o_orderkey), 1, 12))
           |        AS BIGINT) % 2001 - 1000) AS r
           |      FROM orders WHERE o_orderkey % 5 IN (1, 2)),
           |hist AS (SELECT seg, r, COUNT(*) AS c FROM cal GROUP BY seg, r),
           |tot AS (SELECT seg, COUNT(*) AS n FROM cal GROUP BY seg),
           |cum AS (SELECT h.seg, r, SUM(c) OVER (PARTITION BY h.seg ORDER BY r
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           |        n, (9 * (n + 1) + 9) // 10 AS k
           |        FROM hist h JOIN tot t ON h.seg = t.seg),
           |q AS (SELECT seg, MIN(r) AS q_hat, MIN(n) AS n_cal FROM cum
           |      WHERE cum >= k GROUP BY seg),
           |test AS (SELECT o_orderkey % 4 AS seg,
           |        abs(CAST(('0x' || substr(md5('m18:' || o_orderkey), 1, 12))
           |        AS BIGINT) % 2001 - 1000) AS r
           |      FROM orders WHERE o_orderkey % 5 = 0)
           |SELECT q.seg AS seg, CAST(n_cal AS BIGINT) AS n_cal,
           |  CAST(q_hat AS BIGINT) AS q_hat,
           |  CAST(COUNT(*) AS BIGINT) AS n_test,
           |  CAST(SUM(CASE WHEN t.r <= q_hat THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_covered
           |FROM q JOIN test t ON q.seg = t.seg
           |GROUP BY q.seg, n_cal, q_hat ORDER BY seg""".stripMargin),
    (s, d) => {
      import s.implicits._
      def resid = abs(pmod(
        conv(substring(md5(concat(lit("m18:"), col("o_orderkey").cast("string"))),
          1, 12), 16, 10).cast("long"), lit(2001L)) - 1000L)
      val o = orders(s, d)
      val cal = o.filter(pmod(col("o_orderkey"), lit(5)).isin(1, 2))
        .select(col("o_orderkey").as("k"),
          pmod(col("o_orderkey"), lit(4L)).as("seg"), resid.as("r"))
      val backlog = batchBacklog(s, d, "st22",
        cal.filter(col("k") % 3 === 0).select("seg", "r"),
        cal.filter(col("k") % 3 === 1).select("seg", "r"),
        cal.filter(col("k") % 3 === 2).select("seg", "r"))
      val stream = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("seg",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("r",
            org.apache.spark.sql.types.LongType))))
        .option("maxFilesPerTrigger", "1").parquet(backlog)
        .as[graft.streaming.EventStreams.KeyedResidualArrival]
      val revs =
        graft.streaming.EventStreams.conformalQuantileByKey(stream).toDF()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("seg").orderBy(col("n_cal").desc)
      val fin = drainToTable(revs, "st22", d, "append")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("seg", "n_cal", "q_hat")
      val test = o.filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .select(pmod(col("o_orderkey"), lit(4L)).as("seg"), resid.as("r"))
      test.join(broadcast(fin), Seq("seg"))
        .groupBy("seg")
        .agg(min("n_cal").as("n_cal"), min("q_hat").as("q_hat"),
          count(lit(1)).as("n_test"),
          sum(when(col("r") <= col("q_hat"), 1L).otherwise(0L)).as("n_covered"))
        .orderBy("seg")
    })

  /** st23 — PSI drift monitor through the STREAMING engine (a14's
    * st-twin): the serving-vs-training population check maintained AT
    * INGEST, the shape a production model monitor actually runs — each
    * arriving event lands in its (side, bin) histogram cell and the
    * drift report is re-derivable at any moment from ≤ 10 rows of state.
    * Reference side = even event ids at their real values; "current" =
    * odd ids with the planted ×1.1 shift (a14's trick — organic halves
    * would be identically distributed and prove nothing). The streaming
    * plan is ONE complete-mode conditional-sum aggregate over the bin
    * key — a commutative fold, so micro-batch placement can't show
    * through (st01's invariance argument) — and state is 10 rows × two
    * BIGINTs forever, at any stream length. The PSI math (Laplace
    * smoothing, per-bin contribution) runs on the DRAINED ≤ 10-row
    * table, off the streaming path, exactly like a14's batch tail.
    */
  val st23 = QSpec(
    "st23_stream_psi_drift",
    Some("""WITH b AS (
           |  SELECT CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END AS side,
           |    GREATEST(LEAST(CAST(FLOOR((CASE WHEN event_id % 2 = 0 THEN value
           |      ELSE value * 1.1 END) / 50) AS BIGINT), 9), 0) AS bin
           |  FROM events),
           |c AS (SELECT side, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
           |n AS (SELECT side, SUM(cnt) AS n FROM c GROUP BY 1),
           |grid AS (SELECT s.side, g.bin
           |         FROM (VALUES (0), (1)) s(side), UNNEST(range(0, 10)) g(bin)),
           |p AS (SELECT grid.side, grid.bin,
           |        (COALESCE(c.cnt, 0) + 0.5) / (n.n + 5.0) AS prop
           |      FROM grid
           |      LEFT JOIN c ON c.side = grid.side AND c.bin = grid.bin
           |      JOIN n ON n.side = grid.side)
           |SELECT r.bin, ROUND(r.prop, 6) AS p_ref, ROUND(cu.prop, 6) AS p_cur,
           |  ROUND((r.prop - cu.prop) * LN(r.prop / cu.prop), 6) AS psi_term
           |FROM p r JOIN p cu ON r.bin = cu.bin AND r.side = 0 AND cu.side = 1
           |ORDER BY r.bin""".stripMargin),
    (s, d) => {
      val side = when(col("event_id") % 2 === 0, 0).otherwise(1)
      val value = when(col("event_id") % 2 === 0, col("value"))
        .otherwise(col("value") * 1.1)
      // ONE streamed scan: both sides' histograms from conditional sums
      // in a single complete-mode aggregate (a14's one-scan lesson).
      // The bin is clamped on BOTH ends so the 0–9 grid is total for ANY
      // value domain: without the lower clamp a negative value would land
      // outside the grid that the batch tail's n_ref/n_cur sums range
      // over, silently diverging from the oracle's raw per-side totals
      val counts = eventStream(s, d)
        .select(side.as("side"),
          greatest(least(floor(value / 50).cast("long"), lit(9L)), lit(0L))
            .as("bin"))
        .groupBy("bin")
        .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("cnt_ref"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("cnt_cur"))
      val drained = drainToTable(counts, "st23", d, "complete")
      // batch tail: PSI on the <=10-row drained histogram (a14 verbatim)
      val all = org.apache.spark.sql.expressions.Window
        .partitionBy().rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val withTotals = s.range(0, 10).select(col("id").as("bin"))
        .join(drained, Seq("bin"), "left")
        .select(col("bin"),
          coalesce(col("cnt_ref"), lit(0L)).as("cnt_ref"),
          coalesce(col("cnt_cur"), lit(0L)).as("cnt_cur"))
        .withColumn("n_ref", sum(col("cnt_ref")).over(all))
        .withColumn("n_cur", sum(col("cnt_cur")).over(all))
      val pRef = (col("cnt_ref") + 0.5) / (col("n_ref") + 5.0)
      val pCur = (col("cnt_cur") + 0.5) / (col("n_cur") + 5.0)
      withTotals
        .select(col("bin"), round(pRef, 6).as("p_ref"),
          round(pCur, 6).as("p_cur"),
          round((pRef - pCur) * log(pRef / pCur), 6).as("psi_term"))
        .orderBy("bin")
    })

  /** st24 — streaming ANN retrieval through the SIZE-ROUTED index
    * (st19's scale-path sibling, the round-15 verdict's directive #4:
    * st19 answers "seen this item?" via LSH hyperplane bands; this is
    * the same ingest-time question answered through the COARSE-QUANTIZED
    * index — flat IVF below the k-means cap, the two-level IVFADC
    * quantizer past it, [[LlmOps.routedTop1]] — which is the route that
    * still works in the moderate-similarity regime where bands recall
    * nothing). Each arriving probe explodes to its ranked cells —
    * bounded, stateless, per-row expression work against the
    * driver-sized quantizer tables; the cell-key repartition is the
    * streaming stand-in for the batch barrier — and the only keyed
    * state is the per-probe argmax (one max aggregate, O(1) state per
    * id, complete-mode convergent). The static side is ONE fitted
    * index ([[LlmOps.routedIndex]]) that the stream and its batch twin
    * both search, which the declared
    * `stream_batch_mismatch = 0` term proves rather than asserts: the
    * identical routedTop1 call on the identical probe set as a BATCH
    * frame must match the drained stream row for row, so the only
    * degree of freedom left is micro-batch placement, and the
    * id-residue backlog slices exercise exactly that. Probes are
    * planted 1.5×-scaled copies (s04's trick) of a BOUNDED corpus
    * slice (vec_id ≡ 5 mod 10, < 500 — fixed-size probe work at any
    * corpus SF, the s12 audit-slice lesson); `dup_hit_rate_ge_095`
    * pins that the index actually retrieves the planted sources
    * (probe-vetted ≥ 0.95 at every bench SF before declaring — IVF
    * cell assignment is Euclidean while probe ranking is cosine, so
    * source-cell recall is measured, not structural, unlike st19's
    * collide-with-certainty bands; the two twins carry complementary
    * guarantees).
    */
  val st24 = QSpec(
    "st24_stream_ann_retrieval",
    Some("""SELECT CAST((SELECT COUNT(*) FROM embeddings
           |    WHERE vec_id % 10 = 5 AND vec_id < 500) AS BIGINT) AS n_probes,
           | TRUE AS dup_hit_rate_ge_095,
           | CAST(0 AS BIGINT) AS stream_batch_mismatch""".stripMargin),
    (s, d) => {
      val base = embeddings(s, d).select("vec_id", "embedding")
      val probes = base.filter(col("vec_id") % 10 === 5 && col("vec_id") < 500)
        .select((col("vec_id") + LlmOps.ProbeIdOffset).as("vec_id"),
          transform(col("embedding"), x => (x * lit(1.5f)).cast("float"))
            .as("embedding"))
      val backlog = batchBacklog(s, d, "st24",
        probes.filter(col("vec_id") % 3 === 0),
        probes.filter(col("vec_id") % 3 === 1),
        probes.filter(col("vec_id") % 3 === 2))
      val stream = s.readStream.schema(probes.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog)
      val idx = LlmOps.routedIndex(s, base)
      val drained = drainToTable(
        LlmOps.routedTop1(s, idx, stream), "st24", d, "complete")
        .select(col("p_id"), col("neighbor_id").as("sn"), col("sim").as("ss"))
      val batchR = LlmOps.routedTop1(s, idx, probes)
        .select(col("p_id"), col("neighbor_id").as("bn"), col("sim").as("bs"))
      drained.join(batchR, Seq("p_id"), "full_outer")
        .agg(count(lit(1)).as("n_probes"),
          (sum(when(col("sn") === col("p_id") - LlmOps.ProbeIdOffset, 1).otherwise(0))
            .cast("double") / count(lit(1)) >= 0.95).as("dup_hit_rate_ge_095"),
          sum(when(col("sn") <=> col("bn") && col("ss") <=> col("bs"), 0)
            .otherwise(1)).cast("long").as("stream_batch_mismatch"))
    })

  /** st25 — streaming index APPEND ([[graft.llm.Similarity
    * .appendToIvfIndex]] driven from a foreachBatch sink — the round-16
    * verdict's ask 3, closing the lifecycle/streaming gap): st24 proves
    * streaming SEARCH over a fitted index; this proves the
    * INGEST half — vectors arriving on a stream land in the persisted
    * store as per-micro-batch generations (`st<batchId>` — the d19
    * generation choreography keyed by the engine's batch id, which is
    * exactly how Structured Streaming sinks achieve idempotent retry:
    * a replayed batch overwrites its own generation and re-commits the
    * same manifest entry, never duplicating rows). Three declared
    * contract terms:
    *  - `stream_batch_store_mismatch = 0`: the stream-appended store's
    *    live content must equal, row for row (id, cell, payload), a
    *    twin store built by ONE batch append of the same shard at the
    *    same fixed quantizer — micro-batch placement is invisible in
    *    the published asset, because at a fixed quantizer a vector's
    *    cell depends on nothing but the vector (s14's argument, now
    *    across the batch/stream boundary).
    *  - `earlier_appends_visible`: measured INSIDE the stream — the
    *    LAST micro-batch searches the store (a fresh manifest read, as
    *    any concurrent reader would) for exact copies of batch 0's
    *    vectors and must retrieve every one at cosine 1: data appended
    *    mid-stream is queryable by later batches, the
    *    read-your-earlier-writes property a streaming ingest pipeline
    *    actually relies on.
    *  - `n_append_batches = 3`: the manifest carries one generation per
    *    micro-batch (the id-residue backlog slices did arrive as three
    *    batches — placement exercised, not assumed).
    */
  val st25 = QSpec(
    "st25_stream_index_append",
    Some("""SELECT CAST(0 AS BIGINT) AS stream_batch_store_mismatch,
           | TRUE AS earlier_appends_visible,
           | CAST(3 AS BIGINT) AS n_append_batches""".stripMargin),
    (s, d) => {
      import graft.llm.Similarity
      val emb = embeddings(s, d).select("vec_id", "embedding")
      val base = emb.filter(col("vec_id") % 3 < 2)
      val shard = emb.filter(col("vec_id") % 3 === 2)
      val idxBase = Similarity.buildIvfIndex(s, base, "vec_id", "embedding", 512)
        .persisted
      val streamPath = Tables.scratch(d, "st25_ivf_stream")
      val twinPath = Tables.scratch(d, "st25_ivf_twin")
      val verdictPath = Tables.scratch(d, "st25_visibility")
      Similarity.writeIvfIndex(idxBase, streamPath)
      Similarity.writeIvfIndex(idxBase, twinPath)
      Similarity.appendToIvfIndex(shard, "vec_id", "embedding",
        twinPath, "shard1")
      // bounded probe set for the in-stream visibility check: exact
      // copies of batch-0 vectors under shifted ids (fixed-size work
      // at any corpus SF — the st24 slice lesson)
      val probes = shard.filter(col("vec_id") % 9 === 2 && col("vec_id") < 200)
        .select((col("vec_id") + LlmOps.ProbeIdOffset).as("vec_id"), col("embedding"))
        .localCheckpoint()
      val backlog = batchBacklog(s, d, "st25",
        shard.filter(col("vec_id") % 9 === 2),
        shard.filter(col("vec_id") % 9 === 5),
        shard.filter(col("vec_id") % 9 === 8))
      val stream = s.readStream.schema(shard.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog)
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = stream.writeStream.trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], id: Long) =>
            val sess = batch.sparkSession
            Similarity.appendToIvfIndex(batch.toDF(), "vec_id",
              "embedding", streamPath, s"st$id")
            if (id == 2L) {
              // read-your-earlier-writes: the store AS A FRESH READER
              // SEES IT must already serve batch 0's vectors
              val stored = Similarity.readIvfIndex(sess, streamPath)
              val np = math.max(1, stored.centroids.length * 2 / 5)
              Similarity.ivfTop1EachRow(sess, stored, probes,
                  "vec_id", "embedding", np)
                .agg(count(lit(1)).as("n_probes"),
                  sum(when(col("neighbor_id") === col("p_id") - LlmOps.ProbeIdOffset &&
                    col("sim") === 1.0d, 1L).otherwise(0L)).as("hits"))
                .write.mode("overwrite").parquet(verdictPath)
            }
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      val sInv = Similarity.readIvfIndex(s, streamPath).inverted
        .select(col("neighbor_id"), col("cluster").as("c_s"), col("emb").as("e_s"))
      val tInv = Similarity.readIvfIndex(s, twinPath).inverted
        .select(col("neighbor_id"), col("cluster").as("c_t"), col("emb").as("e_t"))
      val verdict = s.read.parquet(verdictPath)
        .select((col("n_probes") > 0 && col("hits") === col("n_probes"))
          .as("vis"))
      val nGens = Similarity.readIvfMeta(s, streamPath).gens
        .count(_.startsWith("st")).toLong
      sInv.join(tInv, Seq("neighbor_id"), "full_outer")
        .agg(sum(when(col("c_s") <=> col("c_t") && col("e_s") <=> col("e_t"), 0)
          .otherwise(1)).cast("long").as("stream_batch_store_mismatch"))
        .crossJoin(verdict)
        .select(col("stream_batch_store_mismatch"),
          col("vis").as("earlier_appends_visible"),
          lit(nGens).as("n_append_batches"))
    })

  /** st26 — streaming COMPACTION UNDER INGEST ([[graft.llm.Similarity
    * .compactIvfGenerations]] fired from inside the same foreachBatch
    * stream that is appending — the round-17 verdict's ask 4, closing
    * the maintenance half of the streaming index story on top of s19's
    * commit safety): batch 0 appends generation `st0`, batch 1
    * appends `st1`, tombstones a quarter of st0's rows and runs the
    * incremental compaction MID-STREAM (st0 rewrites to `st0.c1`, the
    * manifest swaps while the stream is live), and batch 2 appends
    * `st2` against the SWAPPED manifest — the append's locked
    * commit re-reads it, so the rename survives (without s19's
    * protocol, batch 2's commit could resurrect the pre-swap gens list
    * and double-serve st0's dead rows). Three declared terms:
    *
    *  - `stream_batch_store_mismatch = 0`: the stream-maintained store's
    *    live content equals, row for row, a twin store that replayed the
    *    same append → tombstone → compact → append sequence as plain
    *    batch calls — micro-batch placement AND mid-stream maintenance
    *    are invisible in the published asset (st25's invariance extended
    *    over the maintenance operation);
    *  - `compacted_midstream`: the final manifest carries `st0.c1` (and
    *    not `st0`) at epoch 1 — the swap really happened inside the
    *    stream, not as post-hoc cleanup;
    *  - `n_append_batches = 3`: one generation per micro-batch survived
    *    the maintenance (the rewrite renames, never merges).
    */
  val st26 = QSpec(
    "st26_stream_compaction_under_ingest",
    Some("""SELECT CAST(0 AS BIGINT) AS stream_batch_store_mismatch,
           | TRUE AS compacted_midstream,
           | CAST(3 AS BIGINT) AS n_append_batches""".stripMargin),
    (s, d) => {
      import graft.llm.Similarity
      val emb = embeddings(s, d).select("vec_id", "embedding")
      val base = emb.filter(col("vec_id") % 3 < 2)
      val shard = emb.filter(col("vec_id") % 3 === 2)
      val dead = emb.filter(col("vec_id") % 9 === 2 && col("vec_id") % 4 === 0)
        .select("vec_id")
      val idxBase = Similarity.buildIvfIndex(s, base, "vec_id", "embedding", 512)
        .persisted
      val streamPath = Tables.scratch(d, "st26_ivf_stream")
      val twinPath = Tables.scratch(d, "st26_ivf_twin")
      // batch twin: the same lifecycle as plain sequential calls
      Similarity.writeIvfIndex(idxBase, twinPath)
      Similarity.appendToIvfIndex(shard.filter(col("vec_id") % 9 === 2),
        "vec_id", "embedding", twinPath, "st0")
      Similarity.appendToIvfIndex(shard.filter(col("vec_id") % 9 === 5),
        "vec_id", "embedding", twinPath, "st1")
      Similarity.tombstoneIvfIndex(s, twinPath, dead, "vec_id", "takedown1")
      Similarity.compactIvfGenerations(s, twinPath, 0.1): Unit
      Similarity.appendToIvfIndex(shard.filter(col("vec_id") % 9 === 8),
        "vec_id", "embedding", twinPath, "st2")
      // stream side: same sequence, driven by the engine's batch ids
      Similarity.writeIvfIndex(idxBase, streamPath)
      val backlog = batchBacklog(s, d, "st26",
        shard.filter(col("vec_id") % 9 === 2),
        shard.filter(col("vec_id") % 9 === 5),
        shard.filter(col("vec_id") % 9 === 8))
      val stream = s.readStream.schema(shard.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog)
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = stream.writeStream.trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], id: Long) =>
            val sess = batch.sparkSession
            Similarity.appendToIvfIndex(batch.toDF(), "vec_id",
              "embedding", streamPath, s"st$id")
            if (id == 1L) {
              // mid-stream maintenance: takedown lands, the hot
              // generation rewrites, the manifest swaps — all while
              // batch 2 is still queued behind this trigger
              Similarity.tombstoneIvfIndex(sess, streamPath, dead,
                "vec_id", "takedown1")
              Similarity.compactIvfGenerations(sess, streamPath, 0.1): Unit
            }
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      val meta = Similarity.readIvfMeta(s, streamPath)
      val compactedMidstream = meta.gens.contains("st0.c1") &&
        !meta.gens.contains("st0") && meta.epoch == 1
      val nGens = meta.gens.count(_.startsWith("st")).toLong
      val sInv = Similarity.readIvfIndex(s, streamPath).inverted
        .select(col("neighbor_id"), col("cluster").as("c_s"), col("emb").as("e_s"))
      val tInv = Similarity.readIvfIndex(s, twinPath).inverted
        .select(col("neighbor_id"), col("cluster").as("c_t"), col("emb").as("e_t"))
      sInv.join(tInv, Seq("neighbor_id"), "full_outer")
        .agg(sum(when(col("c_s") <=> col("c_t") && col("e_s") <=> col("e_t"), 0)
          .otherwise(1)).cast("long").as("stream_batch_store_mismatch"))
        .select(col("stream_batch_store_mismatch"),
          lit(compactedMidstream).as("compacted_midstream"),
          lit(nGens).as("n_append_batches"))
    })

  /** st27 — streaming DELETE routing (CDC ingest against the persisted
    * IVF store — the third leg of the streaming index lifecycle: st25
    * proves appends land and are readable mid-stream, st26 proves
    * maintenance can run under ingest; st27 proves DELETES arriving ON
    * the stream take effect, the right-to-be-forgotten path a 100 TB
    * vector store must serve with bounded latency). One stream carries
    * BOTH row kinds on an `op` column — the CDC shape a changelog
    * source (Kafka compacted topic, Debezium feed) actually delivers —
    * and each micro-batch routes them: `op = 'i'` rows append as one
    * generation `st<batchId>`, `op = 'd'` rows become one tombstone
    * batch ([[graft.llm.Similarity.tombstoneIvfIndex]] — merge-on-read,
    * no rewrite on the takedown path; reclamation stays with st26's
    * compaction). Three declared terms:
    *
    *  - `stream_batch_store_mismatch = 0`: the stream-maintained store's
    *    LIVE content (merge-on-read, tombstones applied) equals row for
    *    row a twin store that replayed the same inserts and takedowns as
    *    plain batch calls — CDC batch placement is invisible in the
    *    published asset (st25's invariance extended over deletes);
    *  - `deletes_invisible_midstream`: measured INSIDE the stream — the
    *    batch AFTER the delete batch reads the store fresh (as any
    *    concurrent reader would) and finds ZERO of the deleted ids
    *    still retrievable, with the deleted set pinned non-empty:
    *    read-your-deletes, the takedown-latency property itself;
    *  - `n_append_batches = 3`: the delete batch's tombstones rode the
    *    SAME micro-batch as that batch's inserts (one data generation
    *    per batch, no extra write amplification on the delete path).
    */
  val st27 = QSpec(
    "st27_stream_delete_routing",
    Some("""SELECT CAST(0 AS BIGINT) AS stream_batch_store_mismatch,
           | TRUE AS deletes_invisible_midstream,
           | CAST(3 AS BIGINT) AS n_append_batches""".stripMargin),
    (s, d) => {
      import graft.llm.Similarity
      val emb = embeddings(s, d).select("vec_id", "embedding")
      val base = emb.filter(col("vec_id") % 3 < 2)
      val shard = emb.filter(col("vec_id") % 3 === 2)
      // the takedown set: a quarter of batch 0's generation (vec_id ≡ 20
      // mod 36 — non-empty from sf0.001 up), deleted by batch 1, checked
      // invisible by batch 2
      val dead = shard.filter(col("vec_id") % 9 === 2 && col("vec_id") % 4 === 0)
      val idxBase = Similarity.buildIvfIndex(s, base, "vec_id", "embedding", 512)
        .persisted
      val streamPath = Tables.scratch(d, "st27_ivf_stream")
      val twinPath = Tables.scratch(d, "st27_ivf_twin")
      val verdictPath = Tables.scratch(d, "st27_deletes_check")
      // batch twin: the same lifecycle as plain sequential calls
      Similarity.writeIvfIndex(idxBase, twinPath)
      Similarity.appendToIvfIndex(shard.filter(col("vec_id") % 9 === 2),
        "vec_id", "embedding", twinPath, "st0")
      Similarity.appendToIvfIndex(shard.filter(col("vec_id") % 9 === 5),
        "vec_id", "embedding", twinPath, "st1")
      Similarity.tombstoneIvfIndex(s, twinPath, dead.select("vec_id"),
        "vec_id", "takedown.st1")
      Similarity.appendToIvfIndex(shard.filter(col("vec_id") % 9 === 8),
        "vec_id", "embedding", twinPath, "st2")
      // stream side: one CDC feed, inserts and deletes on an op column
      Similarity.writeIvfIndex(idxBase, streamPath)
      val deadIds = dead.select("vec_id").localCheckpoint()
      val b0 = shard.filter(col("vec_id") % 9 === 2).withColumn("op", lit("i"))
      val b1 = shard.filter(col("vec_id") % 9 === 5).withColumn("op", lit("i"))
        .unionByName(dead.withColumn("op", lit("d")))
      val b2 = shard.filter(col("vec_id") % 9 === 8).withColumn("op", lit("i"))
      val backlog = batchBacklog(s, d, "st27", b0, b1, b2)
      val stream = s.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog)
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = stream.writeStream.trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], id: Long) =>
            val sess = batch.sparkSession
            Similarity.appendToIvfIndex(
              batch.filter(col("op") === "i").select("vec_id", "embedding"),
              "vec_id", "embedding", streamPath, s"st$id")
            val dels = batch.filter(col("op") === "d").select("vec_id")
            if (!dels.isEmpty)
              Similarity.tombstoneIvfIndex(sess, streamPath, dels,
                "vec_id", s"takedown.st$id")
            if (id == 2L) {
              // read-your-deletes: the store AS A FRESH READER SEES IT
              // must no longer serve any takedown id
              Similarity.readIvfIndex(sess, streamPath).inverted
                .join(deadIds, col("neighbor_id") === col("vec_id"),
                  "right_outer")
                .agg(count(lit(1)).as("dead_total"),
                  sum(when(col("neighbor_id").isNotNull, 1L).otherwise(0L))
                    .as("dead_seen"))
                .write.mode("overwrite").parquet(verdictPath)
            }
          }
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
      val meta = Similarity.readIvfMeta(s, streamPath)
      val nGens = meta.gens.count(_.startsWith("st")).toLong
      val verdict = s.read.parquet(verdictPath)
        .select((col("dead_total") > 0 && col("dead_seen") === 0)
          .as("inv"))
      val sInv = Similarity.readIvfIndex(s, streamPath).inverted
        .select(col("neighbor_id"), col("cluster").as("c_s"), col("emb").as("e_s"))
      val tInv = Similarity.readIvfIndex(s, twinPath).inverted
        .select(col("neighbor_id"), col("cluster").as("c_t"), col("emb").as("e_t"))
      sInv.join(tInv, Seq("neighbor_id"), "full_outer")
        .agg(sum(when(col("c_s") <=> col("c_t") && col("e_s") <=> col("e_t"), 0)
          .otherwise(1)).cast("long").as("stream_batch_store_mismatch"))
        .crossJoin(verdict)
        .select(col("stream_batch_store_mismatch"),
          col("inv").as("deletes_invisible_midstream"),
          lit(nGens).as("n_append_batches"))
    })

  val specs: Seq[QSpec] = Seq(st01, st02, st03, st04, st05, st06, st07, st08,
    st09, st10, st11, st12, st13, st14, st15, st16, st17, st18, st19, st20,
    st21, st22, st23, st24, st25, st26, st27)
}
