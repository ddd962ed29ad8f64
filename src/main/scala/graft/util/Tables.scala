package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness testdata tables (TPC-H-ish star schema plus
  * `events`/`documents`/`embeddings`; see /root/repo/TESTDATA.md).
  *
  * All declared queries read parquet directly so Catalyst gets full
  * predicate-pushdown / column-pruning into the vectorized parquet scan.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = {
    // Older testdata generations wrote TIMESTAMP(NANOS), which Spark only
    // reads (as long nanos) under this flag; set it defensively so that
    // schema still loads, then normalize whatever arrived.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(s, d, "events"))
  }

  /** Raw (un-normalized) events frame — only for callers that need the
    * on-disk schema, e.g. the streaming file source whose user-supplied
    * schema must match the files. Everything else goes through
    * [[events]] / [[normalizeEventTs]].
    */
  def eventsRaw(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load(s, d, "events")
  }

  /** The repo-wide `events.ts` contract is LONG EPOCH NANOSECONDS (every
    * temporal/streaming query does `ts div 1000` etc. on it). The driver's
    * testdata generator has shipped the column as TIMESTAMP(NANOS)-read-
    * as-long in some generations and as timestamp[us] (TIMESTAMP_NTZ under
    * Spark 4.1.2) in others; adapt whichever schema arrives to the long-ns
    * view so call sites never care. All sessions pin
    * spark.sql.session.timeZone=UTC, so the NTZ→TZ cast below is a no-op
    * on the underlying micros.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df // already epoch-ns
      case Some(TimestampNTZType) | Some(TimestampType) =>
        df.withColumn("ts",
          (unix_micros(col("ts").cast(TimestampType)) * 1000L).as("ts"))
      case other =>
        throw new IllegalStateException(
          s"events.ts arrived as $other — expected LONG (epoch-ns), " +
            "TIMESTAMP or TIMESTAMP_NTZ; the testdata generator changed " +
            "again. Teach Tables.normalizeEventTs the new shape.")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Round-boundary preflight (Bench/Verify): surface the events.ts
    * on-disk shape up front and fail fast — with a message naming the file
    * to fix — if the generator shipped a shape [[normalizeEventTs]] can't
    * adapt. Round 8 lost 17 queries to an analysis error this one-line
    * check would have caught at the first commit.
    */
  def preflight(s: SparkSession, d: String): Unit = {
    import org.apache.spark.sql.types._
    val raw = eventsRaw(s, d).schema("ts").dataType
    val norm = events(s, d).schema("ts").dataType // throws on unknown shapes
    System.err.println(
      s"[graft preflight] events.ts: on-disk=$raw normalized=$norm (contract: LongType epoch-ns)")
    require(norm == LongType,
      s"events.ts normalized to $norm, not LongType — Tables.normalizeEventTs is broken")
    // the other queries-assume-this-shape columns: fail fast with a pointed
    // message instead of 100+ downstream analysis errors if the generator
    // drifts again (the round-8 lesson, generalized)
    def expect(table: String, column: String, ok: DataType => Boolean,
        want: String): Unit = {
      val dt = load(s, d, table).schema(column).dataType
      require(ok(dt),
        s"$table.$column arrived as $dt — queries assume $want; the " +
          "testdata generator changed. Adapt the loader in util/Tables " +
          "(the normalizeEventTs pattern) before trusting any results.")
    }
    expect("documents", "doc_id", _ == LongType, "BIGINT")
    expect("documents", "text", _ == StringType, "STRING")
    expect("documents", "lang", _ == StringType, "STRING")
    expect("embeddings", "vec_id", _ == LongType, "BIGINT")
    expect("embeddings", "embedding",
      { case ArrayType(FloatType, _) => true; case _ => false },
      "ARRAY<FLOAT> — float64 elements would silently change every cosine/"
        + "minhash result; adapt the loader, don't let Spark widen")
    expect("lineitem", "l_quantity", _ == DoubleType, "DOUBLE")
    // Nullability is a DATA property here, not a schema one: the generator
    // writes every parquet column as `optional`, so only a scan proves the
    // contract. Text/dedup queries key md5(text)/tokenize(text) and the
    // similarity kernels index into the embedding array — a regen that
    // starts emitting nulls would silently shift dedup groups and cosine
    // results rather than erroring. One cheap aggregate per table pins it.
    // coalesce(sum, 0): on an EMPTY table sum() is NULL and getLong would
    // NPE before the descriptive require below could name the real problem
    import org.apache.spark.sql.functions.{coalesce, col, exists, lit, sum, when}
    val docNulls = load(s, d, "documents")
      .agg(coalesce(sum(when(col("text").isNull, 1L).otherwise(0L)), lit(0L))
        .as("null_text"))
      .head.getLong(0)
    val Array(nullEmb, nullElem) = load(s, d, "embeddings")
      .agg(coalesce(sum(when(col("embedding").isNull, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(exists(col("embedding"), e => e.isNull), 1L)
          .otherwise(0L)), lit(0L)))
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    System.err.println(
      s"[graft preflight] null check: documents.text=$docNulls " +
        s"embeddings.embedding=$nullEmb null-elements=$nullElem (contract: all 0)")
    require(docNulls == 0,
      s"documents.text has $docNulls NULL rows — fingerprint/tokenize " +
        "queries assume non-null text; the testdata generator changed. " +
        "Decide a null policy in util/Tables before trusting results.")
    require(nullEmb == 0 && nullElem == 0,
      s"embeddings.embedding has $nullEmb NULL rows / $nullElem rows with " +
        "null elements — the cosine/minhash kernels assume dense vectors; " +
        "the testdata generator changed. Adapt the loader first.")
    // Value-level slice contracts: t17 fits its reference LM on
    // source = 'src0' and w11 windows over event_type = 'purchase'. Both
    // oracles MIRROR the predicate, so a regen that renamed these values
    // would not error — it would make result and oracle identically EMPTY
    // and the gate vacuously green. Fail fast on the weakened gate instead.
    val Array(srcRef, purch) = Seq(
      load(s, d, "documents")
        .agg(coalesce(sum(when(col("source") === "src0", 1L).otherwise(0L)),
          lit(0L))),
      load(s, d, "events")
        .agg(coalesce(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)), lit(0L))))
      .map(_.head.getLong(0)).toArray
    System.err.println(
      s"[graft preflight] slice check: documents[source=src0]=$srcRef " +
        s"events[purchase]=$purch (contract: both > 0)")
    require(srcRef > 0,
      "documents has no source='src0' rows — t17's reference-LM slice is " +
        "empty and its oracle gate would pass vacuously; the testdata " +
        "generator changed its source vocabulary. Repoint the t17 slice.")
    require(purch > 0,
      "events has no event_type='purchase' rows — w11/j-series windows " +
        "would be vacuously green; the generator changed its event " +
        "vocabulary. Repoint the predicates in the affected queries.")
  }

  /** Scratch dir for sink/round-trip queries, under the working directory's
    * `target/qtmp` (the checkout sbt and the mains run from), so two
    * checkouts never write into each other. Keyed by the scale-factor dir
    * name so concurrent sf runs don't clobber each other.
    */
  def scratch(sfDir: String, qname: String): String = {
    val sf = new java.io.File(sfDir).getName
    java.nio.file.Paths.get("target", "qtmp", sf, qname)
      .toAbsolutePath.toString
  }

  /** Drop every `__graft_*` temp view — the memory-sink tables the
    * streaming queries drain into (StreamOps.drainToTable). Each sink
    * holds its FULL drained result on the heap and the view is the only
    * reference keeping it alive; without this, a harness running many
    * queries in one JVM accumulates every st-query's result for the rest
    * of the run (at gsf10 the round-12 st-twins alone pin ~10 M rows —
    * measured as the x04 OOM that killed the first r12 bench chain).
    * Call between queries, after the current result is materialized.
    */
  def dropGraftTempViews(s: SparkSession): Unit =
    s.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("__graft_"))
      .foreach(t => s.catalog.dropTempView(t.name))
}
