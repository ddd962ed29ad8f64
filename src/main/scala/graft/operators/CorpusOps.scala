package graft.operators

import graft.QSpec
import graft.joins.TemporalJoins
import graft.llm.{Curation, Multimodal, TextAnalysis}
import graft.util.Tables
import org.apache.spark.sql.functions._

/** Round-5 corpus-curation + join extensions: PII redaction, text
  * normalization, chunk-level cross-corpus dedup, distributed sequence
  * packing, corpus-unigram LM scoring, stratified/temperature sampling,
  * as-of + range joins, image resize, video frame sampling.
  *
  * Scale stance: everything here is scan-shaped, a small-key shuffle, or a
  * distributed prefix sum (p06); the two new join shapes (j01/j02) exist
  * precisely to avoid the naive scale-killers (global-order window for
  * as-of, BroadcastNestedLoop for range predicates).
  */
object CorpusOps {

  import Tables._

  /** p04 — PII redaction (the C4/CCNet scrubbing pass). The word-salad
    * corpus carries no organic PII, so each doc gets a deterministic
    * closed-form email + IPv4 + phone appended (the planted-data trick of
    * d03/d05/mm02) and the declared output proves the scrub: match count,
    * fingerprint of the full redacted text, and the visible redacted tail.
    * Pure codegen'd regexp work — scan-shaped, no shuffle.
    */
  val p04 = QSpec(
    "p04_pii_redaction",
    Some("""WITH aug AS (SELECT doc_id,
           |  text || ' contact user' || doc_id || '@mail.example.com or 10.'
           |       || (doc_id % 200) || '.' || (doc_id % 250) || '.' || (doc_id % 100)
           |       || ' call +33 ' || (100 + doc_id % 900) || ' 555 '
           |       || (100 + (doc_id * 7) % 900) AS t
           |  FROM documents),
           |red AS (SELECT doc_id,
           |  regexp_replace(regexp_replace(regexp_replace(t,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           |    '\+\d{2} \d{3} \d{3} \d{3}', '<PHONE>', 'g') AS r,
           |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
           |  + len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
           |  + len(regexp_extract_all(t, '\+\d{2} \d{3} \d{3} \d{3}')) AS n_pii
           |  FROM aug)
           |SELECT doc_id, CAST(n_pii AS BIGINT) AS n_pii, md5(r) AS redacted_fp,
           |  right(r, 60) AS tail
           |FROM red ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or 10."), (col("doc_id") % 200).cast("string"),
        lit("."), (col("doc_id") % 250).cast("string"),
        lit("."), (col("doc_id") % 100).cast("string"),
        lit(" call +33 "), (col("doc_id") % 900 + 100).cast("string"),
        lit(" 555 "), ((col("doc_id") * 7) % 900 + 100).cast("string"))
      documents(s, d)
        .select(col("doc_id"), planted.as("t"))
        .select(col("doc_id"),
          Curation.piiCount(col("t")).as("n_pii"),
          Curation.redactPii(col("t")).as("r"))
        .select(col("doc_id"), col("n_pii"),
          md5(col("r")).as("redacted_fp"), expr("right(r, 60)").as("tail"))
        .orderBy("doc_id")
    })

  /** p05 — text normalization: lowercase + strip non-[a-z0-9 ] + collapse
    * whitespace + trim, on deterministically-dirtied input (injected case,
    * tabs, margins). `round_trip` asserts the normalized dirty text equals
    * the normalized original — idempotence of the cleanup. Scan-shaped.
    */
  val p05 = QSpec(
    "p05_text_normalize",
    Some("""WITH m AS (SELECT doc_id,
           |  '  ' || upper(substr(text, 1, 20)) || ' ' || chr(9) || ' '
           |       || substr(text, 21) || '  ' AS t, text FROM documents),
           |n AS (SELECT doc_id,
           |  trim(regexp_replace(regexp_replace(lower(t),
           |       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm,
           |  trim(regexp_replace(regexp_replace(lower(text),
           |       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS canon
           |  FROM m)
           |SELECT doc_id, CAST(length(norm) AS BIGINT) AS norm_len,
           |  md5(norm) AS norm_fp, (norm = canon) AS round_trip
           |FROM n ORDER BY doc_id""".stripMargin),
    (s, d) => {
      graft.functions.GraftFunctions.ensureRegistered(s)
      val messy = concat(lit("  "), upper(substring(col("text"), 1, 20)),
        lit(" \t "), substring(col("text"), 21, Int.MaxValue), lit("  "))
      val norm = Curation.normalizeText(messy)
      val canon = Curation.normalizeText(col("text"))
      documents(s, d)
        .select(col("doc_id"),
          length(norm).cast("long").as("norm_len"),
          md5(norm).as("norm_fp"),
          (norm === canon).as("round_trip"))
        .orderBy("doc_id")
    })

  /** p06 — sequence packing: documents laid end-to-end in id order and cut
    * into 2048-token packs by starting offset (the pre-tokenization batch
    * packing every trainer runs). The Spark side computes the running
    * offset as a DISTRIBUTED prefix sum ([[Curation.packSequences]]: range
    * buckets + tiny cumulated bucket frame + within-bucket window) — the
    * oracle's single global window is exactly the plan shape the
    * implementation exists to avoid.
    */
  val p06 = QSpec(
    "p06_sequence_packing",
    Some("""WITH t AS (SELECT doc_id,
           |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS tok
           |  FROM documents),
           |c AS (SELECT doc_id, tok,
           |  CAST(COALESCE(SUM(tok) OVER (ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
           |  FROM t)
           |SELECT CAST(off // 2048 AS BIGINT) AS pack_id, COUNT(*) AS n_docs,
           |  CAST(SUM(tok) AS BIGINT) AS pack_tokens,
           |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
           |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, d) => {
      val toks = documents(s, d).select(col("doc_id"),
        TextAnalysis.wordCount(col("text")).as("tok"))
      Curation.packSequences(toks, "doc_id", col("tok"), 2048L, 100L)
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("tokens").as("pack_tokens"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"))
        .orderBy("pack_id")
    })

  /** d08 — chunk-level cross-corpus dedup audit (sub-document granularity,
    * the Lee et al. 2022 pass at chunk rather than suffix level): per doc,
    * how many of its 10-word chunks appear in at least one OTHER doc. The
    * shuffle carries 16-byte chunk md5s, never text.
    */
  val d08 = QSpec(
    "d08_chunk_dedup",
    Some("""WITH w AS (SELECT doc_id,
           |  list_filter(string_split(text, ' '), x -> x <> '') AS words FROM documents),
           |ch AS (SELECT doc_id,
           |  md5(array_to_string(words[k*10+1 : k*10+10], ' ')) AS fp
           |  FROM w, UNNEST(range(0, CAST(ceil(len(words) / 10.0) AS BIGINT))) AS t(k)),
           |shared AS (SELECT fp FROM ch GROUP BY fp
           |           HAVING COUNT(DISTINCT doc_id) >= 2)
           |SELECT doc_id, COUNT(*) AS n_chunks,
           |  CAST(SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
           |FROM ch LEFT JOIN shared s USING (fp)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    (s, d) => Curation.chunkDedupAudit(documents(s, d), "doc_id", "text", 10)
      .orderBy("doc_id"))

  /** t10 — corpus-unigram-LM scoring (cheap perplexity proxy): unigram
    * distribution fit on the WHOLE corpus, each doc scored by mean token
    * log-probability. Vocabulary (token TYPES) broadcast-joins back onto
    * the token stream — nothing global is collected. Keyed %7 subset +
    * round(4) per the t08 transcendental-sum precedent.
    */
  val t10 = QSpec(
    "t10_unigram_logprob",
    Some("""WITH toks AS (SELECT doc_id, t.tok FROM documents,
           |    UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS t(tok)),
           |vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
           |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_corpus FROM vocab)
           |SELECT doc_id, COUNT(*) AS n_toks,
           |  ROUND(SUM(LN(CAST(c AS DOUBLE) / n_corpus)) / COUNT(*), 4) AS avg_logprob
           |FROM toks JOIN vocab USING (tok) CROSS JOIN n
           |WHERE doc_id % 7 = 0
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val docs = documents(s, d)
      Curation.unigramLogprob(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 7 === 0))
        .orderBy("doc_id")
    })

  /** x05 — deterministic stratified sampling: per-source keep rates
    * (10–90 % by source index), decided by a salted per-row hash bucket —
    * reproducible row-for-row at any cluster size, zero coordination
    * (contrast `df.sample`, whose output depends on partitioning).
    */
  val x05 = QSpec(
    "x05_stratified_sample",
    Some("""WITH d AS (SELECT doc_id, source,
           |  10 + (CAST(substr(source, 4) AS INTEGER) % 5) * 20 AS rate FROM documents),
           |k AS (SELECT * FROM d
           |  WHERE CAST(('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < rate),
           |t AS (SELECT source, COUNT(*) AS n_total FROM d GROUP BY 1),
           |sm AS (SELECT source, COUNT(*) AS n_sampled,
           |       MIN(doc_id) AS min_kept, MAX(doc_id) AS max_kept FROM k GROUP BY 1)
           |SELECT t.source, n_total,
           |  CAST(COALESCE(n_sampled, 0) AS BIGINT) AS n_sampled, min_kept, max_kept
           |FROM t LEFT JOIN sm USING (source) ORDER BY source""".stripMargin),
    (s, d) => {
      val df = documents(s, d).withColumn("rate_pct",
        lit(10) + (substring(col("source"), 4, 10).cast("int") % 5) * 20)
      val kept = df.filter(Curation.stratifiedSample(df, "doc_id", col("rate_pct")))
      val tot = df.groupBy("source").agg(count(lit(1)).as("n_total"))
      val smp = kept.groupBy("source").agg(count(lit(1)).as("n_sampled"),
        min("doc_id").as("min_kept"), max("doc_id").as("max_kept"))
      tot.join(smp, Seq("source"), "left")
        .select(col("source"), col("n_total"),
          coalesce(col("n_sampled"), lit(0L)).cast("long").as("n_sampled"),
          col("min_kept"), col("max_kept"))
        .orderBy("source")
    })

  /** x06 — temperature-sampling mixture weights (p_i ∝ n_i^(1/T), T = 2 —
    * the multilingual data-mixing rule): per language, its sampled share
    * of the training mix. sqrt is correctly rounded; round(6) guards the
    * tiny cross-stratum sum.
    */
  val x06 = QSpec(
    "x06_temperature_mix",
    Some("""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
           |t AS (SELECT SUM(SQRT(CAST(n_docs AS DOUBLE))) AS st FROM c)
           |SELECT lang, n_docs,
           |  ROUND(SQRT(CAST(n_docs AS DOUBLE)) / st, 6) AS weight
           |FROM c, t ORDER BY lang""".stripMargin),
    (s, d) => Curation.temperatureWeights(documents(s, d), "lang")
      .select(col("lang"), col("n_docs"), round(col("weight"), 6).as("weight"))
      .orderBy("lang"))

  /** j01 — as-of join (kdb aj / pandas merge_asof): every purchase event
    * matched to the latest click at-or-before it for the same user, via
    * the single-shuffle MERGE pattern ([[TemporalJoins.asofJoin]]). The
    * DuckDB twin is its NATIVE ASOF LEFT JOIN — an independent
    * implementation of the same semantics. The join itself runs on the
    * RAW nanosecond timestamps (exactly what the oracle's `p.ts >= c.ts`
    * compares) — truncating to µs first would pick a different match
    * whenever two same-user events share a microsecond; only the
    * PROJECTED output is µs, to line up with DuckDB's epoch_us().
    */
  val j01 = QSpec(
    "j01_asof_join",
    Some("""SELECT p.event_id, p.user_id,
           |  epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS click_ts_us,
           |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us, c.value AS click_value
           |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           |  ON p.user_id = c.user_id AND p.ts >= c.ts
           |ORDER BY p.event_id""".stripMargin),
    (s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("click_value"))
      TemporalJoins.asofJoin(purchases, clicks, "user_id", "ts",
          Seq("click_value"))
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("p_ts_us"),
          expr("asof_ts div 1000").as("click_ts_us"),
          (expr("ts div 1000") - expr("asof_ts div 1000")).as("gap_us"),
          col("click_value"))
        .orderBy("event_id")
    })

  /** j02 — point-in-interval range join: orders matched to overlapping
    * price bands (arbitrary, overlapping intervals — NOT equi-expressible)
    * via band bucketing ([[TemporalJoins.rangeJoinBanded]]), versus the
    * oracle's raw inequality join. Spark would otherwise plan this as
    * BroadcastNestedLoop — O(N·M) at scale.
    */
  val j02 = QSpec(
    "j02_range_join",
    Some("""WITH bands AS (SELECT CAST(k AS INTEGER) AS band_id,
           |  k * 7500.0 AS lo, k * 7500.0 + 12000.0 AS hi
           |  FROM UNNEST(range(0, 80)) t(k))
           |SELECT band_id, COUNT(*) AS n_orders,
           |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
           |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, d) => {
      val bands = s.range(0, 80).select(col("id").cast("int").as("band_id"),
        (col("id") * 7500.0).as("lo"), (col("id") * 7500.0 + 12000.0).as("hi"))
      TemporalJoins.rangeJoinBanded(
          orders(s, d).select("o_orderkey", "o_totalprice"),
          "o_totalprice", bands, "lo", "hi", 6000.0)
        .groupBy("band_id")
        .agg(count(lit(1)).as("n_orders"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
        .orderBy("band_id")
    })

  /** mm04 — decode → nearest-neighbor resize (8×8 → 4×4) → per-channel
    * means, through the REAL PPM decoder + resizer in the batched
    * mapPartitions loop. Resized pixel q samples source pixel
    * 16·(q÷4) + 2·(q mod 4), which the oracle recomputes closed-form.
    */
  val mm04 = QSpec(
    "mm04_image_resize",
    Some("""WITH px AS (SELECT doc_id, (doc_id * 37) % 256 AS seed FROM documents)
           |SELECT doc_id,
           | CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
           | ROUND(CAST(list_sum(list_transform(range(0, 16),
           |   q -> (seed + 3 * (16 * (q // 4) + 2 * (q % 4))) % 256)) AS DOUBLE) / 16, 6) AS mean_r,
           | ROUND(CAST(list_sum(list_transform(range(0, 16),
           |   q -> (seed + 3 * (16 * (q // 4) + 2 * (q % 4)) + 1) % 256)) AS DOUBLE) / 16, 6) AS mean_g,
           | ROUND(CAST(list_sum(list_transform(range(0, 16),
           |   q -> (seed + 3 * (16 * (q // 4) + 2 * (q % 4)) + 2) % 256)) AS DOUBLE) / 16, 6) AS mean_b
           |FROM px ORDER BY doc_id""".stripMargin),
    (s, d) => Multimodal.extractResizedFeatures(
        Multimodal.syntheticPpm(documents(s, d), "doc_id", 8, 8), 4, 4)
      .toDF()
      .select(col("doc_id"), col("width"), col("height"),
        round(col("mean_r"), 6).as("mean_r"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_b"), 6).as("mean_b"))
      .orderBy("doc_id"))

  /** mm05 — video frame sampling: 4-frame GVID containers, every 2nd frame
    * kept (temporal subsampling), kept frames decoded through the REAL
    * container + PPM parsers, per-frame channel means out. Frame f byte i
    * is (29·id + 11·f + i) mod 256 — closed form for the oracle.
    */
  val mm05 = QSpec(
    "mm05_video_frames",
    Some("""WITH px AS (SELECT doc_id, (doc_id * 29) % 256 AS seed FROM documents),
           |f AS (SELECT doc_id, seed, fi FROM px, UNNEST([0, 2]) AS t(fi))
           |SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
           | CAST(4 AS INTEGER) AS n_frames,
           | ROUND(CAST(list_sum(list_transform(range(0, 64),
           |   p -> (seed + 11 * fi + 3 * p) % 256)) AS DOUBLE) / 64, 6) AS mean_r,
           | ROUND(CAST(list_sum(list_transform(range(0, 64),
           |   p -> (seed + 11 * fi + 3 * p + 1) % 256)) AS DOUBLE) / 64, 6) AS mean_g,
           | ROUND(CAST(list_sum(list_transform(range(0, 64),
           |   p -> (seed + 11 * fi + 3 * p + 2) % 256)) AS DOUBLE) / 64, 6) AS mean_b
           |FROM f ORDER BY doc_id, frame_idx""".stripMargin),
    (s, d) => Multimodal.sampleFrameFeatures(
        Multimodal.syntheticVideo(documents(s, d), "doc_id", 4, 8, 8), 2)
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("n_frames"),
        round(col("mean_r"), 6).as("mean_r"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_b"), 6).as("mean_b"))
      .orderBy("doc_id", "frame_idx"))

  /** q30 — semi-structured JSON column extraction (`events.props` carries
    * JSON payloads): typed path extraction + aggregation by event type.
    * `get_json_object` is codegen'd scan work; the agg is partial+final.
    */
  val q30 = QSpec(
    "q30_json_extract",
    Some("""SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    (s, d) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      events(s, d).select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")
    })

  /** x07 — pivot (long→wide): event counts per user cohort spread across
    * one column per event type. Spark's `pivot` with explicit values keeps
    * the agg a single partial+final pass (no second job to discover pivot
    * values); absent cells are zero-filled to match the conditional-agg
    * oracle.
    */
  val x07 = QSpec(
    "x07_pivot",
    Some("""SELECT user_id % 10 AS cohort,
           |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      events(s, d).select((col("user_id") % 10).as("cohort"), col("event_type"))
        .groupBy("cohort")
        .pivot("event_type", types)
        .count()
        .select(col("cohort") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("cohort")
    })

  /** q31 — semi/anti join (EXISTS / NOT EXISTS): orders with and without
    * lineitems, as LeftSemi/LeftAnti hash joins (no payload from the right
    * side crosses the exchange — the join that answers "which rows have a
    * match" without materializing matches).
    */
  val q31 = QSpec(
    "q31_semi_anti_join",
    Some("""SELECT
           | (SELECT COUNT(*) FROM orders o
           |  WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS n_semi,
           | (SELECT COUNT(*) FROM orders o
           |  WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS n_anti,
           | (SELECT MIN(o_orderkey) FROM orders o
           |  WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS first_orphan""".stripMargin),
    (s, d) => {
      val o = orders(s, d)
      val l = lineitem(s, d).select("l_orderkey")
      val semi = o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .agg(count(lit(1)).as("n_semi"))
      val anti = o.join(l, o("o_orderkey") === l("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_anti"), min("o_orderkey").as("first_orphan"))
      semi.crossJoin(anti)
    })

  /** x08 — exact grouped quantiles: per-priority median + p90 of order
    * totals via the exact `percentile` aggregate (sort-based within group,
    * linear interpolation at (n−1)·p — the same definition as DuckDB's
    * quantile_cont, so values hash-match under a rounding guard).
    */
  val x08 = QSpec(
    "x08_grouped_quantiles",
    Some("""SELECT o_orderpriority, COUNT(*) AS n,
           |  ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
           |  ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, d) => orders(s, d)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"))
      .orderBy("o_orderpriority"))

  /** x13 — grouped APPROX quantiles (x08's documented escape hatch made
    * real, the round-11 SCALE.md x08 row's named alternative): per-priority
    * p50/p90 via `approx_percentile` (GK sketch — mergeable partials, ONE
    * scan, no per-group distinct-value table), where exact x08 pays the
    * 45.7 s-at-100× per-group sort SCALE.md keeps flagging. Sketch values
    * aren't cross-engine-stable, so the declared output is the
    * bounded-boolean contract every quantile sketch is sold on — the
    * returned value's RANK sits within ε of the target percentile — with
    * both rank counts computed IN-PLAN (conditional agg after a broadcast
    * join of the 5-row sketch output back onto orders) and pinned TRUE by
    * the oracle. ε = accuracy⁻¹ + 1/n: the sketch's documented rank-error
    * bound plus the per-group discreteness slack — data-derived, never an
    * absolute tolerance (the s02 lesson).
    */
  val x13 = QSpec(
    "x13_grouped_quantiles_approx",
    Some("""SELECT o_orderpriority, COUNT(*) AS n, TRUE AS p50_ok, TRUE AS p90_ok
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, d) => {
      val acc = 1000
      val o = orders(s, d).select("o_orderpriority", "o_totalprice")
      val approx = o.groupBy("o_orderpriority")
        .agg(expr(s"approx_percentile(o_totalprice, array(0.5D, 0.9D), $acc)").as("ap"))
        .select(col("o_orderpriority"), col("ap")(0).as("v50"), col("ap")(1).as("v90"))
      def rankOk(le: org.apache.spark.sql.Column, lt: org.apache.spark.sql.Column,
          n: org.apache.spark.sql.Column, p: Double): org.apache.spark.sql.Column = {
        val eps = lit(1.0 / acc) + lit(1.0) / n
        (le.cast("double") / n >= lit(p) - eps) && (lt.cast("double") / n <= lit(p) + eps)
      }
      o.join(broadcast(approx), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice") <= col("v50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("o_totalprice") < col("v50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("o_totalprice") <= col("v90"), 1L).otherwise(0L)).as("le90"),
          sum(when(col("o_totalprice") < col("v90"), 1L).otherwise(0L)).as("lt90"))
        .select(col("o_orderpriority"), col("n"),
          rankOk(col("le50"), col("lt50"), col("n"), 0.5).as("p50_ok"),
          rankOk(col("le90"), col("lt90"), col("n"), 0.9).as("p90_ok"))
        .orderBy("o_orderpriority")
    })

  /** j03 — the j02 range join written as a PLAIN SQL inequality join and
    * left to the optimizer: [[graft.plans.RangeJoinRewrite]] (attached by
    * `ensureInjected`) detects
    * the point-in-interval shape and rewrites it to the banded equi-join —
    * the user writes the natural predicate, the engine avoids the
    * BroadcastNestedLoop plan. Same oracle semantics as j02.
    */
  val j03 = QSpec(
    "j03_range_join_auto",
    Some("""WITH bands AS (SELECT CAST(k AS INTEGER) AS band_id,
           |  k * 7500.0 AS lo, k * 7500.0 + 12000.0 AS hi
           |  FROM UNNEST(range(0, 80)) t(k))
           |SELECT band_id, COUNT(*) AS n_orders,
           |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
           |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
           |GROUP BY 1 ORDER BY 1""".stripMargin),
    (s, d) => {
      import graft.plans.RangeJoinRewrite
      // scoped-rule + pinned-execution harness (shared with j05): rule
      // and band-width override live only inside this call, the rewritten
      // join executes via its own pinned QueryExecution, the rewrite is
      // require()d to have fired. 80 aggregated rows — materializing free.
      RangeJoinRewrite.pinnedScopedExecution(s,
          Map(RangeJoinRewrite.BandWidthConf -> "6000"), "j03") {
        orders(s, d).select("o_orderkey", "o_totalprice")
          .createOrReplaceTempView("j03_orders")
        s.sql("""SELECT band_id, COUNT(*) AS n_orders,
                |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
                |FROM (SELECT CAST(id AS INT) AS band_id, id * 7500.0 AS lo,
                |        id * 7500.0 + 12000.0 AS hi FROM range(0, 80)) b
                |JOIN j03_orders o ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
                |GROUP BY band_id ORDER BY band_id""".stripMargin)
      }
    })

  /** j04 — interval-OVERLAP join (two interval sets, not point-in-interval
    * like j02/j03): each customer's [min, max+1) order-price span joined to
    * every fixed price band it intersects, exactly once per pair
    * ([[TemporalJoins.intervalOverlapJoin]] — banded equi-join with the
    * first-shared-band dedup rule). maxBands=64 at W=6000 splits the
    * sf0.01 customers ~1050 wide (salted OVERFLOW path) / ~450 narrow
    * (banded path), so the declared result proves banded + wide + mixed
    * pairs all match exactly once on real data; the DuckDB twin is the
    * raw inequality join.
    */
  val j04 = QSpec(
    "j04_interval_overlap",
    Some("""WITH cust AS (
           |  SELECT o_custkey, MIN(o_totalprice) AS lo1,
           |         MAX(o_totalprice) + 1.0 AS hi1
           |  FROM orders GROUP BY o_custkey),
           |bands AS (SELECT CAST(k AS INT) AS band_id, k * 9000.0 AS lo2,
           |        k * 9000.0 + 15000.0 AS hi2 FROM UNNEST(range(0, 60)) t(k))
           |SELECT band_id, COUNT(*) AS n_cust,
           |  MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust
           |FROM cust JOIN bands ON lo1 < hi2 AND lo2 < hi1
           |GROUP BY band_id ORDER BY band_id""".stripMargin),
    (s, d) => {
      val cust = orders(s, d).groupBy("o_custkey")
        .agg(min("o_totalprice").as("lo1"),
          (max("o_totalprice") + lit(1.0d)).as("hi1"))
      val bands = s.range(0, 60).select(col("id").cast("int").as("band_id"),
        (col("id") * 9000.0d).as("lo2"),
        (col("id") * 9000.0d + 15000.0d).as("hi2"))
      TemporalJoins.intervalOverlapJoin(cust, "lo1", "hi1",
          bands, "lo2", "hi2",
          bandWidth = 6000.0, maxBands = 64, overflowSalt = 8)
        .groupBy("band_id")
        .agg(count(lit(1)).as("n_cust"), min("o_custkey").as("min_cust"),
          max("o_custkey").as("max_cust"))
        .orderBy("band_id")
    })

  /** j05 — interval-overlap join through the OPTIMIZER (the j03↔j02
    * relationship, for j04): the same customer-span × price-band overlap
    * join as j04, but written as plain SQL inequality conditions and
    * auto-rewritten by [[graft.plans.RangeJoinRewrite]]'s overlap
    * detection into the banded equi-join with first-shared-band dedup —
    * a query author gets the scale-safe plan without knowing the banding
    * API exists. Same scoped-rule + pinned-execution pattern as j03 (any
    * derived Dataset would re-plan without the rule); the require()
    * asserts the rewrite actually fired. Oracle = the raw inequality
    * join, identical to j04's.
    */
  val j05 = QSpec(
    "j05_overlap_join_auto",
    Some("""WITH cust AS (
           |  SELECT o_custkey, MIN(o_totalprice) AS lo1,
           |         MAX(o_totalprice) + 1.0 AS hi1
           |  FROM orders GROUP BY o_custkey),
           |bands AS (SELECT CAST(k AS INT) AS band_id, k * 9000.0 AS lo2,
           |        k * 9000.0 + 15000.0 AS hi2 FROM UNNEST(range(0, 60)) t(k))
           |SELECT band_id, COUNT(*) AS n_cust,
           |  MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust
           |FROM cust JOIN bands ON lo1 < hi2 AND lo2 < hi1
           |GROUP BY band_id ORDER BY band_id""".stripMargin),
    (s, d) => {
      import graft.plans.RangeJoinRewrite
      RangeJoinRewrite.pinnedScopedExecution(s,
          Map(RangeJoinRewrite.BandWidthConf -> "6000",
            RangeJoinRewrite.MaxBandsConf -> "64"), "j05") {
        orders(s, d).groupBy("o_custkey")
          .agg(min("o_totalprice").as("lo1"),
            (max("o_totalprice") + lit(1.0d)).as("hi1"))
          .createOrReplaceTempView("j05_cust")
        s.sql("""SELECT band_id, COUNT(*) AS n_cust,
                |  MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust
                |FROM (SELECT CAST(id AS INT) AS band_id, id * 9000.0 AS lo2,
                |        id * 9000.0 + 15000.0 AS hi2 FROM range(0, 60)) b
                |JOIN j05_cust c ON c.lo1 < b.hi2 AND b.lo2 < c.hi1
                |GROUP BY band_id ORDER BY band_id""".stripMargin)
      }
    })

  /** p07 — n-gram-level benchmark decontamination (the GPT-3 appendix-C
    * style pass, 8-grams here): for each held-out doc, the fraction of its
    * distinct word-8-grams that also occur anywhere in the training split.
    * Finer-grained than p03's whole-doc fingerprints — catches partial
    * copies. Gram equi-join; distinct-per-side keeps the join |grams|-sized.
    */
  val p07 = QSpec(
    "p07_ngram_decontamination",
    Some("""WITH w AS (SELECT doc_id,
           |  list_filter(string_split(text, ' '), x -> x <> '') AS words FROM documents),
           |g AS (SELECT DISTINCT doc_id, array_to_string(words[i : i+7], ' ') AS gram
           |      FROM w, UNNEST(range(1, len(words) - 6)) AS t(i)),
           |tr AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 <> 7),
           |ev AS (SELECT * FROM g WHERE doc_id % 10 = 7)
           |SELECT doc_id, COUNT(*) AS n_grams,
           |  CAST(SUM(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contam,
           |  ROUND(CAST(SUM(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |        / COUNT(*), 6) AS contam_ratio
           |FROM ev LEFT JOIN tr USING (gram)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    (s, d) => {
      val g = documents(s, d)
        .select(col("doc_id"),
          explode(graft.llm.Dedup.wordNGramsFused(s, col("text"), 8)).as("gram"))
        .distinct()
      val tr = g.filter(col("doc_id") % 10 =!= 7).select("gram").distinct()
        .withColumnRenamed("gram", "tr_gram")
      val ev = g.filter(col("doc_id") % 10 === 7)
      val hit = when(col("tr_gram").isNotNull, 1).otherwise(0)
      ev.join(tr, ev("gram") === tr("tr_gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(hit).cast("long").as("n_contam"),
          round(sum(hit).cast("double") / count(lit(1)), 6).as("contam_ratio"))
        .orderBy("doc_id")
    })

  /** p08 — LEARNED quality classifier (the fastText-style filter of the
    * GPT-3/CCNet pipelines: score every document against a trained model
    * instead of fixed rules). Features are the fused text-kernel signals
    * (word count, avg word length, stopword ratio); labels are planted by
    * a deterministic threshold on the stopword ratio (≈ the corpus median,
    * so both classes are populated), making the task linearly separable —
    * a correctly-plumbed logistic regression must reach AUC ≥ 0.95 and
    * accuracy ≥ 0.9 on the held-out content-hash split (the m06/x02
    * bounded-boolean oracle pattern). n_eval and the eval-split label
    * balance are exact and recomputed independently by the DuckDB twin, so
    * a wrong split or wrong planted labels hash-fail, not just a bad fit.
    */
  val p08 = QSpec(
    "p08_quality_classifier",
    Some("""WITH w AS (SELECT doc_id, text,
           |  list_filter(string_split(text, ' '), x -> x <> '') AS words
           |  FROM documents),
           |f AS (SELECT doc_id,
           |  CAST(('0x' || substr(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 8)) AS BIGINT) % 100 AS bucket,
           |  ROUND(CAST(len(list_filter(words, x -> x = 'the' OR x = 'a')) AS DOUBLE)
           |        / len(words), 6) AS stop_ratio
           |  FROM w WHERE len(words) > 0)
           |SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
           |  CAST(SUM(CASE WHEN stop_ratio >= 0.06 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_eval,
           |  TRUE AS auc_ge_095, TRUE AS acc_ge_090
           |FROM f WHERE bucket >= 80""".stripMargin),
    (s, d) => {
      import org.apache.spark.ml.classification.LogisticRegression
      import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
      import org.apache.spark.ml.feature.VectorAssembler
      val comps = TextAnalysis.qualityComponentsFused(s, col("text"),
        graft.functions.LangQualityUtil.defaultStopwords).toMap
      val feats = documents(s, d).select(col("doc_id"),
          TextAnalysis.contentBucket(col("text")).as("bucket"),
          comps("word_cnt").cast("double").as("word_cnt"),
          comps("avg_word_len").as("avg_word_len"),
          comps("stopword_ratio").as("stopword_ratio"))
        // a zero-word doc has null ratios, which VectorAssembler rejects at
        // runtime (handleInvalid=error); drop it in BOTH engines instead —
        // a quality classifier has nothing to learn from an empty document
        .filter(col("word_cnt") > 0)
        .withColumn("label",
          when(col("stopword_ratio") >= 0.06, 1.0d).otherwise(0.0d))
      val assembled = new VectorAssembler()
        .setInputCols(Array("word_cnt", "avg_word_len", "stopword_ratio"))
        .setOutputCol("features").transform(feats)
      val train = assembled.filter(col("bucket") < 80).cache()
      val eval = assembled.filter(col("bucket") >= 80)
      val model = new LogisticRegression().setMaxIter(100).setRegParam(0.0)
        .fit(train)
      train.unpersist(blocking = false)
      val scored = model.transform(eval).cache()
      val auc = new BinaryClassificationEvaluator().setLabelCol("label")
        .setRawPredictionCol("rawPrediction").evaluate(scored)
      scored.agg(
          count(lit(1)).as("n_eval"),
          sum(when(col("label") === 1.0d, 1L).otherwise(0L)).as("n_pos_eval"),
          (avg(when(col("prediction") === col("label"), 1.0d).otherwise(0.0d))
            >= 0.9d).as("acc_ge_090"))
        .withColumn("auc_ge_095", lit(auc >= 0.95))
        .select("n_eval", "n_pos_eval", "auc_ge_095", "acc_ge_090")
    })

  /** w06 — frame-bounded moving aggregates: a 5-row trailing moving
    * average (ROWS frame, ordered by the RAW ns timestamp + event_id — the
    * exact total order the oracle's `ORDER BY ts, event_id` uses, so a
    * same-user same-µs collision can never reorder the frame) and a
    * 30-minute trailing RANGE frame count + exact-decimal sum over µs
    * (both engines order the RANGE frame by epoch_us, so peer groups are
    * identical by construction).
    */
  val w06 = QSpec(
    "w06_moving_avg",
    Some("""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           |  ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS mavg5,
           |  COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
           |    RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW) AS cnt30m,
           |  CAST(SUM(CAST(value AS DECIMAL(18, 6))) OVER (PARTITION BY user_id
           |    ORDER BY epoch_us(ts)
           |    RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum30m
           |FROM events WHERE user_id % 10 = 3
           |ORDER BY event_id""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val rows5 = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
      val range30 = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-1800000000L, Window.currentRow)
      events(s, d).filter(col("user_id") % 10 === 3)
        .withColumn("ts_us", expr("ts div 1000"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round(avg("value").over(rows5), 6).as("mavg5"),
          count(lit(1)).over(range30).as("cnt30m"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .over(range30).cast("double").as("sum30m"))
        .orderBy("event_id")
    })

  /** m13 — feature hashing (HashingTF, 1024 buckets, murmur3): the fixed-
    * width bag-of-words every scalable text classifier starts from. The
    * hash itself is engine-specific, so the oracle is the m06-style
    * bounded-boolean contract on hash-invariant properties — total vector
    * mass equals the doc's token count (collisions conserve mass), width
    * is as configured, nnz is within [min(1, wc), min(wc, 1024)] — plus
    * the oracle-able token count itself.
    */
  val m13 = QSpec(
    "m13_hashing_tf",
    Some("""SELECT doc_id,
           |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS word_cnt,
           |  TRUE AS width_ok, TRUE AS mass_ok, TRUE AS nnz_ok
           |FROM documents WHERE doc_id % 7 = 0 ORDER BY doc_id""".stripMargin),
    (s, d) => {
      import org.apache.spark.ml.feature.HashingTF
      // explicit word array (empties dropped) so the mass invariant is
      // exactly wordCount even for empty documents (Tokenizer would emit
      // [""] there and break mass conservation)
      val docs = documents(s, d).filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text"),
          filter(split(col("text"), " "), w => w =!= "").as("words"))
      val tf = new HashingTF().setInputCol("words").setOutputCol("tf")
        .setNumFeatures(1024)
      val vecs = tf.transform(docs)
      val arr = org.apache.spark.ml.functions.vector_to_array(col("tf"))
      val wc = TextAnalysis.wordCount(col("text"))
      val mass = aggregate(arr, lit(0.0d), (acc, x) => acc + x)
      val nnz = size(filter(arr, x => x =!= 0.0d))
      vecs.select(col("doc_id"), wc.as("word_cnt"),
          (size(arr) === 1024).as("width_ok"),
          (mass === wc.cast("double")).as("mass_ok"),
          (nnz.cast("long") <= least(wc, lit(1024L)) &&
            nnz.cast("long") >= least(wc, lit(1L))).as("nnz_ok"))
        .orderBy("doc_id")
    })

  /** p09 — domain-mixture resampling: re-weight the corpus's source mix
    * (the DoReMi/"data mixture" knob of every pretraining pipeline —
    * downsample low-value domains, keep high-value ones whole). Each
    * source gets a target rate from its domain class, and membership is
    * decided by a deterministic Knuth-hash uniform on doc_id — no RNG, no
    * engine hash functions, so the SAME rows are kept on any engine, any
    * partitioning, any scale (the property that makes a sample reproducible
    * across reruns of a 100 TB job). Fully map-side: no shuffle until the
    * declared per-source audit aggregate.
    */
  val p09 = QSpec(
    "p09_domain_mix",
    Some("""WITH t AS (
           |  SELECT source, doc_id,
           |    CASE CAST(SUBSTR(source, 4) AS INT) % 4
           |      WHEN 0 THEN CAST(1.0 AS DOUBLE) WHEN 1 THEN CAST(0.5 AS DOUBLE)
           |      WHEN 2 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.1 AS DOUBLE) END AS rate,
           |    ((doc_id * 2654435761) % 4294967296) / CAST(4294967296 AS DOUBLE) AS u
           |  FROM documents)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS total_cnt,
           |  CAST(SUM(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS kept_cnt,
           |  ROUND(CAST(SUM(CASE WHEN u < rate THEN 1 ELSE 0 END) AS DOUBLE)
           |        / COUNT(*), 4) AS achieved_rate
           |FROM t GROUP BY source ORDER BY source""".stripMargin),
    (s, d) => {
      // Knuth multiplicative hash: u ∈ [0,1) exact in double (numerator
      // < 2^32). doc_id·2654435761 stays far below 2^63 for any realistic
      // id space (overflow needs doc_id ≈ 3.5e9).
      val u = (col("doc_id") * lit(2654435761L)) % lit(4294967296L) /
        lit(4294967296.0d)
      val rate = col("src_num") % 4
      documents(s, d)
        .select(col("source"), col("doc_id"),
          substring(col("source"), 4, 10).cast("int").as("src_num"))
        .withColumn("rate",
          when(rate === 0, 1.0d).when(rate === 1, 0.5d)
            .when(rate === 2, 0.25d).otherwise(0.1d))
        .withColumn("kept", (u < col("rate")).cast("int"))
        .groupBy("source")
        .agg(count(lit(1)).as("total_cnt"),
          sum(col("kept")).as("kept_cnt"),
          round(sum(col("kept")).cast("double") / count(lit(1)), 4)
            .as("achieved_rate"))
        .orderBy("source")
    })

  /** p10 — seeded deterministic shuffle-shard ([[Curation.shuffleShards]]):
    * the global random permutation every pre-training run applies to its
    * corpus before writing shard files, as one hash-partitioned sort —
    * reproducible at any cluster size (key is a pure function of
    * (seed, doc_id)), uniform across shards, and write-shaped (shard =
    * shuffle partition, pos = the order the shard file is written in).
    * The declared output pins the ENTIRE permutation, not just shard
    * sizes: `order_checksum` = Σ (pos+1)·((doc_id mod 1000003)+1) per
    * shard changes if any two rows within a shard swap positions, and
    * `first_doc` pins each shard's head. The oracle replays the md5 key
    * and ROW_NUMBER rank exactly.
    */
  val p10 = QSpec(
    "p10_shuffle_shard",
    Some("""WITH k AS (SELECT doc_id,
           |    CAST(('0x' || substr(md5('ep0:' || CAST(doc_id AS VARCHAR)), 1, 12))
           |         AS BIGINT) AS key
           |  FROM documents),
           |s AS (SELECT doc_id, key % 8 AS shard,
           |        ROW_NUMBER() OVER (PARTITION BY key % 8 ORDER BY key, doc_id) - 1 AS pos
           |      FROM k)
           |SELECT CAST(shard AS INT) AS shard, COUNT(*) AS n_docs,
           |  CAST(MIN(CASE WHEN pos = 0 THEN doc_id END) AS BIGINT) AS first_doc,
           |  CAST(SUM((pos + 1) * ((doc_id % 1000003) + 1)) AS BIGINT) AS order_checksum
           |FROM s GROUP BY shard ORDER BY shard""".stripMargin),
    (s, d) => Curation.shuffleShards(documents(s, d), "doc_id", "ep0", 8)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        min(when(col("pos") === 0, col("doc_id"))).as("first_doc"),
        sum((col("pos") + 1) * (col("doc_id") % 1000003 + 1))
          .as("order_checksum"))
      .orderBy("shard"))

  /** p11 — leakage-safe train/validation split: assign documents to
    * splits so that no NEAR-DUP COMPONENT straddles the boundary — the
    * decontaminated-split primitive every pre-training pipeline needs
    * (a plain per-doc hash split, p02-style, leaks: a validation doc's
    * near-duplicate lands in train and the eval measures memorization).
    * Reuses d07's exact component computation (n-gram Jaccard pairs →
    * min-label connected components); singleton docs are their own
    * component; the split is a pure function of the COMPONENT id, so
    * component-constancy holds by construction — and the declared output
    * still carries `straddling_components` (must be 0) as the contract
    * guard against a future edit keying the split off the doc again.
    *
    * Scale: the expensive part IS d07 (bucketed candidate join + CC on
    * pair edges, both 100 TB-shaped — llm/Dedup.scala); the split layer
    * adds one hash join of ids against the component map (the labels
    * frame is localCheckpoint-materialized, so its double use below costs
    * two scans of materialized rows, not two CC runs) and two
    * aggregations over (grp, split) — nothing corpus-quadratic.
    */
  val p11 = QSpec(
    "p11_component_split",
    Some("""WITH RECURSIVE
           |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           |g0 AS (SELECT DISTINCT doc_id,
           |        words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
           |      FROM w, UNNEST(range(1, len(words) - 1)) AS t(i)),
           |rare AS (SELECT gram FROM g0 GROUP BY gram HAVING COUNT(*) <= 10),
           |g AS (SELECT g0.* FROM g0 JOIN rare USING (gram)),
           |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
           |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
           |      GROUP BY 1, 2),
           |pairs AS (SELECT doc_a, doc_b
           |          FROM p JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
           |          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |          UNION SELECT doc_b, doc_a FROM pairs),
           |reach(a, b) AS (
           |  SELECT src, src FROM edges
           |  UNION
           |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
           |comp AS (SELECT a AS doc_id, MIN(b) AS group_id FROM reach GROUP BY a),
           |lab AS (SELECT d.doc_id, COALESCE(c.group_id, d.doc_id) AS grp
           |        FROM documents d LEFT JOIN comp c USING (doc_id)),
           |sp AS (SELECT doc_id, grp,
           |        CASE WHEN grp % 10 < 8 THEN 'train' ELSE 'validation' END AS split
           |      FROM lab),
           |x AS (SELECT CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |        AS straddling_components
           |      FROM (SELECT grp, COUNT(DISTINCT split) AS ns FROM sp GROUP BY grp))
           |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_components,
           |  x.straddling_components
           |FROM sp, x
           |GROUP BY split, x.straddling_components ORDER BY split""".stripMargin),
    (s, d) => {
      import graft.llm.Dedup
      val comp = Dedup.ngramComponents(documents(s, d),
        "doc_id", "text", 3, 0.5, maxDocFreq = 10) // (doc_id, group_id) for docs in ≥1 pair
      val sp = documents(s, d).select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("group_id"), col("doc_id")).as("grp"))
        .withColumn("split",
          when(pmod(col("grp"), lit(10)) < 8, "train").otherwise("validation"))
      val straddle = sp.groupBy("grp")
        .agg(countDistinct(col("split")).as("ns"))
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L))
          .as("straddling_components"))
      sp.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("grp")).as("n_components"))
        .crossJoin(straddle)
        .orderBy("split")
    })

  /** p12 — DSIR-style importance resampling (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score each
    * document by how much more likely its hashed-unigram features are
    * under a TARGET distribution (here: the `lang = 'en'` slice, a quality
    * proxy) than under the RAW corpus, and keep documents with positive
    * importance log-weight. This is the published recipe's shape exactly:
    * hashed n-gram bag-of-words features into B buckets, two smoothed
    * bucket-probability models, per-doc sum of per-feature log ratios.
    *
    * Scale: fit is ONE map-side-combined aggregate over the exploded
    * words (state = B = 1,024 buckets per partition, independent of
    * corpus size); scoring joins per-doc bucket counts against the
    * BROADCAST 1,024-row model — no corpus-sized shuffle beyond the
    * (doc, bucket) combine. Exactness: the only engine-specific math is
    * ln(), so each bucket's log-ratio is quantized ONCE to DECIMAL(18,6)
    * at fit time — coarse enough that a 1-ulp ln() disagreement between
    * engines virtually never crosses a grid boundary — and every
    * downstream step (count × logr, per-doc sum,
    * per-lang totals, the kept test `score > 0`) is exact decimal
    * arithmetic — bit-equal across engines given equal quantized models.
    * The md5-prefix bucket hash is the p10 cross-engine recipe.
    */
  val p12 = QSpec(
    "p12_dsir_resample",
    Some("""WITH w AS (SELECT doc_id, lang,
           |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
           |  FROM documents),
           |wb AS (SELECT doc_id, lang,
           |    CAST(('0x' || substr(md5('ng:' || w), 1, 12)) AS BIGINT) % 1024 AS b
           |  FROM w),
           |r AS (SELECT b, COUNT(*) AS c_r FROM wb GROUP BY b),
           |t AS (SELECT b, COUNT(*) AS c_t FROM wb WHERE lang = 'en' GROUP BY b),
           |nn AS (SELECT (SELECT COUNT(*) FROM wb) AS n_r,
           |              (SELECT COUNT(*) FROM wb WHERE lang = 'en') AS n_t),
           |m AS (SELECT r.b,
           |    CAST(ln((COALESCE(c_t, 0) + 1.0) / (n_t + 1024))
           |       - ln((c_r + 1.0) / (n_r + 1024)) AS DECIMAL(18, 6)) AS logr
           |  FROM r LEFT JOIN t ON r.b = t.b, nn),
           |db AS (SELECT doc_id, lang, b, COUNT(*) AS n FROM wb GROUP BY 1, 2, 3),
           |sc AS (SELECT doc_id, lang, SUM(n * logr) AS score
           |       FROM db JOIN m USING (b) GROUP BY 1, 2)
           |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  ROUND(CAST(SUM(score) AS DOUBLE), 4) AS total_logw
           |FROM sc GROUP BY lang ORDER BY lang""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val B = 1024
      val wb = documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .withColumn("b",
          conv(substring(md5(concat(lit("ng:"), col("w"))), 1, 12), 16, 10)
            .cast("long") % B)
      val r = wb.groupBy("b").agg(count(lit(1)).as("c_r"))
      val t = wb.filter(col("lang") === "en").groupBy("b")
        .agg(count(lit(1)).as("c_t"))
      val nn = wb.agg(count(lit(1)).as("n_r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"))
      val model = r.join(t, Seq("b"), "left").crossJoin(broadcast(nn))
        .select(col("b"),
          (log((coalesce(col("c_t"), lit(0L)) + lit(1L)).cast("double")
              / (col("n_t") + B).cast("double"))
            - log((col("c_r") + lit(1L)).cast("double")
              / (col("n_r") + B).cast("double")))
            .cast(DecimalType(18, 6)).as("logr"))
      val scores = wb.groupBy("doc_id", "lang", "b")
        .agg(count(lit(1)).as("n"))
        .join(broadcast(model), "b")
        .groupBy("doc_id", "lang")
        .agg(sum(col("n") * col("logr")).as("score"))
      scores.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_kept"),
          round(sum(col("score")).cast("double"), 4).as("total_logw"))
        .orderBy("lang")
    })

  /** t16 — BPE tokenizer-training pair statistics
    * ([[Curation.bpePairCounts]]): the distributed inner loop of building
    * a tokenizer (t14 is the inference twin — applying one). Corpus →
    * distinct-word vocabulary with counts is the only corpus-sized
    * shuffle; the adjacent-pair explosion runs on the vocabulary only.
    * Top 30 pairs by weighted frequency — the head of this list is the
    * merge BPE applies next.
    */
  val t16 = QSpec(
    "t16_bpe_pair_counts",
    Some("""WITH w AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
           |        FROM documents),
           |v AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY word),
           |p AS (SELECT substr(word, CAST(i AS INT), 2) AS pair, freq
           |      FROM v, UNNEST(range(1, len(word))) AS t(i)
           |      WHERE len(word) >= 2)
           |SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
           |FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30""".stripMargin),
    (s, d) => Curation.bpePairCounts(documents(s, d), "text")
      .orderBy(col("cnt").desc, col("pair")).limit(30))

  /** j06 — NEAREST as-of join with tolerance (the `merge_asof
    * (direction='nearest', tolerance=…)` surface): each click matched to
    * the same user's closest purchase within ±10 min, backward winning
    * distance ties. One shuffle + one sort for BOTH directions
    * ([[TemporalJoins.asofJoinNearest]] — two frames over one ordering);
    * the oracle brute-forces every within-tolerance pair and replicates
    * the exact tie rules (distance → backward; duplicate-ts → greatest
    * payload backward / smallest forward), so the match choice itself is
    * hash-verified, not just row counts.
    *
    * Precision: DISTANCE comparisons can't follow the j01 raw-ns rule —
    * DuckDB truncates TIMESTAMP(NANOS) to µs on read, and unlike j01's
    * ordering-based match (where ns-vs-µs only differs on same-µs
    * collisions), a distance rank flips whenever |dist_b − dist_f| < 1 µs
    * even with no collision anywhere. Both engines therefore quantize to
    * µs TICKS explicitly (tolerance 6·10⁸ µs): the match is deterministic
    * at ANY scale, with µs resolution as the documented contract.
    */
  val j06 = QSpec(
    "j06_asof_nearest",
    Some("""WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS t
           |          FROM events WHERE event_type = 'click'),
           |p AS (SELECT user_id, epoch_us(ts) AS t, value
           |      FROM events WHERE event_type = 'purchase'),
           |j AS (SELECT c.event_id, p.t AS pt, p.value,
           |        ROW_NUMBER() OVER (PARTITION BY c.event_id
           |          ORDER BY ABS(p.t - c.t),
           |            CASE WHEN p.t <= c.t THEN 0 ELSE 1 END,
           |            CASE WHEN p.t <= c.t THEN -p.value ELSE p.value END) AS rn
           |      FROM c JOIN p ON c.user_id = p.user_id
           |        AND ABS(p.t - c.t) <= 600000000)
           |SELECT c.event_id, c.user_id, c.t AS click_ts_us,
           |  j.pt AS asof_ts, j.value AS purchase_value
           |FROM c LEFT JOIN (SELECT * FROM j WHERE rn = 1) j USING (event_id)
           |ORDER BY c.event_id""".stripMargin),
    (s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000").as("ts"),
          col("value").as("purchase_value"))
      TemporalJoins.asofJoinNearest(clicks, purchases, "user_id", "ts",
          Seq("purchase_value"), 600000000L) // ±10 min in µs ticks
        .select(col("event_id"), col("user_id"), col("ts").as("click_ts_us"),
          col("asof_ts"), col("purchase_value"))
        .orderBy("event_id")
    })

  /** j07 — temporal ANTI-join: views with NO purchase by the same user in
    * the following hour — the abandonment/no-conversion query, the
    * negative space of st04's attribution join. Spark plans the raw
    * `NOT EXISTS` range condition as a nested loop at scale, so it runs
    * as a FORWARD as-of join — [[TemporalJoins.asofJoin]] under time
    * reversal (negate both ts columns: latest-preceding on −t ≡
    * earliest-following on t, equality stays inclusive) — then a
    * null-or-beyond-window filter. NOT composed via j06's nearest: a
    * closer PAST purchase would mask an in-window future one and
    * misclassify the view as unconverted. One shuffle, the j01 exchange;
    * µs ticks in both engines (the j06 precision rule).
    */
  val j07 = QSpec(
    "j07_temporal_anti",
    Some("""WITH v AS (SELECT event_id, user_id, epoch_us(ts) AS t
           |          FROM events WHERE event_type = 'view'),
           |p AS (SELECT user_id, epoch_us(ts) AS t FROM events
           |      WHERE event_type = 'purchase')
           |SELECT v.event_id, v.user_id, v.t AS view_ts_us
           |FROM v WHERE NOT EXISTS (
           |  SELECT 1 FROM p WHERE p.user_id = v.user_id
           |    AND p.t >= v.t AND p.t <= v.t + 3600000000)
           |ORDER BY v.event_id""".stripMargin),
    (s, d) => {
      val ev = events(s, d)
      // time-reversed inputs: backward as-of on -t = forward as-of on t
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          (-expr("ts div 1000")).as("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), (-expr("ts div 1000")).as("ts"),
          lit(1).as("hit"))
      // asof_ts = -(earliest purchase at-or-after the view); in-window
      // conversion iff p - v = ts - asof_ts <= 1h (negated axis)
      TemporalJoins.asofJoin(views, purchases, "user_id", "ts", Seq("hit"))
        .filter(col("asof_ts").isNull ||
          col("ts") - col("asof_ts") > 3600000000L)
        .select(col("event_id"), col("user_id"), (-col("ts")).as("view_ts_us"))
        .orderBy("event_id")
    })

  /** t17 — n-gram LM perplexity bucketing
    * ([[graft.llm.Curation.perplexityBuckets]] — the CCNet recipe at
    * char-bigram granularity; model/backoff/calibration semantics and the
    * scale + exactness arguments documented there). The `src0` source
    * slice plays the clean-reference corpus; the oracle replays the whole
    * fit → quantize-to-micro-nats → score → integer-mean → tercile chain
    * in SQL, so the hash compare pins the trained MODEL as well as the
    * bucketing, not just row counts.
    */
  val t17 = QSpec(
    "t17_lm_perplexity",
    Some("""WITH bg_all AS (
           |  SELECT doc_id, lang, source, substr(text, CAST(i AS INT), 2) AS bg
           |  FROM documents, UNNEST(range(1, len(text))) AS t(i)),
           |m0 AS (SELECT lang, bg, COUNT(*) AS c_bg FROM bg_all
           |       WHERE source = 'src0' GROUP BY 1, 2),
           |c1m AS (SELECT lang, substr(bg, 1, 1) AS c1, SUM(c_bg) AS c_c1
           |        FROM m0 GROUP BY 1, 2),
           |vm AS (SELECT lang, COUNT(*) AS v FROM c1m GROUP BY 1),
           |model AS (SELECT m0.lang, m0.bg,
           |    CAST(ROUND(ln((c_bg + 1.0) / (c_c1 + v)) * 1000000) AS BIGINT) AS lp
           |  FROM m0 JOIN c1m ON m0.lang = c1m.lang AND substr(m0.bg, 1, 1) = c1m.c1
           |       JOIN vm ON m0.lang = vm.lang),
           |fb1 AS (SELECT c1m.lang, c1,
           |    CAST(ROUND(ln(1.0 / (c_c1 + v)) * 1000000) AS BIGINT) AS lp0
           |  FROM c1m JOIN vm ON c1m.lang = vm.lang),
           |fbg AS (SELECT lang, CAST(ROUND(ln(1.0 / v) * 1000000) AS BIGINT) AS lpg
           |        FROM vm),
           |db AS (SELECT doc_id, lang, bg, COUNT(*) AS n FROM bg_all GROUP BY 1, 2, 3),
           |sc AS (SELECT db.doc_id, db.lang,
           |    -SUM(n * COALESCE(model.lp, fb1.lp0, fbg.lpg)) AS nll, SUM(n) AS nb
           |  FROM db LEFT JOIN model ON db.lang = model.lang AND db.bg = model.bg
           |       LEFT JOIN fb1 ON db.lang = fb1.lang AND substr(db.bg, 1, 1) = fb1.c1
           |       JOIN fbg ON db.lang = fbg.lang
           |  GROUP BY 1, 2),
           |avgd AS (SELECT doc_id, lang, nll // nb AS avg_nll FROM sc),
           |cal AS (SELECT lang, doc_id, avg_nll,
           |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS rn,
           |    COUNT(*) OVER (PARTITION BY lang) AS ns
           |  FROM avgd WHERE doc_id % 10 = 0),
           |th AS (SELECT lang,
           |    MAX(CASE WHEN rn <= (ns + 2) // 3 THEN avg_nll END) AS t1,
           |    MAX(CASE WHEN rn <= (2 * ns + 2) // 3 THEN avg_nll END) AS t2
           |  FROM cal GROUP BY 1),
           |b AS (SELECT a.lang,
           |    CASE WHEN a.avg_nll <= th.t1 THEN 'head'
           |         WHEN a.avg_nll <= th.t2 THEN 'middle'
           |         ELSE 'tail' END AS bucket, a.avg_nll
           |  FROM avgd a JOIN th ON a.lang = th.lang)
           |SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(avg_nll) AS BIGINT) AS sum_avg_nll
           |FROM b GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin),
    (s, d) => Curation.perplexityBuckets(documents(s, d),
      "doc_id", "lang", "text", isRef = col("source") === "src0")
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("avg_nll").as("sum_avg_nll"))
      .orderBy("lang", "bucket"))

  /** p13 — weighted sampling without replacement
    * ([[graft.llm.Curation.weightedSampleTopK]] — Efraimidis & Spirakis
    * 2006, keys from the md5 cross-engine hash recipe). Weights are the
    * t02 quality scores, k = 50; the oracle replays hash → key →
    * quantize → rank in SQL, so the hash compare pins the exact selected
    * set AND its order. Since round 12 the −ln(u) key is EXACT BY
    * CONSTRUCTION (verdict directive #7): the oracle unrolls the same
    * twenty square-and-extract steps as the fused
    * [[graft.functions.NegLog2Fixed]] kernel — only integer bit ops and
    * IEEE-exact double ×/÷2/≥ per step, so both engines compute the
    * identical Q20 integer and therefore the identical key_micro, with
    * no libm anywhere (the docstring there has the derivation).
    */
  private def wexpKeySteps: String = (1 to 20).map { j =>
    s"s$j AS (SELECT * EXCLUDE (m${j - 1}, acc${j - 1}), " +
      s"CASE WHEN m${j - 1}*m${j - 1} >= 2 THEN m${j - 1}*m${j - 1}/2 " +
      s"ELSE m${j - 1}*m${j - 1} END AS m$j, " +
      s"acc${j - 1}*2 + CASE WHEN m${j - 1}*m${j - 1} >= 2 THEN 1 ELSE 0 END AS acc$j " +
      s"FROM s${j - 1})"
  }.mkString(",\n")

  val p13 = QSpec(
    "p13_weighted_sample",
    Some(s"""WITH q AS (SELECT doc_id,
           |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS word_cnt,
           |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a'))) AS BIGINT) AS stop_cnt
           |  FROM documents),
           |s AS (SELECT doc_id,
           |    ROUND(LEAST(1.0, word_cnt / 100.0) * (1.0 - stop_cnt / word_cnt), 6) AS quality_score
           |  FROM q),
           |hh AS (SELECT doc_id, quality_score,
           |    CAST(('0x' || substr(md5('ws:' || doc_id), 1, 12)) AS BIGINT) * 2 + 1 AS v
           |  FROM s),
           |s0 AS (SELECT doc_id, quality_score, length(bin(v)) - 1 AS e,
           |    CAST(v AS DOUBLE) / CAST((CAST(1 AS BIGINT) << (length(bin(v)) - 1)) AS DOUBLE) AS m0,
           |    CAST(0 AS BIGINT) AS acc0
           |  FROM hh),
           |$wexpKeySteps,
           |k AS (SELECT doc_id, quality_score,
           |    CAST(ROUND(CAST((49 - e) * CAST(1048576 AS BIGINT) - acc20 AS DOUBLE)
           |        * 0.6931471805599453 * 1000000 / 1048576.0
           |        / GREATEST(quality_score, 0.000001)) AS BIGINT) AS key_micro
           |  FROM s20),
           |r AS (SELECT doc_id, quality_score, key_micro,
           |    ROW_NUMBER() OVER (ORDER BY key_micro, doc_id) AS rn FROM k)
           |SELECT CAST(rn AS BIGINT) AS rank, doc_id, quality_score, key_micro
           |FROM r WHERE rn <= 50 ORDER BY rank""".stripMargin),
    (s, d) => Curation.weightedSampleTopK(
      LlmOps.scoredDocs(s, d).select("doc_id", "quality_score"),
      "doc_id", "quality_score", k = 50)
      .orderBy("rank"))

  /** t18 — lexical diversity profiling: per document, token count,
    * TYPE count (distinct tokens), HAPAX count (tokens occurring exactly
    * once in the doc), and the derived type-token and hapax ratios — the
    * classic lexical-richness signals corpus QA filters rank on
    * (machine-generated and template text collapses to few types / few
    * hapaxes; natural prose sits high on both). Complements t02's
    * length/stopword score and t09's repetition ratio with the
    * vocabulary-side view.
    *
    * Exactness: every emitted value is a BIGINT — counts, and ratios as
    * `count·10⁶ div n_tokens` floor divisions of positives (≡ DuckDB
    * `//`), no floating point anywhere. Scale shape: the same two-level
    * aggregate as every TF computation (t12): explode → groupBy
    * (doc_id, token) with map-side combine — the only corpus-sized
    * shuffle, carrying one row per distinct (doc, token) — then the
    * per-doc rollup over the already-shrunk stream. Nothing is
    * per-corpus-vocabulary global, so skewed docs parallelize by token.
    */
  val t18 = QSpec(
    "t18_lexical_diversity",
    Some("""WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
           |      x -> x <> '')) AS tok
           |    FROM documents),
           |cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
           |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
           |    CAST(COUNT(*) AS BIGINT) AS n_types,
           |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
           |  FROM cnt GROUP BY 1)
           |SELECT doc_id, n_tokens, n_types, n_hapax,
           |  CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_micro,
           |  CAST(n_hapax * 1000000 // n_tokens AS BIGINT) AS hapax_micro
           |FROM agg WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin),
    (s, d) => lexicalDiversity(documents(s, d)))

  /** The t18 aggregate over a (doc_id, text) frame — factored out so the
    * math is fixture-testable independent of the documents table.
    */
  private[operators] def lexicalDiversity(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(filter(split(col("text"), " "), w => w =!= "")).as("tok"))
    toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 1000000 div n_tokens").as("ttr_micro"),
        expr("n_hapax * 1000000 div n_tokens").as("hapax_micro"))
      .orderBy("doc_id")
  }

  /** t19 — boilerplate-gram ratio: per document, the fraction of its
    * distinct word 3-grams that are CORPUS-COMMON — document frequency
    * above `greatest(2, n_docs div 250)`, a corpus-RELATIVE bar because an
    * absolute df cut is vacuous at small corpora and unselective at large
    * ones (measured: max df is 7 at sf0.01 but 25 at sf0.1). This is the
    * cross-document boilerplate signal (headers, nav chrome, license
    * blocks) that RefinedWeb-style line/paragraph filters act on,
    * complementing t09 (within-doc repetition) and t18 (vocabulary
    * richness).
    *
    * Plan: the d04 gram machinery minus the self-join — distinct grams per
    * doc, df per gram (map-side combined), the one-row threshold scalar
    * broadcast, one gram-keyed join back (Zipf-skewed — AQE skew split
    * applies; no pair fanout exists since the df side is pre-aggregated to
    * one row per gram), then the per-doc rollup. Outputs are counts and a
    * ·10⁶ floor division of positives (≡ DuckDB `//`): pure BIGINTs,
    * bit-deterministic by construction.
    */
  val t19 = QSpec(
    "t19_boilerplate_grams",
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           |g AS (SELECT DISTINCT doc_id,
           |        words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
           |      FROM w, UNNEST(range(1, len(words) - 1)) AS t(i)),
           |thr AS (SELECT greatest(2, COUNT(*) // 250) AS thr FROM documents),
           |df AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           |  CAST(SUM(CASE WHEN df.df > thr.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           |  CAST(SUM(CASE WHEN df.df > thr.thr THEN 1 ELSE 0 END) * 1000000
           |       // COUNT(*) AS BIGINT) AS boiler_micro
           |FROM g JOIN df USING (gram) CROSS JOIN thr GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin),
    (s, d) => boilerplateGrams(documents(s, d)))

  /** The t19 aggregate over a (doc_id, text) frame — factored out so the
    * threshold rule and the micro ratios are fixture-testable independent
    * of the documents table.
    */
  private[operators] def boilerplateGrams(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    val grams = docs.select(col("doc_id"),
      explode(array_distinct(
        graft.llm.Dedup.wordNGramsFused(s, col("text"), 3))).as("gram"))
    val thr = docs.agg(
      greatest(lit(2L), expr("count(1) div 250")).as("thr"))
    val dfreq = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    grams.join(dfreq, "gram").crossJoin(broadcast(thr))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") > col("thr"), 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_grams"), col("n_common"),
        expr("n_common * 1000000 div n_grams").as("boiler_micro"))
      .orderBy("doc_id")
  }

  /** j08 — geo RADIUS self-join ([[graft.joins.GeoJoin.radiusJoin]]):
    * all point pairs within 150 great-circle km, via unit-sphere 3D grid
    * bucketing — the spatial analog of j02/j03's banded range join, and
    * the join shape a listings/geo pipeline needs ("comparable sales
    * within R km"). Points are a01's deterministic key-derived lattice
    * (the testdata carries no organic lat/lon), which pins the pair set
    * across regens: 3 pairs at sf0.01, 5 483 at sf0.1 — non-vacuous,
    * including the polar crowding that breaks naive lat/lon cells and is
    * exactly why the cells are XYZ (see GeoJoin's scaladoc). The oracle
    * replays the full O(N²) exact join in SQL, so the hash compare
    * asserts the grid path's recall is literally 100 %.
    */
  val j08 = QSpec(
    "j08_geo_radius_join",
    Some("""WITH p AS (SELECT c_custkey AS id,
           |    CAST((c_custkey * 7) % 180 AS DOUBLE) - 90 + 0.25 AS lat,
           |    CAST((c_custkey * 13) % 360 AS DOUBLE) - 180 + 0.5 AS lon
           |  FROM customer WHERE c_custkey % 7 = 0)
           |SELECT a.id AS id_a, b.id AS id_b,
           |  ROUND(12742.0 * ASIN(SQRT(
           |    SIN(RADIANS(b.lat - a.lat)/2) * SIN(RADIANS(b.lat - a.lat)/2)
           |    + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))
           |      * SIN(RADIANS(b.lon - a.lon)/2) * SIN(RADIANS(b.lon - a.lon)/2)
           |  )), 4) AS dist_km
           |FROM p a JOIN p b ON a.id < b.id
           |WHERE ROUND(12742.0 * ASIN(SQRT(
           |    SIN(RADIANS(b.lat - a.lat)/2) * SIN(RADIANS(b.lat - a.lat)/2)
           |    + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))
           |      * SIN(RADIANS(b.lon - a.lon)/2) * SIN(RADIANS(b.lon - a.lon)/2)
           |  )), 4) <= 150.0
           |ORDER BY id_a, id_b""".stripMargin),
    (s, d) => {
      val pts = customer(s, d)
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("id"),
          (((col("c_custkey") * 7) % 180).cast("double") - 90 + 0.25).as("lat"),
          (((col("c_custkey") * 13) % 360).cast("double") - 180 + 0.5).as("lon"))
      graft.joins.GeoJoin.radiusJoin(pts, "id", "lat", "lon", 150.0)
        .orderBy("id_a", "id_b")
    })

  /** j09 — k-NEAREST-neighbors geo join
    * ([[graft.joins.GeoJoin.kNearestJoin]] — the BOUNDED-OUTPUT production
    * form of j08, verdict directive #1): each lattice point's 3 nearest
    * neighbors within 2 000 km, ≤ N·k rows by construction where j08's
    * all-pairs answer grows ~N² on the saturating lattice (65.4 M pairs at
    * 100×). The operator collapses coincident positions first (the
    * weighted-point trick — the lattice piles ~N/360 points per position
    * from sf0.1 up), so position-pair work is CONSTANT in N and the member
    * expansion is O(k²) per point; the j09 SCALE.md row shows the measured
    * flat curve against j08's quadratic one. The oracle replays the full
    * O(N²) exact k-NN in SQL — rank per point under the (rounded dist, id)
    * total order — so the hash compare asserts the collapsed grid path's
    * recall is literally 100 %, ranks included.
    */
  val j09 = QSpec(
    "j09_geo_knn_join",
    Some("""WITH p AS (SELECT c_custkey AS id,
           |    CAST((c_custkey * 7) % 180 AS DOUBLE) - 90 + 0.25 AS lat,
           |    CAST((c_custkey * 13) % 360 AS DOUBLE) - 180 + 0.5 AS lon
           |  FROM customer WHERE c_custkey % 7 = 0),
           |d AS (SELECT a.id AS id, b.id AS neighbor_id,
           |  ROUND(12742.0 * ASIN(SQRT(
           |    SIN(RADIANS(b.lat - a.lat)/2) * SIN(RADIANS(b.lat - a.lat)/2)
           |    + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))
           |      * SIN(RADIANS(b.lon - a.lon)/2) * SIN(RADIANS(b.lon - a.lon)/2)
           |  )), 4) AS dist_km
           |  FROM p a JOIN p b ON a.id <> b.id),
           |r AS (SELECT id, neighbor_id, dist_km,
           |    ROW_NUMBER() OVER (PARTITION BY id
           |                       ORDER BY dist_km, neighbor_id) AS rank
           |  FROM d WHERE dist_km <= 2000.0)
           |SELECT id, neighbor_id, CAST(rank AS BIGINT) AS rank, dist_km
           |FROM r WHERE rank <= 3 ORDER BY id, rank""".stripMargin),
    (s, d) => {
      val pts = customer(s, d)
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("id"),
          (((col("c_custkey") * 7) % 180).cast("double") - 90 + 0.25).as("lat"),
          (((col("c_custkey") * 13) % 360).cast("double") - 180 + 0.5).as("lon"))
      graft.joins.GeoJoin.kNearestJoin(pts, "id", "lat", "lon", 2000.0, 3)
        .orderBy("id", "rank")
    })

  /** j10 — TWO-TABLE geo k-nearest join
    * ([[graft.joins.GeoJoin.kNearestJoinAgainst]] — "nearest facility",
    * the asymmetric form j08/j09 can't express as self-joins): every
    * supplier-lattice point gets its 2 nearest customer-lattice points
    * within 2 000 km. The supplier lattice uses different multipliers AND
    * half-cell offsets (11/17, +0.75/+0.25) so probe positions never
    * coincide with build positions — distances are organic, not planted
    * zeros. Probe and build sides BOTH collapse to distinct positions
    * before the grid join (coincident probes share all candidate work),
    * and the two-table asymmetry tightens j09's caps: no self-exclusion,
    * so member cap and distance-level cap are k, not k+1. Output ≤ k rows
    * per probe by construction. The oracle replays the full O(N·M) exact
    * k-NN in SQL — rank per probe under the (rounded dist, id) total
    * order — so the hash compare asserts the collapsed grid path's recall
    * is literally 100 %, ranks included.
    */
  val j10 = QSpec(
    "j10_geo_nearest_facility",
    Some("""WITH p AS (SELECT s_suppkey AS id,
           |    CAST((s_suppkey * 11) % 180 AS DOUBLE) - 90 + 0.75 AS lat,
           |    CAST((s_suppkey * 17) % 360 AS DOUBLE) - 180 + 0.25 AS lon
           |  FROM supplier),
           |b AS (SELECT c_custkey AS neighbor_id,
           |    CAST((c_custkey * 7) % 180 AS DOUBLE) - 90 + 0.25 AS lat,
           |    CAST((c_custkey * 13) % 360 AS DOUBLE) - 180 + 0.5 AS lon
           |  FROM customer WHERE c_custkey % 7 = 0),
           |d AS (SELECT p.id, b.neighbor_id,
           |  ROUND(12742.0 * ASIN(SQRT(
           |    SIN(RADIANS(b.lat - p.lat)/2) * SIN(RADIANS(b.lat - p.lat)/2)
           |    + COS(RADIANS(p.lat)) * COS(RADIANS(b.lat))
           |      * SIN(RADIANS(b.lon - p.lon)/2) * SIN(RADIANS(b.lon - p.lon)/2)
           |  )), 4) AS dist_km
           |  FROM p CROSS JOIN b),
           |r AS (SELECT id, neighbor_id, dist_km,
           |    ROW_NUMBER() OVER (PARTITION BY id
           |                       ORDER BY dist_km, neighbor_id) AS rank
           |  FROM d WHERE dist_km <= 2000.0)
           |SELECT id, neighbor_id, CAST(rank AS BIGINT) AS rank, dist_km
           |FROM r WHERE rank <= 2 ORDER BY id, rank""".stripMargin),
    (s, d) => {
      val probes = supplier(s, d)
        .select(col("s_suppkey").as("id"),
          (((col("s_suppkey") * 11) % 180).cast("double") - 90 + 0.75).as("lat"),
          (((col("s_suppkey") * 17) % 360).cast("double") - 180 + 0.25).as("lon"))
      val stores = customer(s, d)
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("id"),
          (((col("c_custkey") * 7) % 180).cast("double") - 90 + 0.25).as("lat"),
          (((col("c_custkey") * 13) % 360).cast("double") - 180 + 0.5).as("lon"))
      graft.joins.GeoJoin.kNearestJoinAgainst(
        probes, "id", stores, "id", "lat", "lon", 2000.0, 2)
        .orderBy("id", "rank")
    })

  /** p14 — quota-capped domain sampling
    * ([[graft.llm.Curation.domainQuotaSample]] — per-source top-N by
    * quality rank, verdict directive #6): the curation op real pipelines
    * run to cap any one domain's share of the training mix (a crawl's
    * biggest domain must not dominate), DISTINCT from x05's fraction
    * sampling — the cap is an absolute per-domain rank bar, not a rate.
    * The cap is corpus-RELATIVE (greatest(5, n_docs div 100) — the t19
    * lesson: absolute cut-offs are vacuous at sf0.01 and unselective at
    * sf0.1; this keeps 5/25 per source at sf0.01 and 50/250 at sf0.1) and
    * quality ties break on the p13 md5-key recipe then doc_id, so the
    * kept set is deterministic and unbiased w.r.t. ingest order on tied
    * scores. The oracle replays score → cap → rank in SQL, hash-pinning
    * the kept rows AND their ranks.
    */
  val p14 = QSpec(
    "p14_domain_quota",
    Some("""WITH q AS (SELECT doc_id, source,
           |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS word_cnt,
           |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a'))) AS BIGINT) AS stop_cnt
           |  FROM documents),
           |s AS (SELECT doc_id, source,
           |    ROUND(LEAST(1.0, word_cnt / 100.0) * (1.0 - stop_cnt / word_cnt), 6) AS quality_score
           |  FROM q),
           |n AS (SELECT GREATEST(5, COUNT(*) // 100) AS cap FROM documents),
           |r AS (SELECT source, doc_id, quality_score,
           |    ROW_NUMBER() OVER (PARTITION BY source
           |      ORDER BY quality_score DESC,
           |        CAST(('0x' || substr(md5('quota:' || doc_id), 1, 12)) AS BIGINT),
           |        doc_id) AS rn
           |  FROM s)
           |SELECT source, doc_id, quality_score, CAST(rn AS BIGINT) AS rank
           |FROM r, n WHERE rn <= cap ORDER BY source, rank""".stripMargin),
    (s, d) => Curation.domainQuotaSample(
      LlmOps.scoredDocs(s, d).join(
        documents(s, d).select("doc_id", "source"), "doc_id"),
      "doc_id", "source", "quality_score")
      .orderBy("source", "rank"))

  /** t20 — gram NOVELTY under the corpus order: per document, the
    * fraction of its distinct word 3-grams whose FIRST occurrence
    * (minimum doc_id corpus-wide) is this document — the "new
    * information rate" a curriculum / dataset-ordering pass ranks on
    * (a doc introducing no new grams is pure restatement; early docs
    * trend novel by construction, which is the point of the signal).
    * The dual of t19: same gram spine, but the per-gram aggregate is an
    * ARGMIN attribution (who said it first) instead of a df commonness
    * cut, and the semantics depend on the corpus ORDER, not its size.
    *
    * Plan: distinct grams per doc, min(doc_id) per gram (map-side
    * combined — min is algebraic), one gram-keyed join back, per-doc
    * rollup. Outputs counts and a ·10⁶ floor division of positives:
    * pure BIGINTs, bit-deterministic by construction.
    */
  val t20 = QSpec(
    "t20_gram_novelty",
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           |g AS (SELECT DISTINCT doc_id,
           |        words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
           |      FROM w, UNNEST(range(1, len(words) - 1)) AS t(i)),
           |f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) * 1000000
           |       // COUNT(*) AS BIGINT) AS novelty_micro
           |FROM g JOIN f USING (gram) GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin),
    (s, d) => gramNovelty(documents(s, d)))

  /** The t20 aggregate over a (doc_id, text) frame — factored out so the
    * first-occurrence attribution is fixture-testable independent of the
    * documents table.
    */
  private[operators] def gramNovelty(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(array_distinct(
        graft.llm.Dedup.wordNGramsFused(docs.sparkSession, col("text"), 3))).as("gram"))
    val first = grams.groupBy("gram").agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("n_novel * 1000000 div n_grams").as("novelty_micro"))
      .orderBy("doc_id")
  }

  /** j11 — point-in-box ZONE-TAGGING join
    * ([[graft.joins.GeoJoin.zoneTag]] — geofencing: every customer point
    * tagged with the MIN-id supplier service box containing it plus the
    * count of covering boxes, the containment join j08–j10's distance
    * joins can't express). Zones are a second deterministic lattice
    * (23/29 multipliers, INTEGER corners) of 20°×30° boxes, so
    * containment is integer-vs-quarter-degree compares with no rounding
    * subtlety and no boundary ties; a cell grid at exactly the box
    * dimensions yields every (point, covering-box) candidate ONCE (≤ 4
    * cells per box, exactly 1 per point — see zoneTag's scaladoc), and
    * both sides collapse to distinct positions first (360 point
    * positions, ≤ 2 100 box corners on the saturating lattices). The
    * oracle replays the full O(N·M) containment join in SQL, so the hash
    * compare asserts the grid path finds every covering box — recall
    * literally 100 %, counts included.
    */
  val j11 = QSpec(
    "j11_geo_zone_tag",
    Some("""WITH z AS (SELECT s_suppkey AS zone_id,
           |    CAST((s_suppkey * 23) % 140 AS DOUBLE) - 70 AS lat0,
           |    CAST((s_suppkey * 29) % 300 AS DOUBLE) - 150 AS lon0
           |  FROM supplier),
           |p AS (SELECT c_custkey AS id,
           |    CAST((c_custkey * 7) % 180 AS DOUBLE) - 90 + 0.25 AS lat,
           |    CAST((c_custkey * 13) % 360 AS DOUBLE) - 180 + 0.5 AS lon
           |  FROM customer)
           |SELECT p.id, MIN(z.zone_id) AS zone_id, COUNT(*) AS n_zones
           |FROM p JOIN z
           |  ON p.lat >= z.lat0 AND p.lat <= z.lat0 + 20
           | AND p.lon >= z.lon0 AND p.lon <= z.lon0 + 30
           |GROUP BY p.id ORDER BY p.id""".stripMargin),
    (s, d) => {
      val pts = customer(s, d).select(col("c_custkey").as("id"),
        (((col("c_custkey") * 7) % 180).cast("double") - 90 + 0.25).as("lat"),
        (((col("c_custkey") * 13) % 360).cast("double") - 180 + 0.5).as("lon"))
      val zones = supplier(s, d).select(col("s_suppkey").as("zone_id"),
        (((col("s_suppkey") * 23) % 140).cast("double") - 70).as("lat0"),
        (((col("s_suppkey") * 29) % 300).cast("double") - 150).as("lon0"))
      graft.joins.GeoJoin.zoneTag(pts, "id", "lat", "lon",
        zones, "zone_id", "lat0", "lon0", 20.0, 30.0)
        .orderBy("id")
    })

  /** j12 — box-box OVERLAP join with per-box aggregates
    * ([[graft.joins.GeoJoin.boxOverlapStats]] — supplier service areas
    * 20°×30° × part listing clusters 10°×15°: how many part boxes does
    * each supplier box intersect, and which is the smallest-id one).
    * The two-LAYER member of the geo family: j11 joined points to one
    * zone layer; this joins two box layers, where BOTH sides have
    * extent, so both sides grid-explode (≤ 2×2 cells each at a pitch of
    * the larger dims) and the pair is counted only in the cell holding
    * the intersection's min corner — an exact dedup by filter. Both
    * lattices saturate ((s·23 % 140, s·29 % 300) at 2 100 corners,
    * (p·31 % 150, p·37 % 310) at 4 650), so the collapsed corner tables
    * are CONSTANT in N from ~20× up, while the brute pair relation the
    * ORACLE replays grows quadratically (5 695 pairs at sf0.01 →
    * 577 100 at sf0.1, measured) — the plan never materializes it: the
    * declared output is one LINEAR row per supplier box (the j11
    * lesson), with the b side pre-reduced to (min id, count) per corner.
    */
  val j12 = QSpec(
    "j12_box_overlap_join",
    Some("""WITH a AS (SELECT s_suppkey AS box_id,
           |    CAST((s_suppkey * 23) % 140 AS DOUBLE) - 70 AS alat,
           |    CAST((s_suppkey * 29) % 300 AS DOUBLE) - 150 AS alon
           |  FROM supplier),
           |b AS (SELECT p_partkey AS bid,
           |    CAST((p_partkey * 31) % 150 AS DOUBLE) - 75 AS blat,
           |    CAST((p_partkey * 37) % 310 AS DOUBLE) - 155 AS blon
           |  FROM part)
           |SELECT a.box_id, COUNT(*) AS n_overlaps, MIN(b.bid) AS min_b_id
           |FROM a JOIN b ON a.alat <= b.blat + 10 AND b.blat <= a.alat + 20
           |             AND a.alon <= b.blon + 15 AND b.blon <= a.alon + 30
           |GROUP BY a.box_id ORDER BY a.box_id""".stripMargin),
    (s, d) => {
      val sup = supplier(s, d).select(col("s_suppkey").as("sid"),
        (((col("s_suppkey") * 23) % 140).cast("double") - 70).as("alat"),
        (((col("s_suppkey") * 29) % 300).cast("double") - 150).as("alon"))
      val par = part(s, d).select(col("p_partkey").as("pid"),
        (((col("p_partkey") * 31) % 150).cast("double") - 75).as("blat"),
        (((col("p_partkey") * 37) % 310).cast("double") - 155).as("blon"))
      graft.joins.GeoJoin.boxOverlapStats(
        sup, "sid", "alat", "alon", 20.0, 30.0,
        par, "pid", "blat", "blon", 10.0, 15.0)
        .orderBy("box_id")
    })

  /** t21 — per-DOMAIN perplexity mix (t17 × p09: the quality-by-domain
    * report a curation pipeline reads to set per-source sampling
    * weights — which domains contribute the head/middle/tail of the
    * perplexity distribution, and in what proportion of their own
    * volume). Reuses t17's trained model and per-lang tercile bucketing
    * verbatim ([[Curation.perplexityBuckets]]); the only new plan is a
    * doc_id join back to the scan for `source` plus one (source, bucket)
    * aggregate and a per-source share window — the share denominator is
    * the source's own doc count, so the row reads as "X % of src3 is
    * tail-perplexity", the number the mixer actually dials. Counts and
    * nll sums are exact BIGINTs; `share` is one IEEE division rounded to
    * 6 (the repo's round-before-compare contract).
    */
  val t21 = QSpec(
    "t21_domain_perplexity_mix",
    Some("""WITH bg_all AS (
           |  SELECT doc_id, lang, source, substr(text, CAST(i AS INT), 2) AS bg
           |  FROM documents, UNNEST(range(1, len(text))) AS t(i)),
           |m0 AS (SELECT lang, bg, COUNT(*) AS c_bg FROM bg_all
           |       WHERE source = 'src0' GROUP BY 1, 2),
           |c1m AS (SELECT lang, substr(bg, 1, 1) AS c1, SUM(c_bg) AS c_c1
           |        FROM m0 GROUP BY 1, 2),
           |vm AS (SELECT lang, COUNT(*) AS v FROM c1m GROUP BY 1),
           |model AS (SELECT m0.lang, m0.bg,
           |    CAST(ROUND(ln((c_bg + 1.0) / (c_c1 + v)) * 1000000) AS BIGINT) AS lp
           |  FROM m0 JOIN c1m ON m0.lang = c1m.lang AND substr(m0.bg, 1, 1) = c1m.c1
           |       JOIN vm ON m0.lang = vm.lang),
           |fb1 AS (SELECT c1m.lang, c1,
           |    CAST(ROUND(ln(1.0 / (c_c1 + v)) * 1000000) AS BIGINT) AS lp0
           |  FROM c1m JOIN vm ON c1m.lang = vm.lang),
           |fbg AS (SELECT lang, CAST(ROUND(ln(1.0 / v) * 1000000) AS BIGINT) AS lpg
           |        FROM vm),
           |db AS (SELECT doc_id, lang, bg, COUNT(*) AS n FROM bg_all GROUP BY 1, 2, 3),
           |sc AS (SELECT db.doc_id, db.lang,
           |    -SUM(n * COALESCE(model.lp, fb1.lp0, fbg.lpg)) AS nll, SUM(n) AS nb
           |  FROM db LEFT JOIN model ON db.lang = model.lang AND db.bg = model.bg
           |       LEFT JOIN fb1 ON db.lang = fb1.lang AND substr(db.bg, 1, 1) = fb1.c1
           |       JOIN fbg ON db.lang = fbg.lang
           |  GROUP BY 1, 2),
           |avgd AS (SELECT doc_id, lang, nll // nb AS avg_nll FROM sc),
           |cal AS (SELECT lang, doc_id, avg_nll,
           |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS rn,
           |    COUNT(*) OVER (PARTITION BY lang) AS ns
           |  FROM avgd WHERE doc_id % 10 = 0),
           |th AS (SELECT lang,
           |    MAX(CASE WHEN rn <= (ns + 2) // 3 THEN avg_nll END) AS t1,
           |    MAX(CASE WHEN rn <= (2 * ns + 2) // 3 THEN avg_nll END) AS t2
           |  FROM cal GROUP BY 1),
           |b AS (SELECT a.doc_id,
           |    CASE WHEN a.avg_nll <= th.t1 THEN 'head'
           |         WHEN a.avg_nll <= th.t2 THEN 'middle'
           |         ELSE 'tail' END AS bucket, a.avg_nll
           |  FROM avgd a JOIN th ON a.lang = th.lang),
           |j AS (SELECT d.source, b.bucket, b.avg_nll
           |      FROM b JOIN documents d ON b.doc_id = d.doc_id),
           |gg AS (SELECT source, bucket, COUNT(*) AS n, SUM(avg_nll) AS snll
           |       FROM j GROUP BY 1, 2)
           |SELECT source, bucket, CAST(n AS BIGINT) AS n_docs,
           |  CAST(snll AS BIGINT) AS sum_avg_nll,
           |  ROUND(n / CAST(SUM(n) OVER (PARTITION BY source) AS DOUBLE), 6) AS share
           |FROM gg ORDER BY source, bucket""".stripMargin),
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val perDoc = Curation.perplexityBuckets(docs,
        "doc_id", "lang", "text", isRef = col("source") === "src0")
      val g = perDoc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("avg_nll").as("sum_avg_nll"))
      g.withColumn("share", round(col("n_docs").cast("double") /
          sum("n_docs").over(Window.partitionBy("source")), 6))
        .orderBy("source", "bucket")
    })

  val specs: Seq[QSpec] = Seq(p04, p05, p06, d08, t10, x05, x06, j01, j02,
    mm04, mm05, q30, x07, q31, x08, x13, j03, j04, j05, j06, j07, p07, p08,
    p09, p10, p11, p12, t16, w06, m13, t17, p13, t18, t19, t20, j08, j09,
    j10, p14, j11, j12, t21)
}
