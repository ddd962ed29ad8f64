package graft.tools

import org.apache.spark.sql.SaveMode

/** Deterministic synthetic-data generator for scale-curve measurement.
  *
  * Reproduces the statistical shape of the driver's testdata tables
  * (profiled from /root/testdata/sf0.01 and sf0.1: row-count ratios,
  * key ranges, category vocabularies, planted near-dup rate, embedding
  * cluster structure) at arbitrary scale factors, so sf0.1->sf1 timing
  * ratios are apples-to-apples. All randomness is a pure splitmix64
  * hash of (seed, table tag, row id, field tag): fully deterministic,
  * independent of partitioning, and splittable — every row can be
  * generated anywhere with no RNG state, which is exactly what a
  * 1000-executor generator needs (spark.range parallelizes the id
  * space; no driver-side loops, no shared state).
  *
  * Usage: runMain graft.tools.GenData <outDir> <sf> [copyStaticFrom]
  *   e.g. runMain graft.tools.GenData data/gsf1 1.0 /root/testdata/sf0.1
  */
object GenData {

  // ---- splittable hash RNG -------------------------------------------
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, tag: Long, id: Long, field: Long): Long =
    mix(mix(mix(seed ^ tag) ^ id) ^ field)
  def u01(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))
  def uniform(seed: Long, tag: Long, id: Long, field: Long, lo: Double, hi: Double): Double =
    lo + u01(h(seed, tag, id, field)) * (hi - lo)
  def nextInt(seed: Long, tag: Long, id: Long, field: Long, n: Int): Int =
    ((h(seed, tag, id, field) >>> 1) % n).toInt
  def nextLong(seed: Long, tag: Long, id: Long, field: Long, n: Long): Long =
    (h(seed, tag, id, field) >>> 1) % n
  /** Box-Muller from two hash draws. */
  def gauss(seed: Long, tag: Long, id: Long, field: Long): Double = {
    val u1 = math.max(u01(h(seed, tag, id, field * 2)), 1e-12)
    val u2 = u01(h(seed, tag, id, field * 2 + 1))
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }
  def r2(x: Double): Double = math.rint(x * 100.0) / 100.0

  val Seed = 42L

  // ---- vocabularies (profiled from the driver testdata) --------------
  val Segments    = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities  = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses    = Array("O", "P", "F")
  val PTypes      = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val Adjs        = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  val Nouns       = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  val RetFlags    = Array("A", "N", "R")
  val LineStatus  = Array("F", "O")
  val EventTypes  = Array("click", "error", "purchase", "signup", "view")
  val Langs       = Array("en", "de", "es", "fr", "zh") // en 40%, rest 15%
  val DocVocab    = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "the", "row", "agg",
    "key", "query", "a", "scan", "batch")

  // epoch millis for date ranges (UTC)
  val OrderDate0   = 788918400000L  // 1995-01-01
  val OrderDateDays = 2404          // .. 2001-08-01
  val ShipDate0    = 789004800000L  // 1995-01-02
  val ShipDateDays  = 2498          // .. 2001-11-04
  val EventTs0     = 1704067200000000000L // 2024-01-01 in epoch ns
  val EventTsSpanNs = 30L * 86400L * 1000000000L // 30 days

  case class CustomerRow(c_custkey: Long, c_name: String, c_nationkey: Long,
                         c_acctbal: Double, c_mktsegment: String)
  case class SupplierRow(s_suppkey: Long, s_name: String, s_nationkey: Long,
                         s_acctbal: Double)
  case class PartRow(p_partkey: Long, p_name: String, p_brand: String,
                     p_type: String, p_size: Int, p_retailprice: Double)
  case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                      o_totalprice: Double, o_orderdate: java.sql.Timestamp,
                      o_orderpriority: String)
  case class LineitemRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                         l_linenumber: Int, l_quantity: Double,
                         l_extendedprice: Double, l_discount: Double,
                         l_tax: Double, l_returnflag: String,
                         l_linestatus: String, l_shipdate: java.sql.Timestamp)
  case class EventRow(event_id: Long, ts: Long, user_id: Long,
                      event_type: String, value: Double, props: String)
  case class DocumentRow(doc_id: Long, text: String, lang: String,
                         source: String, n_chars: Long)
  case class EmbeddingRow(vec_id: Long, embedding: Array[Float], label: Int)

  /** Base text for a doc id — word chain off the hash. Near-dup planting
    * (the testdata's ~5% `dup`-suffixed copies) references this, not the
    * dup-adjusted text, so chains stay depth-1 like the original.
    */
  def docBaseText(id: Long): String = {
    val nWords = 10 + nextInt(Seed, 80, id, 0, 91)
    val sb = new StringBuilder
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(' ')
      sb.append(DocVocab(nextInt(Seed, 80, id, 100 + i, DocVocab.length)))
      i += 1
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sf = args(1).toDouble
    val staticFrom = if (args.length > 2) args(2) else "/root/testdata/sf0.1"

    val spark = graft.Session.local()
    import spark.implicits._

    val nCustomer = math.max(150, (150000 * sf).toLong)
    val nSupplier = math.max(10, (10000 * sf).toLong)
    val nPart     = math.max(200, (200000 * sf).toLong)
    val nOrders   = math.max(1500, (1500000 * sf).toLong)
    val nLineitem = math.max(6000, (6000000 * sf).toLong)
    val nEvents   = math.max(1000, (1000000 * sf).toLong)
    val nUsers    = math.max(15, nCustomer / 10)
    val nDocs     = math.max(500, (50000 * sf).toLong)
    val nEmb      = math.max(500, (200000 * sf / 10).toLong) // 2000 at sf0.1
    val par = Runtime.getRuntime.availableProcessors() * 2

    def write(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
      println(s"wrote $name")
    }

    // region + nation are fixed 5/25-row dimension tables: copy verbatim
    write("region")(spark.read.parquet(s"$staticFrom/region.parquet").coalesce(1))
    write("nation")(spark.read.parquet(s"$staticFrom/nation.parquet").coalesce(1))

    write("customer")(spark.range(0, nCustomer, 1, par).map { id =>
      CustomerRow(id, f"Customer#$id%09d", nextInt(Seed, 1, id, 1, 25).toLong,
        r2(uniform(Seed, 1, id, 2, -1000, 10000)),
        Segments(nextInt(Seed, 1, id, 3, Segments.length)))
    }.toDF())

    write("supplier")(spark.range(0, nSupplier, 1, par).map { id =>
      SupplierRow(id, f"Supplier#$id%09d", nextInt(Seed, 2, id, 1, 25).toLong,
        r2(uniform(Seed, 2, id, 2, -1000, 10000)))
    }.toDF())

    write("part")(spark.range(0, nPart, 1, par).map { id =>
      PartRow(id,
        Adjs(nextInt(Seed, 3, id, 1, Adjs.length)) + " " + Nouns(nextInt(Seed, 3, id, 2, Nouns.length)),
        "Brand#" + nextInt(Seed, 3, id, 3, 25),
        PTypes(nextInt(Seed, 3, id, 4, PTypes.length)),
        1 + nextInt(Seed, 3, id, 5, 50),
        r2(uniform(Seed, 3, id, 6, 900, 1000)))
    }.toDF())

    write("orders")(spark.range(0, nOrders, 1, par).map { id =>
      OrderRow(id, nextLong(Seed, 4, id, 1, nCustomer),
        Statuses(nextInt(Seed, 4, id, 2, Statuses.length)),
        r2(uniform(Seed, 4, id, 3, 1000, 500000)),
        new java.sql.Timestamp(OrderDate0 + nextInt(Seed, 4, id, 4, OrderDateDays) * 86400000L),
        Priorities(nextInt(Seed, 4, id, 5, Priorities.length)))
    }.toDF())

    write("lineitem")(spark.range(0, nLineitem, 1, par).map { id =>
      val qty = (1 + nextInt(Seed, 5, id, 4, 50)).toDouble
      LineitemRow(nextLong(Seed, 5, id, 1, nOrders),
        nextLong(Seed, 5, id, 2, nPart), nextLong(Seed, 5, id, 3, nSupplier),
        1 + nextInt(Seed, 5, id, 11, 7), qty,
        r2(qty * uniform(Seed, 5, id, 5, 900, 2100)),
        nextInt(Seed, 5, id, 6, 11) / 100.0,
        nextInt(Seed, 5, id, 7, 9) / 100.0,
        RetFlags(nextInt(Seed, 5, id, 8, RetFlags.length)),
        LineStatus(nextInt(Seed, 5, id, 9, LineStatus.length)),
        new java.sql.Timestamp(ShipDate0 + nextInt(Seed, 5, id, 10, ShipDateDays) * 86400000L))
    }.toDF())

    // ts is written as plain int64 epoch-ns (the engine reads the driver's
    // TIMESTAMP(NANOS) column as long ns via nanosAsLong — same runtime type)
    write("events")(spark.range(0, nEvents, 1, par).map { id =>
      EventRow(id, EventTs0 + nextLong(Seed, 6, id, 1, EventTsSpanNs),
        nextLong(Seed, 6, id, 2, nUsers),
        EventTypes(nextInt(Seed, 6, id, 3, EventTypes.length)),
        r2(-50.0 * math.log(math.max(u01(h(Seed, 6, id, 4)), 1e-12))),
        s"""{"k": ${nextInt(Seed, 6, id, 5, 100)}}""")
    }.toDF())

    write("documents")(spark.range(0, nDocs, 1, par).map { id =>
      // ~5% of docs (ids past the first 2%) are near-dup copies of an
      // earlier doc with a trailing " dup" token — the testdata's planted
      // near-dup structure (250/5000 `dup` docs, pairwise 100-char prefixes).
      // The reference is drawn from the first 2% ONLY (ids ≤ nDocs/50 are
      // never dups themselves), so every planted copy pairs with a real
      // partner — a uniform earlier id could itself be a dup, whose actual
      // text is someone ELSE's base + " dup", leaving ~5% of planted
      // copies partnerless
      val isDup = id > nDocs / 50 && nextInt(Seed, 7, id, 1, 20) == 0
      val text =
        if (isDup) docBaseText(nextLong(Seed, 7, id, 2, nDocs / 50)) + " dup"
        else docBaseText(id)
      val langRoll = nextInt(Seed, 7, id, 3, 20)
      val lang = if (langRoll < 8) "en" else Langs(1 + (langRoll - 8) % 4)
      DocumentRow(id, text, lang, "src" + nextInt(Seed, 7, id, 4, 20),
        text.length.toLong)
    }.toDF())

    // 10 spherical clusters in 64-dim: fixed unit centers, per-point
    // gaussian jitter, re-normalized — matches the testdata's unit-norm
    // label-clustered embeddings (what s02's IVF recall assertion needs)
    val dim = 64
    val centers: Array[Array[Double]] = Array.tabulate(10) { c =>
      val raw = Array.tabulate(dim)(j => gauss(Seed, 9, c.toLong, j.toLong))
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val bcCenters = spark.sparkContext.broadcast(centers)
    write("embeddings")(spark.range(0, nEmb, 1, par).map { id =>
      val label = nextInt(Seed, 8, id, 1, 10)
      val ctr = bcCenters.value(label)
      val raw = Array.tabulate(dim)(j => ctr(j) + 0.25 * gauss(Seed, 8, id, 10 + j))
      val n = math.sqrt(raw.map(x => x * x).sum)
      EmbeddingRow(id, raw.map(x => (x / n).toFloat), label)
    }.toDF())

    println(s"done: sf=$sf at $outDir " +
      s"(cust=$nCustomer ord=$nOrders li=$nLineitem ev=$nEvents docs=$nDocs emb=$nEmb)")
    spark.stop()
  }
}
