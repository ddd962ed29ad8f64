package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-15-wave choreography pins: tombstone/append INTERLEAVING on the
  * minhash index lifecycle (round-13 directive #4 — d21 pinned idempotent
  * retry, but a takedown arriving BETWEEN two shard appends was
  * untested), the stale-tombstone cleanup on rebuild/compact (round-13
  * medium advice), and st22's within-session re-run (q41-rerun-pin
  * precedent).
  */
class Round15OpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = graft.util.Tables
    .documents(spark, "/root/testdata/sf0.001").select("doc_id", "text")

  private def rows(p: String) = {
    val probe = docs.filter(col("doc_id") % 4 === 3)
    graft.llm.Dedup.minhashPairsAgainstIndex(probe, "doc_id", "text", p, 0.5)
      .orderBy("new_id", "corpus_id").as[(Long, Long, Double)].collect().toSeq
  }

  test("tombstone/append interleaving: append→tombstone→append ≡ " +
      "tombstone-last, incl. a takedown naming a doc that arrives only " +
      "in the LATER append; compactions of both orders agree") {
    val root = java.nio.file.Files.createTempDirectory("graft-d21i").toString
    val base = docs.filter(col("doc_id") % 4 === 0)
    val s1 = docs.filter(col("doc_id") % 4 === 1)
    val s2 = docs.filter(col("doc_id") % 4 === 2)
    // dead ids span base, shard 1, AND shard 2 — the s2 ids are
    // tombstoned BEFORE their rows arrive; merge-on-read must kill them
    // regardless of arrival order
    val dead = docs.filter(col("doc_id") % 4 < 3 && col("doc_id") % 5 === 2)
    val deadIds = dead.select("doc_id").as[Long].collect().toSet
    deadIds should not be empty

    // order X: build → append s1 → TOMBSTONE → append s2
    graft.llm.Dedup.writeMinhashIndex(base, "doc_id", "text", s"$root/x", 0.5)
    graft.llm.Dedup.appendToMinhashIndex(s1, "doc_id", "text", s"$root/x",
      "s1", 0.5)
    graft.llm.Dedup.tombstoneMinhashIndex(spark, s"$root/x", dead,
      "doc_id", "t1")
    graft.llm.Dedup.appendToMinhashIndex(s2, "doc_id", "text", s"$root/x",
      "s2", 0.5)

    // order Y: build → append s1 → append s2 → TOMBSTONE
    graft.llm.Dedup.writeMinhashIndex(base, "doc_id", "text", s"$root/y", 0.5)
    graft.llm.Dedup.appendToMinhashIndex(s1, "doc_id", "text", s"$root/y",
      "s1", 0.5)
    graft.llm.Dedup.appendToMinhashIndex(s2, "doc_id", "text", s"$root/y",
      "s2", 0.5)
    graft.llm.Dedup.tombstoneMinhashIndex(spark, s"$root/y", dead,
      "doc_id", "t1")

    val gotX = rows(s"$root/x")
    val gotY = rows(s"$root/y")
    gotX should not be empty
    gotX shouldBe gotY
    // and both equal the no-tombstone result minus dead corpus ids
    graft.llm.Dedup.writeMinhashIndex(base.union(s1).union(s2), "doc_id",
      "text", s"$root/full", 0.5)
    val full = rows(s"$root/full")
    gotX shouldBe full.filterNot(r => deadIds.contains(r._2))
    gotX.size should be < full.size // some takedown actually bit
    // physical reclaim agrees across orders too
    graft.llm.Dedup.compactMinhashIndex(spark, s"$root/x", s"$root/cx")
    graft.llm.Dedup.compactMinhashIndex(spark, s"$root/y", s"$root/cy")
    rows(s"$root/cx") shouldBe gotX
    rows(s"$root/cy") shouldBe gotX
  }

  test("stale tombstones cannot leak: a REBUILD over a dir with live " +
      "tombstones and a compaction onto a previously-tombstoned dest " +
      "both start from an empty takedown set") {
    val root = java.nio.file.Files.createTempDirectory("graft-d21s").toString
    val corpus = docs.filter(col("doc_id") % 4 < 3)
    val dead = corpus.filter(col("doc_id") % 5 === 2)
    // fresh-dir reference result (no tombstones anywhere)
    graft.llm.Dedup.writeMinhashIndex(corpus, "doc_id", "text",
      s"$root/ref", 0.5)
    val want = rows(s"$root/ref")
    want should not be empty
    // rebuild path: index carries a live takedown list, then is REBUILT
    // in place — the new build must not inherit the stale list
    graft.llm.Dedup.writeMinhashIndex(corpus, "doc_id", "text",
      s"$root/rb", 0.5)
    graft.llm.Dedup.tombstoneMinhashIndex(spark, s"$root/rb", dead,
      "doc_id", "t1")
    rows(s"$root/rb") should not be want // the takedown was live
    graft.llm.Dedup.writeMinhashIndex(corpus, "doc_id", "text",
      s"$root/rb", 0.5)
    rows(s"$root/rb") shouldBe want
    // compaction path: the DEST dir already carries a tombstone list
    // (ping-pong compaction onto a previously-used store dir) — the
    // compacted store must start with an empty takedown set
    graft.llm.Dedup.writeMinhashIndex(corpus, "doc_id", "text",
      s"$root/c", 0.5)
    graft.llm.Dedup.tombstoneMinhashIndex(spark, s"$root/c", dead,
      "doc_id", "tstale")
    graft.llm.Dedup.compactMinhashIndex(spark, s"$root/ref", s"$root/c")
    new java.io.File(s"$root/c/tombstones").exists() shouldBe false
    rows(s"$root/c") shouldBe want
  }

  test("signatureTopK hand fixture: exact hamming ranks, band contract " +
      "(no shared 16-bit band => not a candidate), string tie order") {
    val z16 = "0" * 16
    val o16 = "1" * 16
    val a = z16 * 4                   // all zeros
    val b = "0" * 63 + "1"            // ham(a,b)=1, shares bands 0-2 with a
    val c = o16 + z16 * 3             // ham(a,c)=16, shares bands 1-3 with a
    val dd = o16 * 4                  // ham(a,d)=64, shares NO band with a
    val sigs = Seq(a, b, c, dd).toDF("sig")
    val got = graft.llm.Similarity.signatureTopK(spark, sigs, "sig", 64, 3)
      .select("sig", "neighbor_sig", "rank", "ham", "sim")
      .as[(String, String, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(r =>
        (r._2, r._4, r._5)).toSeq).toMap
    // a: b at ham 1 then c at ham 16; d NOT a candidate (band contract)
    got(a) shouldBe Seq((b, 1L, 0.96875), (c, 16L, 0.5))
    // d: c shares band 0 (ham 48); b shares band 3? b's band 3 is
    // "0...01" ≠ "1"*16 — so c only
    got(dd) shouldBe Seq((c, 48L, -0.5))
    // sim is the exact ±1-vector cosine: (64 − 2·ham)/64
    got(b).head._2 shouldBe 1L
    got(b).map(_._1).toSet should contain(a)
  }

  test("sharedFrameTopK hand fixture: distinct-frame set semantics, " +
      "shared-count ranks, no-shared-frame pairs absent") {
    val s1 = "a|b|c"
    val s2 = "a|b|d"   // shares {a,b} with s1
    val s3 = "x|y|z"   // shares nothing
    val s4 = "a|a|b"   // repeated frame counts ONCE; shares {a,b} with s1/s2
    val sigs = Seq(s1, s2, s3, s4).toDF("sig")
    val got = graft.llm.Multimodal.sharedFrameTopK(spark, sigs, "sig", 3)
      .as[(String, String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(r =>
        (r._2, r._4)).toSeq).toMap
    got(s1) shouldBe Seq((s4, 2L), (s2, 2L)) // tie: "a|a|b" < "a|b|d"
    got(s2) shouldBe Seq((s4, 2L), (s1, 2L))
    got(s4) shouldBe Seq((s1, 2L), (s2, 2L)) // set semantics: 2, not 3
    got.contains(s3) shouldBe false
  }

  test("st22 keyed conformal: within-session re-run lands on the " +
      "identical per-segment result; segments agree with m18's global " +
      "math run per segment batch-side") {
    val d = "/root/testdata/sf0.001"
    def run() = graft.SparkEntry.queries("st22_stream_conformal_keyed")(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val first = run()
    first.map(_._1) shouldBe Seq(0L, 1L, 2L, 3L)
    run() shouldBe first
    // batch-side replay per segment: histogram + conformal rank over the
    // same planted residuals (m18's math, grouped)
    def resid(k: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"m18:$k".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 12)
      math.abs(java.lang.Long.parseLong(hex, 16) % 2001L - 1000L)
    }
    val keys = graft.util.Tables.orders(spark, d)
      .select("o_orderkey").as[Long].collect().toSeq
    val bySeg = keys.filter(k => k % 5 == 1 || k % 5 == 2).groupBy(_ % 4)
    first.foreach { case (seg, nCal, qHat, nTest, nCovered) =>
      val cal = bySeg(seg).map(resid).sorted
      nCal shouldBe cal.size.toLong
      val k = (9 * (cal.size + 1) + 9) / 10
      qHat shouldBe cal(k - 1)
      val test = keys.filter(k => k % 5 == 0 && k % 4 == seg).map(resid)
      nTest shouldBe test.size.toLong
      nCovered shouldBe test.count(_ <= qHat).toLong
    }
  }
}
