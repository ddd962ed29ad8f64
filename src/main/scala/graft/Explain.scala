package graft

/** Plan-audit main: prints the formatted physical plan of selected declared
  * queries (scan pushdown, join strategies, codegen spans). Usage:
  *   runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSet else Set(
      "q14_join_agg", "q07_projection", "q22_topk", "q17_global_stats",
      "a01_haversine", "w01_tumbling_window", "s01_cosine_topk",
      "d04_ngram_jaccard", "t04_fingerprint",
      "j01_asof_join", "j03_range_join_auto", "p06_sequence_packing",
      "d08_chunk_dedup", "t06_quality_filter",
      "x10_bloom_join", "x11_bucketed_join", "q33_partition_pruning",
      "t12_tfidf", "j06_asof_nearest", "w08_running_distinct",
      "p09_domain_mix", "m16_pca")
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.contains(name)) {
        println(s"\n======== $name ========")
        fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
