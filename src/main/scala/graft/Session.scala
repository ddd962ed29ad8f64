package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Every entry point (Main, Bench, Verify,
  * Explain, ServeMain, the tools) and the test base `SparkSpec` build
  * their session here, so the config the bench times is the config
  * Verify and the tests check. The only parameter is the core count.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else this machine's cores. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int = Session.cpus): SparkSession =
    graft.util.LocalFsNoShell.confEntries
      .foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2))
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet may carry TIMESTAMP(NANOS); read as long epoch-ns
      // (graft.util.Tables.events normalizes every shape to that)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Whole-stage-codegen methods over HotSpot's 8000-byte
      // DontCompileHugeMethods threshold run interpreted; at 8000 Spark
      // falls back to per-operator codegen instead (1.5x on the FE chain,
      // BASELINE.md). The fallback once cost a13 10x at sf1, when its
      // moment pass was 19 wide-decimal aggregates (SCALE.md "Measured
      // scale curve — sf0.1 → sf1"); that pass is now one corr_moments
      // aggregate, and a13's only fallback left is the explode over its
      // one-row result. No other declared query falls back at 8000.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      // Generated-class cache (static conf, default 100): the 244 declared
      // queries compile thousands of codegen units, and the default LRU
      // evicts a query's classes before its next run
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
