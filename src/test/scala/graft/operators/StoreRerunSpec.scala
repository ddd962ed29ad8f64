package graft.operators

import graft.{SparkEntry, SparkSpec}
import graft.util.Tables

/** A declared query that builds a persisted index store reads only the
  * store its own run wrote: deleting the store between two runs in one
  * session must not change the second run's rows (a run that skipped its
  * write would read a missing manifest and fail).
  */
class StoreRerunSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  for ((query, store) <- Seq(
      "s06_ivf_index_store" -> "s06_ivf",
      "s14_ivf_index_append" -> "s14_ivf"))
    test(s"$query rebuilds its store on every run: deleting $store " +
        "between two runs leaves the rows unchanged") {
      def run(): Seq[String] =
        SparkEntry.queries(query)(spark, d).collect().map(_.toString).toSeq.sorted
      val first = run()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(Tables.scratch(d, store)))
      run() shouldBe first
    }
}
