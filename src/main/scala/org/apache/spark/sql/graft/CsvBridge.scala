package org.apache.spark.sql.graft

import java.io.Writer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions, UnivocityGenerator, UnivocityParser}
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** Spark's own CSV reader and writer on the calling thread, for graft code
  * that parses or writes rows without a job (the prediction server's batch
  * path). Lives in an `org.apache.spark.sql` subpackage solely to reach the
  * `private[sql]` `UnivocityParser.parseIterator`, like [[ColumnBridge]].
  */
object CsvBridge {
  // what spark.read / df.write resolve `params` against: the session's
  // column pruning, time zone and corrupt-record column
  private def options(spark: SparkSession, params: Map[String, String]): CSVOptions = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    new CSVOptions(params, conf.csvColumnPruning, conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
  }

  /** The `required` columns of `lines` (no header line) of a CSV file whose
    * columns are `data`: what one split of
    * `spark.read.schema(data).options(params).csv(...)` yields. Rows are
    * reused, so consume each before pulling the next.
    */
  def parse(spark: SparkSession, data: StructType, required: StructType,
      params: Map[String, String], lines: Iterator[String]): Iterator[InternalRow] = {
    val opts = options(spark, params)
    UnivocityParser.parseIterator(lines, new UnivocityParser(data, required, opts),
      new CSVHeaderChecker(data, opts, "CSV upload", false), required)
  }

  /** Writes rows of `schema` to `out` as `df.write.csv` writes them. */
  def writer(spark: SparkSession, schema: StructType, out: Writer): UnivocityGenerator =
    new UnivocityGenerator(schema, out, options(spark, Map.empty))
}
