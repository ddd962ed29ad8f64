package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.infer.PreparedPredictor

/** The single-row path without HTTP: rows as request values, their
  * `PreparedPredictor` answers, and per-call timing on one thread.
  */
object Single {

  /** (id_annonce, column → value) per row, nulls left out as a request would. */
  def rows(df: DataFrame, schema: StructType): Array[(Int, Map[String, Any])] =
    df.select(schema.fieldNames.map(col).toSeq: _*).collect().map { r =>
      val values = schema.fieldNames.zipWithIndex.collect {
        case (n, i) if !r.isNullAt(i) => n -> r.get(i)
      }.toMap
      (values("id_annonce").asInstanceOf[Int], values)
    }

  /** One `/predict` body per row, as (id, JSON object without the nulls). */
  def requests(rows: Array[(Int, Map[String, Any])]): Array[(String, String)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    rows.map { case (id, values) =>
      val node = mapper.createObjectNode()
      values.foreach {
        case (k, v: Int) => node.put(k, v)
        case (k, v: Double) => node.put(k, v)
        case (k, v) => node.put(k, v.toString)
      }
      (id.toString, node.toString)
    }
  }

  /** Writes `id_annonce,prediction_price` for every row, for the checks. */
  def write(prepared: PreparedPredictor, rows: Array[(Int, Map[String, Any])], outCsv: String): Unit = {
    val preds = rows.map { case (id, v) => s"$id,${prepared.predict(v).map(_.toString).getOrElse("null")}" }
    Files.write(Paths.get(outCsv),
      ("id_annonce,prediction_price" +: preds.toSeq).mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Median per-call latency (microseconds) on one thread: after
    * WarmPasses passes off the record, each of TimedPasses passes over all
    * rows gives a p50, and the median pass is reported.
    */
  def p50Us(prepared: PreparedPredictor, rows: Array[(Int, Map[String, Any])]): Double = {
    (1 to WarmPasses).foreach(_ => rows.foreach(r => prepared.predict(r._2)))
    System.gc()
    val us = new Array[Double](rows.length)
    val passes = (1 to TimedPasses).map { _ =>
      var i = 0
      while (i < rows.length) {
        val a = System.nanoTime()
        prepared.predict(rows(i)._2)
        us(i) = (System.nanoTime() - a) / 1e3
        i += 1
      }
      val sorted = us.sorted
      sorted(math.max(0, math.ceil(0.5 * sorted.length).toInt - 1))
    }
    passes.sorted.apply(passes.size / 2)
  }

  private val WarmPasses = 10
  private val TimedPasses = 5
}
