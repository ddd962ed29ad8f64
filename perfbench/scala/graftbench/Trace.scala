package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed call into the program: the span's name, its parent's id, and
  * wall-clock bounds in nanoseconds. Spans live in memory until the run ends.
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** Spark work attributed to one span. */
final class Counters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val filesWritten = new AtomicLong

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "tasks" -> tasks.get.toDouble,
    "cpu_s" -> cpuNs.get / 1e9, "gc_s" -> gcMs.get / 1e3,
    "shuffle_bytes" -> shuffleBytes.get.toDouble,
    "spill_bytes" -> spillBytes.get.toDouble,
    "files_written" -> filesWritten.get.toDouble)
}

/** Counts Spark jobs, tasks, executor CPU, GC, shuffle/spill bytes and
  * written files, keyed by the span that was open on the thread that
  * submitted the job (carried as the `graftbench.span` local property,
  * which threads spawned inside the span inherit). Registered in-process
  * with `addSparkListener`, or in another JVM through `spark.extraListeners`,
  * where every job counts toward span 0 and the totals are written to the
  * file named by the `graftbench.counters` system property after each job.
  */
class SparkCounters extends SparkListener {
  private val bySpan = new java.util.concurrent.ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val executionSpan = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
  private val fileMetricIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private val out = Option(System.getProperty("graftbench.counters"))

  def counters(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  def spans: Map[Int, Counters] = {
    val m = mutable.Map[Int, Counters]()
    bySpan.forEach((k, v) => m(k) = v)
    m.toMap
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt).getOrElse(0)
    e.stageIds.foreach(stageSpan.put(_, span))
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => executionSpan.putIfAbsent(id.toLong, span))
    counters(span).jobs.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageSpan.getOrDefault(e.stageId, 0))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = out.foreach { path =>
    val c = counters(0)
    val body = c.toMap.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.writeString(tmp, body)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** File writes report "number of written files" as an SQL metric that is
    * posted outside any task: learn its accumulator ids from each
    * execution's plan, then add the posted values to the span that ran the
    * execution.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => collectFileMetrics(s.sparkPlanInfo)
    case a: SparkListenerSQLAdaptiveExecutionUpdate => collectFileMetrics(a.sparkPlanInfo)
    case u: SparkListenerDriverAccumUpdates =>
      val span = executionSpan.getOrDefault(u.executionId, 0)
      u.accumUpdates.foreach { case (id, v) =>
        if (fileMetricIds.contains(id)) counters(span).filesWritten.addAndGet(v)
      }
    case _ => ()
  }

  private def collectFileMetrics(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => if (m.name == "number of written files") fileMetricIds.add(m.accumulatorId))
    p.children.foreach(collectFileMetrics)
  }
}

/** Spans around the benchmark's calls into the program, and the listener
  * that attributes Spark work to them. With tracing off `span` only runs
  * the body and no listener is registered, so untraced runs carry no
  * bookkeeping.
  */
final class Tracer(val enabled: Boolean, runId: String, sc: org.apache.spark.SparkContext) {
  private val done = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  val counters = new SparkCounters
  if (enabled) sc.addSparkListener(counters)

  def spans: Seq[Span] = done.synchronized(done.toList)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0)
      val prevProp = sc.getLocalProperty(Tracer.SpanProperty)
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        sc.setLocalProperty(Tracer.SpanProperty, prevProp)
        done.synchronized(done += Span(id, name, parent, t0, t1))
      }
    }

  /** Each span's duration minus the time its child spans cover. */
  def selfSeconds: Map[Int, Double] = {
    val all = spans
    all.map { s =>
      val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L
      var until = Long.MinValue
      kids.foreach { case (a, b) =>
        val lo = math.max(a, until)
        if (b > lo) { covered += b - lo; until = b }
      }
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** Every span as one JSON object per line, for the run directory. */
  def spansJsonLines: String = {
    val self = selfSeconds
    spans.sortBy(_.startNs).map { s =>
      val c = counters.spans.get(s.id).map(_.toMap).getOrElse(Map.empty)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${self(s.id)},"counters":{$c}}"""
    }.mkString("", "\n", "\n")
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"
}
