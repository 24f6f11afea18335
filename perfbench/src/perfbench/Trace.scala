package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters summed over the jobs of one span. */
final class Counters {
  var jobs, tasks, taskMs, shuffleRead, shuffleWrite, spill, bytesRead,
    recordsWritten, bytesWritten = 0L
  var planMs = 0.0
}

/** Spans around the benchmark's calls into the program, with Spark
  * counters attributed to them.
  *
  * A span tags the jobs started inside it with a job tag (the tag is a
  * local property, so a streaming query started inside the span inherits
  * it on its own thread); a SparkListener sums each tagged job's task
  * metrics into every open span. Planning time comes from each query's
  * planning tracker, attributed to the innermost span whose interval
  * holds the planning start. Streaming progress is kept per query.
  * Everything stays in memory until [[write]].
  *
  * A disabled Trace runs the body and records nothing.
  */
final class Trace(spark: SparkSession, val enabled: Boolean, val runId: String) {

  final class Span(val id: Int, val name: String, val parent: Int,
      val startMs: Long, val startNs: Long) {
    var endNs = 0L
    var endMs = 0L
    def wallS: Double = (endNs - startNs) / 1e9
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpans = new ConcurrentHashMap[Int, Array[Int]]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val Prefix = "perfbench-span-"

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
      val ids = tags.split(",").filter(_.startsWith(Prefix))
        .map(_.stripPrefix(Prefix).toInt)
      ids.foreach(id => counters.get(id).synchronized(counters.get(id).jobs += 1))
      e.stageIds.foreach(s => stageSpans.put(s, ids))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ids = stageSpans.get(e.stageId)
      val m = e.taskMetrics
      if (ids != null && m != null) ids.foreach { id =>
        val c = counters.get(id)
        c.synchronized {
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
          c.bytesRead += m.inputMetrics.bytesRead
          c.recordsWritten += m.outputMetrics.recordsWritten
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private object planListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum.toDouble))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      counters.put(s.id, new Counters)
      open = s :: open
      val sc = spark.sparkContext
      sc.addJobTag(Prefix + s.id)
      try body
      finally {
        sc.removeJobTag(Prefix + s.id)
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
      }
    }

  /** Spans of one name, in start order. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Counters of a span, with the planning time attributed to it. */
  def countersOf(s: Span): Counters = {
    val c = counters.get(s.id)
    c.planMs = plans.asScala.filter { case (t, _) => innermost(t).contains(s.id) }
      .map(_._2).sum
    c
  }

  private def innermost(tMs: Long): Option[Int] =
    spans.filter(s => s.startMs <= tMs && tMs <= s.endMs)
      .sortBy(s => -s.startNs).headOption.map(_.id)

  /** Summed counters over every span of a name. */
  def total(name: String): Counters = {
    val t = new Counters
    for (s <- named(name)) {
      val c = countersOf(s)
      t.jobs += c.jobs; t.tasks += c.tasks; t.taskMs += c.taskMs
      t.shuffleRead += c.shuffleRead; t.shuffleWrite += c.shuffleWrite
      t.spill += c.spill; t.bytesRead += c.bytesRead
      t.recordsWritten += c.recordsWritten; t.bytesWritten += c.bytesWritten
      t.planMs += c.planMs
    }
    t
  }

  /** The spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = countersOf(s)
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS},""" +
        s""""plan_s":${c.planMs / 1000},"jobs":${c.jobs},"tasks":${c.tasks},""" +
        s""""task_s":${c.taskMs / 1000.0},"shuffle_read_bytes":${c.shuffleRead},""" +
        s""""shuffle_write_bytes":${c.shuffleWrite},"spill_bytes":${c.spill},""" +
        s""""bytes_read":${c.bytesRead},"records_written":${c.recordsWritten},""" +
        s""""bytes_written":${c.bytesWritten}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
