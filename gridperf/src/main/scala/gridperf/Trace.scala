package gridperf

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call at a layer boundary. `parent` is 0 for a top-level
  * span; `op` is the id of the benchmark op the call belongs to. Wall
  * clock millis are kept beside the monotonic nanos so Spark's
  * listener events (stamped in epoch millis) can be placed in spans. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
                      name: String, startNs: Long, endNs: Long,
                      startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Total length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = 0L
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter(iv => iv._2 > iv._1).sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd != Long.MinValue) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd != Long.MinValue) total += curEnd - curStart
    total
  }

  /** Self time per span id: its duration minus the part of its interval
    * that its direct children cover (children clipped to the parent,
    * overlapping children counted once). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(children.getOrElse(s.id, Nil).map { c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))
      })
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Span recorder for the driver thread. While `on`, each span also
  * carries a Spark job tag naming it, so jobs, tasks and SQL executions
  * launched inside can be attributed to the innermost span. Spans are
  * kept in memory; nothing is written until the run ends. */
final class Tracer(sc: SparkContext) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var nextId = 1
  var on = false
  var op = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.headOption.foreach(p => sc.removeJobTag(Tracer.tag(p)))
      sc.addJobTag(Tracer.tag(id))
      stack = id :: stack
      val startMs = System.currentTimeMillis()
      val startNs = System.nanoTime()
      try body
      finally {
        val endNs = System.nanoTime()
        val endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.removeJobTag(Tracer.tag(id))
        stack.headOption.foreach(p => sc.addJobTag(Tracer.tag(p)))
        spans += Span(id, parent, op, layer, name, startNs, endNs, startMs, endMs)
      }
    }
}

object Tracer {
  private val Prefix = "gridperf-span-"
  def tag(id: Int): String = Prefix + id

  /** The span id carried by a job's tag set, or 0 for none. */
  def spanOf(tags: Iterable[String]): Int =
    tags.collectFirst { case t if t.startsWith(Prefix) =>
      t.stripPrefix(Prefix).toInt
    }.getOrElse(0)
}

/** Spark-side counters per span, read through public listener APIs:
  * jobs, tasks, job wall time, shuffle, spill and output bytes from the
  * scheduler events, and analysis/optimization/planning time from each
  * finished query's planning tracker. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  import LayerListener._

  private val counters = mutable.HashMap.empty[Int, Counters]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val planned = mutable.ArrayBuffer.empty[Planned]
  private var lastQeId = -1L
  private val fenceJobs = mutable.HashSet.empty[Int]
  private var fencesEnded = 0

  private def of(span: Int): Counters = counters.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty(LayerListener.JobTagsProperty)))
      .map(_.split(",").toSeq).getOrElse(Nil)
    if (tags.contains(LayerListener.FenceTag)) fenceJobs += e.jobId
    val span = Tracer.spanOf(tags)
    jobSpan(e.jobId) = span -> e.time
    e.stageIds.foreach(stageSpan(_) = span)
    if (span != 0) of(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (fenceJobs.remove(e.jobId)) fencesEnded += 1
    jobSpan.remove(e.jobId).foreach { case (span, start) =>
      if (span != 0) of(span).execMs += e.time - start
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, 0)
    if (span != 0) {
      val c = of(span)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      planned += Planned(phases.map(_.endTimeMs).max,
        phases.map(_.durationMs).sum)
    lastQeId = math.max(lastQeId, qe.id)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = synchronized {
    lastQeId = math.max(lastQeId, qe.id)
  }

  /** Run one tagged query and wait until both the scheduler events and
    * the query callback for it have been delivered, so every event of
    * the work before it has been counted. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val before = synchronized(fencesEnded)
    val sc = spark.sparkContext
    sc.addJobTag(LayerListener.FenceTag)
    val df = spark.range(1)
    try df.collect()
    finally sc.removeJobTag(LayerListener.FenceTag)
    val qeId = df.queryExecution.id
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (synchronized(fencesEnded == before || lastQeId < qeId) &&
           System.nanoTime() < deadline) Thread.sleep(5)
  }

  def countersBySpan: Map[Int, Counters] = synchronized(counters.toMap)
  def plannedQueries: Seq[Planned] = synchronized(planned.toList)
}

object LayerListener {
  final class Counters {
    var jobs = 0L
    var tasks = 0L
    var execMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var bytesWritten = 0L
  }

  /** A finished query: when its last planning phase ended, and the
    * summed duration of its planning phases. */
  final case class Planned(atMs: Long, planMs: Long)

  val FenceTag = "gridperf-fence"
  /** The job property Spark stores `SparkContext.addJobTag` tags in. */
  val JobTagsProperty = "spark.job.tags"
}
