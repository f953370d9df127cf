package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one job group (one benchmark operation). */
final class Agg {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, schedDelayMs = 0L
  var inRecords, inBytes, outBytes = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var planNs, execNs = 0L
  def add(o: Agg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; schedDelayMs += o.schedDelayMs
    inRecords += o.inRecords; inBytes += o.inBytes; outBytes += o.outBytes
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    planNs += o.planNs; execNs += o.execNs
  }
}

/** A child span of operation `op` (whose own span is `op.<kind>`). */
final case class Span(op: String, name: String, startNs: Long, endNs: Long)

/** Progress of one streaming micro-batch, from the listener. */
final case class BatchProgress(batchId: Long, durations: Map[String, Long])

/**
 * The traced run's instrument, built from Spark's public listener APIs
 * only: a SparkListener (jobs, stages, task metrics), a
 * QueryExecutionListener (planning phases from QueryPlanningTracker) and a
 * StreamingQueryListener (micro-batch progress). Events are keyed by the
 * job group the benchmark sets for each operation; a QueryExecution is
 * joined to its group through the `spark.sql.execution.id` of its jobs.
 * Spans stay in memory and are written out when the run ends.
 *
 * An untraced Tracer registers nothing and records no spans.
 */
class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  @volatile private var current: String = "none"
  val spans = ArrayBuffer.empty[Span]
  val batches = ArrayBuffer.empty[BatchProgress]

  private def agg(g: String): Agg = aggs.computeIfAbsent(g, _ => new Agg)
  /** The benchmark's own group, or the operation waiting on work that runs
    * under a Spark-owned group (a streaming query's micro-batches). */
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(g => g.startsWith(Tracer.OpPrefix)).getOrElse(current)

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = groupOf(e.properties)
        agg(g).synchronized { agg(g).jobs += 1 }
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => execGroup.put(id.toLong, g))
        e.stageIds.foreach(s => stageGroup.put(s, g))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val g = Option(stageGroup.get(e.stageInfo.stageId)).getOrElse(current)
        agg(g).synchronized { agg(g).stages += 1 }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val g = Option(stageGroup.get(e.stageId)).getOrElse(current)
        val a = agg(g)
        val m = e.taskMetrics
        val i = e.taskInfo
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.taskRunMs += m.executorRunTime
            a.taskCpuNs += m.executorCpuTime
            a.inRecords += m.inputMetrics.recordsRead
            a.inBytes += m.inputMetrics.bytesRead
            a.outBytes += m.outputMetrics.bytesWritten
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            if (i != null) a.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) -
              m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime -
              i.gettingResultTime)
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val g = Option(execGroup.get(qe.id)).getOrElse(current)
        val plan = qe.tracker.phases.collect {
          case (p, s) if p != "parsing" => s.durationMs
        }.sum
        val a = agg(g)
        a.synchronized { a.planNs += plan * 1000000L; a.execNs += durationNs }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.synchronized {
          batches += BatchProgress(e.progress.batchId,
            e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
        }
    })
  }

  /** Starts an operation: its job group is also its span's key. */
  def begin(op: String): Unit = {
    current = op
    sc.setJobGroup(op, op, interruptOnCancel = false)
  }

  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Drain(sc)

  /** Waits for the listener queue to drain, then hands back (and forgets)
    * everything attributed to `group`. */
  def collect(group: String): Agg = {
    drain()
    Option(aggs.remove(group)).getOrElse(new Agg)
  }

  /** Jobs attributed to `group` so far (drained, not forgotten). */
  def jobsSoFar(group: String): Long = {
    drain()
    Option(aggs.get(group)).map(_.jobs).getOrElse(0L)
  }

  def end(): Unit = sc.clearJobGroup()

  /** Times `body` as a span named `name` under operation `op`. */
  def span[T](op: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally record(op, name, t0, System.nanoTime())
  }

  def record(op: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.synchronized(spans += Span(op, name, startNs, endNs))

  private val ops = ArrayBuffer.empty[String]

  /** Keeps an operation's listener totals, including its planning time
    * (the `spark.plan` part of the op), for the trace file. */
  def opDone(op: String, kind: String, latencyMs: Double, a: Agg): Unit = if (enabled)
    ops += Json.render(Map[String, Any]("op" -> op, "kind" -> kind, "latency_ms" -> latencyMs,
      "spark.plan_ms" -> a.planNs / 1e6, "spark.exec_ms" -> a.execNs / 1e6, "jobs" -> a.jobs,
      "stages" -> a.stages, "tasks" -> a.tasks, "task_ms" -> a.taskRunMs,
      "input_bytes" -> a.inBytes, "output_bytes" -> a.outBytes,
      "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead))

  /** Writes every span, then every operation's totals, one JSON line each. */
  def write(path: java.io.File): Unit = if (enabled) {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        w.println(Json.render(Map[String, Any]("op" -> s.op, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      }
      ops.foreach(w.println)
    } finally w.close()
  }
}

object Tracer {
  val OpPrefix = "op-"

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}
