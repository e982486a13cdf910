package graft.etlbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters since the last reset. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          spillBytes: Long = 0, shuffleWriteBytes: Long = 0,
                          gcMs: Long = 0, analysisMs: Long = 0,
                          optimizationMs: Long = 0, planningMs: Long = 0) {
  private def zip(o: Counters)(f: (Long, Long) => Long): Counters = Counters(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks), f(spillBytes, o.spillBytes),
    f(shuffleWriteBytes, o.shuffleWriteBytes), f(gcMs, o.gcMs), f(analysisMs, o.analysisMs),
    f(optimizationMs, o.optimizationMs), f(planningMs, o.planningMs))
  def +(o: Counters): Counters = zip(o)(_ + _)
  def -(o: Counters): Counters = zip(o)(_ - _)
}

final case class Span(id: Int, name: String, parent: Option[Int], startNs: Long, endNs: Long)

/** The traced run's instrument: a SparkListener for tasks, stages,
  * jobs, spill, shuffle and GC, a QueryExecutionListener for the
  * Catalyst phase times, and spans kept in memory. Only the traced run
  * installs it; the timed runs carry no listener of the benchmark's. */
final class Trace(spark: SparkSession) {
  private var c = Counters()
  private val spans = ArrayBuffer.empty[Span]
  private val open = scala.collection.mutable.Stack.empty[(Int, Long)]
  private var nextId = 0

  private val tasks = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      add(Counters(jobs = 1))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(Counters(stages = 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) add(Counters(tasks = 1,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        gcMs = m.jvmGCTime))
      else add(Counters(tasks = 1))
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      def ms(phase: String) = qe.tracker.phases.get(phase).fold(0L)(_.durationMs)
      add(Counters(analysisMs = ms("analysis"), optimizationMs = ms("optimization"),
        planningMs = ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def add(d: Counters): Unit = synchronized { c = c + d }

  spark.sparkContext.addSparkListener(tasks)
  spark.listenerManager.register(queries)

  /** Counters so far, after every pending listener event is delivered. */
  def counters(): Counters = {
    org.apache.spark.etlbench.SparkInternals.drainListenerBus(spark.sparkContext)
    synchronized(c)
  }

  /** Runs `body` inside a span named `name`, child of the open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1)
    open.push((id, System.nanoTime()))
    try body
    finally {
      val (_, start) = open.pop()
      spans += Span(id, name, parent, start, System.nanoTime())
    }
  }

  def finished: Seq[Span] = spans.sortBy(_.id).toSeq

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(queries)
  }
}
