package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Spark engine counters, summed over every job the session runs.
  * Read from Spark's public listener bus; the benchmark takes
  * snapshots around the calls it wants to attribute.
  */
final case class EngineCounts(jobs: Long, stages: Long, tasks: Long,
                              cpuNs: Long, shuffleWrite: Long,
                              shuffleRead: Long, spill: Long, planNs: Long) {
  def -(o: EngineCounts): EngineCounts = EngineCounts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, cpuNs - o.cpuNs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, planNs - o.planNs)
}

/** One call into a layer: name, start, end (ns since the run began),
  * the span that caused it, and the engine counts it consumed.
  */
final case class Span(id: Int, parent: Int, name: String,
                      start: Long, end: Long, counts: EngineCounts) {
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder and engine listener. With `enabled = false` the
  * `span` wrapper is a plain call and no listener is registered, so
  * untraced runs pay nothing for it, and every count reads 0.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val jobs, stages, tasks, cpuNs, shWrite, shRead, spill, planNs =
    new AtomicLong()
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1

  if (enabled) spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.incrementAndGet()
        cpuNs.addAndGet(m.executorCpuTime)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.diskBytesSpilled)
      }
  })
  if (enabled) spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      planNs.addAndGet(planningNs(qe))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      planNs.addAndGet(planningNs(qe))
  })

  /** analysis + optimization + physical planning of one query */
  private def planningNs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(_.durationMs).sum * 1000000L

  /** Spark's listener bus is asynchronous: wait for it before reading
    * counters that must cover the calls that just returned.
    */
  def drain(): Unit = if (enabled) waitUntilEmpty.invoke(listenerBus)

  // the bus and its wait are Spark-internal, hence reflection
  private lazy val listenerBus: AnyRef = {
    val m = classOf[org.apache.spark.SparkContext].getDeclaredMethod("listenerBus")
    m.setAccessible(true)
    m.invoke(spark.sparkContext)
  }
  private lazy val waitUntilEmpty = listenerBus.getClass.getMethod("waitUntilEmpty")

  def jobCount: Long = jobs.get()

  def counts: EngineCounts = EngineCounts(jobs.get(), stages.get(),
    tasks.get(), cpuNs.get(), shWrite.get(), shRead.get(), spill.get(),
    planNs.get())

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      drain()
      val c0 = counts
      val s = System.nanoTime() - t0
      try body
      finally {
        val e = System.nanoTime() - t0
        drain()
        spans += Span(id, parent, name, s, e, counts - c0)
        stack = stack.tail
      }
    }

  /** spans as JSON lines: id, parent, name, start_ns, end_ns, jobs */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"jobs":${s.counts.jobs},""" +
        s""""tasks":${s.counts.tasks},"cpu_ns":${s.counts.cpuNs}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
