package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a graft module, timed on the client thread. */
final case class Span(id: Int, parent: Int, module: String, name: String,
    startMs: Long, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark-level work attributed to one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, written = 0L
}

/** Spans and Spark counters for the traced run, kept in memory and written
  * at exit. With `enabled = false` [[span]] only evaluates its body: the
  * untraced run registers no listener and sets no job group.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var collector: Collector = _
  private var spark: SparkSession = _

  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    collector = new Collector
    s.sparkContext.addSparkListener(collector)
    s.listenerManager.register(collector)
  }

  def span[T](module: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sp = Span(spans.size + 1, stack.headOption.fold(0)(_.id), module, name,
        System.currentTimeMillis(), System.nanoTime())
      spans += sp
      stack = sp :: stack
      if (spark != null) spark.sparkContext.setJobGroup(sp.id.toString, name)
      try body
      finally {
        sp.endNs = System.nanoTime()
        stack = stack.tail
        if (spark != null) stack.headOption match {
          case Some(p) => spark.sparkContext.setJobGroup(p.id.toString, p.name)
          case None => spark.sparkContext.clearJobGroup()
        }
      }
    }

  /** Waits for every pending listener event and returns the per-span
    * counters and the planning phases (phase, startMs, endMs).
    */
  def collected(): (Map[Int, Counters], Seq[(String, Long, Long)]) = {
    if (collector == null) return (Map.empty, Nil)
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    collector.synchronized((collector.bySpan.toMap, collector.phases.toSeq))
  }

  private final class Collector extends SparkListener with QueryExecutionListener {
    val bySpan = mutable.Map.empty[Int, Counters]
    val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
    private val stageSpan = mutable.Map.empty[Int, Int]
    private val seenQe = mutable.Set.empty[Long]

    private def of(span: Int) = bySpan.getOrElseUpdate(span, new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(_.toIntOption).getOrElse(0)
      of(span).jobs += 1
      of(span).stages += e.stageIds.size
      e.stageIds.foreach(stageSpan(_) = span)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = of(stageSpan.getOrElse(e.stageId, 0))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.written += m.outputMetrics.bytesWritten
      }
    }

    // A Dataset reports the same QueryExecution on every action; its
    // planning phases ran once, so they are counted once.
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      if (seenQe.add(qe.id))
        qe.tracker.phases.foreach { case (phase, s) =>
          phases += ((phase, s.startTimeMs, s.endTimeMs))
        }
    }
  }
}
