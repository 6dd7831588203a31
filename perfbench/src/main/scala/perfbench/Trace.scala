package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work Spark did on behalf of one span (its own, not its children's). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var tinyTasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var fetchWaitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var analysisMs = 0.0
  var optimizationMs = 0.0
  var planningMs = 0.0

  def addPhases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
  }
}

/** One timed call into a layer: name, start, end, the span that caused
  * it, and the operation (day, read or query) it belongs to.
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int, val startNs: Long) {
  var endNs = 0L
  val counters = new Counters
  /** Extra per-span counts recorded by the workload (files, rows, ...). */
  val counts = scala.collection.mutable.Map.empty[String, Double]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer's public functions.
  * Disabled, `span` is a plain call. Enabled, a Spark listener charges
  * jobs and tasks to the span whose id the submitting thread carried as
  * a local property, and Catalyst phase times to the innermost span open
  * when the query finished. The bus is drained at every span boundary
  * so no event crosses into a neighbouring span. Spans stay in memory
  * until the run ends.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private val open = ArrayBuffer.empty[Span]
  @volatile private var innermost: Option[Span] = None
  private val stageSpan = TrieMap.empty[Int, Option[Span]]
  /** Everything Spark did while `total` is being collected. */
  val total = new Counters
  @volatile var collecting = false
  var op = -1

  private def spanOfProps(p: java.util.Properties): Option[Span] =
    Option(p).flatMap(x => Option(x.getProperty(Key))).map(i => spans(i.toInt))

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val s = spanOfProps(e.properties)
        e.stageIds.foreach(stageSpan(_) = s)
        s.foreach(_.counters.jobs += 1)
        if (collecting) total.jobs += 1
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val targets = stageSpan.getOrElse(e.stageId, None).map(_.counters).toSeq ++
          (if (collecting) Seq(total) else Nil)
        val m = e.taskMetrics
        targets.foreach { c =>
          c.tasks += 1
          if (e.taskInfo.duration < 5) c.tinyTasks += 1
          if (m != null) {
            c.taskMs += m.executorRunTime
            c.gcMs += m.jvmGCTime
            c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        innermost.foreach(_.counters.addPhases(qe))
        if (collecting) total.addPhases(qe)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      drain()
      val s = new Span(spans.size, name, open.lastOption.map(_.id).getOrElse(-1),
        op, System.nanoTime())
      spans += s
      open += s
      innermost = Some(s)
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        drain()
        s.endNs = System.nanoTime()
        open.remove(open.size - 1)
        innermost = open.lastOption
        sc.setLocalProperty(Key, open.lastOption.map(_.id.toString).orNull)
      }
    }

  /** Record a count on the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) open.lastOption.foreach(s =>
      s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  /** Charge a query's Catalyst phases to the innermost open span, for
    * plans whose action runs under a different QueryExecution (writes).
    */
  def phasesOf(qe: QueryExecution): Unit =
    if (enabled) {
      open.lastOption.foreach(_.counters.addPhases(qe))
      if (collecting) total.addPhases(qe)
    }

  /** Span duration minus the time its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def named(name: String): Seq[Span] = spans.iterator.filter(_.name == name).toSeq

  def toJson: Any = spans.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
      "self_s" -> selfSeconds(s), "jobs" -> s.counters.jobs,
      "tasks" -> s.counters.tasks, "task_s" -> s.counters.taskMs / 1e3,
      "counts" -> s.counts.toMap)
  }.toSeq
}
