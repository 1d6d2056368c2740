package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One recorded span: a call into a layer, timed from the benchmark's
  * side of the boundary. `op` ties every span of one op together;
  * `tag` carries a grouping key (the query module for query spans).
  */
final case class Span(
    id: Int, parent: Int, name: String, op: Int, tag: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, it only runs the wrapped code;
  * enabled, it keeps every span until [[spans]] is read at the end of
  * the run. Parents come from a per-thread stack, so nested calls on
  * the client thread nest; spans reported after the fact by a callback
  * from another thread ([[record]]) name their parent explicitly.
  */
final class Tracer(val enabled: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String, op: Int, tag: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val id = buf.synchronized { val i = nextId; nextId += 1; i }
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        buf.synchronized { buf += Span(id, parent, name, op, tag, t0, t1) }
      }
    }

  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()

  /** Wall-clock milliseconds of a span timestamp (listener events
    * carry wall-clock times).
    */
  def epochMs(ns: Long): Long = anchorMs + (ns - anchorNs) / 1000000L

  /** The id of the innermost open span on this thread (0 at top level). */
  def current: Int = stack.get().headOption.getOrElse(0)

  /** Record a span timed elsewhere (a callback reporting seconds
    * after the fact); returns its id.
    */
  def record(name: String, op: Int, parent: Int, startNs: Long, endNs: Long): Int =
    if (!enabled) 0
    else buf.synchronized {
      val id = nextId
      nextId += 1
      buf += Span(id, parent, name, op, "", startNs, endNs)
      id
    }

  def spans: Seq[Span] = buf.synchronized(buf.toList)
}

object Tracer {

  /** Total length of the union of `[start, end)` intervals. */
  def coverNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of its
    * interval that its children cover. Children that overlap each
    * other (parallel commits) count once.
    */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = coverNs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a })
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}

/** Spark work counters, read from the listener bus. Task and stage
  * events are kept with their timestamps so they can be charged to the
  * span whose interval contains them.
  */
final class SparkCounters extends SparkListener {
  import SparkCounters._
  private val jobs = mutable.ArrayBuffer.empty[Long]
  private val stages = mutable.ArrayBuffer.empty[Long]
  private val tasks = mutable.ArrayBuffer.empty[(Long, Array[Double])]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += e.time }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val v = new Array[Double](Fields.size)
      v(0) = m.executorRunTime / 1e3
      v(1) = m.executorCpuTime / 1e9
      v(2) = m.jvmGCTime / 1e3
      v(3) = math.max(0L, e.taskInfo.duration - m.executorRunTime) / 1e3
      v(4) = m.inputMetrics.bytesRead.toDouble
      v(5) = m.outputMetrics.bytesWritten.toDouble
      v(6) = m.shuffleWriteMetrics.bytesWritten.toDouble
      v(7) = m.shuffleReadMetrics.totalBytesRead.toDouble
      v(8) = (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
      synchronized { tasks += ((e.taskInfo.launchTime, v)) }
    }
  }

  /** Counter totals for events stamped within `[fromMs, toMs]`. */
  def totals(fromMs: Long, toMs: Long): Map[String, Double] = synchronized {
    def in(t: Long) = t >= fromMs && t <= toMs
    val sums = new Array[Double](Fields.size)
    var nTasks = 0
    tasks.foreach { case (t, v) =>
      if (in(t)) { nTasks += 1; v.indices.foreach(i => sums(i) += v(i)) }
    }
    Map("spark.jobs" -> jobs.count(in).toDouble,
      "spark.stages" -> stages.count(in).toDouble,
      "spark.tasks" -> nTasks.toDouble) ++ Fields.zip(sums)
  }
}

object SparkCounters {
  val Fields: Seq[String] = Seq(
    "spark.task_s", "spark.cpu_s", "spark.gc_s", "spark.task_overhead_s",
    "spark.input_bytes", "spark.output_bytes", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes")
}
