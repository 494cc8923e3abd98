package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Cumulative Spark counters, fed by a listener the benchmark registers
  * on the session it drives. Read only after the listener bus drained
  * (see [[Tracer]]), so a snapshot covers every event posted before it. */
final class Counters extends SparkListener {
  var jobs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  /** (start, end) epoch-ms of every finished job. */
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
      recordsRead += m.inputMetrics.recordsRead
      bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  def snapshot: Map[String, Double] = synchronized {
    Map("jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble,
      "task_cpu_ms" -> taskCpuNs / 1e6, "gc_ms" -> gcMs.toDouble,
      "shuffle_bytes" -> shuffleBytes.toDouble, "spill_bytes" -> spillBytes.toDouble,
      "records_read" -> recordsRead.toDouble, "bytes_written" -> bytesWritten.toDouble)
  }

  /** Milliseconds of [from, to] covered by at least one job. */
  def jobUnionMs(from: Long, to: Long): Double = synchronized {
    val clipped = jobIntervals.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered.toDouble
  }
}

/** One traced call: its wall time and the counter deltas it caused. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startMs: Long, wallMs: Double, delta: Map[String, Double],
                      attrs: Map[String, Double])

/** Spans around the public graft calls a workload makes. Disabled (the
  * untraced runs) it is a plain pass-through: no listener is registered
  * and nothing is recorded. Enabled, every span drains the listener bus
  * at both edges so the counter deltas belong to the call; the time that
  * costs is itself measured (`selfMs`) and reported as tracing overhead. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val counters = new Counters
  if (enabled) spark.sparkContext.addSparkListener(counters)
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var selfMs = 0.0

  private def drained(): Map[String, Double] = {
    val t0 = System.nanoTime()
    org.apache.spark.perfbenchbridge.ListenerBusBridge.drain(spark.sparkContext)
    val s = counters.snapshot
    selfMs += (System.nanoTime() - t0) / 1e6
    s
  }

  def span[A](name: String, op: Int = -1)(body: => A): A =
    spanWith(name, op)(body)(_ => Map.empty)

  /** Run `body` as span `name` of op `op`; `attrs` computes extra
    * per-span values from the result (row counts, file counts). */
  def spanWith[A](name: String, op: Int = -1)(body: => A)(
      attrs: A => Map[String, Double]): A =
    if (!enabled) body
    else {
      val before = drained()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = try body finally stack = stack.tail
      val wall = (System.nanoTime() - t0) / 1e6
      val after = drained()
      val endMs = startMs + math.round(wall)
      val delta = after.map { case (k, v) => k -> (v - before(k)) } +
        ("job_union_ms" -> counters.jobUnionMs(startMs, endMs))
      spans += Span(id, name, parent, op, startMs, wall, delta, attrs(r))
      r
    }

  /** Point values measured between spans (file counts, repeat timings). */
  val notes = ArrayBuffer.empty[(String, Int, Double)]
  def note(name: String, op: Int, value: Double): Unit = if (enabled) notes += ((name, op, value))

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** One JSON object per span, written once at exit. */
  def write(path: String): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "wall_ms" -> s.wallMs,
        "counters" -> Json.obj(s.delta.toSeq.sortBy(_._1)),
        "attrs" -> Json.obj(s.attrs.toSeq.sortBy(_._1))))
    }
    val noteLines = notes.map { case (n, op, v) =>
      Json.obj(Seq("note" -> n, "op" -> op, "value" -> v)) }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines ++ noteLines).map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
