package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: (trace id, span id, parent, name, start, end,
  * counts). Times are nanoseconds since the run's origin. */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
                      start: Long, end: Long, counts: Map[String, Double])

/** In-memory span recorder. Disabled, `span` only runs its body: the
  * end-to-end runs pay no tracing cost. Enabled, every span also tags
  * the Spark jobs it starts (local property `perfbench.span`), so the
  * listener's job, stage and task events attribute to the innermost
  * open span. Spans are written out when the run ends. */
final class Tracer(val enabled: Boolean, origin: Long, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var traceId = 0L

  /** Start a new trace (one per op: a query, a chain rep, a topic). */
  def newTrace(): Unit = traceId = ids.incrementAndGet()

  def span[T](name: String)(body: => T): T =
    spanWith(name, (_: T) => Map.empty[String, Double])(body)

  /** [[span]] that also records counts derived from the body's result. */
  def spanWith[T](name: String, counts: T => Map[String, Double])(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try {
        val r = body
        done += Span(traceId, id, parent, name, t0 - origin,
          System.nanoTime() - origin, counts(r))
        r
      } finally {
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey,
          stack.headOption.map(_.toString).orNull)
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Tracer { val SpanKey = "perfbench.span" }

/** Spark listener the benchmark registers in traced runs: per job its
  * description, span and interval; per stage its interval and task
  * aggregates (count, run/CPU/GC time, shuffle, spill, input bytes and
  * the task-duration list for skew). */
final class SparkProbe(origin: Long) extends SparkListener {
  final class Stage(val id: Int, val job: Int) {
    var start, end = 0L
    var tasks = 0
    var runMs, cpuNs, gcMs, shW, shR, spill, input = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  final case class Job(id: Int, desc: String, span: Long, start: Long,
                       var end: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private def rel(ms: Long): Long = ms * 1000000L - originEpochNs
  // event times are epoch millis; spans are nanoTime offsets
  private val originEpochNs =
    System.currentTimeMillis() * 1000000L - (System.nanoTime() - origin)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val desc = p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = Job(e.jobId, desc, span, rel(e.time), 0L)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = rel(e.time))
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt),
      new Stage(id, stageJob.getOrElse(id, -1)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    s.durations += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shW += m.shuffleWriteMetrics.bytesWritten
      s.shR += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.start = i.submissionTime.map(rel).getOrElse(0L)
      s.end = i.completionTime.map(rel).getOrElse(0L)
    }

  /** Jobs and completed stages as JSON-ready maps. */
  def dump(): (Seq[Map[String, Any]], Seq[Map[String, Any]]) = synchronized {
    val js = jobs.values.toSeq.map(j => Map[String, Any](
      "id" -> j.id, "desc" -> j.desc, "span" -> j.span,
      "start_ns" -> j.start, "end_ns" -> j.end))
    val ss = stages.values.toSeq.map { s =>
      Map[String, Any]("id" -> s.id, "job" -> s.job,
        "start_ns" -> s.start, "end_ns" -> s.end, "tasks" -> s.tasks,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "shuffle_write_b" -> s.shW, "shuffle_read_b" -> s.shR,
        "spill_b" -> s.spill, "input_b" -> s.input,
        "task_ms" -> s.durations.toSeq)
    }
    (js, ss)
  }
}

/** Samples used heap every few milliseconds; `peakMb` is the highest
  * sample since the last `reset`. `peakAfterGcMb` is the highest heap
  * occupancy left after a collection, read from the collectors' own
  * notifications: the memory the work kept live, without the garbage
  * that the sampled peak also counts. */
final class HeapSampler extends Thread("perfbench-heap") {
  setDaemon(true)
  @volatile private var peak = 0L
  @volatile private var peakAfterGc = 0L
  @volatile private var running = true
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  private val onGc = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        if (after > peakAfterGc) peakAfterGc = after
      }
  }
  java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach(_.asInstanceOf[javax.management.NotificationEmitter]
      .addNotificationListener(onGc, null, null))
  override def run(): Unit = while (running) {
    val u = mem.getHeapMemoryUsage.getUsed
    if (u > peak) peak = u
    Thread.sleep(5)
  }
  def reset(): Unit = {
    peak = mem.getHeapMemoryUsage.getUsed
    peakAfterGc = 0L
  }
  def peakMb: Double = peak / 1048576.0
  def peakAfterGcMb: Double = peakAfterGc / 1048576.0
  def finish(): Unit = { running = false; join() }
}

/** Host and JVM counters read at the edges of the measured window. */
object Counters {
  /** (user+nice, system+irq+softirq, idle, iowait, steal) CPU seconds,
    * summed over all CPUs, from the aggregate /proc/stat line. */
  def cpu(): Array[Double] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong).padTo(10, 0L)
    finally src.close()
    val hz = 100.0
    Array(f(0) + f(1), f(2) + f(5) + f(6), f(3), f(4), f(7)).map(_ / hz)
  }

  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def codegenN: Long = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME.getCount

  /** Bytes read through Hadoop's local file system in this JVM. */
  def localFsReadBytes: Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesRead")).map(_.longValue))
      .getOrElse(0L)

  /** Snapshot of every counter above, for a begin/end window delta. */
  def snapshot(): Map[String, Double] = {
    val c = cpu()
    Map("user_s" -> c(0), "sys_s" -> c(1), "idle_s" -> c(2),
      "iowait_s" -> c(3), "steal_s" -> c(4), "gc_s" -> gcMs / 1e3,
      "codegen_n" -> codegenN.toDouble)
  }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a(k)) }
}

/** Minimal JSON writer for the run record (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case sp: Span => apply(Map("trace" -> sp.trace, "id" -> sp.id,
      "parent" -> sp.parent, "name" -> sp.name, "start_ns" -> sp.start,
      "end_ns" -> sp.end, "counts" -> sp.counts))
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
