package perfbench

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Harness entry point, launched by `run.py` with the generated inputs:
  *
  * {{{
  * perfbench.Main --workload <name> --in <input dir> --work <scratch dir>
  *   --out <record.json> --trace 0|1 --seed <n> --cpus <n>
  *   [workload options]
  * }}}
  *
  * One client drives the engine in one JVM (`local[cpus]`) through its
  * public entry points only, in a closed loop. The run record holds raw
  * samples (per-op latencies, batch times, heap peak, host counters);
  * `run.py` turns them into metrics. With `--trace 1` the record also
  * carries the spans and the listener's job and stage events.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val origin = System.nanoTime()
    val traced = opt("trace") == "1"
    val spark = GraftSession.builder(opt("cpus")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = if (traced) {
      val p = new SparkProbe(origin)
      spark.sparkContext.addSparkListener(p)
      Some(p)
    } else None
    val heap = new HeapSampler
    heap.start()
    val ctx = new Ctx(spark, new Tracer(traced, origin, spark.sparkContext),
      heap, opt, origin)
    ctx.setup("session_s", (System.nanoTime() - origin) / 1e9)
    try opt("workload") match {
      case "surface" => Workloads.surface(ctx)
      case "corpus"  => Workloads.corpus(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      probe.foreach { p =>
        org.apache.spark.graft.Listeners.drain(spark.sparkContext)
        val (jobs, stages) = p.dump()
        ctx.rec("jobs") = jobs
        ctx.rec("stages") = stages
      }
      ctx.rec("spans") = ctx.tracer.spans
      heap.finish()
      ctx.rec("host") = Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cpus" -> opt("cpus").toInt,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java" -> sys.props("java.version"),
        "spark" -> spark.version)
      val pw = new java.io.PrintWriter(opt("out"), "UTF-8")
      try pw.print(Json(ctx.rec)) finally pw.close()
      spark.stop()
    }
  }
}

/** Per-run state shared by the workloads: the session, the tracer, the
  * heap sampler, the options and the record being built. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val heap: HeapSampler, val opt: Map[String, String],
                val origin: Long) {
  val rec = mutable.LinkedHashMap.empty[String, Any]
  private val setupParts = mutable.LinkedHashMap.empty[String, Double]
  rec("setup") = setupParts

  def in(p: String): String = s"${opt("in")}/$p"
  def work(p: String): String = s"${opt("work")}/$p"
  def int(k: String): Int = opt(k).toInt

  def setup(part: String, s: Double): Unit = setupParts(part) = s

  /** Time a set-up step and record it under `part`. */
  def timedSetup[T](part: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setup(part, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** After a warm-up, wait (as set-up) until the JIT compiler has been
    * idle for a moment, at most `maxS` seconds: compiles queued by the
    * warm-up otherwise finish inside the measured window, on the same
    * cores. */
  def settle(maxS: Double = 5.0): Unit = {
    val t0 = System.nanoTime()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + (maxS * 1e9).toLong
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      quiet = if (now - last <= 2) quiet + 1 else 0
      last = now
    }
    setup("settle_s", setupParts.getOrElse("settle_s", 0.0) + (System.nanoTime() - t0) / 1e9)
  }

  private var window: Map[String, Double] = Map.empty
  private var windowT0 = 0L
  private val windows = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** Open a measured window: host, GC and codegen counters, heap peak.
    * A workload may measure in several windows with set-up between
    * them; the record sums their counters and keeps the highest peak. */
  def beginWindow(): Unit = {
    System.gc()
    heap.reset()
    window = Counters.snapshot()
    windowT0 = System.nanoTime()
  }

  /** Close the measured window and record its counter deltas. */
  def endWindow(): Unit = {
    val d = Counters.delta(window, Counters.snapshot())
    windows += d ++ Map(
      "wall_s" -> (System.nanoTime() - windowT0) / 1e9,
      "start_ns" -> (windowT0 - origin).toDouble,
      "end_ns" -> (System.nanoTime() - origin).toDouble,
      "peak_heap_mb" -> heap.peakMb, "peak_after_gc_mb" -> heap.peakAfterGcMb)
    val peaks = Set("peak_heap_mb", "peak_after_gc_mb")
    rec("windows") = windows.toSeq.map(w => Map("start_ns" -> w("start_ns"), "end_ns" -> w("end_ns")))
    rec("window") = windows.head.keys.filterNot(k => k.endsWith("_ns")).map { k =>
      k -> (if (peaks(k)) windows.map(_(k)).max else windows.map(_(k)).sum) }.toMap
  }
}
