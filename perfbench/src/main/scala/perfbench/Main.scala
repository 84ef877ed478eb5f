package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation: its kind, whether it writes, its latency and the
  * number of documents it processed (0 outside corpus work). */
final case class Sample(kind: String, write: Boolean, ns: Long, docs: Long = 0L)

/** A workload drives one client through the engine's public API.
  *
  * Work comes in rounds: a round is a fixed, seeded list of ops (a session of
  * statements, a cycle of queries, a batch of documents), so every round of
  * every seed has the same mix and only literals and order vary. `setup`
  * builds the state rounds run against; it is called several times per run
  * and its median is `setup_s`. `round(t, k)` runs round `k` and returns one
  * sample per op; the same `k` always runs the same ops, so the traced phase
  * can replay the untraced phase. Every op records what it returned;
  * `verify` compares those results with values computed independently of
  * the engine, after timing has stopped. */
trait Workload {
  def inputs: Seq[(String, String)]
  /** Untimed rounds before the timed ones, enough for the JIT to bring
    * round time close to where it settles. */
  def warmupRounds: Int
  def setup(t: Tracer): Unit
  def round(t: Tracer, k: Int): Seq[Sample]
  /** (ops attempted, ops failed or wrong), over every recorded op. */
  def verify(): (Long, Long)
  /** Per-layer counts the workload computes itself, for the traced run. */
  def layerCounts(t: Tracer): Map[String, Double] = Map.empty
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, size: String, data: String, work: String,
                        injectWrong: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.getOrElse("size", "full"), need("data"), need("work"),
      m.getOrElse("inject-wrong", "0").toInt)
  }

  /** The end-to-end metrics of `BENCHMARK.json`, with their units. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_gmean_ms" -> "ms", "live_heap_mb" -> "MB")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      // keep the scheduler's status store small and bounded, so the live
      // heap does not grow with the number of jobs a run happens to fit
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args, cores) finally spark.stop()
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after a full collection; the least of four, 300 ms apart,
    * since Spark's cleaner thread frees broadcast and shuffle blocks only
    * after the collection that drops their last reference. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** Spans and their Spark jobs, one JSON object per line. */
  private def writeTrace(path: String, t: Tracer, c: Counters): Unit = {
    val jobsBySpan = c.allJobs.groupBy(_.span)
    val lines = Tracer.selfTimes(t.allSpans).map { case (s, self) =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"phase":"${s.phase}",""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"self_ns":$self,""" +
        s""""jobs":${jobsBySpan.getOrElse(s.id, Nil).length}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }

  private val started = System.nanoTime()
  /** Progress on stderr, so a slow phase can be found without a profiler. */
  private def progress(what: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - started) / 1e9}%7.2f s $what")

  private def run(spark: SparkSession, args: Args, cores: Int): Unit = {
    progress("spark session up")
    val sc = spark.sparkContext
    val loadStart = loadAvg()
    val counters = new Counters
    if (args.trace) sc.addSparkListener(counters)
    val plain = new Tracer(false, sc)
    val traced = new Tracer(true, sc)
    val setupTracer = if (args.trace) traced else plain

    val wl: Workload = args.workload match {
      case "facade_mixed" => new FacadeMixed(spark, args.seed, args.size, args.injectWrong)
      case "analytic_sf01" => new AnalyticSf01(spark, args.seed, args.size, args.data, args.work,
        args.injectWrong)
      case other => sys.error(s"unknown workload: $other")
    }

    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      wl.setup(setupTracer)
      (System.nanoTime() - t0) / 1e9
    }
    progress("set-up done")

    // Whole rounds until --seconds have passed, so the op mix is exact. The
    // warm-up runs a fixed number of rounds, so a slow machine is not also
    // measured less warm.
    def runRounds(t: Tracer, phase: String, from: Int,
                  rounds: Option[Int]): (Seq[Sample], Int, Long) = {
      t.setPhase(phase)
      val gc0 = gcMillis()
      val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
      val out = Seq.newBuilder[Sample]
      var n = 0
      while (rounds.fold(n == 0 || System.nanoTime() < deadline)(n < _)) {
        val r = wl.round(t, from + n)
        progress(f"$phase round ${from + n}: ${r.map(_.ns).sum / 1e6}%.0f ms in ${r.length} ops")
        out ++= r
        n += 1
      }
      (out.result(), n, gcMillis() - gc0)
    }
    val (_, warm, _) = runRounds(plain, "warmup", 0, Some(wl.warmupRounds))
    progress(s"warm-up done, $warm rounds")
    val (samples, rounds, _) = runRounds(plain, "timed", warm, None)
    val tracedRun = if (args.trace) Some(runRounds(traced, "timed", warm, Some(rounds))) else None
    // the checks below submit jobs of their own, which no op may count
    traced.setPhase("checks")
    progress(s"timed phase done, $rounds rounds")
    val heapMb = liveHeapMb()
    val (attempted, failed) = wl.verify()
    progress("results checked")
    val loadEnd = loadAvg()

    def ctx(k: String, v: Any): Unit = println(f"context $k%-22s $v")
    ctx("workload", args.workload)
    ctx("seed", args.seed)
    ctx("nproc", cores)
    ctx("driver_heap_max_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
    ctx("spark_version", spark.version)
    ctx("load_avg_1m_start", f"$loadStart%.2f")
    ctx("load_avg_1m_end", f"$loadEnd%.2f")
    ctx("seconds", args.seconds)
    ctx("warmup_rounds", warm)
    ctx("rounds", rounds)
    ctx("trace", if (args.trace) 1 else 0)
    wl.inputs.foreach { case (k, v) => ctx(s"input.$k", v) }

    val e2e = Report.endToEnd(samples, setups, heapMb)
    Report.printEndToEnd(e2e, samples, attempted, failed)
    val metrics = tracedRun match {
      case None => endToEnd.map { case (k, u) => (k, e2e(k), u) }
      case Some((tSamples, _, gcMs)) =>
        org.apache.spark.PerfbenchBridge.drain(sc)
        writeTrace(s"${args.work}/trace-${args.workload}-seed${args.seed}.jsonl", traced, counters)
        val layers = Report.perLayer(traced, counters, tSamples, gcMs, cores) ++
          wl.layerCounts(traced) +
          ("trace.overhead_frac" -> Report.overhead(samples, tSamples))
        val named = Report.layerNames.map { case (k, u) => (k, layers.getOrElse(k, 0.0), u) }
        named.foreach { case (k, v, u) => println(f"layer $k%-28s $v%.6f $u") }
        named
    }
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Report.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }
}
