package perfbench

/** Turns samples, spans and scheduler counts into the printed metrics. */
object Report {

  /** Nearest-rank p-quantile of `sorted` (ascending), and the number of
    * samples above it. */
  def pct(sorted: IndexedSeq[Double], p: Double): (Double, Int) =
    if (sorted.isEmpty) (0.0, 0)
    else {
      val rank = math.max(1, math.ceil(p * sorted.length).toInt)
      (sorted(rank - 1), sorted.length - rank)
    }

  private def ms(s: Seq[Sample]): IndexedSeq[Double] = s.map(_.ns / 1e6).sorted.toIndexedSeq

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** End-to-end metrics of the untraced timed phase. `ops_per_s` is ops over
    * the summed op latency: with one closed-loop client, the client's rate.
    * `op_gmean_ms` is the geometric mean, over op kinds, of each kind's
    * median latency (the way TPC-H's power metric combines its queries):
    * every kind counts once, whatever its latency or share of the mix. */
  def endToEnd(samples: Seq[Sample], setups: Seq[Double], heapMb: Double): Map[String, Double] = {
    val kindMedians = samples.groupBy(_.kind).values.map(s => median(s.map(_.ns / 1e6)))
    Map(
      "setup_s" -> median(setups),
      "ops_per_s" -> samples.length / (samples.map(_.ns).sum / 1e9),
      "op_gmean_ms" -> math.exp(kindMedians.map(math.log).sum / kindMedians.size),
      "live_heap_mb" -> heapMb)
  }

  /** Human-readable report: every end-to-end metric with its unit and, for
    * percentiles, the sample count and how many samples lie above it. Also
    * the metrics that apply to one workload only (writes, documents) and
    * the failure share, which the JSON line carries as `failed/attempted`. */
  def printEndToEnd(e2e: Map[String, Double], samples: Seq[Sample],
                    attempted: Long, failed: Long): Unit = {
    def line(k: String, v: Double, u: String, note: String = ""): Unit =
      println(f"metric $k%-16s $v%14.4f $u%-4s $note")
    def pcts(prefix: String, s: Seq[Sample]): Unit = if (s.nonEmpty) {
      val sorted = ms(s)
      Seq(0.5 -> "p50", 0.9 -> "p90").foreach { case (p, tag) =>
        val (v, above) = pct(sorted, p)
        line(s"${prefix}_${tag}_ms", v, "ms", s"(n=${sorted.length}, $above above)")
      }
    }
    line("setup_s", e2e("setup_s"), "s", "(median of 3 set-ups)")
    line("ops_per_s", e2e("ops_per_s"), "1/s", s"(n=${samples.length})")
    line("op_gmean_ms", e2e("op_gmean_ms"), "ms",
      s"(geometric mean of ${samples.map(_.kind).distinct.length} kinds' medians)")
    pcts("op", samples)
    pcts("read", samples.filterNot(_.write))
    pcts("write", samples.filter(_.write))
    val docs = samples.map(_.docs).sum
    if (docs > 0) line("docs_per_s", docs / (samples.map(_.ns).sum / 1e9), "1/s", s"($docs docs)")
    line("ops_failed_frac", failed.toDouble / math.max(1L, attempted), "frac",
      s"($failed of $attempted)")
    line("live_heap_mb", e2e("live_heap_mb"), "MB", "(after full GC)")
    samples.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, s) =>
      println(f"kind   $k%-16s ${median(s.map(_.ns / 1e6))}%14.4f ms   (n=${s.length}, median)")
    }
  }

  /** Mean latency of the traced phase against the untraced one, over the
    * ops both phases ran (the traced phase replays the same stream). */
  def overhead(plain: Seq[Sample], traced: Seq[Sample]): Double = {
    val n = math.min(plain.length, traced.length)
    if (n == 0) 0.0
    else traced.take(n).map(_.ns).sum.toDouble / plain.take(n).map(_.ns).sum - 1.0
  }

  /** Every per-layer metric, in print order, with its unit. Per-op values
    * are averaged over the traced phase's ops; `_ms` metrics named after a
    * span are that span's mean self time per call. */
  val layerNames: Seq[(String, String)] = Seq(
    "sql.parse_ms" -> "ms", "sql.build_ms" -> "ms", "sql.build_jobs" -> "count",
    "graph.parse_ms" -> "ms", "graph.merge_ms" -> "ms", "graph.match_ms" -> "ms",
    "graph.plan_nodes" -> "count", "kv.put_ms" -> "ms", "kv.get_ms" -> "ms",
    "kv.range_ms" -> "ms", "kv.plan_nodes" -> "count", "doc.save_ms" -> "ms",
    "doc.get_ms" -> "ms", "fts.query_ms" -> "ms", "spark.plan_ms" -> "ms",
    "spark.plan_nodes" -> "count", "spark.exec_ms" -> "ms", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sched_delay_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
    "spark.task_run_ms" -> "ms", "spark.busy_frac" -> "frac",
    "spark.input_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms", "spark.task_failures" -> "count",
    "spark.stage_retries" -> "count", "matview.materialize_ms" -> "ms",
    "matview.route_attempts" -> "count", "matview.route_hits" -> "count",
    "matview.route_hit_ratio" -> "frac", "llm.minhash_ms" -> "ms",
    "llm.cluster_ms" -> "ms", "llm.clean_ms" -> "ms", "llm.pairs_found" -> "count",
    "llm.docs_kept" -> "count", "llm.dup_recall" -> "frac",
    "core.table_versions" -> "count", "driver.gc_ms" -> "ms",
    "trace.overhead_frac" -> "frac")

  /** Counts summed over the traced phase rather than averaged per sample. */
  private val summed = Set("matview.route_attempts", "matview.route_hits")

  def perLayer(t: Tracer, c: Counters, samples: Seq[Sample], gcMs: Long,
               cores: Int): Map[String, Double] = {
    val ops = math.max(1, samples.length).toDouble
    val self = Tracer.selfTimes(t.allSpans)
    val spanMs = self.filter { case (s, _) =>
      s.phase == "timed" || s.name == "matview.materialize" }
      .groupBy(_._1.name).map { case (n, xs) => s"${n}_ms" -> xs.map(_._2).sum / 1e6 / xs.length }

    val jobs = c.allJobs.filter(_.phase == "timed")
    val stageIds = jobs.flatMap(_.stages).toSet
    val stages = c.allStages.filter { case (s, _) => stageIds(s) }
    val tasks = c.allTasks.filter(x => stageIds(x.stage))
    val buildSpans = t.allSpans.filter(s => s.phase == "timed" && s.name == "sql.build")
    val buildIds = buildSpans.map(_.id).toSet
    val wallMs = samples.map(_.ns).sum / 1e6
    def perOp(f: TaskRec => Long) = tasks.map(f).sum / ops
    val sched = tasks.map(x => math.max(0L, x.durationMs - x.runMs - x.deserMs - x.resultSerMs))

    val countMetrics = t.allCounts.filter(_._2 == "timed").groupBy(_._3).map { case (k, xs) =>
      k -> (if (summed(k)) xs.map(_._4).sum else xs.map(_._4).sum / xs.length) }
    val routes = countMetrics.getOrElse("matview.route_attempts", 0.0)
    spanMs ++ countMetrics ++ Map(
      "sql.build_jobs" -> (if (buildSpans.isEmpty) 0.0
        else jobs.count(j => buildIds(j.span)).toDouble / buildSpans.length),
      "spark.jobs" -> jobs.length / ops,
      "spark.stages" -> stages.length / ops,
      "spark.tasks" -> tasks.length / ops,
      "spark.sched_delay_ms" -> sched.sum / ops,
      "spark.task_cpu_ms" -> perOp(_.cpuNs) / 1e6,
      "spark.task_run_ms" -> perOp(_.runMs),
      "spark.busy_frac" -> tasks.map(_.runMs).sum / math.max(1e-9, wallMs * cores),
      "spark.input_bytes" -> perOp(_.inputBytes),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWriteBytes),
      "spark.shuffle_read_bytes" -> perOp(_.shuffleReadBytes),
      "spark.spill_bytes" -> perOp(_.spillBytes),
      "spark.gc_ms" -> perOp(_.gcMs),
      "spark.task_failures" -> tasks.count(_.failed).toDouble,
      "spark.stage_retries" -> stages.count(_._2 > 0).toDouble,
      "matview.route_hit_ratio" -> (if (routes == 0) 0.0
        else countMetrics.getOrElse("matview.route_hits", 0.0) / routes),
      "driver.gc_ms" -> gcMs / ops)
  }

  /** A number with all its digits. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric is not a finite number: $v")
    java.math.BigDecimal.valueOf(v).toPlainString
  }
}
