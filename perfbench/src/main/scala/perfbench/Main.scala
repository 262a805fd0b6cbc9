package perfbench

import java.lang.management.ManagementFactory

/** Runs one workload in this JVM and prints a report; the last stdout line
  * is one JSON object: {"correct", "attempted", "failed", "metrics"}.
  *
  * Arguments: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <scratch dir> [--cores <k>].
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Harness.session(a)
    val ctx = new Ctx(spark, a)
    ctx.info("jvm_start_to_session_s") = f"${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.3f s"
    try run(ctx, jvmStartMs)
    finally spark.stop()
  }

  private def run(ctx: Ctx, jvmStartMs: Long): Unit = {
    val a = ctx.args
    val w = Workload(a.workload, ctx)
    Layers.zeroFill(ctx.layer)

    val setupS = (1 to (if (a.trace) 1 else w.setupReps)).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      Harness.secondsSince(t0)
    }
    // a traced run warms up with a whole untraced operation instead
    if (!a.trace) w.warmUp()
    val startToFirstOp = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val gc0 = Harness.gcSeconds
    val (cpu0, steal0) = (Harness.processCpuSeconds, Harness.machineStealSeconds)
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    if (a.trace) {
      val (plain, traced, _) = w.traceRun(deadline)
      val (p, t) = (Stats.median(plain), Stats.median(traced))
      Layers.set(ctx.layer, "trace.untraced_s", p)
      Layers.set(ctx.layer, "trace.traced_s", t)
      Layers.set(ctx.layer, "trace.overhead_s", t - p)
    } else w.measure(deadline)
    val gcS = Harness.gcSeconds - gc0
    val (cpuS, stealS) = (Harness.processCpuSeconds - cpu0, Harness.machineStealSeconds - steal0)
    val measureS = (System.nanoTime() - deadline) / 1e9 + a.seconds
    val v0 = System.nanoTime()
    w.verify()
    val verifyS = Harness.secondsSince(v0)
    w.report()

    val samples = ctx.samples.toSeq
    ctx.e2e("setup_s") = Stats.median(setupS) -> "s"
    if (samples.nonEmpty) {
      ctx.e2e("op_gmean_ms") = w.opGmeanMs -> "ms"
      ctx.info("op_p50_ms") = f"${Stats.median(samples)}%.3f ms (${samples.size} samples)"
      ctx.info("op_tail_ms") = Stats.tail(samples) match {
        case Some((q, v)) =>
          f"$v%.3f ms at p${q * 100}%.1f (${Stats.beyond(samples, q)} of ${samples.size} samples beyond)"
        case None => s"none: ${samples.size} samples leave fewer than 10 beyond p75"
      }
    }
    ctx.e2e("peak_rss_mb") = Harness.peakRssMb -> "MiB"
    Layers.set(ctx.layer, "jvm.gc_s", gcS)
    Layers.set(ctx.layer, "jvm.heap_used_peak_mb", Harness.heapPeakMb)

    val heapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    println(s"perfbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} k=${a.cores} heap_mb=$heapMb")
    println(s"  setup_runs_s = ${setupS.map(s => f"$s%.3f").mkString(", ")}")
    println(f"  jvm_start_to_first_op_s = $startToFirstOp%.3f s")
    println(f"  measure_s = $measureS%.3f s")
    println(f"  measured_gc_s = $gcS%.3f s")
    println(f"  measured_cpu_s = $cpuS%.3f s")
    println(f"  measured_steal_s = $stealS%.3f s (all vCPUs)")
    println(f"  verify_s = $verifyS%.3f s")
    ctx.info.foreach { case (k, v) => println(s"  $k = $v") }
    println(s"  ops_attempted = ${ctx.ops.attempted} count")
    println(f"  fail_ratio = ${ctx.ops.failRatio}%.6f ratio")
    ctx.ops.failureMessages.foreach(m => println(s"  failure: $m"))
    val metrics = if (a.trace) ctx.layer else ctx.e2e
    metrics.values.foreach { case (k, (v, u)) => println(s"  $k = $v $u") }
    if (a.trace) {
      val path = Report.writeSpans(ctx)
      println(s"  spans_file = $path")
      Report.selfTimes(ctx).foreach(l => println(s"  $l"))
    }
    println(Report.json(ctx.ops.failed == 0, ctx.ops.attempted, ctx.ops.failed, metrics))
  }
}
