package perfbench

/** The per-layer metric catalogue and its aggregation from spans. Layers
  * are named after the engine's modules. A traced run reports every metric
  * in [[PerLayer]]; a layer the workload does not call reports 0.
  */
object Layers {

  val Names: Seq[String] = Seq(
    "sources", "extract", "resolve", "canon", "link", "pipeline",
    "checkpoint", "query", "graphstore", "datapipe")

  val QueryOps: Seq[String] =
    Seq("search", "search_indexed", "expand", "shortest_path", "rrf_fuse", "ann")
  val GraphstoreOps: Seq[String] = Seq("find_by_name", "edge_type", "degrees")
  val DatapipeOps: Seq[String] = Seq("exact", "lsh", "ngram", "simhash")

  val PerLayer: Seq[(String, String)] =
    Seq(
      "sources.wall_s" -> "s", "sources.rows" -> "count", "sources.bytes_read" -> "bytes",
      "extract.wall_s" -> "s", "extract.cpu_s" -> "s", "extract.gc_s" -> "s",
      "extract.mentions" -> "count", "extract.mentions_per_turn" -> "ratio",
      "resolve.wall_s" -> "s", "resolve.cpu_s" -> "s", "resolve.shuffle_write_bytes" -> "bytes",
      "resolve.fetch_wait_s" -> "s", "resolve.resolved_ratio" -> "ratio",
      "canon.wall_s" -> "s", "canon.pairs" -> "count", "canon.clusters" -> "count",
      "link.wall_s" -> "s", "link.links" -> "count",
      "pipeline.call_s" -> "s", "pipeline.exec_s" -> "s", "pipeline.cpu_s" -> "s",
      "pipeline.gc_s" -> "s", "pipeline.cpu_util" -> "ratio", "pipeline.jobs" -> "count",
      "pipeline.tasks" -> "count", "pipeline.shuffle_write_bytes" -> "bytes",
      "pipeline.shuffle_bytes_per_edge" -> "bytes", "pipeline.spill_bytes" -> "bytes",
      "pipeline.nodes" -> "count", "pipeline.edges" -> "count",
      "checkpoint.commit_s" -> "s", "checkpoint.bytes_written" -> "bytes",
      "checkpoint.read_s" -> "s", "checkpoint.files_written" -> "count"
    ) ++
      QueryOps.map(o => s"query.$o.p50_ms" -> "ms") ++
      Seq(
        "query.plan_ms" -> "ms", "query.exec_ms" -> "ms",
        "query.jobs_per_request" -> "count", "query.shuffle_bytes_per_request" -> "bytes"
      ) ++
      GraphstoreOps.map(o => s"graphstore.$o.p50_ms" -> "ms") ++
      DatapipeOps.map(o => s"datapipe.$o.wall_s" -> "s") ++
      Seq(
        "datapipe.ngram.shuffle_write_bytes" -> "bytes", "datapipe.lsh_recall" -> "ratio",
        "datapipe.shuffle_write_bytes" -> "bytes",
        "jvm.gc_s" -> "s", "jvm.heap_used_peak_mb" -> "MiB"
      ) ++
      Names.map(l => s"$l.self_s" -> "s") ++
      Seq(
        "trace.untraced_s" -> "s", "trace.traced_s" -> "s", "trace.overhead_s" -> "s",
        "trace.spans" -> "count"
      )

  private val units: Map[String, String] = PerLayer.toMap

  def zeroFill(m: Metrics): Unit = PerLayer.foreach { case (n, u) => m(n) = 0.0 -> u }

  def set(m: Metrics, name: String, v: Double): Unit =
    m(name) = v -> units.getOrElse(name, sys.error(s"unknown per-layer metric $name"))

  /** Spans of `layer` with no enclosing span of the same layer. */
  def outermost(layer: String, spans: Seq[Span]): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(s: Span): Iterator[Span] =
      Iterator.iterate(s.parent.flatMap(byId.get))(_.flatMap(_.parent).flatMap(byId.get))
        .takeWhile(_.isDefined).map(_.get)
    spans.filter(s => s.layer == layer && !ancestors(s).exists(_.layer == layer))
  }

  /** Fills wall, self and task-metric sums per layer from the tracer's
    * spans, each divided by `perOps` (the number of traced operations), so
    * the figures are per operation.
    */
  def aggregate(ctx: Ctx, perOps: Int): Unit = {
    val spans = ctx.tracer.spans
    val n = perOps.max(1).toDouble
    val m = ctx.layer
    set(m, "trace.spans", spans.size.toDouble)
    for (l <- Names) {
      val mine = spans.filter(_.layer == l)
      if (mine.nonEmpty) {
        val wall = outermost(l, spans).map(_.durNs).sum / 1e9 / n
        val self = mine.map(s => Span.selfNs(s, spans)).sum / 1e9 / n
        val t = new TaskSums
        mine.foreach(s => t += ctx.tracer.sums(s))
        set(m, s"$l.self_s", self)
        l match {
          case "sources" =>
            set(m, "sources.wall_s", wall)
            set(m, "sources.bytes_read", t.bytesRead / n)
          case "extract" =>
            set(m, "extract.wall_s", wall)
            set(m, "extract.cpu_s", t.cpuNs / 1e9 / n)
            set(m, "extract.gc_s", t.gcMs / 1e3 / n)
          case "resolve" =>
            set(m, "resolve.wall_s", wall)
            set(m, "resolve.cpu_s", t.cpuNs / 1e9 / n)
            set(m, "resolve.shuffle_write_bytes", t.shuffleWriteBytes / n)
            set(m, "resolve.fetch_wait_s", t.fetchWaitMs / 1e3 / n)
          case "canon" => set(m, "canon.wall_s", wall)
          case "link" => set(m, "link.wall_s", wall)
          case "pipeline" =>
            set(m, "pipeline.cpu_s", t.cpuNs / 1e9 / n)
            set(m, "pipeline.gc_s", t.gcMs / 1e3 / n)
            set(m, "pipeline.cpu_util", t.cpuNs / 1e9 / (wall * n * ctx.args.cores).max(1e-9))
            set(m, "pipeline.jobs", t.jobs / n)
            set(m, "pipeline.tasks", t.tasks / n)
            set(m, "pipeline.shuffle_write_bytes", t.shuffleWriteBytes / n)
            set(m, "pipeline.spill_bytes", t.spillBytes / n)
          case "checkpoint" =>
            def callS(prefix: String) = mine.filter(_.name.startsWith(prefix)).map(_.durNs).sum / 1e9 / n
            set(m, "checkpoint.commit_s", callS("SnapshotTable.commit"))
            set(m, "checkpoint.read_s", callS("SnapshotTable.read"))
            set(m, "checkpoint.bytes_written", t.bytesWritten / n)
          case "datapipe" =>
            set(m, "datapipe.shuffle_write_bytes", t.shuffleWriteBytes / n)
          case _ =>
        }
      }
    }
  }
}
