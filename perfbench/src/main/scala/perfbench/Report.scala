package perfbench

import java.io.{File, PrintWriter}

/** Output formatting: the result JSON line and the traced run's span file. */
object Report {

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Full-precision JSON number; non-finite values are refused. */
  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a finite number")
    java.lang.Double.toString(v)
  }

  def json(correct: Boolean, attempted: Long, failed: Long, m: Metrics): String = {
    val ms = m.values.map { case (k, (v, u)) =>
      s"${quote(k)}: {${quote("value")}: ${num(v)}, ${quote("unit")}: ${quote(u)}}"
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** Writes one JSON line per span (name, layer, request, parent, start,
    * end and self time in ns relative to the first span) into the traces
    * directory, and returns the file's path.
    */
  def writeSpans(ctx: Ctx): String = {
    val dir = new File(ctx.args.traces)
    dir.mkdirs()
    val f = new File(dir, s"${ctx.args.workload}-seed${ctx.args.seed}.spans.jsonl")
    val spans = ctx.tracer.spans
    val origin = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val w = new PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(
        s"""{"id": ${s.id}, "name": ${quote(s.name)}, "layer": ${quote(s.layer)}, """ +
          s""""request": ${s.request}, "parent": ${s.parent.getOrElse(-1)}, """ +
          s""""start_ns": ${s.startNs - origin}, "end_ns": ${s.endNs - origin}, """ +
          s""""self_ns": ${Span.selfNs(s, spans)}}""")
    } finally w.close()
    f.getPath
  }

  /** One line per distinct span name: calls, total and self seconds. */
  def selfTimes(ctx: Ctx): Seq[String] = {
    val spans = ctx.tracer.spans
    spans.groupBy(s => (s.layer, s.name)).toSeq.sortBy(_._1).map { case ((l, n), ss) =>
      val tot = ss.map(_.durNs).sum / 1e9
      val self = ss.map(Span.selfNs(_, spans)).sum / 1e9
      f"span [$l] $n calls=${ss.size} total_s=$tot%.3f self_s=$self%.3f"
    }
  }
}
