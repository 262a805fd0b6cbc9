package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named workload. [[Main]] calls, in order: [[setup]]
  * (several times, each replacing the previous state), then either
  * [[warmUp]] and [[measure]] (untraced run) or [[traceRun]] (traced run), then
  * [[verify]] and [[report]].
  */
abstract class Workload(val ctx: Ctx) {
  val spark: SparkSession = ctx.spark
  def seed: Long = ctx.args.seed

  /** Generates the inputs and prepares everything the first measured
    * operation needs.
    */
  def setup(rep: Int): Unit

  /** Set-up repetitions of an untraced run; `setup_s` is their
    * (nearest-rank) median. The first repetition is cold and the slowest.
    */
  def setupReps: Int = 3

  /** Untimed work before measuring. By default none: a batch operation
    * runs once in a fresh process, so its first run, with JIT compilation
    * and first-touch costs, is the one users see.
    */
  def warmUp(): Unit = ()

  /** Runs measured operations until `deadlineNs` (at least one), adding one
    * latency sample to `ctx.samples` per successful operation.
    */
  def measure(deadlineNs: Long): Unit

  /** Runs the same work untraced and traced, alternating, until
    * `deadlineNs` (at least once each); returns (untraced seconds, traced
    * seconds, traced operations) for the tracing-overhead figure.
    */
  def traceRun(deadlineNs: Long): (Seq[Double], Seq[Double], Int)

  /** `op_gmean_ms`: by default the geometric mean of the latency samples. */
  def opGmeanMs: Double = Stats.geomean(ctx.samples.toSeq)

  /** Output checks that need no oracle, each counted as an operation. */
  def verify(): Unit

  /** Work units per second for `work_per_s`, and workload facts. */
  def report(): Unit

  protected var keep: Set[Int] = Set.empty

  /** Marks everything persisted so far as set-up state. */
  protected def keepPersisted(): Unit = keep = Harness.persistentIds(spark)

  /** Drops what operations persisted, keeping set-up state. */
  protected def purge(): Unit = Harness.purgeExcept(spark, keep)

  protected def now: Long = System.nanoTime()

  /** Per-layer counts summed over traced operations. */
  private val counted = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  protected def add(metric: String, v: Double): Unit =
    counted(metric) = counted.getOrElse(metric, 0.0) + v

  /** Sets per-layer metrics from spans and counts, per traced operation. */
  protected def finishTrace(tracedOps: Int): Unit = {
    Layers.aggregate(ctx, tracedOps)
    counted.foreach { case (k, v) => Layers.set(ctx.layer, k, v / tracedOps.max(1)) }
  }

  /** Runs `once` untraced and untimed, so that both sides of the
    * tracing-overhead figure are warm, then alternates untraced and traced
    * runs until the deadline (at least one each). Each run is an operation.
    */
  protected def alternate(deadlineNs: Long)(once: Boolean => Unit): (Seq[Double], Seq[Double], Int) = {
    val plain = scala.collection.mutable.ArrayBuffer.empty[Double]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Double]
    ctx.ops.op("warm-up operation")(once(false))(_ => true)
    var rounds = 0
    while (rounds == 0 || now < deadlineNs) {
      plain ++= ctx.ops.op("untraced operation")(once(false))(_ => true).map(_._2 / 1e3)
      traced ++= ctx.ops.op("traced operation") {
        ctx.tracer.inRequest(rounds.toLong)(ctx.tracer.recording(once(true)))
      }(_ => true).map(_._2 / 1e3)
      rounds += 1
    }
    (plain.toSeq, traced.toSeq, traced.size)
  }
}

object Workload {
  val Names: Seq[String] = Seq("build", "serve")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "build" => new BuildWorkload(ctx)
    case "serve" => new ServeWorkload(ctx)
    case other => sys.error(s"unknown workload $other (expected one of ${Names.mkString(", ")})")
  }

  /** Helper for spans whose result is a DataFrame that must be materialized
    * inside the span: localCheckpoint it eagerly.
    */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
}
