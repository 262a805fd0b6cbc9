package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    traces: String,
    cores: Int
)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = need("work"),
      traces = need("traces"),
      cores = need("cores").toInt
    )
  }
}

/** Named metric values with units, in insertion order. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def update(name: String, valueAndUnit: (Double, String)): Unit = values(name) = valueAndUnit
}

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val ops = new Ops
  /** Made on first use, which only a traced run reaches. */
  lazy val tracer = new Tracer(spark.sparkContext)
  val e2e = new Metrics
  val layer = new Metrics
  /** Facts about the run printed in the report (sizes, settings). */
  val info = mutable.LinkedHashMap.empty[String, String]
  /** Latency of each successful measured operation, ms. */
  val samples = mutable.ArrayBuffer.empty[Double]

  def dir(name: String): String = {
    val f = new File(args.work, name)
    f.mkdirs()
    f.getAbsolutePath
  }

  /** Runs `f` under a span of `layer`; only runs `f` in an untraced run. */
  def span[A](name: String, layer: String)(f: => A): A =
    if (args.trace) tracer.span(name, layer)(f) else f
}

object Harness {

  def session(a: Args): SparkSession = {
    val b = SparkSession
      .builder()
      .appName("perfbench")
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
    val s = graft.util.Tuning(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Unpersists every cached or locally checkpointed RDD not in `keep`. */
  def purgeExcept(spark: SparkSession, keep: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }

  def persistentIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Node and edge counts in one action. */
  def countGraph(nodes: DataFrame, edges: DataFrame): (Long, Long) = {
    val m = nodes.select(lit("n").as("k"))
      .unionByName(edges.select(lit("e").as("k")))
      .groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (m.getOrElse("n", 0L), m.getOrElse("e", 0L))
  }

  /** Order-independent digest of a table: its row count and the sum of a
    * 64-bit hash of every row (map columns hashed as sorted entries).
    */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Total bytes and file count under `path`. */
  def du(path: String): (Long, Long) = {
    val root = new File(path)
    if (!root.exists()) (0L, 0L)
    else {
      val files = java.nio.file.Files.walk(root.toPath).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p)).toSeq
      (files.map(p => java.nio.file.Files.size(p)).sum, files.size.toLong)
    }
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** CPU seconds this process has used. */
  def processCpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Seconds the machine's virtual CPUs have waited for the host so far,
    * summed over CPUs (the steal column of /proc/stat; 0 where absent).
    */
  def machineStealSeconds: Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(0.0)
    finally src.close()
  }

  /** Peak resident set of this process (VmHWM), MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Sum over heap memory pools of their peak usage, MiB. */
  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
