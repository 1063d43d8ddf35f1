package gridperf

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, the run's own
  * scratch directory, and the clock reading that `setup_s` counts from
  * (the launcher's start, with any build time taken out). */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val runDir: String, val dataDir: String, val seed: Long,
                val seconds: Int, val trace: Boolean, t0Ms: Double) {
  private var firstOpMs = Double.NaN

  /** Marks the start of the first timed op; later calls do nothing. */
  def timedStart(): Unit =
    if (firstOpMs.isNaN) firstOpMs = System.currentTimeMillis().toDouble

  def setupS: Double = (firstOpMs - t0Ms) / 1000.0

  /** Progress line on stderr: seconds since the launcher started. */
  def mark(what: String): Unit =
    System.err.println(f"[gridperf] +${(System.currentTimeMillis() - t0Ms) / 1000}%.1f s $what")
}

/** A workload's result: the primary op latencies, the timed wall time,
  * counts, and the per-layer extras only the workload knows. */
final case class Outcome(opMs: Seq[Double], passS: Double, attempted: Int,
                         failed: Int, tracedOps: Int,
                         layer: Map[String, Double], summary: String)

object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val runDir = opts("run-dir")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"gridperf-$workload")
      .withExtensions(new graft.GraftExtensions)
      // the engine's bench posture (graft.Bench): small-SF local mode
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "524288")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .getOrCreate()
    val trace = opts("trace") == "1"
    val listener = new LayerListener
    if (trace) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }
    val ctx = new Ctx(spark, new Tracer(spark.sparkContext), runDir,
      opts("data"), opts("seed").toLong, opts("seconds").toInt, trace,
      opts("t0-ms").toDouble)
    ctx.mark("session ready")
    val out = workload match {
      case "backfill" => Backfill(ctx)
      case "live" => Live(ctx)
      case "analytics" => Analytics(ctx)
      case "expected" => Analytics.writeExpected(ctx, opts("out")); sys.exit(0)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (trace) listener.drain(spark)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", ctx.setupS, "s"),
        ("peak_heap_mb", peakHeapMb, "MB"),
        ("pass_s", out.passS, "s"),
        ("op_p50_ms", Stats.percentile(out.opMs, 50), "ms"))
      else Report.perLayer(ctx.tracer.spans.toSeq, listener, out)
    ctx.mark("done")
    println(out.summary)
    println(f"ops=${out.opMs.size}%d p95 has ${Stats.beyond(out.opMs, 95)}%d " +
      f"samples beyond it; setup_s=${ctx.setupS}%.3f, VmHWM=$peakRssMb%.0f MB")
    val json = "{\"correct\": " + (out.failed == 0) +
      ", \"attempted\": " + out.attempted + ", \"failed\": " + out.failed +
      ", \"metrics\": {" + metrics.map { case (n, v, u) =>
        "\"" + n + "\": {\"value\": " + num(v) + ", \"unit\": \"" + u + "\"}"
      }.mkString(", ") + "}}"
    Files.write(Paths.get(opts("out")), json.getBytes("UTF-8"))
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString

  /** Peak heap in use, summed over the heap's memory pools, in MB. With
    * the young generation's size fixed by the launcher, this moves with
    * the old generation's peak: the data the program keeps alive. */
  def peakHeapMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** High-water resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).fold(0.0)(_.split("\\s+")(1).toDouble / 1024.0)
}
