package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `perfbench/run.py`):
  *
  *   Main --workload <topology_backfill|gate_sweep> --seed <n>
  *        --seconds <s> --trace <0|1> --bench <perfbench dir> --work <temp dir>
  *        [--record <file>]
  *
  * Prints `RESULT {json}` as its last line: correct/attempted/failed and
  * the metrics of the run: end-to-end when untraced; when traced, the
  * per-layer metrics of the traced run (`traced`), whatever the workload.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        bench: Path, work: Path, record: Option[Path])

  final case class Metric(name: String, value: Double, unit: String)

  final case class Result(attempted: Long, failed: Long, metrics: Seq[Metric]) {
    def json: String = {
      val ms = metrics.map(m => s""""${m.name}":{"value":${fmt(m.value)},"unit":"${m.unit}"}""")
      s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":${ms.mkString("{", ",", "}")}}"""
    }
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("bench")).toAbsolutePath, Paths.get(need("work")).toAbsolutePath,
      m.get("record").map(Paths.get(_)))
  }

  /** Two task slots, fewer than the cores of a four-core box: at local[4]
    * one run in three was 1.5x slow. */
  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder().master("local[2]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", o.work.resolve("hadoop").toString)
      .config("spark.sql.streaming.pollingDelay", "50ms")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def cpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Starts a new peak-RSS interval: writing 5 to clear_refs resets VmHWM
    * to the current RSS. Where that is not allowed, the peak stays the
    * process's own since it started. */
  def resetPeakRss(): Unit =
    try Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)
    catch { case _: java.io.IOException => () }

  /** Peak resident set size of this process in MB (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val spark = session(o)
    val result =
      try {
        if (o.trace) traced(spark, o)
        else o.workload match {
          case "topology_backfill" => Topology.backfill(spark, o)
          case "gate_sweep" => Sweep.run(spark, o)
          case other => sys.error(s"unknown workload $other")
        }
      } finally spark.stop()
    println("RESULT " + result.json)
  }

  /** The traced run of the workload: its measured phase in a fresh JVM, as
    * in the untraced run, with spans and a listener that charges work to the
    * query or gate. It prints every per-layer metric; those of the other
    * workload's layers read 0. */
  def traced(spark: SparkSession, o: Opts): Result = {
    val tracer = new Tracer(true)
    val (attempted, failed, values) = o.workload match {
      case "topology_backfill" => Topology.traced(spark, o, tracer)
      case "gate_sweep" => Sweep.traced(spark, o, tracer)
      case other => sys.error(s"unknown workload $other")
    }
    tracer.write(o.work.resolve("spans.jsonl"))
    Result(attempted, failed, Layers.perLayer(values))
  }
}
