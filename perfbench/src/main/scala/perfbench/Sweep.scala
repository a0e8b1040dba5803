package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The `gate_sweep` workload: one client in a closed loop; each pass runs
  * every gate of `Gates` once. */
object Sweep {

  /** Gate family (a per-layer metric prefix) of a gate name. */
  def family(gate: String): String = {
    val formats = Seq("x_parquet_", "x_orc_", "x_avro_", "x_lz4_", "x_snappy_", "x_zstd_", "x_inflate_")
    val crawl = Seq("x_crawl_", "x_link_", "x_host_rank", "x_web_pipeline")
    if (gate.endsWith("_stream")) "streaming.gates"
    else if (gate.startsWith("x_delta_") || gate.startsWith("x_iceberg_")) "operators.lake"
    else if (formats.exists(gate.startsWith)) "functions.formats"
    else if (gate.startsWith("x_dedup_")) "llm.dedup"
    else if (crawl.exists(gate.startsWith)) "llm.crawl"
    else if (gate.startsWith("st") || gate.startsWith("s1") || "dpf".contains(gate.head)) "queries.state"
    else gate.head match {
      case 'q' => "queries.tpch"
      case 'a' => "queries.agg"
      case 'w' => "queries.window"
      case 'j' => "queries.join"
      case 'e' => "queries.event"
      case _ => sys.error(s"no family for gate $gate")
    }
  }

  /** The fixed gate list: one gate of every family (two decoders), among
    * them the flagged e5_pagerank, x_link_rank, j1_interval_stream and
    * x_delta_update; trimmed so that one cold pass takes 20–30 s. */
  val Gates: Seq[String] = Seq(
    "q1_agg", "a9_heavy_hitters", "w11_ohlc", "j1_interval_join", "e5_pagerank", "st1_is_new",
    "j1_interval_stream", "x_delta_update", "x_parquet_footer", "x_zstd_frames",
    "x_dedup_simhash", "x_link_rank")

  val Families: Seq[String] = Gates.map(family).distinct.sorted

  final case class GateRun(name: String, pass: Int, ms: Double, fp: Fingerprint)

  /** Local property naming the running gate. Unlike the job group, the
    * threads a stream gate starts inherit it and Spark does not reset it. */
  val GateProperty = "perfbench.gate"

  /** Runs `body` with the gate's name in `GateProperty`; returns its result and ms. */
  private def timed[T](spark: SparkSession, name: String, tracer: Tracer, trace: Long)(body: => T): (T, Double) = {
    spark.sparkContext.setLocalProperty(GateProperty, name)
    val t0 = System.nanoTime()
    try {
      val out = tracer.span(name, trace)(body)
      (out, (System.nanoTime() - t0) / 1e6)
    } finally spark.sparkContext.setLocalProperty(GateProperty, null)
  }

  /** One pass: each gate in `order`, materialized with `collect()`; the
    * fingerprint is taken after the clock stops. */
  def pass(spark: SparkSession, dir: String, order: Seq[String], tracer: Tracer, passNo: Int): Seq[GateRun] = {
    val trace = PassTrace + passNo
    tracer.span("pass", trace) {
      order.map { g =>
        val (rows, ms) = timed(spark, g, tracer, trace)(SparkEntry.queries(g)(spark, dir).collect())
        GateRun(g, passNo, ms, Fingerprint.ofRows(rows))
      }
    }
  }

  /** Trace ids of passes start here, apart from the topology's round numbers. */
  val PassTrace = 1000L

  /** Stored fingerprints: `gate<TAB>rows:hash` per line. */
  def readExpected(path: java.nio.file.Path): Map[String, Fingerprint] =
    scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(g, f) = l.split("\t"); g -> Fingerprint.parse(f) }.toMap

  /** Runs the workload: five timed set-ups (fixtures read), then passes
    * in a closed loop for `seconds` (at least one), each in the fixed gate
    * order. The peak resident memory covers the passes only. The inputs are
    * the fixed sf0.01 fixture, so the seed does not change them. The first
    * pass is cold, like `graft.Bench`'s headline. */
  def run(spark: SparkSession, o: Main.Opts): Main.Result = {
    val dir = fixtures(o)
    val setups = (1 to 5).map(_ => setUp(spark, dir))
    Main.resetPeakRss()
    val cpu0 = Main.cpuNanos()
    val t0 = System.nanoTime()
    val runs = scala.collection.mutable.ArrayBuffer.empty[GateRun]
    val passMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var passNo = 0
    while (passNo == 0 || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      passNo += 1
      val p0 = System.nanoTime()
      runs ++= pass(spark, dir, Gates, new Tracer(false), passNo)
      passMs += (System.nanoTime() - p0) / 1e6
    }
    val cpuS = (Main.cpuNanos() - cpu0) / 1e9 / passNo
    val rssMb = Main.peakRssMb()
    System.err.println(s"perfbench: set-ups ${setups.map(s => f"$s%.3f").mkString(" ")} s")
    o.record.foreach { f =>
      val lines = runs.filter(_.pass == 1).map(r => s"${r.name}\t${r.fp}").sorted
      Files.write(f, lines.mkString("# gate<TAB>rows:hash, recorded from gate_sweep pass 1\n", "\n", "\n").getBytes("UTF-8"))
    }
    runs.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (g, rs) =>
      System.err.println(f"perfbench: ${g}%-28s ${Stats.median(rs.map(_.ms))}%9.1f ms (${family(g)})")
    }
    val gateMs = runs.map(_.ms).sorted.toIndexedSeq
    System.err.println(s"perfbench: ${gateMs.size} gate samples over $passNo pass(es); highest percentile " +
      s"with ten samples beyond it: ${Stats.highestSupported(gateMs.size).map(p => s"p$p").getOrElse("none")}")
    Main.Result(runs.size.toLong, if (o.record.isDefined) 0L else failures(o, runs.toSeq), Seq(
      Main.Metric("setup_s", Stats.median(setups), "s"),
      Main.Metric("latency_p50_ms", Stats.median(gateMs), "ms"),
      Main.Metric("latency_p90_ms", Stats.pct(gateMs, 90), "ms"),
      Main.Metric("throughput_per_s", runs.size / (passMs.sum / 1000.0), "1/s"),
      Main.Metric("cpu_s", cpuS, "s"),
      Main.Metric("peak_rss_mb", rssMb, "MB")))
  }

  /** One set-up: reads and counts the ten fixture tables; returns seconds. */
  private def setUp(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    Layers.fixtureTables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
    (System.nanoTime() - t0) / 1e9
  }

  /** Traced run: one set-up, then one cold pass with spans and the
    * listener. Returns (attempted, failed, per-family metrics). */
  def traced(spark: SparkSession, o: Main.Opts, tracer: Tracer): (Long, Long, Map[String, Double]) = {
    val dir = fixtures(o)
    setUp(spark, dir)
    val ((runs, l), overheadPct) = Layers.listened(spark,
      props => Option(props.getProperty(GateProperty)).map(family)) { listener =>
      (pass(spark, dir, Gates, tracer, 1), listener)
    }
    def count(f: String, get: l.Counters => Long) = Option(l.byKey.get(f)).map(c => get(c).toDouble).getOrElse(0.0)
    val perFamily = Families.flatMap { f =>
      Seq(s"$f.jobs" -> count(f, _.jobs),
        s"$f.wall_s" -> runs.filter(r => family(r.name) == f).map(_.ms).sum / 1000.0,
        s"$f.task_cpu_s" -> count(f, _.taskCpuNs) / 1e9,
        s"$f.shuffle_bytes" -> count(f, _.shuffleBytes))
    }
    (runs.size.toLong, failures(o, runs), (perFamily ++ Seq(
      "operators.lake.bytes_written" -> count("operators.lake", _.outputBytes),
      "functions.formats.input_bytes" -> count("functions.formats", _.inputBytes),
      "bench.trace_overhead_pct" -> overheadPct)).toMap)
  }

  private def fixtures(o: Main.Opts): String = o.bench.resolve("fixtures/sf0.01").toString

  /** Gate runs whose fingerprint differs from `expected/gates.tsv`. */
  private def failures(o: Main.Opts, runs: Seq[GateRun]): Long = {
    val expected = readExpected(o.bench.resolve("expected/gates.tsv"))
    val bad = runs.filter(r => !expected.get(r.name).contains(r.fp))
    bad.foreach(r => System.err.println(s"perfbench: gate ${r.name} gave ${r.fp}, " +
      s"expected ${expected.get(r.name).map(_.toString).getOrElse("none")}"))
    bad.size.toLong
  }
}
