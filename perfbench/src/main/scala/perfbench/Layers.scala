package perfbench

import org.apache.spark.sql.SparkSession

/** The per-layer metric names. Every traced run prints all of them; a
  * layer the workload does not run reads 0. */
object Layers {
  val fixtureTables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The ten app queries in topological order (DWD, DWM, DWS). */
  val Queries: Seq[String] = Seq(
    "streaming.log_fanout", "streaming.db_split",
    "apps.unique_visit", "apps.user_jump", "apps.order_wide", "apps.payment_wide",
    "apps.visitor_stats", "apps.product_stats", "apps.keyword_stats", "apps.province_stats")

  val Sinks: Seq[String] = Queries.drop(6)

  val names: Seq[String] =
    Queries.flatMap { q =>
      (Seq("step_ms_p50", "plan_ms_p50", "commit_ms_p50", "task_cpu_s", "shuffle_bytes", "rows_in") ++
        (if (q == "streaming.db_split") Nil else Seq("state_rows"))).map(m => s"$q.$m")
    } ++
    Seq("streaming.channel.files", "streaming.channel.ods_bytes", "streaming.channel.dwd_bytes",
      "streaming.channel.dwm_bytes", "streaming.dropped_late_total") ++
    Sweep.Families.flatMap(f => Seq("jobs", "wall_s", "task_cpu_s", "shuffle_bytes").map(m => s"$f.$m")) ++
    Seq("operators.lake.bytes_written", "functions.formats.input_bytes",
      "bench.gen_late_ms_max", "bench.fresh_accounted_pct", "bench.trace_overhead_pct")

  def unit(name: String): String = name.split('.').last match {
    case n if n.endsWith("_ms_p50") || n.endsWith("_ms_max") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.contains("bytes") => "bytes"
    case n if n.endsWith("_pct") => "%"
    case _ => "count"
  }

  /** Every per-layer metric, taking `values` where given and 0 elsewhere. */
  def perLayer(values: Map[String, Double]): Seq[Main.Metric] = {
    val unknown = values.keySet -- names
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(",")}")
    names.map(n => Main.Metric(n, values.getOrElse(n, 0.0), unit(n)))
  }

  /** Runs `body` with a `LayerListener` attached. Returns its result and
    * `bench.trace_overhead_pct`: the time spent in the listener's callbacks
    * as a share of the body's wall time. */
  def listened[T](spark: SparkSession, keyOf: java.util.Properties => Option[String])
                 (body: LayerListener => T): (T, Double) = {
    val l = new LayerListener(p => Option(p).flatMap(keyOf))
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    try {
      val out = body(l)
      val wallNs = System.nanoTime() - t0
      l.settle()
      (out, l.busyNanos.get.toDouble / wallNs * 100.0)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
