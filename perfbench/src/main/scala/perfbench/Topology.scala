package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.apps.Apps
import graft.schemas.Schemas
import graft.streaming.{DbSplit, FileChannel, LogFanOut}

/** The reference topology, ODS → DWD → DWM → DWS, as ten streaming
  * queries, each with its own checkpoint, chained over file channels.
  *
  * A channel is a directory its producer appends files to (a topic). Each
  * consumer reads its own directory through `FileChannel`; the driver
  * hard-links a channel's new files into it when it steps that consumer
  * (its poll). So a single-threaded driver steps the queries in
  * topological order with `processAllAvailable()`, and no query sees
  * input before every producer upstream of it has finished the step.
  */
object Topology {

  /** Watermark delay per DWS sink. VisitorStats gets 20 s: a bounce row
    * leaves UserJump at least 12 s (gap + its watermark) after its page,
    * and its window must still be open when it arrives. */
  val SinkDelayMs: Map[String, Long] = Map(
    "apps.visitor_stats" -> 20000L, "apps.product_stats" -> 2000L,
    "apps.keyword_stats" -> 1000L, "apps.province_stats" -> 1000L)

  /** Fact topics DbSplit routes to, with the bean schema of each. */
  val FactTopics: Seq[(String, StructType)] = Seq(
    "dwd_order_info" -> Schemas.orderInfo, "dwd_order_detail" -> Schemas.orderDetail,
    "dwd_payment_info" -> Schemas.paymentInfo, "dwd_cart_info" -> Schemas.skuAction,
    "dwd_favor_info" -> Schemas.skuAction, "dwd_order_refund_info" -> Schemas.refundInfo,
    "dwd_comment_info" -> Schemas.commentInfo)

  /** Input channels of each query, in topological order. */
  val Inputs: Seq[(String, Seq[String])] = Seq(
    "streaming.log_fanout" -> Seq("ods_base_log"),
    "streaming.db_split" -> Seq("ods_base_db"),
    "apps.unique_visit" -> Seq("dwd_page_log"),
    "apps.user_jump" -> Seq("dwd_page_log"),
    "apps.order_wide" -> Seq("dwd_order_info", "dwd_order_detail"),
    "apps.payment_wide" -> Seq("dwd_payment_info", "dwm_order_wide"),
    "apps.visitor_stats" -> Seq("dwd_page_log", "dwm_unique_visit", "dwm_user_jump_detail"),
    "apps.product_stats" -> Seq("dwd_page_log", "dwm_order_wide", "dwm_payment_wide",
      "dwd_cart_info", "dwd_favor_info", "dwd_order_refund_info", "dwd_comment_info"),
    "apps.keyword_stats" -> Seq("dwd_page_log"),
    "apps.province_stats" -> Seq("dwm_order_wide"))

  /** table_process rows: facts go to Kafka topics, dims to the dim store. */
  def config(spark: SparkSession): DataFrame = {
    val facts = FactTopics.map { case (topic, schema) =>
      Row(topic.stripPrefix("dwd_"), "insert", "kafka", topic, schema.fieldNames.mkString(","), "id", null)
    }
    val dims = Seq("base_province" -> "id,name", "user_info" -> "id,province_id", "sku_info" -> "id,sku_name")
      .flatMap { case (t, cols) => Seq("insert", "update").map(op => Row(t, op, "hbase", s"dim_$t", cols, "id", null)) }
    spark.createDataFrame(spark.sparkContext.parallelize(facts ++ dims, 1), Schemas.tableProcess)
  }

  /** DbSplit emits `data` as a string map, so every JSON number arrives
    * quoted and the Apps bean binders would read it as null. The DWD sink
    * re-types each record by its topic's bean schema, as the reference's
    * typed JSONObject does. */
  def retype(facts: DataFrame): DataFrame = {
    val m = col("m")
    val typed = FactTopics.foldLeft(lit(null).cast(StringType)) { case (acc, (topic, schema)) =>
      when(col("topic") === topic,
        to_json(struct(schema.fields.toIndexedSeq.map(f => m.getItem(f.name).cast(f.dataType).as(f.name)): _*)))
        .otherwise(acc)
    }
    facts.select(col("topic"), from_json(col("value"), MapType(StringType, StringType)).as("m"))
      .select(col("topic"), typed.as("value"))
  }

  /** Static dim tables for the OrderWide dim hops, from the fixture. */
  def dims(spark: SparkSession, fixtures: String): Seq[(String, String, DataFrame)] = Seq(
    ("user_id", "user_dim_", spark.read.parquet(s"$fixtures/customer.parquet")
      .select(col("c_custkey").as("id"), col("c_mktsegment").as("segment"))),
    ("sku_id", "sku_dim_", spark.read.parquet(s"$fixtures/part.parquet")
      .select(col("p_partkey").as("id"), col("p_brand").as("brand"))),
    ("province_id", "province_", spark.read.parquet(s"$fixtures/nation.parquet")
      .select(col("n_nationkey").cast("long").as("id"), col("n_name").as("name"))))

  /** Wide rows travel as one JSON `value`; repeated column names (the dim
    * key next to the fact key) get a suffix. */
  def toValue(df: DataFrame): DataFrame = {
    val names = uniqueNames(df.columns.toSeq)
    df.toDF(names: _*).select(to_json(struct(names.map(col): _*)).as("value"))
  }

  private def uniqueNames(cols: Seq[String]): Seq[String] = {
    val seen = mutable.Set.empty[String]
    cols.map(c => if (seen.add(c)) c else { seen.add(c + "_dim"); c + "_dim" })
  }

  def fromValue(df: DataFrame, schema: StructType): DataFrame =
    df.select(from_json(col("value"), schema).as("w")).select("w.*")

  /** The DWM wide schemas, from the same functions over empty input. */
  final case class Wide(orderWide: StructType, paymentWide: StructType)

  def wideSchemas(spark: SparkSession, dimTables: Seq[(String, String, DataFrame)]): Wide = {
    import spark.implicits._
    val empty = Seq.empty[String].toDF("value")
    def schemaOf(df: DataFrame) =
      StructType(df.schema.fields.zip(uniqueNames(df.columns.toSeq)).map { case (f, n) => f.copy(name = n) })
    val ow = schemaOf(Apps.orderWide(Apps.bindOrderInfo(empty), Apps.bindOrderDetail(empty), dimTables))
    val pw = schemaOf(Apps.paymentWide(empty, fromValue(empty, ow)))
    Wide(ow, pw)
  }

  /** One DWM or DWS query: the app function over its input channels.
    * DWM results are channel values; DWS results are the sink rows. */
  def app(q: String, spark: SparkSession, in: String => DataFrame, wide: Wide,
          dimTables: Seq[(String, String, DataFrame)]): DataFrame = q match {
    case "apps.unique_visit" => Apps.uniqueVisit(spark, in("dwd_page_log")).select("value")
    case "apps.user_jump" => Apps.userJump(spark, in("dwd_page_log")).select("value")
    case "apps.order_wide" => toValue(Apps.orderWide(Apps.bindOrderInfo(in("dwd_order_info")),
      Apps.bindOrderDetail(in("dwd_order_detail")), dimTables))
    case "apps.payment_wide" => toValue(Apps.paymentWide(in("dwd_payment_info"),
      fromValue(in("dwm_order_wide"), wide.orderWide)))
    case "apps.visitor_stats" => Apps.visitorStats(in("dwd_page_log"), in("dwm_unique_visit"),
      in("dwm_user_jump_detail"), watermark = "20 seconds")
    case "apps.product_stats" => Apps.productStats(in("dwd_page_log"),
      fromValue(in("dwm_order_wide"), wide.orderWide), fromValue(in("dwm_payment_wide"), wide.paymentWide),
      in("dwd_cart_info"), in("dwd_favor_info"), in("dwd_order_refund_info"), in("dwd_comment_info"))
    case "apps.keyword_stats" => Apps.keywordStats(in("dwd_page_log"))
    case "apps.province_stats" => Apps.provinceStats(fromValue(in("dwm_order_wide"), wide.orderWide))
  }

  val DwmOutput: Map[String, String] = Map(
    "apps.unique_visit" -> "dwm_unique_visit", "apps.user_jump" -> "dwm_user_jump_detail",
    "apps.order_wide" -> "dwm_order_wide", "apps.payment_wide" -> "dwm_payment_wide")

  /** Context shared by every set-up of one run. */
  final class Ctx(val spark: SparkSession, val o: Main.Opts) {
    val fixtures: String = o.bench.resolve("fixtures/sf0.01").toString
    val dimTables: Seq[(String, String, DataFrame)] = dims(spark, fixtures)
    val wide: Wide = wideSchemas(spark, dimTables)
    val cfg: DataFrame = config(spark).cache()
    val fixture: Ods.Fixture = Ods.loadFixture(spark, fixtures)
    private var instances = 0
    def nextRoot(): Path = { instances += 1; o.work.resolve(s"topology-$instances") }
  }

  /** Rows a DWS sink emitted: (batch id, window start, row JSON). */
  type Emitted = ConcurrentLinkedQueue[(Long, String, String)]

  /** One executed micro-batch, from the query's progress report. */
  final case class Batch(query: String, id: Long, startMs: Long, endMs: Long, rows: Long,
                         planMs: Long, commitMs: Long, stateRows: Long, dropped: Long)

  /** A started topology in its own directory tree. */
  final class Running(val ctx: Ctx, val root: Path) {
    def channel(c: String): Path = c match {
      case t if FactTopics.exists(_._1 == t) => root.resolve("ch/facts").resolve(s"topic=$t")
      case other => root.resolve("ch").resolve(other)
    }
    def inbox(q: String, c: String): Path = root.resolve("in").resolve(q).resolve(c)
    private def cp(q: String) = root.resolve("cp").resolve(q).toString
    val emitted: Map[String, Emitted] = Layers.Sinks.map(_ -> new Emitted).toMap
    val batches = mutable.ArrayBuffer.empty[Batch]
    private val seen = mutable.Map.empty[String, mutable.Set[Long]]
    private val linked = mutable.Map.empty[(String, String), mutable.Set[String]]
    var linkedFiles = 0L

    Inputs.foreach { case (q, cs) => cs.foreach(c => { Files.createDirectories(channel(c)); Files.createDirectories(inbox(q, c)) }) }
    Seq("dwd_start_log", "dwd_display_log", "dim").foreach(c => Files.createDirectories(channel(c)))

    private val spark = ctx.spark
    private def in(q: String)(c: String): DataFrame = FileChannel(inbox(q, c).toString).readStream(spark)
    private def append(c: String): DataFrame => Unit = df => df.write.mode("append").text(channel(c).toString)

    val queries: Seq[(String, StreamingQuery)] = {
      val fanOut = LogFanOut.runWithState(spark, FileChannel(inbox("streaming.log_fanout", "ods_base_log").toString),
        Map("start" -> append("dwd_start_log"), "display" -> append("dwd_display_log"), "page" -> append("dwd_page_log")),
        cp("streaming.log_fanout"))
      val split = DbSplit.run(spark, FileChannel(inbox("streaming.db_split", "ods_base_db").toString), ctx.cfg,
        facts => retype(facts).write.mode("append").partitionBy("topic").text(root.resolve("ch/facts").toString),
        dimRows => dimRows.select(to_json(struct(col("*"))).as("value")).write.mode("append").text(channel("dim").toString),
        cp("streaming.db_split"))
      Seq("streaming.log_fanout" -> fanOut, "streaming.db_split" -> split) ++ Inputs.drop(2).map(_._1).map { q =>
        val df = app(q, spark, in(q), ctx.wide, ctx.dimTables)
        if (DwmOutput.contains(q)) {
          q -> df.writeStream.option("checkpointLocation", cp(q))
            .foreachBatch { (b: DataFrame, _: Long) => append(DwmOutput(q))(b) }.start()
        } else {
          val out = emitted(q)
          q -> df.writeStream.option("checkpointLocation", cp(q))
            .foreachBatch { (b: DataFrame, id: Long) =>
              b.select(col("stt"), to_json(struct(b.columns.toIndexedSeq.map(col): _*)))
                .collect().foreach(r => out.add((id, r.getString(0), r.getString(1))))
            }.start()
        }
      }
    }

    /** The consumer's poll: links the channel files it has not seen yet. */
    private def publish(q: String): Unit =
      Inputs.find(_._1 == q).get._2.foreach { c =>
        val done = linked.getOrElseUpdate((q, c), mutable.Set.empty)
        val files = dataFiles(Files.list(channel(c))).sortBy(_.getFileName.toString)
        files.filter(p => done.add(p.getFileName.toString)).foreach { p =>
          Files.createLink(inbox(q, c).resolve(p.getFileName), p)
          linkedFiles += 1
        }
      }

    /** One step of every query in topological order. Calls
      * processAllAvailable twice: a trigger already running when the files
      * were linked can end the first wait without having seen them. */
    def round(tracer: Tracer, roundNo: Long): Unit = {
      tracer.span("round", roundNo) {
        queries.foreach { case (q, sq) =>
          tracer.span(q, roundNo) { publish(q); sq.processAllAvailable(); sq.processAllAvailable() }
        }
      }
      harvest()
    }

    private def harvest(): Unit = queries.foreach { case (q, sq) =>
      val ids = seen.getOrElseUpdate(q, mutable.Set.empty)
      sq.recentProgress.filter(p => p.durationMs.containsKey("addBatch") && ids.add(p.batchId)).foreach { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        batches += Batch(q, p.batchId, start, start + d("triggerExecution"), p.numInputRows,
          d("queryPlanning"), d("walCommit") + d("commitOffsets"),
          p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      }
    }

    def stop(): Unit = queries.foreach(_._2.stop())

    /** ODS wave files are written to a stage directory up front. */
    def stage(name: String, lines: Seq[String]): Path = {
      val p = root.resolve("stage").resolve(name)
      Files.createDirectories(p.getParent)
      Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      p
    }

    /** Appends a staged file to an ODS channel (a rename, so it is atomic). */
    def release(staged: Path, channelName: String): Unit =
      Files.move(staged, channel(channelName).resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)

    /** Commit time (ms) of every (sink, window start) the DWS emitted. */
    def emissions(): Map[(String, Long), Long] = {
      val end = batches.map(b => (b.query, b.id) -> b.endMs).toMap
      emitted.toSeq.flatMap { case (s, q) =>
        q.asScala.toSeq.map { case (id, stt, _) => (s, parseStt(stt)) -> end.getOrElse((s, id), Long.MaxValue) }
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
    }

    /** Bytes in the channels whose name contains `prefix`. */
    def dirBytes(prefix: String): Double =
      dataFiles(Files.walk(root.resolve("ch")))
        .filter(p => root.resolve("ch").relativize(p).toString.contains(prefix)).map(Files.size).sum.toDouble
  }

  /** Regular files of a listing that are data: not `_`/`.` metadata. Closes the listing. */
  private def dataFiles(listing: java.util.stream.Stream[Path]): Seq[Path] =
    try listing.iterator().asScala.toSeq.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".") && !p.toString.contains("/_")
    } finally listing.close()

  private val sttFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)
  def parseStt(s: String): Long = java.time.Instant.from(sttFmt.parse(s)).toEpochMilli

  /** Window starts (ms) a wave closes for a sink: the windows whose end the
    * sink's watermark passes first with this wave. */
  def closes(waves: IndexedSeq[Ods.Wave]): Map[(String, Long), Int] = {
    val out = mutable.Map.empty[(String, Long), Int]
    Layers.Sinks.foreach { s =>
      var maxTs = Long.MinValue
      var nextWindow = Ods.BaseMs
      waves.foreach { w =>
        maxTs = math.max(maxTs, w.sinkMaxTs.getOrElse(s, Long.MinValue))
        while (maxTs != Long.MinValue && maxTs - SinkDelayMs(s) >= nextWindow + Ods.WindowMs) {
          out((s, nextWindow)) = w.index
          nextWindow += Ods.WindowMs
        }
      }
    }
    out.toMap
  }

  /** The batch composition of the same functions over every fed ODS line,
    * as JSON rows per (sink, window start), windows before the flush only. */
  def reference(r: Running, flushIndex: Int): Map[(String, Long), Fingerprint] = {
    val spark = r.ctx.spark
    val rawLog = spark.read.text(r.channel("ods_base_log").toString)
    val rawDb = spark.read.text(r.channel("ods_base_db").toString)
    val page = LogFanOut.pageLog(LogFanOut.fixIsNewBatch(LogFanOut.parse(rawLog)._1)).cache()
    val facts = retype(DbSplit.kafkaFacts(DbSplit.route(DbSplit.parse(rawDb), r.ctx.cfg))).cache()
    val chan = mutable.Map[String, DataFrame]("dwd_page_log" -> page)
    FactTopics.foreach { case (t, _) => chan(t) = facts.filter(col("topic") === t).select("value") }
    // DWM in topological order (payment-wide reads order-wide), each
    // output materialized once
    Inputs.map(_._1).filter(DwmOutput.contains).foreach { q =>
      val df = app(q, spark, chan, r.ctx.wide, r.ctx.dimTables)
      chan(DwmOutput(q)) = spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    }
    val flushStart = Ods.flushWindowStart(flushIndex)
    val out = Layers.Sinks.flatMap { s =>
      val df = app(s, spark, chan, r.ctx.wide, r.ctx.dimTables)
      df.select(col("stt"), to_json(struct(df.columns.toIndexedSeq.map(col): _*))).collect()
        .map(row => (s, parseStt(row.getString(0)), row.getString(1)))
    }.filter(_._2 < flushStart)
    page.unpersist(); facts.unpersist()
    out.groupBy(t => (t._1, t._2)).map { case (k, rows) => k -> Fingerprint.ofStrings(rows.map(_._3)) }
  }

  /** Compares the streamed DWS windows with the reference: returns
    * (windows expected, windows missing or different). */
  def check(r: Running, ref: Map[(String, Long), Fingerprint]): (Long, Long) = {
    val got = r.emitted.toSeq.flatMap { case (s, q) => q.asScala.toSeq.map { case (_, stt, j) => (s, parseStt(stt), j) } }
      .groupBy(t => (t._1, t._2)).map { case (k, rows) => k -> Fingerprint.ofStrings(rows.map(_._3)) }
    val bad = (ref.keySet ++ got.keySet).count(k => ref.get(k) != got.get(k))
    (ref.size.toLong, bad.toLong)
  }

  // ---- workloads --------------------------------------------------------

  /** Waves of history per run second, and the files per ODS channel they
    * are queued in. */
  val BackfillWavesPerSecond = 16
  val BackfillFiles = 4

  /** What one drain observed: the first append (ms), how long queueing the
    * history took, the rounds as (number, start ms, end ms), CPU, peak
    * resident memory (MB) and events. */
  final case class Phase(r: Running, t0: Long, queueMs: Double, rounds: Seq[(Long, Long, Long)],
                         cpuS: Double, rssMb: Double, events: Long, tracer: Tracer) {
    /** One sample per (sink, window) a history wave closes: the key, the
      * latency from the first append (ms), and the commit time. */
    def samples(waves: IndexedSeq[Ods.Wave]): Seq[((String, Long), Double, Long)] = {
      val em = r.emissions()
      closes(waves).keys.toSeq.flatMap(key => em.get(key).filter(_ != Long.MaxValue).map(e => (key, (e - t0).toDouble, e)))
    }
  }

  /** The run's history: the waves of the run's seed, then the flush wave. */
  def history(ctx: Ctx): IndexedSeq[Ods.Wave] =
    Ods.generate(ctx.fixture, ctx.o.seed, ctx.o.seconds * BackfillWavesPerSecond)

  /** A drain: the history, grouped into a few large files per
    * ODS channel, is queued at once; rounds run until one runs no batch.
    * The peak resident memory covers this phase only. */
  def runBackfill(r: Running, waves: IndexedSeq[Ods.Wave], tracer: Tracer): Phase = {
    val groups = waves.grouped(math.ceil(waves.size.toDouble / BackfillFiles).toInt).toSeq
    val staged = groups.zipWithIndex.map { case (g, i) =>
      (r.stage(f"log-b$i.json", g.flatMap(_.log)), r.stage(f"db-b$i.json", g.flatMap(_.db)))
    }
    Main.resetPeakRss()
    val cpu0 = Main.cpuNanos()
    val t0 = System.currentTimeMillis()
    staged.foreach { case (log, db) => r.release(log, "ods_base_log"); r.release(db, "ods_base_db") }
    val queueMs = (System.currentTimeMillis() - t0).toDouble
    val rounds = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var before = -1
    while (before != r.batches.size && rounds.size < 6) {
      before = r.batches.size
      val start = System.currentTimeMillis()
      r.round(tracer, rounds.size + 1L)
      rounds += ((rounds.size + 1L, start, System.currentTimeMillis()))
    }
    val cpuS = (Main.cpuNanos() - cpu0) / 1e9
    Phase(r, t0, queueMs, rounds.toSeq, cpuS, Main.peakRssMb(), waves.map(_.events.toLong).sum, tracer)
  }

  /** Timed set-ups per untraced run: fresh channels and checkpoints, the
    * ten queries started. */
  val SetUps = 9

  /** Untraced run: `SetUps` timed set-ups, the first of which drains the
    * history and is measured; then the check. The drain is the JVM's first,
    * as when a backfill job starts: its first batches generate and compile
    * their code. `setup_s` is the median set-up; the first is JVM-cold. */
  def backfill(spark: SparkSession, o: Main.Opts): Main.Result = {
    val ctx = new Ctx(spark, o)
    val waves = history(ctx)
    val setups = mutable.ArrayBuffer.empty[Double]
    def setUp(): Running = {
      val t0 = System.nanoTime()
      val r = new Running(ctx, ctx.nextRoot())
      setups += (System.nanoTime() - t0) / 1e9
      r
    }
    val r = setUp()
    val p = try runBackfill(r, waves, new Tracer(false)) finally r.stop()
    (2 to SetUps).foreach(_ => setUp().stop())
    System.err.println(f"perfbench: drain ${(p.rounds.last._3 - p.t0) / 1000.0}%.1f s, " +
      s"set-ups ${setups.map(s => f"$s%.3f").mkString(" ")} s")
    val (attempted, failed) = verify(p, reference(r, waves.last.index))
    Main.Result(attempted, failed, endToEnd(p, waves, Stats.median(setups)))
  }

  /** Traced run: the same drain on one set-up, with spans and the listener,
    * then the check and the topology's per-layer metrics. */
  def traced(spark: SparkSession, o: Main.Opts, tracer: Tracer): (Long, Long, Map[String, Double]) = {
    val ctx = new Ctx(spark, o)
    val waves = history(ctx)
    val r = new Running(ctx, ctx.nextRoot())
    val names = r.queries.map { case (q, sq) => sq.id.toString -> q }.toMap
    val ((p, l), overheadPct) = Layers.listened(spark,
      props => Option(props.getProperty("sql.streaming.queryId")).flatMap(names.get)) { listener =>
      try (runBackfill(r, waves, tracer), listener) finally r.stop()
    }
    val (attempted, failed) = verify(p, reference(r, waves.last.index))
    (attempted, failed, perLayer(p, waves, l) + ("bench.trace_overhead_pct" -> overheadPct))
  }

  /** Checks the DWS outputs against the batch composition and that no row
    * was dropped as late. Returns (windows attempted, windows failed). */
  private def verify(p: Phase, ref: Map[(String, Long), Fingerprint]): (Long, Long) = {
    val (attempted, bad) = check(p.r, ref)
    val dropped = p.r.batches.map(_.dropped).sum
    if (bad > 0 || dropped > 0) System.err.println(s"perfbench: $bad of $attempted DWS windows differ; $dropped rows dropped as late")
    (attempted, bad + (if (dropped > 0) 1 else 0))
  }

  /** Per-phase latency samples (ms) and the time of the last DWS commit. */
  private def latencies(p: Phase, waves: IndexedSeq[Ods.Wave]): (IndexedSeq[Double], Long) = {
    val em = p.r.emissions().values.filter(_ != Long.MaxValue)
    (p.samples(waves).map(_._2).sorted.toIndexedSeq, if (em.isEmpty) p.t0 else em.max)
  }

  private def endToEnd(p: Phase, waves: IndexedSeq[Ods.Wave], setupS: Double): Seq[Main.Metric] = {
    val (lat, lastCommit) = latencies(p, waves)
    Stats.highestSupported(lat.size).foreach(pc =>
      System.err.println(f"perfbench: ${lat.size} latency samples; p$pc%.1f = ${Stats.pct(lat, pc)}%.0f ms"))
    Seq(
      Main.Metric("setup_s", setupS, "s"),
      Main.Metric("latency_p50_ms", Stats.pct(lat, 50), "ms"),
      Main.Metric("latency_p90_ms", Stats.pct(lat, 90), "ms"),
      Main.Metric("throughput_per_s", p.events / ((lastCommit - p.t0) / 1000.0), "1/s"),
      Main.Metric("cpu_s", p.cpuS, "s"),
      Main.Metric("peak_rss_mb", p.rssMb, "MB"))
  }

  private def perLayer(p: Phase, waves: IndexedSeq[Ods.Wave], l: LayerListener): Map[String, Double] = {
    val r = p.r
    // step times of the rounds in which the query ran a batch
    val ranIn = r.batches.flatMap(b => p.rounds.find { case (_, start, end) => start <= b.startMs && b.startMs <= end }
      .map(round => (b.query, round._1))).toSet
    val stepMs = p.tracer.spans.filter(s => ranIn((s.name, s.trace))).groupBy(_.name)
      .map { case (q, ss) => q -> Stats.median(ss.map(_.nanos / 1e6)) }
    val perQuery = Layers.Queries.flatMap { q =>
      val bs = r.batches.filter(_.query == q)
      val c = Option(l.byKey.get(q))
      Seq(s"$q.step_ms_p50" -> stepMs.getOrElse(q, 0.0),
        s"$q.plan_ms_p50" -> Stats.median(bs.map(_.planMs.toDouble)),
        s"$q.commit_ms_p50" -> Stats.median(bs.map(_.commitMs.toDouble)),
        s"$q.task_cpu_s" -> c.map(_.taskCpuNs / 1e9).getOrElse(0.0),
        s"$q.shuffle_bytes" -> c.map(_.shuffleBytes.toDouble).getOrElse(0.0),
        s"$q.rows_in" -> bs.map(_.rows).sum.toDouble) ++
        (if (q == "streaming.db_split") Nil
         else Seq(s"$q.state_rows" -> r.batches.filter(_.query == q).lastOption.map(_.stateRows.toDouble).getOrElse(0.0)))
    }
    // latency accounted for by queue wait plus the step spans, up to the
    // sink, of the round that emitted it
    val roundSpans = p.tracer.spans.filter(_.name != "round").groupBy(_.trace)
    val accounted = p.samples(waves).flatMap { case ((s, _), latency, e) =>
      p.rounds.find { case (_, start, end) => start <= e && e <= end }.map { case (no, start, _) =>
        val steps = roundSpans.getOrElse(no, Nil)
        val upToSink = steps.take(steps.indexWhere(_.name == s) + 1)
        (math.max(0L, start - p.t0) + upToSink.map(_.nanos / 1e6).sum) / latency * 100.0
      }
    }
    (perQuery ++ Seq(
      "streaming.channel.files" -> r.linkedFiles.toDouble,
      "streaming.channel.ods_bytes" -> r.dirBytes("ods_"),
      "streaming.channel.dwd_bytes" -> r.dirBytes("dwd_"),
      "streaming.channel.dwm_bytes" -> r.dirBytes("dwm_"),
      "streaming.dropped_late_total" -> r.batches.map(_.dropped).sum.toDouble,
      "bench.gen_late_ms_max" -> p.queueMs,
      "bench.fresh_accounted_pct" -> Stats.median(accounted))).toMap
  }
}
