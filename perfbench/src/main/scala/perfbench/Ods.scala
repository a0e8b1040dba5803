package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Seeded ODS generator. It derives behavior-log JSON (ods_base_log) and
  * CDC envelopes (ods_base_db) from the sf0.01 fixture tables, one wave per
  * 10 s event-time window. The program sees only the wave files.
  *
  * Traffic dimensions, and why:
  *  - user skew: the 1,500 customers are drawn with a power law (u^2.5), so
  *    a few mids carry most pages, as in real click streams. Keyed state
  *    (is_new, unique visit, bounce) then sees hot and cold keys;
  *  - dirty lines: 1% of log lines are truncated JSON, the case the DWD
  *    parse step routes away;
  *  - disorder: lines are shuffled within their wave, so events arrive out
  *    of order, but never across waves, so disorder stays inside every
  *    watermark delay and no row is late;
  *  - dims interleaved with facts: dim upserts (province, user, sku) are
  *    mixed into each wave's CDC stream, as the binlog delivers them;
  *  - every wave carries every fact kind, so each DWS watermark advances
  *    with every wave; a final flush wave jumps a minute ahead so the last
  *    windows close.
  */
object Ods {
  val WindowMs = 10000L
  /** 2024-01-01T00:00:00Z, the start of the fixture's events. */
  val BaseMs = 1704067200000L

  /** Sizes per wave: log lines, orders, cart and favor rows each, refunds,
    * comments, dim upserts, and the share of orders that are paid. */
  val LogLines = 150
  val Orders = 10
  val CartFavor = 5
  val Refunds = 2
  val Comments = 3
  val Dims = 3
  val PaidShare = 0.8

  /** Fixture rows the generator draws from. */
  final case class Fixture(users: IndexedSeq[(Long, Int)], provinces: IndexedSeq[(Int, String)],
                           skus: IndexedSeq[(Long, String)], orders: IndexedSeq[Long],
                           lines: Map[Long, IndexedSeq[(Long, Double, Double)]],
                           eventTypes: IndexedSeq[String], eventValues: IndexedSeq[Double])

  /** One wave: its lines per channel and, per DWS sink, the largest event
    * time among the rows that feed that sink's watermark. */
  final case class Wave(index: Int, log: IndexedSeq[String], db: IndexedSeq[String],
                        sinkMaxTs: Map[String, Long]) {
    def events: Int = log.size + db.size
  }

  def loadFixture(spark: SparkSession, dir: String): Fixture = {
    def rows(t: String, cols: String*) = spark.read.parquet(s"$dir/$t.parquet").select(cols.head, cols.tail: _*).collect()
    val lines = rows("lineitem", "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
      .groupBy(_.getLong(0)).map { case (k, rs) =>
        k -> rs.sortBy(_.getLong(1)).take(3).map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))).toIndexedSeq
      }
    val events = graft.Tables.events(spark, dir).select("event_id", "event_type", "value")
      .collect().sortBy(_.getLong(0))
    Fixture(
      users = rows("customer", "c_custkey", "c_nationkey").map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toIndexedSeq,
      provinces = rows("nation", "n_nationkey", "n_name").map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toIndexedSeq,
      skus = rows("part", "p_partkey", "p_name").map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toIndexedSeq,
      orders = rows("orders", "o_orderkey").map(_.getLong(0)).sorted.filter(lines.contains).toIndexedSeq,
      lines = lines,
      eventTypes = events.map(_.getString(1)).toIndexedSeq,
      eventValues = events.map(r => r.getDouble(2)).toIndexedSeq)
  }

  private val utc = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)
  def fmt(ms: Long): String = utc.format(java.time.Instant.ofEpochMilli(ms))
  private def q(s: String): String = if (s == null) "null" else "\"" + s + "\""
  private def money(x: Double): String = java.math.BigDecimal.valueOf(x).setScale(2, java.math.RoundingMode.HALF_UP).toPlainString

  def envelope(table: String, data: Seq[(String, String)], tpe: String = "insert"): String =
    s"""{"database":"gmall","tableName":"$table","data":${data.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")},"before":{},"type":"$tpe"}"""

  def pageLine(mid: String, isNew: String, ar: Int, vc: String, ch: String, pageId: String,
               lastPage: String, item: String, itemType: String, during: Long,
               displays: Seq[Long], ts: Long): String = {
    val ds = if (displays.isEmpty) "" else
      displays.zipWithIndex.map { case (d, i) => s"""{"item":"$d","item_type":"sku_id","order":${i + 1}}""" }
        .mkString(""","displays":[""", ",", "]")
    s"""{"common":{"mid":"$mid","is_new":"$isNew","vc":"$vc","ch":"$ch","ar":"$ar"},""" +
      s""""page":{"page_id":"$pageId","last_page_id":${q(lastPage)},"item":${q(item)},""" +
      s""""item_type":${q(itemType)},"during_time":$during}$ds,"ts":$ts}"""
  }

  def startLine(mid: String, isNew: String, ar: Int, vc: String, ch: String, ts: Long): String =
    s"""{"common":{"mid":"$mid","is_new":"$isNew","vc":"$vc","ch":"$ch","ar":"$ar"},""" +
      s""""start":{"entry":"icon","loading_time":1200},"ts":$ts}"""

  /** Generates `n` waves (indices 0 until n) then a flush wave, all from one
    * seeded random stream: the same seed gives byte-identical waves. */
  def generate(fx: Fixture, seed: Long, n: Int): IndexedSeq[Wave] = {
    val rnd = new scala.util.Random(seed)
    val channels = IndexedSeq("web", "xiaomi", "huawei", "oppo")
    var orderNo = 0L
    var detailNo = 0L
    var payNo = 0L
    val orderCursor = rnd.nextInt(fx.orders.size)
    // facts due in a later wave (payments lag their order by up to 25 s)
    val later = Array.fill(n)(ArrayBuffer.empty[(Long, String)])
    val recentOrders = ArrayBuffer.empty[(Long, Long)] // (order id, sku)
    val skuName = fx.skus.toMap

    def user(): (Long, Int) = fx.users((math.pow(rnd.nextDouble(), 2.5) * fx.users.size).toInt)
    def sku(): (Long, String) = fx.skus((math.pow(rnd.nextDouble(), 2.0) * fx.skus.size).toInt)

    val waves = (0 until n).map { k =>
      val start = BaseMs + k * WindowMs
      val maxTs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(Long.MinValue)
      def feed(sinks: Seq[String], ts: Long): Unit = sinks.foreach(s => maxTs(s) = math.max(maxTs(s), ts))

      // ---- behavior log: distinct ms offsets, so no two lines tie on ts
      val offsets = rnd.shuffle((0 until WindowMs.toInt).toVector).take(LogLines)
      val log = offsets.map { off =>
        val ts = start + off
        val (uid, nation) = user()
        val mid = s"mid_$uid"
        val vc = if (uid % 3 == 0) "v2.0.1" else "v2.1.134"
        val ch = channels((uid % channels.size).toInt)
        val isNew = if (rnd.nextDouble() < 0.3) "1" else "0"
        val ev = rnd.nextInt(fx.eventTypes.size)
        val lastPage = if (rnd.nextDouble() < 0.3) null else "home"
        val during = (fx.eventValues(ev) * 1000).toLong
        // a dirty line is dropped by the DWD parse, so it feeds no watermark
        val dirty = rnd.nextDouble() < 0.01
        def fed(sinks: String*): Unit = if (!dirty) feed(sinks, ts)
        val line = fx.eventTypes(ev) match {
          case "error" => startLine(mid, isNew, nation, vc, ch, ts)
          case "view" =>
            fed("apps.visitor_stats", "apps.product_stats")
            pageLine(mid, isNew, nation, vc, ch, "good_detail", lastPage, sku()._1.toString, "sku_id", during, Nil, ts)
          case "signup" =>
            fed("apps.visitor_stats", "apps.keyword_stats")
            pageLine(mid, isNew, nation, vc, ch, "good_list", lastPage, sku()._2, "keyword", during, Nil, ts)
          case "click" =>
            fed("apps.visitor_stats", "apps.product_stats")
            val ds = Seq.fill(1 + rnd.nextInt(3))(sku()._1)
            pageLine(mid, isNew, nation, vc, ch, "home", lastPage, null, null, during, ds, ts)
          case _ =>
            fed("apps.visitor_stats")
            pageLine(mid, isNew, nation, vc, ch, "trade", lastPage, null, null, during, Nil, ts)
        }
        if (dirty) line.take(line.length / 2) else line
      }

      // ---- CDC: orders with details, payments later, actions, dims
      def sec(): Long = start + rnd.nextInt(WindowMs.toInt / 1000) * 1000L
      val db = ArrayBuffer.empty[String]
      (0 until Orders).foreach { _ =>
        val src = fx.orders((orderCursor + orderNo.toInt) % fx.orders.size)
        orderNo += 1
        val ts = sec()
        val (uid, nation) = user()
        val details = fx.lines(src).map { case (part, qty, price) =>
          detailNo += 1
          (detailNo, part, qty, price)
        }
        val total = details.map(_._4).sum
        db += envelope("order_info", Seq("id" -> orderNo.toString, "province_id" -> nation.toString,
          "order_status" -> "\"1001\"", "user_id" -> uid.toString, "total_amount" -> money(total),
          "activity_reduce_amount" -> "0.00", "coupon_reduce_amount" -> "0.00",
          "original_total_amount" -> money(total), "feight_fee" -> "0.00",
          "expire_time" -> q(fmt(ts + 900000L)), "create_time" -> q(fmt(ts))))
        details.foreach { case (id, part, qty, price) =>
          db += envelope("order_detail", Seq("id" -> id.toString, "order_id" -> orderNo.toString,
            "sku_id" -> part.toString, "order_price" -> money(price / qty), "sku_num" -> qty.toLong.toString,
            "sku_name" -> q(skuName.getOrElse(part, "sku")),
            "create_time" -> q(fmt(ts)), "split_total_amount" -> money(price),
            "split_activity_amount" -> "0.00", "split_coupon_amount" -> "0.00"))
          recentOrders += ((orderNo, part))
        }
        feed(Seq("apps.product_stats", "apps.province_stats"), ts)
        if (rnd.nextDouble() < PaidShare) {
          val pts = ts + (1 + rnd.nextInt(25)) * 1000L
          val w = ((pts - BaseMs) / WindowMs).toInt
          payNo += 1
          if (w < n) later(w) += (pts -> envelope("payment_info", Seq("id" -> payNo.toString,
            "order_id" -> orderNo.toString, "user_id" -> uid.toString, "total_amount" -> money(total),
            "subject" -> "\"gmall\"", "payment_type" -> "\"1101\"", "create_time" -> q(fmt(pts)),
            "callback_time" -> q(fmt(pts + 5000L)))))
        }
      }
      later(k).foreach { case (pts, line) => db += line; feed(Seq("apps.product_stats"), pts) }
      Seq("cart_info", "favor_info").foreach { t =>
        (0 until CartFavor).foreach { i =>
          val ts = sec()
          db += envelope(t, Seq("id" -> s"${k * 100 + i}", "user_id" -> user()._1.toString,
            "sku_id" -> sku()._1.toString, "create_time" -> q(fmt(ts))))
          feed(Seq("apps.product_stats"), ts)
        }
      }
      def pastOrder() = recentOrders(recentOrders.size - 1 - rnd.nextInt(math.min(recentOrders.size, 200)))
      (0 until Refunds).foreach { i =>
        val ts = sec(); val (oid, s) = pastOrder()
        db += envelope("order_refund_info", Seq("id" -> s"${k * 100 + i}", "order_id" -> oid.toString,
          "sku_id" -> s.toString, "refund_amount" -> money(1 + rnd.nextInt(5000) / 100.0),
          "create_time" -> q(fmt(ts))))
        feed(Seq("apps.product_stats"), ts)
      }
      (0 until Comments).foreach { i =>
        val ts = sec(); val (oid, s) = pastOrder()
        db += envelope("comment_info", Seq("id" -> s"${k * 100 + i}", "order_id" -> oid.toString,
          "sku_id" -> s.toString, "appraise" -> (if (rnd.nextBoolean()) "\"1201\"" else "\"1202\""),
          "create_time" -> q(fmt(ts))))
        feed(Seq("apps.product_stats"), ts)
      }
      (0 until Dims).foreach { _ =>
        db += (rnd.nextInt(3) match {
          case 0 => val (id, name) = fx.provinces(rnd.nextInt(fx.provinces.size))
            envelope("base_province", Seq("id" -> id.toString, "name" -> q(name)), "update")
          case 1 => val (id, nation) = user()
            envelope("user_info", Seq("id" -> id.toString, "province_id" -> nation.toString), "update")
          case _ => val (id, name) = sku()
            envelope("sku_info", Seq("id" -> id.toString, "sku_name" -> q(name)), "update")
        })
      }
      Wave(k, log, rnd.shuffle(db.toIndexedSeq), maxTs.toMap)
    }
    waves :+ flush(fx, n, orderNo + 1, detailNo + 1)
  }

  /** The flush wave: a minute past the last wave, it advances every DWS
    * watermark past every earlier window. Its own window never closes. */
  def flush(fx: Fixture, index: Int, orderId: Long, detailId: Long): Wave = {
    val ts = flushWindowStart(index)
    val (sku, name) = fx.skus.head
    val log = IndexedSeq(
      pageLine("mid_flush", "0", 0, "v2.1.134", "web", "good_detail", "home", sku.toString, "sku_id", 1000L, Nil, ts),
      pageLine("mid_flush", "0", 0, "v2.1.134", "web", "good_list", "home", name, "keyword", 1000L, Nil, ts + 1))
    val db = IndexedSeq(
      envelope("order_info", Seq("id" -> orderId.toString, "province_id" -> "0", "order_status" -> "\"1001\"",
        "user_id" -> fx.users.head._1.toString, "total_amount" -> "1.00", "create_time" -> q(fmt(ts)))),
      envelope("order_detail", Seq("id" -> detailId.toString, "order_id" -> orderId.toString,
        "sku_id" -> sku.toString, "order_price" -> "1.00", "sku_num" -> "1", "sku_name" -> q(name),
        "create_time" -> q(fmt(ts)), "split_total_amount" -> "1.00")))
    Wave(index, log, db, Layers.Sinks.map(_ -> ts).toMap)
  }

  /** Window start (ms) of the flush wave: windows from here on are never emitted. */
  def flushWindowStart(flushIndex: Int): Long = BaseMs + (flushIndex + 6) * WindowMs
}
