package perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's own tests: the generator is a pure function of its
  * seed, and the expected-state model gets a hand-written late/duplicate
  * case right. Prints `SELFTEST OK` when every test passes. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val r = scala.util.Try(ok)
    if (r.toOption.contains(true)) println(s"ok   $name")
    else { failures += 1; println(s"FAIL $name ${r.failed.toOption.getOrElse("")}") }
  }

  private val ordersFx = Array.tabulate(3000)(i =>
    OrderRow(i.toLong, (i % 97).toLong, "O", 100.0 + i, f"1995-01-${i % 28 + 1}%02d", "1-URGENT"))
  private val eventsFx = Array.tabulate(2000)(i =>
    EventRow(i.toLong, f"2024-01-${i / 100 + 1}%02d", f"2024-01-${i / 100 + 1}%02dT00:00:${i % 60}%02d.000001",
      (i % 31).toLong, "view", 1.5 + i, "{\"k\": 1}"))
  private val small = GenConfig(newOrders = 400, updates = 80, events = 300)

  private def inputs(seed: Long): Seq[String] = {
    val g = new Gen(seed, ordersFx, eventsFx, small)
    (1 to 4).flatMap { _ => val c = g.next(); c.orders.toSeq ++ c.events.toSeq }
  }

  def main(args: Array[String]): Unit = {
    test("same seed gives byte-identical inputs") {
      inputs(7).mkString("\n").getBytes("UTF-8").sameElements(inputs(7).mkString("\n").getBytes("UTF-8"))
    }
    test("different seed gives different inputs") { inputs(7) != inputs(8) }
    test("each cycle ends with an unseen key per endpoint") {
      val g = new Gen(3, ordersFx, eventsFx, small)
      (1 to 4).forall { _ =>
        val c = g.next()
        c.orders.last == c.lastOrder.json && c.orders.count(_ == c.lastOrder.json) == 1 &&
          c.events.last == c.lastEvent.json
      }
    }
    test("duplicates and late events are planted") {
      val g = new Gen(5, ordersFx, eventsFx, small)
      val cs = (1 to 4).map(_ => g.next())
      cs.map(_.ordersDups).sum > 0 && cs.map(_.eventsDups).sum > 0 &&
        cs.map(_.eventsLate).sum > 0 && cs(1).ordersUpdated == small.updates
    }
    test("query schedule gives each check the same count for every seed") {
      val qs = (1 to 12).map(k => Q("lookup", s"SELECT * FROM ops.silver.orders WHERE o_orderkey = $k", None)) ++
        (1 to 4).map(k => Q("lookup", s"SELECT * FROM ops.silver.events WHERE event_id = $k", None)) ++
        QueryMix.Classes.tail.map(c => Q(c, s"SELECT '$c'", None))
      def counts(seed: Long) = QueryMix.schedule(qs, seed, QueryMix.requests(16))
        .groupBy(i => qs(i).checkName).view.mapValues(_.length).toMap
      val n = QueryMix.requests(16)
      (1L to 20L).map(counts).distinct.length == 1 && counts(1)("query.lookup") == 3 * n / 32 &&
        QueryMix.schedule(qs, 1, n).toSeq != QueryMix.schedule(qs, 2, n).toSeq
    }

    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "1").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      def o(k: Long, price: Double) = OrderRow(k, 1, "O", price, "1995-01-01", "p").json
      // batch 0: key 1 twice (the earlier copy wins); batch 1 re-sends key 2
      // twice (late update; its earlier copy wins) and adds key 3
      val log = Seq(Row(0, 0, o(1, 10)), Row(0, 1, o(2, 20)), Row(0, 2, o(1, 11)),
        Row(1, 0, o(2, 21)), Row(1, 1, o(2, 22)), Row(1, 2, o(3, 30)))
      val sent = Model.sent(spark, log, Model.ordersSchema)
      def prices(upTo: Int) = Model.state(sent, Seq("o_orderkey"), upTo)
        .select("o_orderkey", "o_totalprice").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      test("model: earliest copy wins within a batch") { prices(0) == Map(1L -> 10.0, 2L -> 20.0) }
      test("model: latest batch wins across batches") {
        prices(Int.MaxValue) == Map(1L -> 10.0, 2L -> 21.0, 3L -> 30.0)
      }
      def e(id: Long, day: String, v: Double) =
        EventRow(id, day, s"${day}T01:02:03.000004", 1, "view", v, "{}").json
      val evLog = Seq(Row(0, 0, e(1, "2024-01-02", 1)), Row(1, 0, e(1, "2024-01-01", 2)),
        Row(1, 1, e(1, "2024-01-02", 3)), Row(1, 2, e(1, "2024-01-02", 4)))
      val ev = Model.state(Model.sent(spark, evLog, Model.eventsSchema),
        Seq("event_id", "event_date"))
      test("model: composite key keeps one row per (id, day)") {
        ev.select("event_date", "value").collect()
          .map(r => r.get(0).toString -> r.getDouble(1)).toMap ==
          Map("2024-01-01" -> 2.0, "2024-01-02" -> 3.0)
      }
      test("digest ignores row and column order") {
        import spark.implicits._
        val a = Seq((1, "x"), (2, "y")).toDF("a", "b")
        val b = Seq(("y", 2), ("x", 1)).toDF("b", "a")
        Util.digest(a) == Util.digest(b) && Util.digest(a) != Util.digest(a.limit(1))
      }
    } finally spark.stop()
    println(if (failures == 0) "SELFTEST OK" else s"SELFTEST FAILED ($failures)")
    if (failures > 0) sys.exit(1)
  }
}
