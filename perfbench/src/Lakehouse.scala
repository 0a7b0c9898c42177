package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Lake
import graft.core._
import graft.gold.GoldJob

/** Operations attempted and failed, and which checks failed. */
final class Outcome {
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val failures = new ConcurrentHashMap[String, AtomicLong]()
  val firstDetail = new ConcurrentHashMap[String, String]()
  /** Failures that are not a known defect showing its own signature. */
  val unexpected = ConcurrentHashMap.newKeySet[String]()

  /** Count one operation; `ok = false` counts it failed under `name`.
    * `emptyRead` says the operation read 0 rows where rows were
    * expected, the signature of the defects in [[KnownDefects]]. */
  def check(name: String, ok: Boolean, detail: => String = "",
      emptyRead: Boolean = false): Boolean = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      failures.computeIfAbsent(name, _ => new AtomicLong(0)).incrementAndGet()
      firstDetail.putIfAbsent(name, detail.take(300))
      if (!(emptyRead && KnownDefects.all(name))) {
        if (unexpected.add(name)) firstDetail.put(name, detail.take(300))
      }
    }
    ok
  }

  /** Run one operation; an exception counts it failed under `name`. */
  def op[T](name: String)(body: => T): Option[T] =
    try { val r = body; check(name, ok = true); Some(r) }
    catch {
      case e: Exception =>
        check(name, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }

  def failedChecks: Map[String, Long] = failures.asScala.map { case (k, v) => k -> v.get }.toMap
}

/** Checks that fail at this commit for a known reason. They still count
  * in `failed` and the error rate. A failure under one of these names is
  * excused from `correct` only when it shows the defect's signature (0
  * rows read); any other failure makes a run incorrect. */
object KnownDefects {
  /** A partition-scoped silver table (events) is registered without
    * recovering its partitions, so the catalog, the query API and gold
    * jobs read it as empty. */
  val all: Set[String] = Set(
    "silver.events.rows", "probe.events", "gold.daily_events", "query.lookup_events")
}

/** Everything a workload needs. */
final class Ctx(val spark: SparkSession, val root: String, val sfDir: String,
    val seed: Long, val tracer: Tracer) {
  val lake = new Lake(spark, s"$root/lake")
  val outcome = new Outcome
  /** Per-layer numbers gathered outside spans (counts from the
    * generator and the storage walk), keyed by metric name and phase. */
  val layer = new Util.Counts
  private var snap: Map[String, Storage.FileInfo] = Map.empty

  /** Files and bytes each table gained since the previous call (traced
    * runs only; the walk would otherwise sit inside timed sections). */
  def storageStep(): Map[String, Storage.Delta] =
    if (!tracer.enabled) Map.empty
    else {
      val now = Storage.snapshot(lake.root)
      val d = Storage.diff(snap, now)
      snap = now
      d
    }

  def addLayer(name: String, v: Double): Unit = layer.add(s"${tracer.phase}|$name", v)
}

/** The medallion lake the benchmark drives: two endpoints and a gold DAG
  * of five jobs, all in domain `ops`. */
object Lakehouse {
  val Domain = "ops"

  val ordersSchema = EndpointSchema("orders", Domain, 1, SchemaMode.Manual,
    SchemaDefinition(Seq(
      ColumnDefinition("o_orderkey", RefType.BigintT, required = true, primaryKey = true),
      ColumnDefinition("o_custkey", RefType.BigintT, required = true),
      ColumnDefinition("o_orderstatus", RefType.StringT),
      ColumnDefinition("o_totalprice", RefType.DoubleT),
      ColumnDefinition("o_orderdate", RefType.DateT),
      ColumnDefinition("o_orderpriority", RefType.StringT))))

  val eventsSchema = EndpointSchema("events", Domain, 1, SchemaMode.Manual,
    SchemaDefinition(Seq(
      ColumnDefinition("event_id", RefType.BigintT, required = true, primaryKey = true),
      ColumnDefinition("event_date", RefType.DateT, required = true, primaryKey = true,
        description = Some("event day; partition column")),
      ColumnDefinition("ts", RefType.TimestampT),
      ColumnDefinition("user_id", RefType.BigintT),
      ColumnDefinition("event_type", RefType.StringT),
      ColumnDefinition("value", RefType.DoubleT),
      ColumnDefinition("props", RefType.StringT))))

  /** A gold job and the same query in plain Spark SQL over the expected
    * state (`{orders}`, `{events}`, `{cust_revenue}` placeholders). */
  final case class GoldSpec(job: GoldJob, expected: String)

  val gold: Seq[GoldSpec] = Seq(
    GoldSpec(GoldJob(Domain, "daily_events",
      """SELECT event_date, event_type, count(*) AS n,
        |       sum(CAST(value AS DECIMAL(18,2))) AS total
        |FROM ops.silver.events GROUP BY event_date, event_type""".stripMargin),
      """SELECT event_date, event_type, count(*) AS n,
        |       sum(CAST(value AS DECIMAL(18,2))) AS total
        |FROM {events} GROUP BY event_date, event_type""".stripMargin),
    GoldSpec(GoldJob(Domain, "cust_revenue",
      """SELECT o_custkey, count(*) AS n_orders,
        |       sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        |FROM ops.silver.orders GROUP BY o_custkey""".stripMargin,
      writeMode = "upsert", uniqueKey = Seq("o_custkey")),
      """SELECT o_custkey, count(*) AS n_orders,
        |       sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        |FROM {orders} GROUP BY o_custkey""".stripMargin),
    GoldSpec(GoldJob(Domain, "orders_snapshot",
      """SELECT count(*) AS n_orders,
        |       sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        |FROM ops.silver.orders""".stripMargin, writeMode = "append"),
      """SELECT count(*) AS n_orders,
        |       sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
        |FROM {orders}""".stripMargin),
    GoldSpec(GoldJob(Domain, "top_customers",
      """SELECT o_custkey, revenue FROM ops.gold.cust_revenue
        |ORDER BY revenue DESC, o_custkey LIMIT 100""".stripMargin,
      scheduleType = "dependency", cronSchedule = None,
      dependencies = Seq("cust_revenue")),
      """SELECT o_custkey, revenue FROM {cust_revenue}
        |ORDER BY revenue DESC, o_custkey LIMIT 100""".stripMargin),
    GoldSpec(GoldJob(Domain, "latest_order",
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
        |FROM ops.silver.orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |                           ORDER BY o_orderdate DESC, o_orderkey DESC) = 1""".stripMargin),
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |                               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM {orders}) WHERE rn = 1""".stripMargin))

  def define(lake: Lake): Unit = {
    lake.registry.create(ordersSchema)
    lake.registry.create(eventsSchema)
    gold.foreach(g => lake.registry.saveGoldJob(g.job))
  }

  /** The reference's ingest batch size. */
  val CallSize = 25

  /** Both endpoints' 25-record calls, interleaved in proportion so each
    * endpoint's last record is acknowledged near the end of the cycle. */
  def calls(in: CycleInput): Seq[(String, Array[String])] = {
    val o = in.orders.grouped(CallSize).map("orders" -> _).toVector
    val e = in.events.grouped(CallSize).map("events" -> _).toVector
    val out = ArrayBuffer.empty[(String, Array[String])]
    var i = 0; var j = 0
    while (i < o.length || j < e.length) {
      // take from whichever stream is further behind its share
      if (j >= e.length || (i < o.length && i.toDouble / o.length <= j.toDouble / e.length)) {
        out += o(i); i += 1
      } else { out += e(j); j += 1 }
    }
    out.toSeq
  }

  /** Wall-clock marks of one cycle, in nanoTime. */
  final case class CycleTimes(start: Long, ackOrders: Long, ackEvents: Long,
      probeOrders: Long, goldStart: Long, gold: Long, records: Int) {
    def ackAll: Long = math.max(ackOrders, ackEvents)
    def silverFreshness: Double = (probeOrders - ackOrders) / 1e9
    def goldFreshness: Double = (gold - ackAll) / 1e9
    def seconds: Double = (gold - start) / 1e9
    def goldSeconds: Double = (gold - goldStart) / 1e9
  }

  private def rowMap(cols: Seq[String], row: Seq[Any]): Map[String, String] =
    cols.zip(row.map(v => String.valueOf(v))).toMap

  /** Run one full medallion cycle: ingest, flush, both silver merges,
    * freshness probes, gold DAG. */
  def cycle(ctx: Ctx, in: CycleInput): CycleTimes = {
    val lake = ctx.lake
    val t = ctx.tracer
    val req = s"cycle-${in.cycle}"
    val out = ctx.outcome
    var ackO, ackE = 0L
    val t0 = System.nanoTime()
    calls(in).foreach { case (ep, recs) =>
      val r = out.op("ingest.call") {
        t.span("ingest.call", req)(lake.ingest.ingest(Domain, ep, recs.toSeq))
      }
      out.check("ingest.accepted", r.exists(_.accepted == recs.length),
        s"accepted ${r.map(_.accepted)} of ${recs.length}")
      if (ep == "orders") ackO = System.nanoTime() else ackE = System.nanoTime()
    }
    ctx.addLayer("ingest.busy_s", (System.nanoTime() - t0) / 1e9)
    ctx.addLayer("ingest.calls", (in.orders.length + CallSize - 1) / CallSize +
      (in.events.length + CallSize - 1) / CallSize)
    ctx.addLayer("ingest.records", in.records)
    val tf = System.nanoTime()
    out.op("ingest.flush")(t.span("ingest.flush", req)(lake.ingest.flushAll()))
    ctx.addLayer("ingest.flush_s", (System.nanoTime() - tf) / 1e9)
    val bronze = ctx.storageStep()
    Seq("orders", "events").foreach { ep =>
      val d = bronze.get(s"bronze/$Domain/$ep")
      ctx.addLayer("ingest.bronze_files", d.map(_.filesAdded).getOrElse(0).toDouble)
      ctx.addLayer("ingest.bronze_bytes", d.map(_.bytesAdded).getOrElse(0L).toDouble)
      ctx.addLayer(s"silver.$ep.batch_bytes", d.map(_.bytesAdded).getOrElse(0L).toDouble)
    }

    def silver(ep: String): Unit = {
      val ts = System.nanoTime()
      out.op(s"silver.$ep.merge") {
        t.span(s"silver.$ep.merge", req)(lake.silver.processEndpoint(Domain, ep))
      }
      ctx.addLayer(s"silver.$ep.merge_s", (System.nanoTime() - ts) / 1e9)
      val d = ctx.storageStep().get(s"silver/$Domain/$ep")
      ctx.addLayer(s"silver.$ep.files_written", d.map(_.filesAdded).getOrElse(0).toDouble)
      ctx.addLayer(s"silver.$ep.files_linked", d.map(_.filesLinked).getOrElse(0).toDouble)
      ctx.addLayer(s"silver.$ep.bytes_written", d.map(_.bytesAdded).getOrElse(0L).toDouble)
    }
    silver("orders")
    ctx.addLayer("silver.orders.rows_in", in.orders.length)
    ctx.addLayer("silver.orders.dups_in_batch", in.ordersDups)
    ctx.addLayer("silver.orders.keys_inserted", in.ordersInserted)
    ctx.addLayer("silver.orders.keys_updated", in.ordersUpdated)
    silver("events")
    ctx.addLayer("silver.events.rows_in", in.events.length)
    ctx.addLayer("silver.events.dups_in_batch", in.eventsDups)
    ctx.addLayer("silver.events.keys_inserted", in.eventsInserted)
    ctx.addLayer("silver.events.keys_updated", 0)

    // freshness probes: the cycle's last acknowledged record per endpoint
    val lo = in.lastOrder
    val po = probe(ctx, "orders", req,
      s"SELECT * FROM ops.silver.orders WHERE o_orderkey = ${lo.key}",
      Map("o_orderkey" -> lo.key.toString, "o_custkey" -> lo.cust.toString,
        "o_orderstatus" -> lo.status, "o_totalprice" -> lo.price.toString,
        "o_orderdate" -> lo.date, "o_orderpriority" -> lo.prio))
    val le = in.lastEvent
    probe(ctx, "events", req,
      s"SELECT event_id, event_date, user_id, event_type, value FROM ops.silver.events " +
        s"WHERE event_id = ${le.id} AND event_date = DATE'${le.date}'",
      Map("event_id" -> le.id.toString, "event_date" -> le.date,
        "user_id" -> le.user.toString, "event_type" -> le.etype,
        "value" -> le.value.toString))

    val tg0 = System.nanoTime()
    val tg = runGold(ctx, req)
    CycleTimes(t0, ackO, ackE, po, tg0, tg, in.records)
  }

  /** One point lookup through the query API; returns when it answered. */
  private def probe(ctx: Ctx, ep: String, req: String, sql: String,
      want: Map[String, String]): Long = {
    val r = ctx.tracer.span(s"query.probe_$ep", req)(ctx.lake.query.run(sql))
    val done = System.nanoTime()
    val got = r.toOption.filter(_.rows.length == 1)
      .map(q => rowMap(q.columns, q.rows.head).filter { case (k, _) => want.contains(k) })
    ctx.outcome.check(s"probe.$ep", got.contains(want),
      s"wanted $want, got ${r.map(q => q.rows.take(2)).left.map(identity)}",
      emptyRead = r.exists(_.rows.isEmpty))
    done
  }

  /** The gold DAG: `runScheduled` untraced; traced runs call `runJob` in
    * the scheduler's topological order to get one span per job. */
  def runGold(ctx: Ctx, req: String): Long = {
    val lake = ctx.lake
    val t = ctx.tracer
    val tg0 = System.nanoTime()
    if (!t.enabled) {
      ctx.outcome.op("gold.dag")(lake.gold.runScheduled(Domain, "daily"))
        .foreach(rs => ctx.addLayer("gold.rows_written", rs.map(_.rows).sum.toDouble))
    } else t.span("gold.dag", req) {
      val jobs = lake.registry.listGoldJobs(Domain).filter(_.status == "active")
      graft.gold.TagScheduler.topoOrder(jobs).foreach { j =>
        val tj = System.nanoTime()
        ctx.outcome.op("gold.dag")(t.span(s"gold.job.${j.jobName}", req)(lake.gold.runJob(j)))
          .foreach(r => ctx.addLayer("gold.rows_written", r.rows.toDouble))
        ctx.addLayer(s"gold.job.${j.jobName}_s", (System.nanoTime() - tj) / 1e9)
      }
    }
    val done = System.nanoTime()
    ctx.addLayer("gold.dag_s", (done - tg0) / 1e9)
    val d = ctx.storageStep()
    ctx.addLayer("gold.bytes_written",
      d.filter(_._1.startsWith(s"gold/$Domain/")).values.map(_.bytesAdded).sum.toDouble)
    done
  }

  /** Expected silver frames over everything sent. */
  final class Expected(spark: SparkSession, log: SentLog) {
    val ordersSent: DataFrame = Model.sent(spark, log.orders.toSeq, Model.ordersSchema).cache()
    val eventsSent: DataFrame = Model.sent(spark, log.events.toSeq, Model.eventsSchema).cache()
    def orders(upTo: Int = Int.MaxValue): DataFrame =
      Model.state(ordersSent, Seq("o_orderkey"), upTo)
    def events(upTo: Int = Int.MaxValue): DataFrame =
      Model.state(eventsSent, Seq("event_id", "event_date"), upTo)

    /** Register the final expected state (and expected gold) as cached,
      * materialized views, so concurrent checks share one computation. */
    def register(prefix: String): Map[String, String] = {
      val views = mutable.Map.empty[String, String]
      def put(name: String, df: DataFrame): Unit = {
        val v = s"${prefix}_$name"
        df.cache().createOrReplaceTempView(v)
        df.count()
        views(name) = v
      }
      put("orders", orders())
      put("events", events())
      gold.foreach(g => put(g.job.jobName, spark.sql(fill(g.expected, views.toMap))))
      views.toMap
    }
  }

  def fill(sql: String, views: Map[String, String]): String =
    views.foldLeft(sql) { case (s, (k, v)) => s.replace(s"{$k}", v) }

  /** Compare silver and gold, read through the catalog, with the expected
    * state built from the generated input. `cycles` lists every cycle
    * whose gold DAG ran (the append job gained one row each). */
  def checkState(ctx: Ctx, exp: Expected, views: Map[String, String],
      cycles: Seq[Int]): Unit = {
    val spark = ctx.spark
    val out = ctx.outcome
    def cmp(name: String, actual: => DataFrame, expected: DataFrame): Unit = {
      val e = Util.digest(expected)
      val a = scala.util.Try(Util.digest(actual))
      out.check(name, a.toOption.contains(e), s"expected $e, got ${a.fold(_.toString, _.toString)}",
        emptyRead = e.rows > 0 && a.toOption.exists(_.rows == 0))
    }
    val silver = Seq("orders", "events").map(e => () =>
      cmp(s"silver.$e.rows", spark.table(s"${Domain}_silver.$e"), spark.table(views(e)))) :+
      // the events files themselves, so a wrong partitioned merge fails
      // here even while the catalog read above shows the known defect
      (() => cmp("silver.events.files", spark.read.parquet(ctx.lake.silverPath(Domain, "events")),
        spark.table(views("events"))))
    val golds = gold.map { g => () =>
      val n = g.job.jobName
      val expected =
        if (g.job.writeMode == "append" && g.job.uniqueKey.isEmpty)
          cycles.map { c =>
            val at = s"pb_exp_orders_at_$c"
            exp.orders(c).createOrReplaceTempView(at)
            spark.sql(fill(g.expected, Map("orders" -> at))).collect().toSeq
          }.reduceOption(_ ++ _).map(rows =>
            spark.createDataFrame(rows.asJava, spark.table(s"${Domain}_gold.$n").schema))
            .getOrElse(spark.table(views(n)).limit(0))
        else spark.table(views(n))
      cmp(s"gold.$n", spark.table(s"${Domain}_gold.$n"), expected)
    }
    Util.par(4)(silver ++ golds)
  }
}
