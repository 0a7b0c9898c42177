package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One `orders` fixture row, dates as ISO text. */
final case class OrderRow(key: Long, cust: Long, status: String,
    price: Double, date: String, prio: String) {
  def json: String =
    s"""{"o_orderkey":$key,"o_custkey":$cust,"o_orderstatus":${Util.jstr(status)},""" +
    s""""o_totalprice":${Util.jnum(price)},"o_orderdate":${Util.jstr(date)},""" +
    s""""o_orderpriority":${Util.jstr(prio)}}"""
}

/** One `events` fixture row; `date` is the day of `ts` (the partition). */
final case class EventRow(id: Long, date: String, ts: String, user: Long,
    etype: String, value: Double, props: String) {
  def json: String =
    s"""{"event_id":$id,"event_date":${Util.jstr(date)},"ts":${Util.jstr(ts)},""" +
    s""""user_id":$user,"event_type":${Util.jstr(etype)},"value":${Util.jnum(value)},""" +
    s""""props":${Util.jstr(props)}}"""
}

/** What one cycle sends, plus what the generator knows about it. */
final case class CycleInput(
    cycle: Int,
    orders: Array[String],
    events: Array[String],
    lastOrder: OrderRow,
    lastEvent: EventRow,
    ordersInserted: Int,
    ordersUpdated: Int,
    ordersDups: Int,
    eventsInserted: Int,
    eventsLate: Int,
    eventsDups: Int) {
  def records: Int = orders.length + events.length
}

final case class GenConfig(newOrders: Int = 15000, updates: Int = 3000,
    events: Int = 10000, dupFrac: Double = 0.05, lateFrac: Double = 0.05)

/** Seeded input generator over the fixture rows. The seed draws which
  * rows go in each batch, which keys are re-sent with changed values and
  * where in-batch duplicates land; the program only ever sees the JSON.
  *
  * Each cycle sends `newOrders` unseen orders plus `updates` re-sent
  * earlier keys (late updates), and `events` events in timestamp order of
  * which about `lateFrac` arrive one or two cycles late (events for
  * earlier days). About `dupFrac` of all records are sent a second time
  * later in the same batch with changed values; the earlier copy must
  * win. The last record of each endpoint in a cycle is always an unseen
  * key, so a freshness probe knows exactly what it must read back.
  * When the fixture runs out, rows are reused under keys shifted by
  * `Gen.KeyShift` per pass. */
final class Gen(seed: Long, ordersFx: Array[OrderRow], eventsFx: Array[EventRow],
    cfg: GenConfig = GenConfig()) {
  private val rnd = new SplittableRandom(seed)
  private val orderPerm: Array[Int] = {
    val p = Array.tabulate(ordersFx.length)(identity)
    var i = p.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1
    }
    p
  }
  private var orderCursor = 0L
  private var eventCursor = 0L
  private val live = mutable.LongMap.empty[OrderRow]
  private val sentKeys = ArrayBuffer.empty[Long]
  private val deferred = mutable.Map.empty[Int, ArrayBuffer[EventRow]]
  private var cycleNo = 0

  private def orderAt(i: Long): OrderRow = {
    val r = ordersFx(orderPerm((i % ordersFx.length).toInt))
    r.copy(key = r.key + (i / ordersFx.length) * Gen.KeyShift)
  }

  private def eventAt(i: Long): EventRow = {
    val r = eventsFx((i % eventsFx.length).toInt)
    r.copy(id = r.id + (i / eventsFx.length) * Gen.KeyShift)
  }

  private def round2(d: Double): Double =
    BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val statuses = Array("F", "O", "P")

  /** `base` with in-batch duplicates inserted at later positions, never
    * after the last record. */
  private def withDups[A: scala.reflect.ClassTag](base: IndexedSeq[A], change: A => A): (Array[A], Int) = {
    val n = base.length
    val placed = ArrayBuffer.empty[(Double, A)]
    var dups = 0
    base.indices.foreach { i =>
      placed += (i.toDouble -> base(i))
      if (i < n - 2 && rnd.nextDouble() < cfg.dupFrac) {
        val pos = i + 0.5 + rnd.nextInt(n - 2 - i)
        placed += (pos -> change(base(i)))
        dups += 1
      }
    }
    (placed.sortBy(_._1).map(_._2).toArray, dups)
  }

  private def shuffle[A](xs: ArrayBuffer[A]): ArrayBuffer[A] = {
    var i = xs.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1); val t = xs(i); xs(i) = xs(j); xs(j) = t; i -= 1
    }
    xs
  }

  def next(): CycleInput = {
    val c = cycleNo
    cycleNo += 1
    // ---- orders: unseen keys + late updates of earlier keys ----
    val fresh = (0 until cfg.newOrders).map(i => orderAt(orderCursor + i))
    orderCursor += cfg.newOrders
    val nUpd = math.min(cfg.updates, sentKeys.length)
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < nUpd) picked += sentKeys(rnd.nextInt(sentKeys.length))
    val upd = picked.toSeq.map { k =>
      val r = live(k)
      r.copy(status = statuses(rnd.nextInt(3)),
        price = round2(r.price * (0.8 + 0.4 * rnd.nextDouble())))
    }
    val body = shuffle(ArrayBuffer.from(fresh.init ++ upd)) :+ fresh.last
    val (orderStream, orderDups) = withDups[OrderRow](body.toIndexedSeq, r =>
      r.copy(prio = r.prio + "-dup", price = round2(r.price + 1.0)))
    // model: within a batch the first copy of a key wins
    val firstSeen = mutable.LongMap.empty[OrderRow]
    orderStream.foreach(r => if (!firstSeen.contains(r.key)) firstSeen(r.key) = r)
    firstSeen.foreach { case (k, r) => live(k) = r }
    sentKeys ++= fresh.map(_.key)

    // ---- events: timestamp order, some deferred to later cycles ----
    val onTime = ArrayBuffer.empty[EventRow]
    (0 until cfg.events).foreach { i =>
      val r = eventAt(eventCursor + i)
      if (i < cfg.events - 1 && rnd.nextDouble() < cfg.lateFrac)
        deferred.getOrElseUpdate(c + 1 + rnd.nextInt(2), ArrayBuffer.empty) += r
      else onTime += r
    }
    eventCursor += cfg.events
    val due = deferred.remove(c).getOrElse(ArrayBuffer.empty[EventRow])
    // late arrivals land at random places among the on-time stream
    val placed = ArrayBuffer.from(onTime.indices.map(i => (i.toDouble, onTime(i))))
    due.foreach(r => placed += ((rnd.nextInt(onTime.length - 1) + 0.25) -> r))
    val evBody = placed.sortBy(_._1).map(_._2).toIndexedSeq
    val (eventStream, eventDups) = withDups[EventRow](evBody, r =>
      r.copy(value = round2(r.value + 1.0), etype = r.etype + "_dup"))

    CycleInput(c, orderStream.map(_.json), eventStream.map(_.json),
      fresh.last, onTime.last,
      ordersInserted = fresh.length, ordersUpdated = upd.length,
      ordersDups = orderDups, eventsInserted = evBody.length,
      eventsLate = due.length, eventsDups = eventDups)
  }
}

object Gen {
  val KeyShift = 10000000L

  /** Fixture rows in a fixed order (by key, events by time then id). */
  def fixtures(spark: SparkSession, sfDir: String): (Array[OrderRow], Array[EventRow]) = {
    val loaded = Util.par(2)(Seq(() => orders(spark, sfDir), () => events(spark, sfDir)))
    (loaded(0).asInstanceOf[Array[OrderRow]], loaded(1).asInstanceOf[Array[EventRow]])
  }

  private def orders(spark: SparkSession, sfDir: String): Array[OrderRow] =
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
        col("o_orderstatus"), col("o_totalprice").cast("double"),
        date_format(col("o_orderdate"), "yyyy-MM-dd"), col("o_orderpriority"))
      .collect()
      .map(r => OrderRow(r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3), r.getString(4), r.getString(5)))
      .sortBy(_.key)

  private def events(spark: SparkSession, sfDir: String): Array[EventRow] =
    spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id").cast("long"), date_format(col("ts"), "yyyy-MM-dd"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
        col("user_id").cast("long"), col("event_type"), col("value").cast("double"),
        col("props"))
      .collect()
      .map(r => EventRow(r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getString(4), r.getDouble(5), r.getString(6)))
      .sortBy(r => (r.ts, r.id))
}

/** Every record sent so far, per endpoint, tagged with its batch (the
  * cycle) and its position in that batch. */
final class SentLog {
  val orders = ArrayBuffer.empty[Row]
  val events = ArrayBuffer.empty[Row]
  def add(in: CycleInput): Unit = {
    in.orders.iterator.zipWithIndex.foreach { case (j, i) => orders += Row(in.cycle, i, j) }
    in.events.iterator.zipWithIndex.foreach { case (j, i) => events += Row(in.cycle, i, j) }
  }
}

/** The expected state, derived from the generated input alone: latest
  * batch wins across batches, earliest record wins within a batch. */
object Model {
  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))
  // ts is parsed as text and cast, the declared silver type
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("event_date", DateType),
    StructField("ts", StringType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  private val logSchema = StructType(Seq(StructField("_batch", IntegerType),
    StructField("_seq", IntegerType), StructField("_json", StringType)))

  /** Every sent record, typed, with `_batch` and `_seq` (bronze content). */
  def sent(spark: SparkSession, log: Seq[Row], schema: StructType): DataFrame = {
    val raw = spark.createDataFrame(java.util.Arrays.asList(log: _*), logSchema)
    val parsed = raw.select(col("_batch"), col("_seq"),
      from_json(col("_json"), schema).as("r")).select("_batch", "_seq", "r.*")
    if (schema.fieldNames.contains("ts"))
      parsed.withColumn("ts", col("ts").cast(TimestampType))
    else parsed
  }

  /** Expected silver state after every batch up to `upTo` (inclusive). */
  def state(sent: DataFrame, keys: Seq[String], upTo: Int = Int.MaxValue): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_batch").desc, col("_seq").asc)
    sent.filter(col("_batch") <= upTo)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", "_batch", "_seq")
  }
}
