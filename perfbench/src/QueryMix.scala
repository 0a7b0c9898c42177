package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** One query-API request, the plain-SQL form that computes its expected
  * answer over the expected state, and how its answer is checked. */
final case class Q(cls: String, sql: String, expected: Option[String],
    check: String = "digest") {
  /** Check name: lookups are split per endpoint. */
  def checkName: String =
    if (cls == "lookup" && sql.contains("silver.events")) "query.lookup_events"
    else s"query.$cls"
}

/** The seeded query mix over the eight request classes. */
object QueryMix {
  val Classes: Seq[String] =
    Seq("lookup", "agg", "gold_read", "join", "wide", "bronze", "rejected", "missing")

  val Missing = "Table does not exist or has no data."

  /** The reasons `QueryGuard` refuses a query with; a `rejected` query
    * must come back with one of them, not with an execution error. */
  val GuardReasons: Set[String] = Set("only SELECT queries are allowed",
    "forbidden keyword in query", "forbidden function in query", "statement is not a query")

  /** Distinct queries; parameters drawn from `seed` among keys that exist
    * in the expected state (view names from [[Lakehouse.Expected]]). */
  def build(spark: SparkSession, seed: Long, views: Map[String, String]): Seq[Q] = {
    val rnd = new SplittableRandom(seed ^ 0x51L)
    val okeys = spark.sql(s"SELECT o_orderkey FROM ${views("orders")} ORDER BY o_orderkey")
      .collect().map(_.getLong(0))
    val ev = spark.sql(s"SELECT event_id, CAST(event_date AS STRING) FROM ${views("events")} " +
      "ORDER BY event_id, event_date").collect().map(r => (r.getLong(0), r.getString(1)))
    val custs = spark.sql(s"SELECT o_custkey FROM ${views("cust_revenue")} ORDER BY o_custkey")
      .collect().map(_.getLong(0))
    def pick[A](xs: Array[A]): A = xs(rnd.nextInt(xs.length))
    val o = views("orders"); val cr = views("cust_revenue")
    val lookups = (1 to 12).map { _ =>
      val k = pick(okeys)
      Q("lookup", s"SELECT * FROM ops.silver.orders WHERE o_orderkey = $k",
        Some(s"SELECT * FROM $o WHERE o_orderkey = $k"))
    } ++ (1 to 4).map { _ =>
      val (id, d) = pick(ev)
      Q("lookup", s"SELECT * FROM ops.silver.events WHERE event_id = $id AND event_date = DATE'$d'",
        Some(s"SELECT * FROM ${views("events")} WHERE event_id = $id AND event_date = DATE'$d'"))
    }
    val aggs = (1 to 3).flatMap { _ =>
      val year = 1992 + rnd.nextInt(6)
      val c = pick(custs)
      Seq(
        Q("agg",
          s"""SELECT o_orderstatus, count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
             |FROM ops.silver.orders WHERE o_orderdate >= DATE'$year-01-01'
             |GROUP BY o_orderstatus""".stripMargin,
          Some(s"""SELECT o_orderstatus, count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
                  |FROM $o WHERE o_orderdate >= DATE'$year-01-01'
                  |GROUP BY o_orderstatus""".stripMargin)),
        Q("agg",
          s"""SELECT o_custkey, o_orderkey, o_totalprice FROM ops.silver.orders
             |WHERE o_custkey BETWEEN $c AND ${c + 300}
             |QUALIFY row_number() OVER (PARTITION BY o_custkey
             |                           ORDER BY o_totalprice DESC, o_orderkey) = 1""".stripMargin,
          Some(s"""SELECT o_custkey, o_orderkey, o_totalprice FROM (
                  |  SELECT *, row_number() OVER (PARTITION BY o_custkey
                  |                               ORDER BY o_totalprice DESC, o_orderkey) AS rn
                  |  FROM $o WHERE o_custkey BETWEEN $c AND ${c + 300}) WHERE rn = 1""".stripMargin)),
        Q("agg",
          s"""SELECT * EXCLUDE (mx) FROM (
             |  SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS mx
             |  FROM ops.silver.orders WHERE o_orderdate < DATE'$year-06-30'
             |  GROUP BY o_orderpriority)""".stripMargin,
          Some(s"""SELECT o_orderpriority, count(*) AS n FROM $o
                  |WHERE o_orderdate < DATE'$year-06-30' GROUP BY o_orderpriority""".stripMargin)))
    }
    val golds = (1 to 3).flatMap { _ =>
      val c = pick(custs)
      val rev = 200000 + rnd.nextInt(400000)
      Seq(
        Q("gold_read", s"SELECT * FROM ops.gold.top_customers WHERE revenue > $rev",
          Some(s"SELECT * FROM ${views("top_customers")} WHERE revenue > $rev")),
        Q("gold_read", s"SELECT * FROM ops.gold.cust_revenue WHERE o_custkey BETWEEN $c AND ${c + 100}",
          Some(s"SELECT * FROM $cr WHERE o_custkey BETWEEN $c AND ${c + 100}")),
        Q("gold_read", s"SELECT * FROM ops.gold.latest_order WHERE o_custkey = $c",
          Some(s"SELECT * FROM ${views("latest_order")} WHERE o_custkey = $c")))
    }
    val joins = (1 to 4).map { _ =>
      val c = pick(custs)
      Q("join",
        s"""SELECT o.o_orderkey, o.o_totalprice, c.revenue
           |FROM ops.silver.orders o JOIN ops.gold.cust_revenue c ON o.o_custkey = c.o_custkey
           |WHERE o.o_custkey BETWEEN $c AND ${c + 20}""".stripMargin,
        Some(s"""SELECT o.o_orderkey, o.o_totalprice, c.revenue
                |FROM $o o JOIN $cr c ON o.o_custkey = c.o_custkey
                |WHERE o.o_custkey BETWEEN $c AND ${c + 20}""".stripMargin))
    }
    val wides = (1 to 2).map { _ =>
      val p = 1000 + rnd.nextInt(20000)
      Q("wide", s"SELECT o_orderkey, o_custkey, o_totalprice FROM ops.silver.orders WHERE o_totalprice > $p",
        Some(s"SELECT o_orderkey FROM $o WHERE o_totalprice > $p"), check = "truncated")
    }
    val bronzes = (1 to 3).map { _ =>
      val c = pick(custs)
      Q("bronze",
        s"""SELECT count(*) AS n, count(DISTINCT o_orderkey) AS k
           |FROM ops.bronze.orders WHERE o_custkey BETWEEN $c AND ${c + 200}""".stripMargin,
        Some(s"""SELECT count(*) AS n, count(DISTINCT o_orderkey) AS k
                |FROM ${views("orders_sent")} WHERE o_custkey BETWEEN $c AND ${c + 200}""".stripMargin))
    }
    val rejected = Seq(
      "DROP TABLE ops.silver.orders",
      "SELECT * FROM read_parquet('orders.parquet')",
      "INSERT INTO ops.gold.top_customers SELECT 1, 2",
      "SELECT reflect('java.lang.System', 'exit', 0)").map(s => Q("rejected", s, None, "rejected"))
    val missing = Seq("ops.silver.nope", "ops.gold.absent", "ops.silver.ordrs", "sales.silver.orders")
      .map(t => Q("missing", s"SELECT * FROM $t LIMIT 5", None, "missing"))
    lookups ++ aggs ++ golds ++ joins ++ wides ++ bronzes ++ rejected ++ missing
  }

  /** Requests a query_api window sends per second of `--seconds`: the
    * rate its clients reach on 4 cores. */
  val NominalQps = 18

  /** The window's request count: `seconds` at [[NominalQps]], in whole
    * blocks of eight so every class gets the same number of requests. */
  def requests(seconds: Double): Int =
    Classes.length * math.max(1, math.round(seconds * NominalQps / Classes.length).toInt)

  /** A seeded sequence of `n` query indices. No source gives the
    * reference's traffic by class, so every class has an equal share: each
    * block of eight requests holds every class once, in seeded order.
    * Within a class, each check name gets its share of the class's queries
    * at every prefix (to rounding), so the seed picks which query runs but
    * never how many requests a check gets; the count of failing
    * known-defect lookups is then the same for every seed. */
  def schedule(qs: Seq[Q], seed: Long, n: Int): Array[Int] = {
    val rnd = new SplittableRandom(seed)
    val byCls = qs.indices.groupBy(i => qs(i).cls)
    val groups = byCls.map { case (c, idx) =>
      c -> idx.groupBy(i => qs(i).checkName).values.toArray.sortBy(_.head)
    }
    val drawn = groups.map { case (c, gs) => c -> new Array[Int](gs.length) }
    def pick(c: String): Int = {
      val gs = groups(c); val d = drawn(c)
      val total = gs.map(_.length).sum.toDouble; val j = d.sum + 1
      val g = gs.indices.maxBy(i => j * gs(i).length / total - d(i))
      d(g) += 1
      gs(g)(rnd.nextInt(gs(g).length))
    }
    val block = Classes.filter(byCls.contains).toArray
    Array.fill((n + block.length - 1) / block.length) {
      val b = block.clone()
      var i = b.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t; i -= 1
      }
      b.map(pick)
    }.flatten.take(n)
  }
}
