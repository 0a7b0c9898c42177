package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.query.{NameRewriter, QualifyRewriter, QueryGuard, StarRewriter}

/** A workload's end-to-end numbers: `metrics` by their workload-specific
  * names with units, then the four slots every workload fills. `spread`
  * is the within-run IQR / median of the samples behind each slot. */
final case class WorkloadResult(metrics: Seq[(String, Double, String)],
    throughputPerS: Double, latencyP50Ms: Double, latencyTailMs: Double,
    batchS: Double, samples: Int, spread: Map[String, Double])

/** A lake driven by the generator, its expected state and the query mix
  * checked against it. */
final class LakeRun(val ctx: Ctx, gen: Gen) {
  val log = new SentLog
  val goldCycles = ArrayBuffer.empty[Int]
  private var exp: Lakehouse.Expected = _
  private var views: Map[String, String] = Map.empty
  var queries: Seq[Q] = Nil
  /** Expected digest per query index (None: checked another way). */
  var answers: Map[Int, Either[String, Util.Digest]] = Map.empty
  val expectedCounts = mutable.Map.empty[Int, Long]

  Lakehouse.define(ctx.lake)

  def cycle(): Lakehouse.CycleTimes = {
    val in = gen.next()
    log.add(in)
    val t = Lakehouse.cycle(ctx, in)
    goldCycles += in.cycle
    t
  }

  private var expCycles = -1

  /** Expected state over everything sent so far. */
  def expectState(): Unit = {
    expCycles = goldCycles.length
    exp = new Lakehouse.Expected(ctx.spark, log)
    views = exp.register("pb_q")
    exp.ordersSent.createOrReplaceTempView("pb_q_orders_sent")
    views += "orders_sent" -> "pb_q_orders_sent"
  }

  /** The seeded query mix and each query's expected answer. */
  def prepareQueries(): Unit = {
    val spark = ctx.spark
    queries = QueryMix.build(spark, ctx.seed, views)
    // point lookups: one batched query per table instead of one each
    val lookups = queries.indices.filter(i => queries(i).cls == "lookup")
      .groupBy(i => queries(i).checkName).values.flatMap { idx =>
        val union = idx.map(i => s"SELECT *, $i AS __q FROM (${queries(i).expected.get})")
          .mkString(" UNION ALL ")
        val df = spark.sql(union)
        val cols = df.columns.filterNot(_ == "__q").toSeq
        val got = df.collect().groupBy(_.getAs[Int]("__q"))
        idx.map(i => i -> Right(Util.digestNamed(cols,
          got.getOrElse(i, Array.empty).toSeq.map(r => cols.map(c => r.get(r.fieldIndex(c)))))))
      }.toMap
    val rest = queries.indices.filterNot(lookups.contains)
    answers = lookups ++ Util.par(4)(rest.map { i => () =>
      val q = queries(i)
      q.check match {
        case "digest" => Some(i -> Right(Util.digest(spark.sql(q.expected.get))))
        case "truncated" =>
          val n = spark.sql(q.expected.get).count()
          synchronized(expectedCounts(i) = n)
          None
        case "missing" => Some(i -> Left(QueryMix.Missing))
        case _ => None
      }
    }).flatten.toMap
  }

  /** Run query `i` through the query API, then check its answer. Returns
    * (milliseconds inside `QueryService.run`, rows returned, truncated). */
  def runQuery(i: Int, req: String): (Double, Int, Boolean) = {
    val q = queries(i)
    val t0 = System.nanoTime()
    val r = ctx.tracer.span(s"query.${q.cls}", req)(ctx.lake.query.run(q.sql))
    val ms = (System.nanoTime() - t0) / 1e6
    val (ok, rows, trunc) = r match {
      case Right(res) =>
        val good = q.check match {
          case "digest" =>
            answers(i) == Right(Util.digestNamed(res.columns, res.rows))
          case "truncated" =>
            res.truncated && res.rowCount == res.maxRows &&
              expectedCounts(i) > res.maxRows
          case _ => false
        }
        (good, res.rowCount, res.truncated)
      case Left(msg) =>
        val good = q.check match {
          case "rejected" => QueryMix.GuardReasons(msg)
          case "missing"  => msg == QueryMix.Missing
          case _          => false
        }
        (good, 0, false)
    }
    ctx.outcome.check(q.checkName, ok, s"${q.sql.take(120)} -> ${r.fold(identity, x => s"${x.rowCount} rows")}",
      emptyRead = q.check == "digest" && r.exists(_.rowCount == 0))
    (ms, rows, trunc)
  }

  /** Untimed warm-up: every distinct query once. */
  def warmQueries(): Unit =
    Util.par(4)(queries.indices.map(i => () => runQuery(i, "warmup")))

  /** Compare the final lake state with the expected one. */
  def checkFinal(): Unit = {
    if (expCycles != goldCycles.length) expectState()
    Lakehouse.checkState(ctx, exp, views, goldCycles.toSeq)
  }
}

object Workloads {
  /** ROADMAP item 5's heaviest row (q142) and its sorted-neighborhood
    * serial fraction (q166); two queries keep the run inside its budget. */
  val OpNames: Seq[String] = Seq("q142_setsim_shingles", "q166_sorted_neighborhood")

  def shortOp(name: String): String = name.takeWhile(_ != '_')

  /** Write path: a fixed number of medallion cycles on one thread, so
    * faster cycles change the figures but never how many are averaged. */
  def medallion(run: LakeRun, cycleCount: Int): WorkloadResult = {
    val cycles = ArrayBuffer.fill(cycleCount)(run.cycle())
    val recs = cycles.map(_.records).sum
    val busy = cycles.map(_.seconds).sum
    val silver = Util.median(cycles.map(_.silverFreshness))
    val gold = Util.median(cycles.map(_.goldFreshness))
    val dag = Util.median(cycles.map(_.goldSeconds))
    WorkloadResult(Seq(
      ("pipeline_records_per_s", recs / busy, "1/s"),
      ("silver_freshness_p50_s", silver, "s"),
      ("gold_freshness_p50_s", gold, "s"),
      ("gold_dag_p50_s", dag, "s"),
      ("cycles", cycles.length.toDouble, "count")),
      recs / busy, silver * 1000, gold * 1000, dag, cycles.length,
      Map("throughput_per_s" -> Util.spread(cycles.map(c => c.records / c.seconds)),
        "latency_p50_ms" -> Util.spread(cycles.map(_.silverFreshness)),
        "latency_tail_ms" -> Util.spread(cycles.map(_.goldFreshness)),
        "batch_s" -> Util.spread(cycles.map(_.goldSeconds))))
  }

  /** Read path: `clients` closed-loop clients share one seeded sequence
    * of `requests` queries, each taking the next one when its last returns,
    * then `opPasses` passes over the operator queries. The window is a
    * request count, not a time, so every run of a seed sends the same
    * requests whatever the machine's speed. */
  def queryApi(lr: LakeRun, requests: Int, clients: Int, opPasses: Int): WorkloadResult = {
    final case class Sample(cls: String, ms: Double, rows: Int, truncated: Boolean)
    val samples = new ConcurrentLinkedQueue[Sample]()
    val order = QueryMix.schedule(lr.queries, lr.ctx.seed * 31, requests)
    val next = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(clients)
    val t0 = System.nanoTime()
    val futures = (0 until clients).map { c =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var k = next.getAndIncrement()
          while (k < order.length) {
            val i = order(k)
            val (ms, rows, trunc) = lr.runQuery(i, s"c$c-$k")
            samples.add(Sample(lr.queries(i).cls, ms, rows, trunc))
            k = next.getAndIncrement()
          }
        }
      })
    }
    futures.foreach(_.get())
    val wall = Util.secondsSince(t0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    val all = samples.asScala.toSeq
    val ms = all.map(_.ms)
    lr.ctx.addLayer("query.rows_returned", all.map(_.rows.toDouble).sum)
    lr.ctx.addLayer("query.truncated", all.count(_.truncated).toDouble)
    val p50 = Util.pct(ms, 50); val p95 = Util.pct(ms, 95)
    val qps = all.length / wall
    val ops = operators(lr.ctx, opPasses)
    WorkloadResult(Seq(
      ("query_qps", qps, "1/s"),
      ("query_p50_ms", p50, "ms"),
      ("query_p95_ms", p95, "ms"),
      ("query_samples", all.length.toDouble, "count")) ++
      QueryMix.Classes.map(c => (s"query_${c}_p50_ms",
        Util.pct(all.filter(_.cls == c).map(_.ms), 50), "ms")) ++ ops.metrics,
      qps, p50, p95, ops.totalS, all.length,
      Map("latency_p50_ms" -> Util.spread(ms), "batch_s" -> ops.spread))
  }

  /** Run one operator query through `SparkEntry.queries`, forced with the
    * noop sink; returns seconds. */
  def runOp(ctx: Ctx, name: String, req: String): Double = {
    val spark = ctx.spark
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    ctx.tracer.span(s"ops.${shortOp(name)}", req) {
      SparkEntry.withQueryConfs(spark, name) {
        SparkEntry.queries(name)(spark, ctx.sfDir).write.format("noop").mode("overwrite").save()
      }
    }
    Util.secondsSince(t0)
  }

  /** First (cold) pass of every operator: collects each output and
    * compares its digest with the recorded one. */
  def checkOps(ctx: Ctx, recorded: Map[String, String]): Map[String, String] = {
    val spark = ctx.spark
    OpNames.map { name =>
      spark.catalog.clearCache()
      val d = ctx.outcome.op(s"ops.${shortOp(name)}") {
        ctx.tracer.span(s"ops.${shortOp(name)}", "warmup") {
          SparkEntry.withQueryConfs(spark, name)(Util.digest(SparkEntry.queries(name)(spark, ctx.sfDir)))
        }
      }.map(_.toString).getOrElse("failed")
      if (recorded.nonEmpty)
        ctx.outcome.check(s"ops.${shortOp(name)}.digest", recorded.get(name).contains(d),
          s"expected ${recorded.get(name)}, got $d")
      name -> d
    }.toMap
  }

  final case class OpsResult(metrics: Seq[(String, Double, String)], totalS: Double,
      spread: Double)

  /** `passes` timed passes over the operator queries; each operator's
    * time is its median over passes. */
  def operators(ctx: Ctx, passes: Int): OpsResult = {
    val times = mutable.LinkedHashMap(OpNames.map(_ -> ArrayBuffer.empty[Double]): _*)
    val passS = (0 until passes).map { p =>
      val tp = System.nanoTime()
      OpNames.foreach { n =>
        ctx.outcome.op(s"ops.${shortOp(n)}")(runOp(ctx, n, s"pass-$p")).foreach(times(n) += _)
      }
      Util.secondsSince(tp)
    }
    val med = times.map { case (n, xs) => n -> Util.median(xs) }
    val total = med.values.sum
    OpsResult(med.toSeq.map { case (n, s) => (s"op_${shortOp(n)}_s", s, "s") } :+
      (("operators_total_s", total, "s")), total, Util.spread(passS))
  }

  /** Time the query layer's guard and rewriters alone, per query. */
  def guardAndRewrite(run: LakeRun): (Double, Double) = {
    val spark = run.ctx.spark
    val qs = run.queries
    val reps = 3
    var g = 0L; var rw = 0L
    (1 to reps).foreach { _ =>
      qs.foreach { q =>
        val t0 = System.nanoTime()
        val s2 = StarRewriter.rewrite(QualifyRewriter.rewrite(q.sql))
        val t1 = System.nanoTime()
        QueryGuard.validate(spark, s2)
        val t2 = System.nanoTime()
        // a bronze name makes the rewriter scan the JSON into a view
        if (!q.sql.contains(".bronze.")) NameRewriter.rewrite(run.ctx.lake, s2)
        val t3 = System.nanoTime()
        rw += (t1 - t0) + (t3 - t2); g += t2 - t1
      }
    }
    val n = (reps * qs.length).toDouble
    (g / n / 1e6, rw / n / 1e6)
  }
}
