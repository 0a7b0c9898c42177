package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py`:
  * {{{
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <sf-dir>
  *                  <run-dir> <spawn-epoch-ms> <recorded-ops-json>
  * }}}
  * Prints one line `PERFBENCH_DETAIL <json>` with every number the run
  * measured; run.py turns it into the result line. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      sfDir: String, runDir: String, spawnMs: Long, opsFile: String)

  def session(runDir: String, cpus: Int): SparkSession = {
    // the same engine settings graft.Bench measures with
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64L * 1024 * 1024}")
      .config("spark.sql.files.maxPartitionBytes", s"${4L * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${1024 * 1024}")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4), argv(5), argv(6).toLong, argv(7))
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(a.runDir, cpus)
    val tracer: Tracer = if (a.trace) new LiveTrace(spark.sparkContext) else NoTrace
    val ctx = new Ctx(spark, a.runDir, a.sfDir, a.seed, tracer)
    val recordedOps: Map[String, String] =
      if (Files.exists(Paths.get(a.opsFile)))
        "\"(q[0-9]+_[a-z0-9_]+)\"\\s*:\\s*\"([0-9]+:[0-9a-f]+)\"".r
          .findAllMatchIn(Files.readString(Paths.get(a.opsFile)))
          .map(m => m.group(1) -> m.group(2)).toMap
      else Map.empty

    // ---- set-up: fixtures, generation, lake build, warm-up ----
    val setupParts = mutable.LinkedHashMap[String, Any]()
    var mark = a.spawnMs
    def part(name: String): Unit = {
      val now = System.currentTimeMillis()
      setupParts(name) = (now - mark) / 1e3
      mark = now
    }
    part("jvm_and_session")
    val (ordersFx, eventsFx) = Gen.fixtures(spark, a.sfDir)
    val gen = new Gen(a.seed, ordersFx, eventsFx)
    val lr = new LakeRun(ctx, gen)
    part("fixtures_and_generator")
    // the first two cycles are still on the JIT warm-up slope; measuring
    // them would make a run's numbers depend on how far warm-up got
    (1 to (if (a.workload == "medallion") 2 else 1)).foreach(_ => lr.cycle())
    part("lake_build")
    var opDigests = Map.empty[String, String]
    if (a.workload == "query_api") {
      lr.expectState()
      part("expected_state")
      lr.prepareQueries()
      part("expected_answers")
      lr.warmQueries()
      part("query_warmup")
      opDigests = Workloads.checkOps(ctx, recordedOps)
      part("operator_check")
    }
    val setupS = (System.currentTimeMillis() - a.spawnMs) / 1e3

    // ---- measured window ----
    tracer.phase = "measure"
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcSeconds
    val res = a.workload match {
      case "medallion" => Workloads.medallion(lr, cycleCount = 2)
      case "query_api" => Workloads.queryApi(lr, QueryMix.requests(a.seconds), math.min(4, cpus),
        opPasses = 4)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val gcS = gcSeconds - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    tracer.phase = "check"

    // ---- output checks (untimed) ----
    val tc = System.nanoTime()
    lr.checkFinal()
    val checkS = Util.secondsSince(tc)
    val (guardMs, rewriteMs) =
      if (a.trace && lr.queries.nonEmpty) Workloads.guardAndRewrite(lr) else (0.0, 0.0)

    val o = ctx.outcome
    val failedChecks = o.failedChecks
    val unexpected = o.unexpected.asScala.toSeq.sorted
    val errorRate = o.failed.get.toDouble / math.max(1L, o.attempted.get)
    val named = Seq(("setup_s", setupS, "s")) ++ res.metrics ++
      Seq(("error_rate", errorRate, "ratio"))
    val perLayer =
      if (a.trace) Layers.metrics(ctx, guardMs, rewriteMs, gcS, heapPeakMb, errorRate)
      else Map.empty[String, Double]

    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload,
      "seed" -> a.seed,
      "trace" -> a.trace,
      "correct" -> unexpected.isEmpty,
      "attempted" -> o.attempted.get,
      "failed" -> o.failed.get,
      "failed_checks" -> failedChecks,
      "failed_check_detail" -> o.firstDetail.asScala.toMap,
      "known_defects" -> KnownDefects.all.toSeq.sorted,
      "unexpected_checks" -> unexpected,
      "contract" -> Map(
        "setup_s" -> setupS,
        "throughput_per_s" -> res.throughputPerS,
        "latency_p50_ms" -> res.latencyP50Ms,
        "latency_tail_ms" -> res.latencyTailMs,
        "batch_s" -> res.batchS),
      "named" -> named.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "samples" -> res.samples,
      "within_run_spread" -> res.spread,
      "setup_parts_s" -> setupParts,
      "check_s" -> checkS,
      "per_layer" -> perLayer,
      "jvm" -> Map("gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb),
      "ops_digests" -> opDigests,
      "spans" -> (if (a.trace) Layers.spanSummary(ctx) else Nil),
      "env" -> Map(
        "nproc" -> cpus,
        "sf_dir" -> a.sfDir,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version")))
    println("PERFBENCH_DETAIL " + Util.toJson(detail))
    if (a.trace) Layers.writeSpans(ctx, s"${a.runDir}/spans.json")
    spark.stop()
  }
}
