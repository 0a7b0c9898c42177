package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One concentrated merge against an EXISTING ladder store, with
  * per-Spark-job wall times and the driver gaps between them — the
  * breakdown behind the ladder's per-merge constant (r14 ladder
  * analysis attributed it to per-merge job count + local-mode
  * scheduling; this prints where the seconds actually sit).
  *
  * Usage: ProfileConcMerge <storeDir> <sfDir> [merges=3]
  */
object ProfileConcMerge {
  def main(args: Array[String]): Unit = {
    val store = args(0)
    val sfDir = args(1)
    val merges = if (args.length > 2) args(2).toInt else 3
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.put(s.jobId, (s.time,
            Option(s.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .orElse(Option(s.properties)
                .flatMap(p => Option(p.getProperty("callSite.short"))))
              .getOrElse("?")))
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          ends.put(e.jobId, e.time)
      })

    val orders = graft.sources.Tables.load(spark, sfDir, "orders")
    val conc = orders.filter(pmod(hash(col("o_orderkey")),
        lit(4096)) === 0).limit(250)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .persist()
    conc.count() // materialize the batch outside the timed region

    (1 to merges).foreach { i =>
      jobs.clear(); ends.clear()
      val t0 = System.currentTimeMillis
      graft.silver.Upsert.writeMerged(conc, store, Seq("o_orderkey"),
        numBuckets = 32, targetBucketBytes = 1024L * 1024)
      val t1 = System.currentTimeMillis
      println(s"== merge $i wall ${t1 - t0} ms ==")
      val sorted = {
        import scala.jdk.CollectionConverters._
        jobs.entrySet().asScala.toSeq.map(e => e.getKey -> e.getValue)
          .sortBy(_._2._1)
      }
      var prevEnd = t0
      sorted.foreach { case (id, (start, desc)) =>
        val end = ends.getOrDefault(id, start)
        println(f"  gap ${start - prevEnd}%5d ms | job $id ${end - start}%5d ms | ${desc.take(90)}")
        prevEnd = end
      }
      println(f"  tail gap ${t1 - prevEnd}%5d ms")
    }
    spark.stop()
  }

}
