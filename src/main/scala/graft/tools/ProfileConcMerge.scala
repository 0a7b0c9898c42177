package graft.tools

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
    val spark = graft.Engine.session(8)
    spark.sparkContext.setLogLevel("WARN")

    val orders = graft.sources.Tables.load(spark, sfDir, "orders")
    val conc = orders.filter(pmod(hash(col("o_orderkey")),
        lit(4096)) === 0).limit(250)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .persist()
    conc.count() // materialize the batch outside the timed region

    (1 to merges).foreach { i =>
      val rec = Profile.record(spark) {
        graft.silver.Upsert.writeMerged(conc, store, Seq("o_orderkey"),
          numBuckets = 32, targetBucketBytes = 1024L * 1024)
      }
      println(s"== merge $i wall ${rec.wallMs} ms ==")
      Profile.timeline(rec).foreach(println)
    }
    spark.stop()
  }
}
