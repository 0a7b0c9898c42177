package graft.tools

import org.apache.spark.sql.functions._

/** Scaling ladder for the DEFAULT medallion write path (r12 verdict
  * task 2): `Upsert.writeMerged`'s bucket-scoped keyed merge costs
  * O(batch + touched buckets × bucket bytes) per merge. Two regimes are
  * measured on the orders store at three sizes (sf0.1 / sf1 / sf10
  * fixtures, ~×10 bytes per rung), with the growth law pinning bucket
  * BYTES at a constant target on every rung (scaled to fixture size the
  * way 256 MB is scaled to a real table):
  *
  *  - CONCENTRATED batch (constant row count, keys confined to hash
  *    bucket 0 — `pmod(murmur3(key), maxBuckets) = 0` keys sit in
  *    bucket 0 at EVERY power-of-2 count ≤ maxBuckets): touches one
  *    bucket, so per-merge bytes must stay FLAT across store decades.
  *    This is the law the design claims.
  *  - UNIFORM batch (5,000 distinct keys): touches ~min(D, buckets)
  *    buckets — the boundary condition. Cost is bounded by
  *    touched × target bucket bytes, NOT by store size; without the
  *    growth law (fixed count, growing bucket bytes) the same batch
  *    degrades to a full-store rewrite, which the first ladder run
  *    measured directly (task_write_bytes ≈ store_bytes at 32 fixed
  *    buckets — kept in SCALING.md as the counterfactual).
  *
  * One growth-law doubling boundary (full bucketed rewrite) is timed
  * per rung as the amortized cost the law charges per store doubling.
  *
  * Usage: ProfileMergeLadder <workDir> <sfDir1> [sfDir2 ...]
  *   [-targetKb N=1024] [-merges K=3]
  * Prints one JSON line per measurement. Run ISOLATED like every anchor.
  */
object ProfileMergeLadder {

  def main(args: Array[String]): Unit = {
    val workDir = args(0)
    val dirs = args.drop(1).takeWhile(!_.startsWith("-")).toSeq
    def flag(name: String, dflt: Int): Int =
      args.sliding(2).collectFirst {
        case Array(k, v) if k == s"-$name" => v.toInt }.getOrElse(dflt)
    val targetBytes = flag("targetKb", 1024).toLong * 1024
    val merges = flag("merges", 3)
    val MaxBuckets = 4096 // the growth-law cap; bucket-0 keys at this
                          // modulus sit in bucket 0 at every smaller
                          // power-of-2 count

    val spark = graft.Engine.session(8)
    spark.sparkContext.setLogLevel("WARN")

    // wall, task input bytes and task output bytes of one merge
    def measured(body: => Any): (Double, Long, Long) = {
      val rec = Profile.record(spark)(body)
      val stages = rec.stages.values
      (rec.wallMs / 1e3, stages.map(_.inputBytes).sum,
        stages.map(_.outputBytes).sum)
    }
    def r3(d: Double) = math.rint(d * 1000) / 1000

    dirs.foreach { sfDir =>
      val store = s"$workDir/ladder-${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.silver.Upsert.deleteRecursively(java.nio.file.Paths.get(store))
      val orders = graft.sources.Tables.load(spark, sfDir, "orders")
      // bootstrap + one untimed warm merge: the warm merge crosses the
      // growth-law boundary to the rung's effective count, so the TIMED
      // merges below run on the settled layout (bucket bytes ≈ target)
      graft.silver.Upsert.writeMerged(orders, store, Seq("o_orderkey"),
        numBuckets = 32, targetBucketBytes = targetBytes)
      val warm = orders.filter(pmod(hash(col("o_orderkey")),
          lit(MaxBuckets)) === 0).limit(10)
        .withColumn("o_totalprice", col("o_totalprice") + 0.5)
      val (wWall, wRd, wWr) = measured {
        graft.silver.Upsert.writeMerged(warm, store, Seq("o_orderkey"),
          numBuckets = 32, targetBucketBytes = targetBytes)
      }
      val storeBytes = graft.silver.BucketedState.storeBytes(store)
      val eff = graft.silver.BucketedState.markerBuckets(store)
      println(s"""{"rung":"$sfDir","store_bytes":$storeBytes,""" +
        s""""eff_buckets":${eff.getOrElse(-1)},"doubling_rewrite":""" +
        s"""{"wall_s":${r3(wWall)},"read":$wRd,"write":$wWr}}""")

      // regime 1: concentrated batch (one bucket at every rung)
      val conc = orders.filter(pmod(hash(col("o_orderkey")),
          lit(MaxBuckets)) === 0).limit(250)
      val concRows = conc.count()
      (1 to merges).foreach { i =>
        val batch = conc.withColumn("o_totalprice", col("o_totalprice") + i)
        batch.count()
        val (wall, rd, wr) = measured {
          graft.silver.Upsert.writeMerged(batch, store, Seq("o_orderkey"),
            numBuckets = 32, targetBucketBytes = targetBytes)
        }
        println(s"""{"rung":"$sfDir","store_bytes":$storeBytes,""" +
          s""""regime":"concentrated","merge":$i,"batch_rows":$concRows,""" +
          s""""wall_s":${r3(wall)},"task_read_bytes":$rd,""" +
          s""""task_write_bytes":$wr}""")
      }

      // regime 2: uniform 5,000-key batch (touches ~min(D, buckets))
      val lo = orders.agg(min("o_orderkey")).head().getLong(0)
      val uni = orders.filter(col("o_orderkey") >= lo).limit(5000)
        .withColumn("o_totalprice", col("o_totalprice") + 9)
      uni.count()
      val (uWall, uRd, uWr) = measured {
        graft.silver.Upsert.writeMerged(uni, store, Seq("o_orderkey"),
          numBuckets = 32, targetBucketBytes = targetBytes)
      }
      println(s"""{"rung":"$sfDir","store_bytes":$storeBytes,""" +
        s""""regime":"uniform","batch_rows":5000,"wall_s":${r3(uWall)},""" +
        s""""task_read_bytes":$uRd,"task_write_bytes":$uWr}""")
    }
    spark.stop()
  }
}
