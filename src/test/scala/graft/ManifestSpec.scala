package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.silver.{BucketedState, Upsert}

/** Per-generation bucket manifest (r14 verdict tasks 2+6): every
  * committed generation's `_graft_manifest` names each bucket's files
  * with byte sizes plus the store's read schema, so the steady merge
  * path needs no full-store listing, no per-file stat sweep, and no
  * footer read. These tests pin the manifest against the listing it
  * replaces, the pre-manifest upgrade path, and the growth-law sizing
  * it now feeds. */
class ManifestSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def df(kv: Seq[(Long, String)]) = {
    import spark.implicits._
    kv.toDF("id", "v")
  }

  private def manifestOf(path: String): BucketedState.Manifest =
    BucketedState.readManifest(path).getOrElse(
      fail(s"no manifest at $path"))

  /** The ground truth the manifest replaces: a full listing + stats. */
  private def listed(path: String): Map[Int, Seq[(String, Long)]] =
    BucketedState.bucketFiles(path).map { case (b, ps) =>
      b -> ps.map(p => (p.getFileName.toString, Files.size(p))).sorted
    }

  test("every fold commits a manifest that EQUALS the listing (files, " +
      "bytes, buckets), and storeBytes is manifest-backed") {
    val path = Files.createTempDirectory("manifest-").resolve("t").toString
    Upsert.writeMerged(df((1L to 200L).map(i => i -> s"a$i")), path,
      Seq("id"))
    val m1 = manifestOf(path)
    assert(m1.buckets.view.mapValues(_.sorted).toMap == listed(path))
    assert(m1.numBuckets == math.min(32, spark.sparkContext.defaultParallelism))
    // an incremental fold updates touched entries and carries the rest
    Upsert.writeMerged(df(Seq(3L -> "b3", 7L -> "b7")), path, Seq("id"))
    val m2 = manifestOf(path)
    assert(m2.buckets.view.mapValues(_.sorted).toMap == listed(path))
    // byte sizes in the manifest are the real file sizes
    assert(BucketedState.storeBytes(path) ==
      listed(path).values.flatten.map(_._2).sum)
    // schema is the READ schema (all-nullable) — what spark.read reports
    assert(m2.schema == spark.read.parquet(path).schema)
  }

  test("pre-manifest store (manifest deleted) falls back to the " +
      "listing once and UPGRADES on its next fold") {
    val path = Files.createTempDirectory("manifest-up-")
      .resolve("t").toString
    Upsert.writeMerged(df((1L to 100L).map(i => i -> s"a$i")), path,
      Seq("id"))
    Files.delete(Paths.get(path).resolve(BucketedState.ManifestName))
    assert(BucketedState.readManifest(path).isEmpty)
    // still mergeable (listing fallback), and the commit restores it
    Upsert.writeMerged(df(Seq(5L -> "b5")), path, Seq("id"))
    val m = manifestOf(path)
    assert(m.buckets.view.mapValues(_.sorted).toMap == listed(path))
    val got = spark.read.parquet(path).select(col("id"), col("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == ((1L to 100L).map(i => i -> s"a$i").toMap + (5L -> "b5")))
  }

  test("schema evolution routes through rewriteAll and the manifest " +
      "records the evolved read schema") {
    val path = Files.createTempDirectory("manifest-ev-")
      .resolve("t").toString
    Upsert.writeMerged(df((1L to 50L).map(i => i -> s"a$i")), path,
      Seq("id"))
    import spark.implicits._
    val wider = Seq((1L, "b1", 10), (51L, "b51", 20)).toDF("id", "v", "extra")
    Upsert.writeMerged(wider, path, Seq("id"))
    val m = manifestOf(path)
    assert(m.schema == spark.read.parquet(path).schema)
    assert(m.schema.fieldNames.contains("extra"))
    assert(m.buckets.view.mapValues(_.sorted).toMap == listed(path))
  }

  test("an emptied touched bucket drops out of the manifest (expiry " +
      "fold), and the fold's returned content matches") {
    val path = Files.createTempDirectory("manifest-empty-")
      .resolve("t").toString
    import spark.implicits._
    val delta0 = Seq((1L, "a")).toDF("id", "v")
    BucketedState.fold(spark, path, delta0, Seq("id"))(
      (s, d) => s.map(_.unionByName(d)).getOrElse(d))
    val b = manifestOf(path).buckets.keySet
    assert(b.size == 1)
    // expire: the merge returns ZERO rows for the touched bucket
    val (touched, content) = BucketedState.fold(spark, path,
      Seq((1L, "gone")).toDF("id", "v"), Seq("id"))(
      (_, d) => d.limit(0))
    assert(touched == b)
    assert(content.count() == 0)
    assert(manifestOf(path).buckets.isEmpty)
    assert(BucketedState.storeBytes(path) == 0L)
  }
}
