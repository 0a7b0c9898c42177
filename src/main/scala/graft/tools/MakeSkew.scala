package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: derive an ADVERSARIALLY SKEWED fixture from a driver sf dir
  * (the r8 verdict's skew task: the oracle corpus is uniform-ish, so the
  * windowed/sessionize/graph/dedup paths had never been oracle-checked
  * under the skew a real corpus shows). Same schemas, same row counts,
  * deterministic hash-seeded reassignments:
  *
  *   - events: ONE user receives ~50% of all events (hot-user sessionize
  *     / window / path partitions);
  *   - documents: a universal sentence is prepended to EVERY document
  *     (one shingle in every doc — shingle/LSH/PPJoin candidate
  *     pathology), and ~30% of docs become near-identical copies of one
  *     base text with a per-doc suffix (one GIANT near-dup / connected-
  *     component cluster);
  *   - embeddings: ~20% of vectors are EXACT copies of one hot vector
  *     (degenerate ANN buckets, maximal cosine ties);
  *   - orders: ONE customer owns ~30% of orders; lineitem: ONE order
  *     carries ~20% of line items (skewed fact-fact join);
  *   - customer: ~50% of customers collapse into one nation (skewed
  *     group-by).
  *
  * Every reassigned key keeps referential integrity (hot values are
  * existing keys). The oracle runs on the SAME skewed parquet, so all
  * 190 correctness rows must stay green — divergences are real engine
  * bugs (nondeterministic tie-breaks are exactly what the exact-tie
  * floods here hunt).
  *
  * Output: `<outDir>/<table>.parquet` single files, loadable by
  * Tables.load and DuckDB exactly like the driver's dirs.
  *
  * Usage: MakeSkew <srcSfDir> <outDir>
  */
object MakeSkew {
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Engine.session(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String): DataFrame =
      graft.sources.Tables.load(spark, srcDir, name)

    def write(name: String, df: DataFrame): Unit = {
      val tmp = s"$outDir/.tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$outDir/$name.parquet")
      dest.delete()
      java.nio.file.Files.move(part.toPath, dest.toPath)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
      println(s"[make-skew] $name -> $dest")
    }

    // deterministic per-row coin: pmod(xxhash64(key, salt), 100) < pct
    def coin(key: org.apache.spark.sql.Column, salt: Int, pct: Int) =
      pmod(xxhash64(key, lit(salt)), lit(100)) < lit(pct)

    new java.io.File(outDir).mkdirs()

    Seq("region", "nation", "supplier", "part")
      .foreach(n => write(n, t(n)))

    // hot keys = existing minimum keys (referential integrity preserved)
    val hotUser = t("events").agg(min(col("user_id"))).head().getLong(0)
    val hotCust = t("customer").agg(min(col("c_custkey"))).head().getLong(0)
    val hotOrder = t("orders").agg(min(col("o_orderkey"))).head().getLong(0)
    val hotNation = t("customer").agg(min(col("c_nationkey"))).head().getInt(0)

    write("customer", t("customer")
      .withColumn("c_nationkey",
        when(coin(col("c_custkey"), 1, 50), lit(hotNation))
          .otherwise(col("c_nationkey"))))

    write("orders", t("orders")
      .withColumn("o_custkey",
        when(coin(col("o_orderkey"), 2, 30), lit(hotCust))
          .otherwise(col("o_custkey"))))

    write("lineitem", t("lineitem")
      .withColumn("l_orderkey",
        when(coin(concat_ws("-", col("l_orderkey"), col("l_linenumber")),
            3, 20), lit(hotOrder))
          .otherwise(col("l_orderkey"))))

    write("events", t("events")
      .withColumn("user_id",
        when(coin(col("event_id"), 4, 50), lit(hotUser))
          .otherwise(col("user_id"))))

    // one shingle in EVERY doc + one giant near-dup cluster (~30%);
    // n_chars re-derived so the text/metadata invariant holds
    val universal = "the quick brown fox jumps over the lazy dog again"
    val base = "pack my box with five dozen liquor jugs while " +
      "vexed zebras jump quickly over the frozen dust and " +
      "the silent harbor waits for a bright winter morning"
    // the universal sentence is prepended to EVERY doc — including the
    // near-dup cluster, so the two pathologies compound rather than
    // partition the corpus
    write("documents", t("documents")
      .withColumn("text",
        concat(lit(universal + " "),
          when(coin(col("doc_id"), 5, 30),
            concat(lit(base + " variant "), col("doc_id")))
            .otherwise(col("text"))))
      .withColumn("n_chars", length(col("text"))))

    // ~20% of vectors become EXACT copies of the hot vector
    val hotVec = t("embeddings").orderBy(col("vec_id")).limit(1)
      .select(col("embedding").as("hot_embedding"))
    write("embeddings", t("embeddings")
      .crossJoin(broadcast(hotVec))
      .withColumn("embedding",
        when(coin(col("vec_id"), 6, 20), col("hot_embedding"))
          .otherwise(col("embedding")))
      .drop("hot_embedding"))

    spark.stop()
  }
}
