package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: derive a larger scale factor from the driver-provided test
  * data (TESTDATA.md caps at sf0.1; the scaling curve in SCALING.md needs
  * an sf1). The driver testdata is read-only, so the 10× copy is built
  * locally by unioning `factor` key-shifted replicas of each table:
  *
  *   - fact/entity keys shift by `i * (max_key + 1)` per replica `i`, so
  *     join cardinalities scale exactly linearly (every order still has
  *     one customer, every lineitem one order) and no cross-replica joins
  *     appear;
  *   - document text is letter-substituted per replica with a SEEDED
  *     PERMUTATION of [a-z] and [A-Z] (whitespace/digits/punctuation
  *     fixed, replica 0 verbatim). Replicas share no shingles or tokens
  *     with each other, so dedup/LSH candidate counts scale linearly
  *     like a real N× corpus would — verbatim copies would instead make
  *     every document an N-clique of near-duplicates and blow candidate
  *     pairs up superlinearly, testing a pathology rather than scale.
  *     (A Caesar SHIFT — the pre-round-10 scheme — has only 26 distinct
  *     rotations, so factors > 26 silently reintroduced exactly that
  *     clique pathology; seeded permutations are distinct for any
  *     factor.) Lengths are preserved, so n_chars stays valid;
  *   - embeddings apply a seeded per-replica element PERMUTATION + SIGN
  *     FLIPS (an orthogonal transform: intra-replica cosines are
  *     preserved exactly, cross-replica directions decorrelate), so LSH
  *     bucket occupancy grows like a real corpus instead of stacking
  *     identical vectors — the pre-round-10 element ROTATION collided
  *     at factor > dim (replicas 64 apart were verbatim vector copies);
  *   - pure dimensions (region, nation, supplier, part) copy as-is, as in
  *     TPC-H, where nation/region are fixed at any scale factor.
  *
  * Output: `<outDir>/<table>.parquet` single files, loadable by
  * [[graft.sources.Tables.load]] exactly like the driver's dirs.
  *
  * Usage: MakeScaled <srcSfDir> <outDir> [factor=10] [tables,csv]
  * (the optional 4th arg restricts output to the named tables — an
  * sf100 documents-only fixture doesn't need the 600M-row lineitem)
  */
object MakeScaled {
  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val upper = lower.toUpperCase

  /** Seeded per-replica letter substitution (identity for i == 0):
    * a Fisher-Yates permutation of [a-z] mirrored onto [A-Z], distinct
    * for every replica index — unlike a Caesar shift, which repeats
    * every 26 replicas and would stack verbatim text copies. */
  private def permuteText(c: org.apache.spark.sql.Column, i: Int) =
    if (i == 0) c else {
      val rnd = new scala.util.Random(0x5CA1ED000L + i)
      val p = rnd.shuffle(lower.toList).mkString
      translate(c, lower + upper, p + p.toUpperCase)
    }

  /** Seeded per-replica orthogonal transform of a `dim`-sized float
    * vector (identity for i == 0): element permutation + sign flips.
    * Norm- and intra-replica-cosine-preserving; distinct for every
    * replica (the old rotation collided at i ≥ dim). `dim` is DERIVED
    * FROM THE DATA by the caller — a vector of any other size raises
    * (raise_error), because passing it through verbatim would stack
    * identical copies across replicas and silently reintroduce the
    * exact N-clique duplicate pathology this transform exists to
    * prevent (r10 advisor). NULL embeddings pass through as NULL. */
  private def permuteVec(c: org.apache.spark.sql.Column, i: Int,
      dim: Int) =
    if (i == 0) c else {
      val rnd = new scala.util.Random(0xE3B0C442L + i)
      val perm = rnd.shuffle((1 to dim).toList)
      val elems = perm.map { p =>
        val s = if (rnd.nextBoolean()) 1.0f else -1.0f
        (element_at(c, p) * lit(s)).cast("float")
      }
      when(c.isNull, c)
        .when(size(c) === dim, array(elems: _*))
        .otherwise(raise_error(concat(
          lit(s"MakeScaled: embedding of size "), size(c).cast("string"),
          lit(s" != corpus dim $dim — replica $i would carry a verbatim " +
            "duplicate; fix the fixture or the dim derivation"))))
    }

  /** The corpus's (single) embedding length, derived from the data:
    * one bounded aggregation; mixed sizes fail loudly rather than let
    * any size slip past the permutation unpermuted. */
  private def embeddingDim(df: DataFrame): Int = {
    val dims = df.filter(col("embedding").isNotNull)
      .select(size(col("embedding")).as("d")).distinct()
      .limit(3).collect().map(_.getInt(0))
    require(dims.length == 1,
      s"MakeScaled: embeddings must share one length, saw ${dims.toSeq}")
    dims.head
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    // optional table filter (csv): only these tables are generated
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(',').map(_.trim).toSet)
      else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Engine.session(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String): DataFrame =
      graft.sources.Tables.load(spark, srcDir, name)

    // key shifts: max+1 per keyed entity, computed once from the source
    def shiftOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    lazy val ordShift = shiftOf(t("orders"), "o_orderkey")
    lazy val custShift = shiftOf(t("customer"), "c_custkey")
    lazy val docShift = shiftOf(t("documents"), "doc_id")
    lazy val vecShift = shiftOf(t("embeddings"), "vec_id")
    lazy val evShift = shiftOf(t("events"), "event_id")
    lazy val userShift = shiftOf(t("events"), "user_id")

    /** Union `factor` replicas of `df`, transformed per replica index. */
    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => f(df, i)).reduce(_ unionByName _)

    def write(name: String, df: => DataFrame): Unit = {
      if (only.exists(!_.contains(name))) return
      val tmp = s"$outDir/.tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$outDir/$name.parquet")
      dest.delete()
      java.nio.file.Files.move(part.toPath, dest.toPath)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
      println(s"[make-scaled] $name -> $dest")
    }

    new java.io.File(outDir).mkdirs()

    Seq("region", "nation", "supplier", "part")
      .foreach(n => write(n, t(n)))

    write("customer", replicate(t("customer")) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * custShift))
    })
    write("orders", replicate(t("orders")) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * ordShift))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custShift))
    })
    write("lineitem", replicate(t("lineitem")) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * ordShift))
    })
    write("events", replicate(t("events")) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * evShift))
        .withColumn("user_id", col("user_id") + lit(i * userShift))
    })
    write("documents", replicate(t("documents")) { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * docShift))
        .withColumn("text", permuteText(col("text"), i))
    })
    write("embeddings", {
      val embDim = embeddingDim(t("embeddings"))
      replicate(t("embeddings")) { (df, i) =>
        df.withColumn("vec_id", col("vec_id") + lit(i * vecShift))
          .withColumn("embedding", permuteVec(col("embedding"), i, embDim))
      }
    })

    spark.stop()
  }
}
