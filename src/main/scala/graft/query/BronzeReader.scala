package graft.query

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** Reads a bronze JSONL directory as a schema-on-read relation — the
  * reference's `read_json_auto(..., union_by_name=true)` — with its
  * inferred schema memoized.
  *
  * Inference is a full JSON scan, so the schema is memoized against the
  * listing it was inferred over: path, size and mtime of every file
  * Spark's own file index lists. A read whose listing matches the memo
  * passes the memoized schema and skips the scan; any added, resized or
  * re-stamped file re-infers over all files, exactly as an unmemoized read
  * would. The listing compared is the one the returned relation reads, so
  * a file flushed mid-call cannot slip past the memo. Bronze files are
  * write-once, so an unchanged listing means unchanged columns, types and
  * column order.
  *
  * The memo is keyed by directory alone and holds no session, so it
  * keeps no lake or session alive; one entry per bronze directory read. */
object BronzeReader {
  // bronze dir -> (the file listing its schema was inferred over, schema)
  private val schemas =
    scala.collection.concurrent.TrieMap.empty[String, (Set[(String, Long, Long)], StructType)]

  /** The relation over the `.jsonl` files under `dir`, or None when `dir`
    * does not exist. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] = {
    if (!Files.exists(Paths.get(dir))) return None
    val glob = s"$dir/*.jsonl"
    def reader = spark.read.option("recursiveFileLookup", "true")
    val memoized = schemas.get(dir).map { case (listing, schema) =>
      (listing, reader.schema(schema).json(glob))
    }
    memoized match {
      case Some((listing, df)) if listingOf(df) == listing => Some(df)
      case _ =>
        val df = reader.json(glob)
        schemas.put(dir, (listingOf(df), df.schema))
        Some(df)
    }
  }

  private def listingOf(df: DataFrame): Set[(String, Long, Long)] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.listFiles(Nil, Nil).flatMap(_.files)
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    }.flatten.toSet
}
