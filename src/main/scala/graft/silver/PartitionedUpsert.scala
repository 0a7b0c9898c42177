package graft.silver

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Partition-scoped upsert — the 100 TB answer to "merge rewrites the
  * whole table" (SURVEY §7.4.1).
  *
  * For a table partitioned by a stable column (ingest date, tenant, …),
  * a merge only needs to touch the partitions the incoming batch lands
  * in: the target scan is partition-pruned to those values and the write
  * uses dynamic partition overwrite, so every other partition's files are
  * untouched bytes. Cost per merge is O(touched partitions), not
  * O(table) — with daily partitions and daily batches that is a constant
  * factor of the batch size.
  *
  * CONSTRAINT (same as any partition-scoped merge, e.g. pre-Photon Delta
  * guidance): the primary key must be partition-stable — an "update" that
  * moves a key to a different partition value would leave the old row
  * behind in an untouched partition. Keys that include or determine the
  * partition column satisfy this by construction.
  */
object PartitionedUpsert {

  /** Fencing (r12): the whole read→merge→write runs under the table's
    * monitor, so concurrent writers SERIALIZE — each one's target scan
    * lists and reads the previous writer's committed files (the
    * lost-update shape the fenced swap stores reject is impossible
    * here because the later writer reads the earlier one's output).
    * Commit-level atomicity within one write is Spark's dynamic
    * partition overwrite; an object-store deployment gets old-or-new
    * per-partition visibility from its table format's commit instead
    * of the committer's per-directory renames. */
  def writeMerged(source: DataFrame, tablePath: String, keys: Seq[String],
      partitionCol: String): Unit =
      graft.core.Fence.withMonitor(Paths.get(tablePath)) {
    val spark = source.sparkSession
    val path = Paths.get(tablePath)
    if (!graft.core.Fs.nonEmpty(path)) {
      source.write.partitionBy(partitionCol).mode("overwrite").parquet(tablePath)
      return
    }
    // the touched-partition list is small by construction (one batch)
    val touched = source.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSeq
    // partition-pruned target scan: only touched partitions are read
    val target = spark.read.parquet(tablePath)
      .filter(col(partitionCol).isin(touched: _*))
    val merged = Upsert.merge(target, source, keys)
    // per-write option, never the session conf: a concurrent writer that
    // saw the session flipped back to static would delete every untouched
    // partition
    merged.write.option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).mode("overwrite").parquet(tablePath)
  }
}
