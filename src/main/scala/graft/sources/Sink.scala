package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Write-side catalog layer — the engine's sinks, completing the
  * source/sink story: parquet partitioned by a column (directory-pruned on
  * read), alongside `plans.Bucketing.writeBucketed` (co-located joins) and
  * the sharded CSV + shard-summary path (`ZoneMapPruner.shardedOrders`).
  *
  * Partitioning by a low-cardinality column bakes the predicate into the
  * directory layout: a reader filtering on it scans only the matching
  * directories (`PartitionFilters` in the scan, zero data touched
  * elsewhere) — the write-side complement of the reference's partition
  * pruning, and at 100 TB the cheapest filter the engine has. */
object Sink {

  /** Persist `df` as parquet partitioned by `cols` (Hive-style layout). */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit = {
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)
    Tables.wrote(df.sparkSession, path)
  }

  /** Read a partitioned table back; filters on the partition columns
    * prune directories at plan time. */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Apply a CDC batch to a plain-parquet table: last-writer-wins within
    * the batch (CDC batches legitimately carry several updates per key —
    * `orderCol`, e.g. an offset or event id, picks the survivor), then
    * [[graft.operators.Relational.upsert]] against the current table
    * contents, rewritten through a temp dir + rename swap (the compact()
    * discipline: never read and overwrite one path in a single lazy job,
    * restore the old table if the swap fails). Replay-idempotent:
    * re-applying the same batch re-picks the same survivors and replaces
    * the same keys with the same rows — exactly what a restarted
    * streaming query needs from its sink (see
    * [[graft.streaming.EventStream.cdcUpsertStream]]).
    *
    * `orderCol` should be unique per key (a log offset or event id is —
    * the same requirement scd2History states). If it is not, ties fall
    * back to a content-hash tiebreak so the survivor is still a
    * deterministic function of the batch, not of partition order — a
    * nondeterministic tie survivor would silently break the
    * replay-idempotence contract above.
    *
    * Crash recovery: the two-rename swap has a window — a process dying
    * after rename(table → .bak) but before rename(tmp → table) leaves
    * the table path missing. The next mergeInto (or any caller invoking
    * [[recoverSwap]]) restores the `.merge.bak` snapshot first, so the
    * window is self-healing rather than silent (a single atomic
    * overwrite-rename would need HDFS FileContext semantics that
    * local/object-store filesystems don't all honor). */
  def mergeInto(spark: SparkSession, path: String, updates: DataFrame,
      key: String, orderCol: String): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // empty-batch probe on the RAW batch, before the window dedup plan
    // exists: isEmpty on `latest` would execute the row_number shuffle
    // once for the probe and again for the write — a limit-1 scan of the
    // raw micro-batch costs nothing (row_number over empty is empty, so
    // the conditions are equivalent)
    val batchEmpty = updates.isEmpty
    val tieBreak = md5(to_json(struct(updates.columns.map(col): _*)))
    val w = Window.partitionBy(col(key)).orderBy(col(orderCol).desc, tieBreak.asc)
    val latest = updates.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new Path(p.getParent, s".${p.getName}.merge.bak")
    // heal a previous run that died inside its swap window — a COMPACT
    // swap as well as a merge swap: healing only .merge.bak here would
    // make a crashed compact() look like a missing table and silently
    // rebuild it from this batch alone, dropping every pre-existing row
    if (!fs.exists(p) && (fs.exists(bak) ||
        fs.exists(new Path(p.getParent, s".${p.getName}.compact.bak")))
        && !recoverSwap(spark, path))
      sys.error(s"mergeInto: cannot restore $path after an interrupted swap")
    // an empty batch applies nothing: skip the full-table read + rewrite
    // + two-rename swap (and its crash window) it would otherwise pay —
    // streaming restarts routinely deliver zero-row micro-batches
    if (batchEmpty) return
    // before the swap loses the shard summary
    val summary = ShardSummary.read(spark, path)
    val merged =
      if (fs.exists(p)) graft.operators.Relational.upsert(spark.read.parquet(path), latest, key)
      else latest
    val tmp = new Path(p.getParent, s".${p.getName}.merge.tmp")
    fs.delete(tmp, true)
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(bak, true)
    val hadTable = fs.exists(p)
    if (hadTable && !fs.rename(p, bak)) sys.error(s"mergeInto: cannot move $p aside")
    if (!fs.rename(tmp, p)) {
      if (hadTable) fs.rename(bak, p) // restore — never leave the table missing
      sys.error(s"mergeInto: cannot swap in $tmp")
    }
    fs.delete(bak, true)
    resummarize(spark, path, summary)
  }

  /** Restore a table whose last mergeInto/compact died between its two
    * swap renames (table path missing, `.bak` snapshot present). Returns
    * true if a restore happened. */
  def recoverSwap(spark: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(s".${p.getName}.merge.bak", s".${p.getName}.compact.bak").exists { b =>
      val bak = new Path(p.getParent, b)
      !fs.exists(p) && fs.exists(bak) && fs.rename(bak, p)
    }
  }

  /** Compact a parquet directory to ~`targetBytes` files — the
    * small-files maintenance op every long-lived ingest needs: streaming
    * micro-batches and per-task writers leave thousands of KB-sized
    * files, and at 100 TB the file count (listing, per-file open cost,
    * one scan task per tiny file) dominates scan time long before data
    * size does.
    *
    * File count is sized from the table's actual on-disk bytes, and the
    * rewrite uses a round-robin `repartition(n)` — an even-width shuffle
    * with no skew risk (coalesce(n) is cheaper but inherits upstream
    * skew and can underfill). The rewrite goes through a temp directory
    * and an atomic-as-possible rename swap, never reading and
    * overwriting the same path in one job (Spark reads lazily — an
    * in-place overwrite truncates its own input mid-scan).
    *
    * Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal a previous compact (or merge) that died between its two swap
    // renames — without this a crashed compact leaves the table path
    // missing and a re-run throws a raw FileNotFoundException instead of
    // honoring the self-healing contract mergeInto documents
    if (!fs.exists(p) && !recoverSwap(spark, path))
      sys.error(s"compact: $path is missing and no swap snapshot exists to restore")
    def dataFiles(d: Path) =
      fs.listStatus(d).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val before = dataFiles(p)
    // flat directories only: on a hive-partitioned table (data files in
    // partition subdirs) a flat rewrite would silently demote partition
    // columns to data columns and destroy directory pruning; an empty
    // listing also covers the nothing-to-do case
    if (before.isEmpty) sys.error(
      s"compact: no top-level .parquet files in $path — " +
        "partitioned or empty table? compact() operates on flat directories")
    // before the swap loses the shard summary (see mergeInto)
    val summary = ShardSummary.read(spark, path)
    val totalBytes = before.map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = new Path(p.getParent, s".${p.getName}.compact.tmp")
    fs.delete(tmp, true)
    spark.read.parquet(path).repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val afterCount = dataFiles(tmp).length
    val bak = new Path(p.getParent, s".${p.getName}.compact.bak")
    fs.delete(bak, true)
    if (!fs.rename(p, bak)) sys.error(s"compact: cannot move $p aside")
    if (!fs.rename(tmp, p)) { // restore on failure — never leave the table missing
      fs.rename(bak, p)
      sys.error(s"compact: cannot swap in $tmp")
    }
    fs.delete(bak, true)
    resummarize(spark, path, summary)
    (before.length, afterCount)
  }

  /** After a whole-directory swap: the table's files just changed under
    * every listing, relation memo, view and cached segment over it, so
    * fire [[Tables.wrote]] once (external writers call
    * `HybridScan.invalidateListings` + `refreshByPath` themselves, the
    * REFRESH TABLE analog). The swap also moved the shard summary out
    * with the old directory and deleted it with the `.bak` snapshot, so
    * a table that had one (`kept`, read before the swap) gets it rebuilt
    * over the new files with the same zone columns (numeric and string)
    * and bloom keys — one pass, whose [[ShardSummary.rebuild]] fires the
    * hook even when it fails. The rebuild template is the parquet read:
    * the maintenance ops here rewrite flat parquet directories. */
  private def resummarize(spark: SparkSession, path: String,
      kept: Option[ShardSummary]): Unit = kept match {
    case Some(k) =>
      ShardSummary.rebuild(spark, path, TableSpec(
        new org.apache.hadoop.fs.Path(path).getName, "parquet", Nil, None),
        k.zoneCols, k.bloomKeys)
      ()
    case None => Tables.wrote(spark, path)
  }
}
