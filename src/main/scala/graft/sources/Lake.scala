package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TimeIndex
import graft.ts.TimeSeries

/** Time-partitioned lake layout: the storage shape a 100 TB series
  * store actually uses. Rows are written under `dt=YYYY-MM-DD/`
  * (derived from the canonical epoch-µs ts), so a time-range query
  * prunes whole partitions at planning time (PartitionFilters in the
  * scan) instead of reading 100 TB to filter it.
  */
object Lake {

  /** Write partitioned by UTC day (add more derived columns upstream
    * for coarser/finer grains).
    */
  def writeDaily(df: DataFrame, tsCol: String, path: String,
                 mode: String = "overwrite"): Unit =
    df.withColumn("dt", TimeIndex.dailyIndex(col(tsCol)))
      .write.mode(mode).partitionBy("dt").parquet(path)

  /** Read back; `dt` stays available for explicit partition predicates,
    * and [[cropDaily]] derives them from a time range automatically.
    */
  def read(spark: SparkSession, path: String, tsCol: String,
           keyCols: Seq[String] = Nil): TimeSeries =
    TimeSeries(Parquet.read(spark, path), tsCol, keyCols)

  /** Bucketed layout for co-located joins: two tables bucketed by the
    * same key into the same bucket count join (or groupBy that key)
    * with ZERO runtime exchange — the shuffle is paid once at write
    * time. This is the 100 TB answer to a fact-fact join that would
    * otherwise re-shuffle both full tables on every run. Bucket
    * metadata lives in the session catalog, so the destination is a
    * table name, not a path; `sortBy` additionally pre-sorts each
    * bucket so sort-merge joins skip their sort.
    */
  def writeBucketed(df: DataFrame, keyCol: String, nBuckets: Int,
                    table: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .bucketBy(nBuckets, keyCol).sortBy(keyCol)
      .format("parquet").saveAsTable(table)

  /** Incrementally-maintained rollup table (materialized-view
    * maintenance): per (key, window) the PARTIAL aggregate state —
    * cnt, exact decimal sum, min, max — stored partitioned by the
    * window's UTC day. Because the stored state is the partial, not
    * the finalized average, merging new or late data is EXACT and
    * touches only the affected day partitions: partials are
    * mergeable (sum of sums, min of mins), so maintenance cost is
    * the new batch + the days it lands in — history is never
    * re-scanned. [[readRollup]] finalizes (avg = sum/cnt) at read.
    */
  def mergeIntoRollup(df: DataFrame, tsCol: String, valCol: String,
                      keyCols: Seq[String], win: String,
                      path: String): Unit = {
    val spark = df.sparkSession
    val newPart = rollupPartials(df, tsCol, valCol, keyCols, win)
    val existing =
      try {
        val prior = Parquet.read(spark, path)
        // planning-time partition pruning: only the days the new
        // batch touches are read back for the merge
        val days = newPart.select("dt").distinct()
          .collect().map(_.getString(0))
        prior.where(col("dt").isin(days.toSeq: _*))
      } catch {
        case _: org.apache.spark.sql.AnalysisException => // first write
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            newPart.schema)
      }
    val merged = existing.unionByName(newPart)
      .groupBy((keyCols.map(col) :+ col("idx") :+ col("ts_begin") :+
        col("dt")): _*)
      .agg(sum(col("cnt")).as("cnt"), sum(col("vsum")).as("vsum"),
        min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"))
    overwriteDays(merged, path)
  }

  /** Replace only the `dt` partitions present in `df`. Dynamic
    * partition overwrite is a write option, which Spark prefers over
    * the session conf, so concurrent writers on one session cannot
    * flip each other into a static overwrite of the whole table.
    */
  private def overwriteDays(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("dt").parquet(path)

  private def rollupPartials(df: DataFrame, tsCol: String, valCol: String,
                             keyCols: Seq[String], win: String): DataFrame = {
    val beginUs = TimeIndex.posOf(col(tsCol), win) *
      lit(TimeIndex.durationMs(win) * 1000L)
    df.groupBy((keyCols.map(col) :+
        TimeIndex.indexOf(col(tsCol), win).as("idx")): _*)
      .agg(count(col(valCol)).as("cnt"),
        sum(col(valCol).cast("decimal(38,6)")).as("vsum"),
        min(col(valCol)).as("vmin"), max(col(valCol)).as("vmax"),
        min(beginUs).as("ts_begin"))
      .withColumn("dt", TimeIndex.dailyIndex(col("ts_begin")))
  }

  /** Finalize the stored partials: avg at 6dp (the Aggs.avg6
    * convention), exact decimal sum, min/max, count.
    */
  def readRollup(spark: SparkSession, path: String,
                 keyCols: Seq[String]): DataFrame =
    Parquet.read(spark, path)
      .select((keyCols.map(col) :+ col("idx") :+ col("ts_begin") :+
        col("cnt") :+ col("vsum").cast("double").as("sum_value") :+
        round(col("vsum").cast("double") / col("cnt"), 6).as("avg_value") :+
        col("vmin").as("min_value") :+ col("vmax").as("max_value")): _*)

  /** Backfill: replace ONLY the UTC-day partitions present in `df`,
    * leaving every other day's files untouched — the late-data /
    * correction path a daily-partitioned 100 TB lake needs (a static
    * overwrite would truncate the whole table to relay one day).
    */
  def backfillDaily(df: DataFrame, tsCol: String, path: String): Unit =
    overwriteDays(df.withColumn("dt", TimeIndex.dailyIndex(col(tsCol))), path)

  /** Small-file compaction, scoped to the named UTC-day partitions: a
    * streaming ingest (or many tiny backfills) leaves a day's data as
    * hundreds of KB-sized files, and at 100 TB the scan's task-per-file
    * overhead dominates I/O. Each listed day is rewritten as
    * `filesPerDay` files; every other day's files are untouched
    * ([[backfillDaily]]'s dynamic partition overwrite). The day's rows
    * are eagerly localCheckpoint'd first — severing the plan from the
    * files about to be replaced (Spark refuses a direct
    * read-and-overwrite of the same location) — then coalesced, so the
    * rewrite itself shuffles nothing. Days compact independently: at
    * real scale, schedule them as parallel jobs.
    */
  def compactDaily(spark: SparkSession, path: String, days: Seq[String],
                   filesPerDay: Int = 1): Unit =
    days.foreach { day =>
      overwriteDays(Parquet.read(spark, path).where(col("dt") === day)
        .localCheckpoint()
        .coalesce(filesPerDay), path)
    }

  /** Streaming ingest INTO the daily-partitioned layout: an unbounded
    * event stream lands under the same `dt=YYYY-MM-DD/` directories
    * batch writes use, so downstream time-range queries prune the
    * live table identically, and [[compactDaily]] repairs the
    * small-file fragmentation a micro-batch cadence leaves behind.
    * Exactly-once files via the parquet sink's checkpoint + commit
    * log; the query is returned unstarted-awaitable (caller manages
    * lifecycle).
    */
  def streamAppendDaily(stream: DataFrame, tsCol: String, path: String,
                        checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.withColumn("dt", TimeIndex.dailyIndex(col(tsCol)))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("dt")
      .start()

  /** File-level min/max manifest — Iceberg-style data skipping for
    * columns the directory layout does NOT encode. Partition pruning
    * only helps the time axis; a key-scoped query (one series, one
    * tenant) still lists and reads every file of the matching days.
    * The manifest is one tiny parquet table with a row per data file
    * carrying (min, max) of the requested columns, stored under
    * `_graft_manifest/` (the underscore prefix keeps every normal
    * reader from picking it up as data). Re-run after
    * [[backfillDaily]] / [[compactDaily]] rewrite files — the
    * manifest describes files, so replacing files stales it.
    *
    * Write-side locality is the caller's lever: range-partition by
    * the stats column before [[writeDaily]] and each file covers a
    * narrow value band, so a point/range query skips nearly all of
    * them; random layout degrades skipping, never correctness.
    */
  def writeManifest(spark: SparkSession, path: String,
                    statsCols: Seq[String]): Unit = {
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    Parquet.read(spark, path)
      .groupBy(col("_metadata.file_path").as("file_path"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_graft_manifest")
  }

  /** Manifest-pruned read: keep only files whose [min_c, max_c] band
    * intersects [lo, hi], then scan just those (basePath preserves the
    * `dt` partition column). The manifest query is metadata-scale —
    * one row per file — so the driver-side path collect is the same
    * O(#files) planning cost every table format's pruning pays; the
    * row-level predicate still applies (and pushes down) inside the
    * surviving files.
    */
  def readManifestPruned(spark: SparkSession, path: String, c: String,
                         lo: Any, hi: Any): DataFrame = {
    import spark.implicits._
    val paths = Parquet.read(spark, s"$path/_graft_manifest")
      .where(col(s"min_$c") <= lit(hi) && col(s"max_$c") >= lit(lo))
      .select("file_path").as[String].collect().toSeq
    val pred = col(c) >= lit(lo) && col(c) <= lit(hi)
    if (paths.isEmpty)
      Parquet.readUnder(spark, path, path).where(lit(false))
    else
      Parquet.readUnder(spark, path, paths: _*).where(pred)
  }

  /** Z-order (Morton-curve) clustered rewrite: interleave the bits of
    * each clustering column's 16-bit rank code and range-partition +
    * sort the table by the resulting curve position, so EVERY
    * clustering column's per-file [min,max] band is narrow at once —
    * the multi-column file-skipping layout a single-column range
    * partition can't give (sorting by A leaves B's bands full-width
    * in every file). Writes the flat clustered layout plus its
    * [[writeManifest]] stats, so [[readManifestPruned]] on ANY zCol
    * skips ~(1 - 1/2^(16/d))-grade file fractions instead of scanning
    * everything. The d-dim curve trades per-column locality: with d
    * columns each file's band per column is ~|range|/files^(1/d).
    *
    * Codes are min/max-scaled (one 1-row stats agg, planning-scale
    * driver collect): monotone, deterministic, and cheap; heavy skew
    * degrades skipping (codes crowd one band) but never correctness —
    * the row-level predicate still applies inside surviving files.
    * The interleave is pure shift/and/or over longs — whole-stage
    * codegen keeps it in the scan stage; the only data movement is
    * the range shuffle every clustered rewrite pays by definition.
    */
  def writeZOrdered(df: DataFrame, zCols: Seq[String], path: String,
                    nFiles: Int): Unit = {
    require(zCols.nonEmpty && zCols.length <= 4,
      "z-order supports 1..4 clustering columns (16 bits each)")
    val d = zCols.length
    val spark = df.sparkSession
    val aggExprs = zCols.flatMap(c => Seq(min(col(c).cast("double")),
      max(col(c).cast("double"))))
    val stats = df.agg(aggExprs.head, aggExprs.tail: _*).head()
    val codes = zCols.zipWithIndex.map { case (c, i) =>
      val empty = stats.isNullAt(2 * i)
      val lo = if (empty) 0.0 else stats.getDouble(2 * i)
      val hi = if (empty) 0.0 else stats.getDouble(2 * i + 1)
      if (hi <= lo) lit(0L)
      else least(greatest(floor((col(c).cast("double") - lit(lo)) /
        lit(hi - lo) * lit(65535.0)).cast("long"), lit(0L)), lit(65535L))
    }
    val z = (0 until 16).flatMap { j =>
      codes.zipWithIndex.map { case (code, i) =>
        shiftleft(shiftright(code, j).bitwiseAND(lit(1L)), j * d + i)
      }
    }.reduce(_ bitwiseOR _)
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    writeManifest(spark, path, zCols)
  }

  // --- snapshot versioning (time travel) -----------------------------

  /** Commit `df` as the next snapshot VERSION of the table at `path` —
    * Iceberg/Delta-style time travel over plain parquet. Each commit
    * writes its data files under an immutable `data/sNNNNN/` subdir
    * and freezes the version's COMPLETE live-file list as a manifest
    * under `_graft_snapshots/v=N`; commits never rewrite or delete
    * earlier data files, so every prior version stays readable and
    * bit-stable forever ([[readSnapshot]] at version v scans exactly
    * v's frozen file list). Returns the committed version number.
    *
    * Scale posture: the manifest is metadata-scale (one row per file
    * — the planning cost every table format pays); commit cost is the
    * new batch's write plus a manifest union, independent of table
    * history. Single-writer semantics (no commit-conflict protocol) —
    * the coordination layer a real catalog adds is out of scope.
    */
  /** Reclaim an orphaned data dir from a commit that died between the
    * data write and the manifest write. Version v's dir can only be
    * referenced once manifest v exists — and v is always computed as
    * last committed + 1 — so a pre-existing `data/sNNNNN` for v is BY
    * CONSTRUCTION uncommitted garbage from a failed attempt: deleting
    * it makes the retry (e.g. a replayed foreachBatch epoch) succeed
    * instead of wedging forever on write.mode("error").
    */
  private def reclaimOrphan(spark: SparkSession, dataDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dataDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  def snapshotAppend(df: DataFrame, path: String): Int = {
    val spark = df.sparkSession
    val v = snapshotVersions(spark, path).lastOption.getOrElse(0) + 1
    val dataDir = s"$path/data/s${"%05d".format(v)}"
    reclaimOrphan(spark, dataDir)
    df.write.mode("error").parquet(dataDir)
    val newFiles = Parquet.read(spark, dataDir)
      .select(col("_metadata.file_path").as("file_path")).distinct()
    val manifest =
      if (v == 1) newFiles
      else Parquet.read(spark, s"$path/_graft_snapshots/v=${v - 1}")
        .unionByName(newFiles)
    // a crash between manifest-dir creation and _SUCCESS leaves a
    // partial v=N dir that snapshotVersions (rightly) ignores — the
    // retry recomputes the same v, so the orphan must be reclaimed or
    // every retried append (incl. streamMergeInto's bootstrap replay)
    // wedges forever on the mode("error") write
    reclaimOrphan(spark, s"$path/_graft_snapshots/v=$v")
    manifest.coalesce(1).write.mode("error")
      .parquet(s"$path/_graft_snapshots/v=$v")
    v
  }

  /** The committed snapshot versions at `path`, ascending. A version
    * counts only once its manifest write FINISHED (`_SUCCESS` marker):
    * a manifest dir left by a crash mid-write must stay invisible, so
    * the retry recomputes the same version number and
    * [[reclaimOrphan]] clears the partial dir instead of the table
    * advancing past a corrupt manifest.
    */
  def snapshotVersions(spark: SparkSession, path: String): Seq[Int] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(path, "_graft_snapshots")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(st => fs.exists(new Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.drop(2).toInt).sorted
  }

  /** Read the table AS OF snapshot `version` (latest when <= 0):
    * scans exactly the frozen file list of that version, so the
    * result is unaffected by any later [[snapshotAppend]].
    */
  /** Copy-on-write row-level DELETE committed as a new snapshot
    * version (the Iceberg/Delta GDPR-delete shape): only data files
    * that actually CONTAIN matching rows are rewritten — file-level
    * skipping via a per-file match probe — while untouched files
    * carry into the new manifest BY REFERENCE, and every prior
    * version stays readable (time travel still shows the deleted
    * rows until [[expireSnapshots]] retires it). Commit cost is
    * O(matching files), not a table rewrite: at 100 TB a delete
    * touching one user's rows rewrites only the files their rows
    * live in.
    *
    * Rows where the predicate is TRUE are deleted; false/null rows
    * survive (SQL DELETE semantics). Returns the new version.
    */
  def snapshotDeleteWhere(spark: SparkSession, path: String,
                          predicate: Column): Int = {
    import spark.implicits._
    val vs = snapshotVersions(spark, path)
    require(vs.nonEmpty, s"no snapshots at $path")
    val v = vs.last + 1
    val files = Parquet.read(spark, s"$path/_graft_snapshots/v=${vs.last}")
      .select("file_path").as[String].collect().toSeq
    val cur = Parquet.read(spark, files: _*)
      .withColumn("__file", col("_metadata.file_path"))
    // the hit-file list is metadata-scale (one entry per matched FILE,
    // the planning cost every table format pays) — collected once,
    // used twice: set arithmetic for the carried manifest entries, and
    // the SCAN PATH LIST for the rewrite. Re-reading exactly the hit
    // files keeps the rewrite O(matching files) without an `isin`
    // literal over 10^5 paths (a 10^5-term In the planner would have
    // to carry through every rule pass)
    val hit = cur.where(predicate).select("__file").distinct()
      .as[String].collect().toSet
    val kept = files.filterNot(hit)
    val rewritten: Seq[String] =
      if (hit.isEmpty) Nil
      else {
        val dataDir = s"$path/data/s${"%05d".format(v)}"
        reclaimOrphan(spark, dataDir)
        Parquet.read(spark, hit.toSeq: _*)
          .where(!(predicate <=> lit(true)))
          .write.mode("error").parquet(dataDir)
        Parquet.read(spark, dataDir)
          .select(col("_metadata.file_path")).distinct()
          .as[String].collect().toSeq
      }
    reclaimOrphan(spark, s"$path/_graft_snapshots/v=$v")
    (kept ++ rewritten).toDF("file_path")
      .coalesce(1).write.mode("error")
      .parquet(s"$path/_graft_snapshots/v=$v")
    v
  }

  /** Copy-on-write UPSERT (the Iceberg/Delta `MERGE INTO … WHEN
    * MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT` shape)
    * committed as a new snapshot version: rows of `updates` whose
    * `keyCol` exists in the current snapshot REPLACE the stored rows,
    * brand-new keys INSERT, and — like [[snapshotDeleteWhere]] — only
    * data files that actually CONTAIN a matched key are rewritten
    * (per-file probe via a semi-join on the update keys; the join
    * strategy is left to AQE, because this is also the batch MERGE
    * API: a CDC micro-batch's key set broadcasts at runtime, while a
    * dimension-refresh backfill with 10^7+ keys would OOM a pinned
    * broadcast — the minhashClusters treatment);
    * untouched files carry into the new manifest BY REFERENCE and
    * every prior version stays readable. Commit cost is O(matching
    * files + |updates|), never a table rewrite — the CDC-apply /
    * dimension-refresh shape at 100 TB.
    *
    * `updates` must carry the full row schema including the key
    * column(s), with at most one row per key (standard MERGE
    * cardinality — two updates for one key would be
    * order-nondeterministic). The `Seq[String]` overload matches on a
    * COMPOSITE key (e.g. (tenant_id, entity_id) — the usual
    * multi-tenant CDC shape). Returns the new version.
    */
  def snapshotMergeInto(spark: SparkSession, path: String,
                        updates: DataFrame, keyCol: String): Int =
    snapshotMergeInto(spark, path, updates, Seq(keyCol))

  def snapshotMergeInto(spark: SparkSession, path: String,
                        updates: DataFrame, keyCols: Seq[String]): Int = {
    import spark.implicits._
    require(keyCols.nonEmpty, "snapshotMergeInto needs >= 1 key column")
    val vs = snapshotVersions(spark, path)
    require(vs.nonEmpty, s"no snapshots at $path")
    val v = vs.last + 1
    val files = Parquet.read(spark, s"$path/_graft_snapshots/v=${vs.last}")
      .select("file_path").as[String].collect().toSeq
    val cur = Parquet.read(spark, files: _*)
      .withColumn("__file", col("_metadata.file_path"))
    val keys = updates.select(keyCols.map(col): _*).distinct()
      .localCheckpoint(false)
    val hit = cur.join(keys, keyCols, "left_semi")
      .select("__file").distinct().as[String].collect().toSet
    val kept = files.filterNot(hit)
    // new data region = hit-file rows whose key was NOT updated, plus
    // every update row (matched rows replace, new keys insert). The
    // hit-file rows come from a re-read of EXACTLY the matched files —
    // O(matching files) I/O with no `isin` literal over file paths
    // (see the snapshotDeleteWhere note)
    // the rewrite schema is the TABLE schema carried on `cur` (read
    // from the first current file's footer), selected explicitly —
    // inferring it from only the matched files tied the rewrite to
    // whichever files
    // happened to match, and a hit-file re-read missing a column the
    // table has would silently drop it from the rewritten region
    // (ADVICE r14). The snapshot layer does not support add-column
    // evolution (unionByName throws on a widened batch by contract),
    // so selecting the carried schema is total on every current file.
    val tableCols = cur.drop("__file").columns.toSeq
    val hitRows =
      if (hit.isEmpty) cur.drop("__file").where(lit(false))
      else Parquet.read(spark, hit.toSeq: _*).select(tableCols.map(col): _*)
    val newData = hitRows
      .join(keys, keyCols, "left_anti")
      .unionByName(updates.select(tableCols.map(col): _*))
    val rewritten: Seq[String] =
      if (newData.isEmpty) Nil
      else {
        val dataDir = s"$path/data/s${"%05d".format(v)}"
        reclaimOrphan(spark, dataDir)
        newData.write.mode("error").parquet(dataDir)
        Parquet.read(spark, dataDir)
          .select(col("_metadata.file_path")).distinct()
          .as[String].collect().toSeq
      }
    reclaimOrphan(spark, s"$path/_graft_snapshots/v=$v")
    (kept ++ rewritten).toDF("file_path")
      .coalesce(1).write.mode("error")
      .parquet(s"$path/_graft_snapshots/v=$v")
    v
  }

  /** OPTIMIZE-style snapshot compaction: rewrite the CURRENT live file
    * set into `nFiles` size-targeted files, committed as a new
    * snapshot version with UNTOUCHED content — the coalesce is a
    * shuffle-free file merge, and because the rewrite lands in a fresh
    * immutable `data/sNNNNN/` dir, every prior version (including the
    * one just compacted) stays readable until [[expireSnapshots]]
    * retires it. This is the small-file repair a [[streamMergeInto]]
    * cadence needs: each micro-batch commit adds a tiny data dir, and
    * at 100 TB a scan's task-per-file overhead dominates I/O long
    * before the bytes do. Returns the new version.
    */
  def compactSnapshot(spark: SparkSession, path: String,
                      nFiles: Int = 1): Int = {
    import spark.implicits._
    val vs = snapshotVersions(spark, path)
    require(vs.nonEmpty, s"no snapshots at $path")
    val v = vs.last + 1
    val files = Parquet.read(spark, s"$path/_graft_snapshots/v=${vs.last}")
      .select("file_path").as[String].collect().toSeq
    val dataDir = s"$path/data/s${"%05d".format(v)}"
    reclaimOrphan(spark, dataDir)
    Parquet.read(spark, files: _*)
      .coalesce(nFiles)
      .write.mode("error").parquet(dataDir)
    val newFiles = Parquet.read(spark, dataDir)
      .select(col("_metadata.file_path")).distinct()
      .as[String].collect().toSeq
    reclaimOrphan(spark, s"$path/_graft_snapshots/v=$v")
    newFiles.toDF("file_path")
      .coalesce(1).write.mode("error")
      .parquet(s"$path/_graft_snapshots/v=$v")
    v
  }

  /** Streaming CDC apply: each micro-batch upserts into the snapshot
    * table via [[snapshotMergeInto]] from a foreachBatch sink. Within
    * a batch, `seqCol` (a change-sequence / event-time column) picks
    * the LATEST row per key deterministically — a CDC feed routinely
    * carries several changes for one key per trigger. The table is
    * bootstrapped by the first non-empty batch.
    *
    * Replay safety: an upsert re-applied replaces rows with
    * themselves, so a retried micro-batch (foreachBatch is
    * at-least-once) leaves the table CONTENT identical — it can only
    * add a redundant version, which [[expireSnapshots]] retires.
    * Cross-batch ordering rides the source's order; a key whose later
    * change arrived in an earlier TRIGGER is the usual CDC upstream
    * contract, not something the sink can repair.
    *
    * Tiebreak contract: with the default `tiebreakCols = Nil` every
    * non-key/non-seq column participates in the equal-seq tiebreak
    * sort, which requires every payload column to be ORDERABLE — a
    * batch carrying a MapType (or a nested struct containing one)
    * fails at analysis time inside foreachBatch. Such feeds pass an
    * explicit `tiebreakCols` list: orderable columns that uniquely
    * order equal-seq changes per key (an ambiguous explicit list
    * reintroduces the partition-order dependence the default exists
    * to prevent).
    *
    * Maintenance: `compactEvery > 0` runs [[compactSnapshot]] (into
    * `compactNFiles` files) + [[expireSnapshots]] (keeping `keepLast`
    * versions) after every `compactEvery`-th micro-batch — without
    * it a long-running stream accumulates one manifest and one
    * small-file data dir PER TRIGGER, unboundedly. Both maintenance
    * ops commit content-identical state, so a replayed maintenance
    * batch stays content-idempotent like the merge itself.
    */
  def streamMergeInto(updates: DataFrame, path: String, keyCol: String,
                      seqCol: String, checkpointDir: String,
                      tiebreakCols: Seq[String] = Nil,
                      compactEvery: Int = 0, keepLast: Int = 2,
                      compactNFiles: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamMergeInto(updates, path, Seq(keyCol), seqCol, checkpointDir,
      tiebreakCols, compactEvery, keepLast, compactNFiles)

  /** Composite-key variant (e.g. (tenant_id, entity_id) — the usual
    * multi-tenant CDC shape); all parameters explicit.
    */
  def streamMergeInto(updates: DataFrame, path: String,
                      keyCols: Seq[String], seqCol: String,
                      checkpointDir: String, tiebreakCols: Seq[String],
                      compactEvery: Int, keepLast: Int,
                      compactNFiles: Int)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        // tiebreak on every remaining column: two changes for one key
        // with EQUAL seq (same txn LSN is routine in CDC feeds) must
        // pick a winner that is a pure function of the row VALUES —
        // a bare seq sort is partition-order-dependent, so a replayed
        // batch could commit a different row and break the
        // content-idempotence contract above
        val tbCols =
          if (tiebreakCols.nonEmpty) tiebreakCols
          else mb.columns.filter(c => c != seqCol && !keyCols.contains(c))
            .sorted.toSeq
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy(col(seqCol).desc +: tbCols.map(c => col(c).asc): _*)
        val latest = mb
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn", seqCol)
        if (!latest.isEmpty) {
          if (snapshotVersions(mb.sparkSession, path).isEmpty)
            snapshotAppend(latest, path)
          else snapshotMergeInto(mb.sparkSession, path, latest, keyCols)
        }
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0 &&
            snapshotVersions(mb.sparkSession, path).nonEmpty) {
          compactSnapshot(mb.sparkSession, path, compactNFiles)
          expireSnapshots(mb.sparkSession, path, keepLast)
        }
        ()
      }
      .start()

  /** Snapshot RETENTION: drop all but the newest `keepLast` versions,
    * deleting their manifests and every data file no SURVIVING
    * version references. The time-travel window shrinks; current
    * reads are bit-stable (kept manifests are untouched). Reference
    * counting is set arithmetic over the file manifests — metadata
    * scale, independent of data size. Returns the number of data
    * files physically deleted.
    */
  def expireSnapshots(spark: SparkSession, path: String,
                      keepLast: Int = 1): Int = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val vs = snapshotVersions(spark, path)
    val (drop, keep) = vs.splitAt(math.max(0, vs.size - math.max(1, keepLast)))
    if (drop.isEmpty) return 0
    def filesOf(v: Int): Set[String] =
      Parquet.read(spark, s"$path/_graft_snapshots/v=$v")
        .select("file_path").as[String].collect().toSet
    val referenced = keep.map(filesOf).foldLeft(Set.empty[String])(_ ++ _)
    val retired = drop.map(filesOf).foldLeft(Set.empty[String])(_ ++ _)
    val doomed = retired -- referenced
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    doomed.foreach(f => fs.delete(new Path(f), false))
    drop.foreach(v =>
      fs.delete(new Path(s"$path/_graft_snapshots/v=$v"), true))
    doomed.size
  }

  def readSnapshot(spark: SparkSession, path: String,
                   version: Int = -1): DataFrame = {
    import spark.implicits._
    val v = if (version > 0) version
      else snapshotVersions(spark, path).lastOption.getOrElse(
        sys.error(s"no snapshots at $path"))
    val files = Parquet.read(spark, s"$path/_graft_snapshots/v=$v")
      .select("file_path").as[String].collect().toSeq
    Parquet.read(spark, files: _*)
  }

  /** Range-crop that ALSO constrains the partition column, so the
    * filter prunes directories, then the row-level ts predicate
    * (pushed to parquet) trims the edge partitions.
    */
  def cropDaily(t: TimeSeries, beginUs: Long, endUs: Long): TimeSeries = {
    val beginDay = java.time.Instant.ofEpochMilli(beginUs / 1000)
      .toString.substring(0, 10)
    val endDay = java.time.Instant.ofEpochMilli(endUs / 1000)
      .toString.substring(0, 10)
    t.copy(df = t.df
      .where(col("dt") >= beginDay && col("dt") <= endDay)
      .where(col(t.tsCol) >= beginUs && col(t.tsCol) <= endUs))
  }
}
