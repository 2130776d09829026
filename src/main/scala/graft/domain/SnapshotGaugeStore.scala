package graft.domain

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** [[GaugeStore]] with the FACT tables (`gauge_data`, `model_data`)
  * backed by manifest-log [[SnapshotTable]]s instead of Hive-style
  * partition directories — the object-store deployment the base
  * class's scaladoc defers to (its park-and-swap protocol needs
  * atomic DIRECTORY rename; the manifest log needs only
  * create-if-absent on one small file), plus what the log buys on any
  * filesystem: snapshot-isolated readers during rewrites, time
  * travel, CDC ([[SnapshotTable.diff]]), and metadata-only scan
  * pruning from per-file `obs_day`/`run_day` stats in place of
  * directory pruning (the reference pipeline's read scopes,
  * get_obs_timeseries_station_data.sql:24, prune identically either
  * way — BETWEEN on the day number vs. directory names).
  *
  * Dimension and ledger tables stay plain parquet: they are
  * O(#stations)/O(#files)-sized, rewritten through the driver, and
  * gain nothing from a manifest log.
  *
  * The multi-table [[atomicCommit]] keeps its exact CLI surface; only
  * [[publishCommit]] changes: staged fact parquet becomes ONE tagged
  * manifest commit (tag = commit id), so a crash-rerun of a stranded
  * commit is idempotent through [[SnapshotTable.appendIfAbsent]]
  * rather than through unique part-file names.
  *
  * Daily rollup maintenance is CDC-DRIVEN here: instead of the base
  * class's staleness scan (two control-plane aggregates over fact and
  * rollup), [[rollupDaily]] diffs the fact table since the version the
  * rollup last reflected and rebuilds exactly the (source, date)
  * groups the CDC touched — on append-only ranges the diff reads only
  * the NEW files, so a day's ingest costs a day's scan at any table
  * size. OHLC open/close/high/low are rebuilt per group, not
  * incrementally folded — deletes can invalidate extrema without a
  * rescan, so group-scoped recompute is the correct maintenance
  * algebra for them (COUNT/SUM-only states can use
  * [[graft.sources.IncrementalAgg]] instead).
  */
class SnapshotGaugeStore(spark2: SparkSession, root2: String)
    extends GaugeStore(spark2, root2) {

  /** The manifest-log fact tables. Public: callers get time travel /
    * diff / history on the facts through the standard snapshot API. */
  lazy val gaugeTable = new SnapshotTable(spark, path("gauge_data"))
  lazy val modelTable = new SnapshotTable(spark, path("model_data"))

  private def dayOf(date: String): Long =
    java.time.LocalDate.parse(date.take(10)).toEpochDay

  /** Fact rows + the derived columns the snapshot fact carries:
    * `data_source_part`/`obs_date` exactly like the base layout (so
    * rollup grouping and scoped repairs read identically) plus
    * `obs_day` (epoch day, LONG) — the manifest-stat pruning key that
    * replaces directory pruning. */
  private def withGaugeParts(df: DataFrame, dataSource: String): DataFrame =
    df.withColumn("data_source_part", lit(dataSource))
      .withColumn("obs_date", to_date(col("time")))
      .withColumn("obs_day", unix_date(to_date(col("time"))).cast("long"))

  private def withModelParts(df: DataFrame): DataFrame =
    df.withColumn("run_date", to_date(col("timemark")))
      .withColumn("run_day", unix_date(to_date(col("timemark"))).cast("long"))

  override def appendGaugeData(df: DataFrame, dataSource: String): Unit = {
    // data_source_part is a per-append literal, so every staged file
    // records lo == hi string bounds — a later source-scoped
    // maintenance op prunes other sources' files from METADATA alone
    // (11-source store, one-source dedup: 1/11th of the candidate IO)
    gaugeTable.appendWithStats(withGaugeParts(df, dataSource),
      Seq("obs_day", "data_source_part"))
    ()
  }

  override def gaugeData: DataFrame =
    gaugeTable.read().drop("data_source_part", "obs_date", "obs_day")

  /** File-pruned fact scan: the manifest `obs_day` stats bound IO the
    * way obs_date directory pruning does in the base layout; the
    * row-level day predicate still applies downstream. */
  override def gaugeDataForRange(startDate: String, endDate: String): DataFrame = {
    val (lo, hi) = (dayOf(startDate), dayOf(endDate))
    gaugeTable.readPruned("obs_day", lo, hi)
      .filter(col("obs_day").between(lo, hi))
      .drop("data_source_part", "obs_date", "obs_day")
  }

  override def hasGaugeData: Boolean = gaugeTable.currentVersion > 0

  /** Scoped keep-latest repair as a copy-on-write snapshot commit:
    * only the files whose `obs_day` stats intersect the scope are
    * rewritten (out-of-scope ROWS inside them are carried through
    * untouched); everything else stays shared with older snapshots.
    * Conflicts with a concurrent keyed commit re-resolve and retry —
    * the loser recomputes against the new head. */
  override def compactGaugeData(
      scope: Option[(String, String)] = None,
      dataSource: Option[String] = None): Unit = {
    if (!hasGaugeData) return
    var attempt = 0
    while (attempt < 20) {
      val base = gaugeTable.currentVersion
      val dayPruned = scope match {
        case Some((lo, hi)) =>
          gaugeTable.prunedFiles("obs_day", dayOf(lo), dayOf(hi), Some(base))
        case None => gaugeTable.files(Some(base))
      }
      // a data-source scope narrows the FILE set too: first from the
      // manifest's data_source_part string stats (metadata-only —
      // append-time files carry lo == hi source bounds), then one
      // column-pruned content scan over the survivors for exactness
      // (compaction-rewritten files can mix sources; stat-less legacy
      // files are kept by the prune and resolved by the scan) —
      // otherwise a one-source dedup on an 11-source store rewrites
      // every file of the table
      val affected = (dataSource, dayPruned.nonEmpty) match {
        case (Some(ds), true) =>
          val fs = fsys
          val srcPruned = gaugeTable
            .prunedFilesEq("data_source_part", ds, Some(base)).toSet
          val candidates = dayPruned.filter(srcPruned.contains)
          if (candidates.isEmpty) Nil
          // __src_file, not input_file_name(): the latter returns ""
          // above a deletion-vector anti-join (see readFilesWithSource)
          else gaugeTable.readFilesWithSource(candidates, Some(base))
            .filter(col("data_source_part") === ds)
            .select(col("__src_file").as("__f")).distinct().collect()
            .map(r => fs.makeQualified(
              new org.apache.hadoop.fs.Path(r.getString(0))).toString).toSeq
        case _ => dayPruned
      }
      if (affected.isEmpty) return
      // schema-pinned read: footer sampling could drop a later-added
      // measure column from the rewrite
      val rows = gaugeTable.readFiles(affected, Some(base))
      val inScope = Seq(
        scope.map { case (lo, hi) => col("obs_day").between(dayOf(lo), dayOf(hi)) },
        dataSource.map(ds => col("data_source_part") === ds)
      ).flatten.reduceOption(_ && _).getOrElse(lit(true))
      val deduped = graft.operators.KeepLatestDedup(
        rows.filter(inScope),
        keys = Seq("source_id", "time"), precedence = Seq(col("timemark")))
      val replacement = rows.filter(!coalesce(inScope, lit(false)))
        .unionByName(deduped)
      try {
        gaugeTable.replaceFiles(base, affected, replacement,
          Seq("obs_day", "data_source_part"))
        return
      } catch {
        case _: SnapshotTable.CommitConflict =>
          attempt += 1
          Thread.sleep(math.min(1600L, 25L << math.min(attempt, 6)) +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(50))
      }
    }
    sys.error(s"compactGaugeData lost 20 recompute rounds on $root")
  }

  override def appendModelData(df: DataFrame): Unit = {
    modelTable.appendWithStats(withModelParts(df), Seq("run_day"))
    ()
  }

  override def modelData: DataFrame =
    modelTable.read().drop("run_date", "run_day")

  override def modelDataForTimemark(timemark: String): DataFrame = {
    val d = dayOf(timemark)
    modelTable.readPruned("run_day", d, d)
      .filter(col("run_date") === to_date(lit(timemark)))
      .drop("run_date", "run_day")
  }

  override def modelDataForRange(startDate: String, endDate: String,
      horizonDays: Int = 35): DataFrame = {
    requireHorizon(horizonDays)
    val (lo, hi) = (dayOf(startDate) - horizonDays, dayOf(endDate) + horizonDays)
    modelTable.readPruned("run_day", lo, hi)
      .filter(col("run_day").between(lo, hi))
      .drop("run_date", "run_day")
  }

  override def hasModelData: Boolean = modelTable.currentVersion > 0

  /** Rerun repair: replace the repaired run-dates' rows in one keyed
    * commit, preserving other runs' rows sharing the same files. The
    * repaired-run list is O(few) — one driver collect, like the base
    * class's partition swap loop. */
  override def swapModelRunDatePartitions(df: DataFrame): Unit = {
    val repaired = withModelParts(df)
    // a repair is per-run: null-timemark rows have no run to replace
    require(repaired.filter(col("run_day").isNull).limit(1).count() == 0,
      "swapModelRunDatePartitions: repair rows must carry a timemark")
    val days = repaired.select(col("run_day")).distinct()
      .collect().map(_.getLong(0))
    if (days.isEmpty) return
    var attempt = 0
    while (attempt < 20) {
      val base = modelTable.currentVersion
      val affected =
        if (modelTable.currentVersion == 0) Seq.empty
        else modelTable.prunedFiles("run_day", days.min, days.max, Some(base))
      if (affected.isEmpty) { appendModelData(df); return }
      val rows = modelTable.readFiles(affected, Some(base))
      // null-safe keep-predicate: a co-located row with NULL run_day
      // must be carried through, not silently dropped (NULL isin = NULL)
      val replacement = rows.filter(
        !coalesce(col("run_day").isin(days.toSeq: _*), lit(false)))
        .unionByName(repaired)
      try {
        modelTable.replaceFiles(base, affected, replacement, Seq("run_day"))
        return
      } catch {
        case _: SnapshotTable.CommitConflict =>
          attempt += 1
          Thread.sleep(math.min(1600L, 25L << math.min(attempt, 6)) +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(50))
      }
    }
    sys.error(s"swapModelRunDatePartitions lost 20 recompute rounds on $root")
  }

  /** Staged fact parquet publishes as ONE tagged manifest commit per
    * fact table (tag = atomic-commit id → idempotent crash re-runs);
    * ledgers and any other staged table fall through to the base
    * rename finalize. Deleting a fact staging subdir AFTER its tagged
    * commit keeps re-publication idempotent across every crash point:
    * crash before the tag lands → full re-run; after → the tag check
    * skips the fact and the remaining tables finalize. */
  override protected def publishCommit(
      committed: org.apache.hadoop.fs.Path): Unit = {
    val fs = fsys
    val commitId = committed.getName
    def publishFact(sub: String, table: SnapshotTable,
        derive: DataFrame => DataFrame, statCols: Seq[String]): Unit = {
      val staged = new org.apache.hadoop.fs.Path(committed, sub)
      if (fs.exists(staged)) {
        val df = derive(spark.read.parquet(staged.toString))
        if (table.committedTags.contains(s"commit-$commitId")) ()
        else {
          val v = table.appendIfAbsentWithStats(df, s"commit-$commitId", statCols)
          require(v.isDefined || table.committedTags.contains(s"commit-$commitId"))
        }
        fs.delete(staged, true)
      }
    }
    // staged partition dirs surface data_source_part/obs_date (and
    // run_date) as partition columns on read; only the pruning day
    // column is derived here. Gauge facts record data_source_part
    // string bounds too — this ingest path must match appendGaugeData,
    // or source-scoped maintenance loses its metadata prune for every
    // atomically-committed file
    publishFact("gauge_data", gaugeTable,
      df => df.withColumn("obs_day", unix_date(to_date(col("time"))).cast("long")),
      Seq("obs_day", "data_source_part"))
    publishFact("model_data", modelTable,
      df => df.withColumn("run_day", unix_date(to_date(col("timemark"))).cast("long")),
      Seq("run_day"))
    finalizeCommit(committed)
  }

  // ---- CDC-driven rollup maintenance ------------------------------

  private def rollupVersionPath = new org.apache.hadoop.fs.Path(
    path("gauge_rollup_daily_version"))

  /** A missing/corrupt marker degrades to 0 — a FULL rebuild of every
    * live (source, date) group, which is slow but idempotent and
    * self-healing; throwing here would wedge rollup maintenance until
    * an operator deleted the file by hand. */
  private def rollupVersion: Int = {
    val fs = fsys
    if (!fs.exists(rollupVersionPath)) 0
    else {
      val in = fs.open(rollupVersionPath)
      val txt = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      scala.util.Try(txt.toInt).getOrElse {
        System.err.println(
          s"[rollup] corrupt version marker '$txt' at $rollupVersionPath — full rebuild")
        0
      }
    }
  }

  /** tmp + rename so a crash mid-write can't leave a half-written
    * marker as the live one (the read side tolerates it anyway). */
  private def writeRollupVersion(v: Int): Unit = {
    val fs = fsys
    val tmp = new org.apache.hadoop.fs.Path(
      rollupVersionPath.toString + s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(rollupVersionPath, false)
    require(fs.rename(tmp, rollupVersionPath), s"marker swap failed: $rollupVersionPath")
  }

  /** CDC-driven incremental rollup: diff the fact since the version
    * the rollup last reflected, rebuild ONLY the (source, date) groups
    * the CDC touched (insert or delete — late arrivals, scoped dedup
    * repairs, and merges all surface in the diff), dynamic-partition-
    * overwrite exactly those rollup dirs, then record the reflected
    * version. Append-only ranges read only the NEW files; a
    * compaction-only range diffs to empty and costs nothing. A crash
    * between the overwrite and the version write re-rebuilds the same
    * groups — idempotent. Returns the rebuilt (source, date) keys. */
  override def rollupDaily(): Seq[(String, String)] = {
    if (!hasGaugeData) return Seq.empty
    val cur = gaugeTable.currentVersion
    val prevV = rollupVersion
    if (cur == prevV) return Seq.empty
    val cdc = gaugeTable.diff(prevV, cur)
    val stale = cdc.select(col("data_source_part"), col("obs_date").cast("string"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSeq
    if (stale.isEmpty) { writeRollupVersion(cur); return Seq.empty }
    // group-scoped rebuild from the LIVE snapshot: file IO bounded by
    // the touched days' files (manifest obs_day pruning), rows by the
    // pair disjunction
    val days = stale.map(_._2).map(dayOf)
    val pred = stale.map { case (ds, d) =>
      col("data_source_part") === ds && col("obs_date") === to_date(lit(d))
    }.reduce(_ || _)
    val fact = gaugeTable.readPruned("obs_day", days.min, days.max)
      .filter(pred)
    val present = Schemas.obsMeasures.filter(fact.columns.contains)
    val value =
      if (present.isEmpty) lit(null).cast("double")
      else coalesce(present.map(col): _*)
    val scoped = fact.select(col("data_source_part"), col("obs_date"),
      col("source_id"), col("time"), col("timemark"), value.as("__v"))
    val rolled = graft.operators.Timeseries.ohlc(
      scoped, Seq("data_source_part", "obs_date", "source_id"),
      "time", "timemark", "__v", trunc = "day", withMean = true)
      .drop("bucket")
    val rollPath = path("gauge_rollup_daily")
    // groups the CDC touched but that now hold ZERO fact rows produce
    // no partition in `rolled`, and dynamic overwrite only replaces
    // partitions PRESENT in the write — their stale rollup dirs must
    // be deleted explicitly or a fully-deleted day serves forever
    val survivingGroups = scoped.select(col("data_source_part"),
      col("obs_date").cast("string")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val emptied = stale.filterNot(survivingGroups.contains)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      if (survivingGroups.nonEmpty)
        rolled.write.mode(SaveMode.Overwrite)
          .partitionBy("data_source_part", "obs_date").parquet(rollPath)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    if (emptied.nonEmpty) {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
      val fs = fsys
      emptied.foreach { case (ds, d) =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$rollPath/data_source_part=${escapePathName(ds)}/obs_date=${escapePathName(d)}"),
          true)
      }
    }
    writeRollupVersion(cur)
    stale
  }

  /** Small-file maintenance for the snapshot facts: a manifest-commit
    * rewrite via [[SnapshotTable.compact]] (older snapshots keep
    * reading the originals until [[SnapshotTable.vacuum]]), sized to
    * `targetBytes`. Idempotent like the base path: an already-packed
    * table (and no z-order request) is left alone. Non-fact tables
    * fall through to the base bin-pack. */
  override def binPackCompact(
      table: String, targetBytes: Long = 128L << 20,
      parallelism: Int = 8,
      zorderCols: Seq[String] = Nil, zorderBits: Int = 4): Seq[String] = {
    val snap = table match {
      case "gauge_data" if hasGaugeData => Some((gaugeTable, "obs_day"))
      case "model_data" if hasModelData => Some((modelTable, "run_day"))
      case "gauge_data" | "model_data" => return Seq.empty
      case _ => None
    }
    snap match {
      case None => super.binPackCompact(table, targetBytes, parallelism,
        zorderCols, zorderBits)
      case Some((t, dayCol)) =>
        // gauge facts also re-record the data_source_part string
        // bounds the rewrite would otherwise lose — source-scoped
        // maintenance keeps pruning from metadata after a compaction
        val parts = if (table == "gauge_data") Seq("data_source_part") else Nil
        val statCols = (zorderCols ++ parts :+ dayCol).distinct
        if (zorderCols.nonEmpty) {
          // a re-clustering request rewrites the live set (layout
          // change is whole-table by definition)
          val bytes = t.liveBytes() // manifest sizes: no per-file stats
          val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
          val v = t.compact(n, zorderCols, zorderBits, statCols = statCols)
          Seq(s"compacted $table to $n file(s) (snapshot v$v)")
        } else {
          // plain maintenance touches ONLY the small-file tail
          // (manifest-size selection — metadata-only at any scale)
          val v = t.compactSmall(targetBytes, statCols = statCols)
          if (v == 0) Seq.empty
          else Seq(s"compacted $table small files (snapshot v$v)")
        }
    }
  }
}
