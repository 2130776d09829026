package graft.domain

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed storage for the engine's star schema — the Spark
  * restatement of the reference's Postgres tables (SURVEY §1.1).
  *
  * Layout under `root`:
  *   stations/      — gauge station dim (small)
  *   gauge_source/  — obs source dim (small)
  *   gauge_data/    — obs fact, partitioned by data_source + obs date
  *   ledger_obs/    — harvest-file ledger (one row per file)
  *
  * Partitioning rationale (100 TB): the UI read path always filters
  * one station + a time range (scripts/get_obs_timeseries_station_data.sql:24)
  * and ingest dedup scopes to a time window, so `day(time)` partition
  * pruning bounds every query/merge to a handful of partitions;
  * `data_source` keeps the 11 catalog sources separable (P5 filters).
  * Mutable ops (`UPDATE ingested`, DELETE-dedup) become
  * recompute-and-overwrite of the affected partitions — the ledger is
  * O(#files) rows, so a full overwrite is cheap at any data scale.
  */
class GaugeStore(val spark: SparkSession, val root: String) {

  protected def path(t: String) = s"$root/$t"

  protected def fsys = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  /** Backup-dir suffix: wall-clock millis (meaningful ACROSS process
    * restarts, unlike System.nanoTime whose origin is per-JVM — vacuum
    * orders backups by this number to restore the newest) plus a
    * sub-millisecond disambiguator. */
  private def bakSuffix(): Long =
    System.currentTimeMillis() * 1000L + (System.nanoTime() / 1000L) % 1000L

  /** Crash-safe whole-table swap: PARK the live dir as a backup, rename
    * the tmp into place, then drop the backup. At no point is the only
    * copy deleted — a crash can strand a `<table>_bak_*` dir (recovered
    * by [[vacuum]]) but never loses data, unlike delete-then-rename
    * which has a window where the live path is gone and the data sits
    * only in tmp. */
  private def swapInto(table: String, tmp: String): Unit = {
    val fs = fsys
    val live = new org.apache.hadoop.fs.Path(path(table))
    val backup = new org.apache.hadoop.fs.Path(path(
      table + "_bak_" + bakSuffix()))
    val hadLive = fs.exists(live)
    if (hadLive) require(fs.rename(live, backup), s"park failed: $live")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), live), s"swap failed: $live")
    if (hadLive) fs.delete(backup, true)
  }

  /** Rewrite a SMALL table (ledger/dim — O(#files or #stations) rows)
    * through tmp + [[swapInto]]. The frame is materialized to the
    * driver first because its plan typically READS the path being
    * replaced. */
  private def rewriteSmall(table: String, df: DataFrame): Unit = {
    val local = df.collect().toIndexedSeq
    val fresh = spark.createDataFrame(
      spark.sparkContext.parallelize(local, 1), df.schema)
    val tmp = path(table + "_tmp")
    fresh.write.mode(SaveMode.Overwrite).parquet(tmp)
    swapInto(table, tmp)
  }

  // ---- atomic multi-table commit (manifest-dir protocol) -----------

  /** All-or-nothing publish of parquet staged for SEVERAL tables at
    * once (a fact batch plus its ledger rows). The caller writes each
    * table under `<staging>/<table>/…` in the live table's relative
    * layout; the COMMIT POINT is ONE atomic rename of the staging dir
    * into `_commits/`. Finalization then moves every staged file into
    * its live table and drops the commit dir — idempotent and
    * crash-resumable ([[vacuum]] re-finalizes any stranded commit;
    * part-file names are job-unique so a resumed move cannot collide).
    * Readers only ever see live tables, so the pair of mutations is
    * atomic: a crash before the rename leaves invisible staging
    * garbage (swept by vacuum), after it the commit completes exactly
    * once on the next finalize.
    *
    * This is the reference's BEGIN / COPY / UPDATE ingested / COMMIT
    * transaction (ingestObsTasks.py:145-149, :405-409) restated on
    * immutable storage, needing only rename atomicity (HDFS/POSIX).
    * Object stores without atomic rename need a manifest-log variant
    * instead. */
  /** Unique commit id, ordered across process restarts. */
  def newCommitId(prefix: String): String = s"${prefix}_${bakSuffix()}"

  def atomicCommit(commitId: String)(stage: String => Unit): Unit = {
    val fs = fsys
    val staging = new org.apache.hadoop.fs.Path(path(s"_staging/$commitId"))
    fs.delete(staging, true)
    fs.mkdirs(staging)
    stage(staging.toString)
    val commitsRoot = new org.apache.hadoop.fs.Path(path("_commits"))
    fs.mkdirs(commitsRoot)
    val committed = new org.apache.hadoop.fs.Path(commitsRoot, commitId)
    require(fs.rename(staging, committed), s"commit rename failed: $commitId")
    publishCommit(committed)
  }

  /** Publish one committed-but-unfinalized staging dir into the live
    * tables — the step [[atomicCommit]] runs right after its commit
    * rename and [[vacuum]] re-runs for commits stranded by a crash.
    * MUST be idempotent under re-runs. The base implementation is the
    * rename-per-file finalize; [[SnapshotGaugeStore]] overrides it to
    * route fact tables through manifest commits instead. */
  protected def publishCommit(committed: org.apache.hadoop.fs.Path): Unit =
    finalizeCommit(committed)

  /** Move every staged data file into its table at the same relative
    * path, then drop the commit dir. Spark metadata files (`_SUCCESS`)
    * are skipped — each live table keeps its own. */
  protected final def finalizeCommit(committed: org.apache.hadoop.fs.Path): Unit = {
    val fs = fsys
    val rootPath = new org.apache.hadoop.fs.Path(root)
    def walk(dir: org.apache.hadoop.fs.Path, rel: List[String]): Unit =
      fs.listStatus(dir).foreach { st =>
        if (st.isDirectory) walk(st.getPath, rel :+ st.getPath.getName)
        else if (!st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".")) {
          val destDir = rel.foldLeft(rootPath)(
            (p, seg) => new org.apache.hadoop.fs.Path(p, seg))
          fs.mkdirs(destDir)
          require(fs.rename(st.getPath,
            new org.apache.hadoop.fs.Path(destDir, st.getPath.getName)),
            s"finalize move failed: ${st.getPath}")
        }
      }
    walk(committed, Nil)
    fs.delete(committed, true)
  }

  /** Existence via the root's OWN filesystem: java.io.File is always
    * false for hdfs://-s3a:// roots, which silently turns readOrEmpty
    * into "missing", has* into false, and dim upserts into blind
    * overwrites on exactly the object-store deployments the snapshot
    * backend targets. */
  def tableExists(table: String): Boolean =
    fsys.exists(new org.apache.hadoop.fs.Path(path(table)))

  private def emptyFrame(schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def readOrEmpty(table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (tableExists(table)) spark.read.parquet(path(table))
    else emptyFrame(schema)

  def writeStations(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path("stations"))

  /** Stations dim; stores seeded before the apsviz_station column was
    * added are defaulted on read (false). */
  def stations: DataFrame = {
    val df = spark.read.parquet(path("stations"))
    if (df.columns.contains("apsviz_station")) df
    else df.withColumn("apsviz_station", lit(false))
  }

  /** Flip apsviz_station=true for the named stations (the reference
    * view's g.apsviz_station flag; dim is tiny → tmp+park-swap rewrite). */
  def markApsVizStations(stationNames: Seq[String]): Unit =
    rewriteSmall("stations", stations.withColumn("apsviz_station",
      when(col("station_name").isin(stationNames: _*), lit(true))
        .otherwise(col("apsviz_station"))))

  def writeGaugeSource(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path("gauge_source"))

  def gaugeSource: DataFrame = spark.read.parquet(path("gauge_source"))

  // ---- driver-local copies of the small dims (serving path) --------

  /** Per dim table: (listing signature, driver-local copy). Held per
    * store instance, so two stores in one session never share one. */
  private val localDims = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(String, Long, Long)], DataFrame)]()

  /** `read` of a small dim table as a driver-local frame
    * (`LocalRelation`), reused while the table directory's listing —
    * file name, length, mtime — is unchanged. Every dim rewrite
    * ([[writeStations]], [[markApsVizStations]], [[writeGaugeSource]],
    * [[writeModelSource]]) writes new part files, so the next call
    * sees the change. A hit costs one directory listing and no Spark
    * job, and a filter + collect over the copy plans to a
    * `LocalTableScan`, which runs no job either. The listing is taken
    * BEFORE the read: a racing rewrite can only leave a copy newer
    * than its signature (re-read on the next call), never older. */
  private def localDim(table: String, read: => DataFrame): DataFrame = {
    val sig = try fsys.listStatus(new org.apache.hadoop.fs.Path(path(table)))
      .toSeq.map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).sorted
    catch { case _: java.io.FileNotFoundException => return read }
    Option(localDims.get(table)).collect { case (`sig`, df) => df }.getOrElse {
      val df = read
      val local = spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      localDims.put(table, (sig, local))
      local
    }
  }

  /** [[stations]], [[gaugeSource]], [[modelSource]] as driver-local
    * copies (see [[localDim]]) — the dims every served request reads. */
  def localStations: DataFrame = localDim("stations", stations)
  def localGaugeSource: DataFrame = localDim("gauge_source", gaugeSource)
  def localModelSource: DataFrame = localDim("model_source", modelSource)

  /** Append a batch of fact rows. Adds the partition columns; the
    * caller has already deduplicated within the batch. */
  def appendGaugeData(df: DataFrame, dataSource: String): Unit =
    df.withColumn("data_source_part", lit(dataSource))
      .withColumn("obs_date", to_date(col("time")))
      .write.mode(SaveMode.Append)
      .partitionBy("data_source_part", "obs_date")
      .parquet(path("gauge_data"))

  /** Stage variants of the appenders: identical layout, written under
    * an [[atomicCommit]] staging dir instead of the live table. */
  def stageGaugeData(df: DataFrame, dataSource: String, stagingDir: String): Unit =
    df.withColumn("data_source_part", lit(dataSource))
      .withColumn("obs_date", to_date(col("time")))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("data_source_part", "obs_date")
      .parquet(s"$stagingDir/gauge_data")

  def stageLedger(df: DataFrame, stagingDir: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$stagingDir/ledger_obs")

  def stageModelData(df: DataFrame, stagingDir: String): Unit =
    df.withColumn("run_date", to_date(col("timemark")))
      .write.mode(SaveMode.Overwrite).partitionBy("run_date")
      .parquet(s"$stagingDir/model_data")

  def stageModelLedger(df: DataFrame, stagingDir: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy("model_run_id")
      .parquet(s"$stagingDir/ledger_model")

  def gaugeData: DataFrame =
    spark.read.parquet(path("gauge_data")).drop("data_source_part", "obs_date")

  /** Partition-pruned fact scan for a time-range query: the filter on
    * the `obs_date` PARTITION column prunes directories before any IO;
    * the row-level `time` predicate still applies downstream. Without
    * this, a [start,end] query over 100 TB scans every partition.
    */
  def gaugeDataForRange(startDate: String, endDate: String): DataFrame =
    spark.read.parquet(path("gauge_data"))
      .filter(col("obs_date") >= to_date(lit(startDate)) &&
        col("obs_date") <= to_date(lit(endDate)))
      .drop("data_source_part", "obs_date")

  def hasGaugeData: Boolean =
    tableExists("gauge_data")

  /** Cross-batch keep-latest repair (J8 across appends): rewrite the
    * fact with duplicates resolved.
    *
    * With a `[loDate, hiDate]` scope — the ingested batch's time bounds,
    * exactly the reference's per-file dedup scope
    * (ingestObsTasks.py:392-399) — ONLY the obs_date partitions inside
    * the scope are read, deduplicated, and swapped; everything else is
    * untouched. At 100 TB this is the difference between a bounded
    * MERGE and rewriting the table per batch. No scope → full rewrite.
    */
  /** `scope` = (loDate, hiDate) in session-timezone `yyyy-MM-dd`;
    * `dataSource` further restricts to that source's partition subtree
    * so an 11-source catalog does not rewrite shared dates 11 times.
    */
  def compactGaugeData(
      scope: Option[(String, String)] = None,
      dataSource: Option[String] = None): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val full = spark.read.parquet(path("gauge_data"))
    val dateFiltered = scope match {
      case Some((lo, hi)) =>
        full.filter(col("obs_date") >= to_date(lit(lo)) && col("obs_date") <= to_date(lit(hi)))
      case None => full
    }
    val scoped = dataSource match {
      case Some(ds) => dateFiltered.filter(col("data_source_part") === ds)
      case None => dateFiltered
    }
    val deduped = graft.operators.KeepLatestDedup(
      scoped, keys = Seq("source_id", "time"), precedence = Seq(col("timemark")))
    val tmp = path("gauge_data_tmp")
    deduped.write.mode(SaveMode.Overwrite)
      .partitionBy("data_source_part", "obs_date").parquet(tmp)
    if (scope.isDefined || dataSource.isDefined) {
      // swap only the partitions the scope produced; displaced data is
      // parked in a backup dir until every rename lands, so a crash
      // mid-swap can lose at most renames-in-flight, never silently
      val tmpRoot = new org.apache.hadoop.fs.Path(tmp)
      val mainRoot = new org.apache.hadoop.fs.Path(path("gauge_data"))
      val backup = new org.apache.hadoop.fs.Path(path(
        "gauge_data_pbak_" + bakSuffix()))
      fs.mkdirs(backup)
      fs.listStatus(tmpRoot).filter(_.isDirectory).foreach { srcDir =>
        fs.listStatus(srcDir.getPath).filter(_.isDirectory).foreach { dateDir =>
          val destParent = new org.apache.hadoop.fs.Path(mainRoot, srcDir.getPath.getName)
          val dest = new org.apache.hadoop.fs.Path(destParent, dateDir.getPath.getName)
          if (fs.exists(dest)) {
            val parked = new org.apache.hadoop.fs.Path(backup,
              srcDir.getPath.getName + "__" + dateDir.getPath.getName)
            require(fs.rename(dest, parked), s"park failed: $dest")
          }
          fs.mkdirs(destParent)
          require(fs.rename(dateDir.getPath, dest), s"swap failed: $dest")
        }
      }
      fs.delete(backup, true)
      fs.delete(tmpRoot, true)
    } else swapInto("gauge_data", tmp)
  }

  /** Maintenance bin-packing compaction — the antidote to small-file
    * accretion: cron-cadence [[appendGaugeData]]/[[appendModelData]]
    * lay down one file set per batch per partition, so a year of
    * 11-source ingest leaves tens of thousands of tiny files that
    * nothing else ever rewrites. For every leaf partition dir whose
    * file count exceeds ⌈bytes/targetBytes⌉, rewrites the leaf to
    * exactly that many files (a narrow `coalesce` — no shuffle, rows
    * untouched) and park-and-swaps it into place.
    *
    * Crash-safe exactly like the scoped repairs: displaced leaves sit
    * in a `_pbak_` dir until every rename lands and [[vacuum]] restores
    * any leaf stranded mid-swap. Idempotent: a second run finds every
    * leaf already at target and does nothing. Leaf discovery and the
    * swap loop are driver-side but O(#partition dirs) — control plane,
    * not data plane; the rewrites themselves run as `parallelism`
    * concurrent Spark jobs so one giant leaf doesn't serialize the
    * sweep. */
  /** Leaf data dirs of a table: (relative path segments, bytes, file
    * count) for every DEEPEST dir holding data files — partition dirs,
    * or the table root itself for unpartitioned tables. The single
    * definition of "leaf" shared by compaction and [[tableStats]], so
    * the stats signal always points at partitions the compactor will
    * actually touch. */
  private def dataLeaves(table: String): Seq[(List[String], Long, Int)] = {
    val fs = fsys
    val rootP = new org.apache.hadoop.fs.Path(path(table))
    if (!fs.exists(rootP)) return Seq.empty
    def isData(f: org.apache.hadoop.fs.FileStatus) =
      f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith(".")
    def walk(dir: org.apache.hadoop.fs.Path, rel: List[String])
        : Seq[(List[String], Long, Int)] = {
      val st = fs.listStatus(dir)
      val sub = st.filter(_.isDirectory)
        .flatMap(d => walk(d.getPath, rel :+ d.getPath.getName)).toSeq
      val own = st.filter(isData)
      if (own.nonEmpty) sub :+ ((rel, own.map(_.getLen).sum, own.length))
      else sub
    }
    walk(rootP, Nil)
  }

  def binPackCompact(
      table: String, targetBytes: Long = 128L << 20,
      parallelism: Int = 8,
      zorderCols: Seq[String] = Nil, zorderBits: Int = 4): Seq[String] = {
    require(targetBytes > 0)
    val fs = fsys
    val tableRoot = new org.apache.hadoop.fs.Path(path(table))
    if (!fs.exists(tableRoot)) return Seq.empty
    def targetFiles(bytes: Long) =
      math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val allLeaves = dataLeaves(table)
    // Z-order columns must exist in the LEAF FILE schema: leaves are
    // read as bare dirs, so partition-encoded columns (dir names like
    // `centroid_id=3`) are absent — validating up front turns what
    // would be a mid-sweep ExecutionException from the rewrite pool
    // into a clear error before any leaf is touched. NOTE: a z-order
    // sweep rewrites EVERY leaf every run (re-laying rows out is the
    // point) — unlike the plain path it is not idempotent.
    if (zorderCols.nonEmpty && allLeaves.nonEmpty) {
      val leafSchema = spark.read.parquet(
        (path(table) +: allLeaves.head._1).mkString("/")).schema
      val missing = zorderCols.filterNot(leafSchema.fieldNames.contains)
      require(missing.isEmpty,
        s"z-order column(s) ${missing.mkString(", ")} not in leaf file schema " +
          s"(${leafSchema.fieldNames.mkString(", ")}); partition-encoded " +
          "columns live in directory names, not data files, and cannot be " +
          "z-order keys")
    }
    // with z-order clustering requested, EVERY leaf is rewritten (the
    // point is re-laying rows out, not just merging files); otherwise
    // only over-count leaves — that is what keeps plain compaction
    // idempotent
    val wanted = allLeaves.collect {
      case (rel, bytes, nFiles)
          if nFiles > targetFiles(bytes) || zorderCols.nonEmpty =>
        (rel, targetFiles(bytes))
    }
    // A root-level leaf (data files directly in the table root) is only
    // compactable via the whole-table swap, and that swap is safe ONLY
    // when the root is the table's sole leaf: in a mixed layout (stray
    // root files next to partition dirs) tmp holds just the rewritten
    // leaves, so swapping the whole table would silently delete every
    // partition that wasn't being compacted. No writer here produces
    // such a layout, but a maintenance job must not destroy one.
    val mixedRoot = wanted.exists(_._1.isEmpty) && allLeaves.size > 1
    val todo = if (mixedRoot) wanted.filterNot(_._1.isEmpty) else wanted
    val skipped =
      if (mixedRoot)
        Seq(s"skipped $table root-level files: mixed root+partition " +
          "layout; compact them by rewriting the table")
      else Seq.empty
    if (todo.isEmpty) return skipped
    val tmp = path(table + "_tmp")
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, todo.size)))
    try {
      todo.map { case (rel, n) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val src = spark.read.parquet((path(table) +: rel).mkString("/"))
            // coalesce = pure file merge (no shuffle); z-order = one
            // range exchange per leaf that buys multi-dimension file
            // skipping on every future scan of the leaf
            val packed =
              if (zorderCols.isEmpty) src.coalesce(n)
              else graft.operators.ZOrderLayout.layout(
                src, zorderCols, zorderBits, n)
            packed.write.mode(SaveMode.Overwrite)
              .parquet((tmp +: rel).mkString("/"))
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    if (todo.exists(_._1.isEmpty)) {
      // unpartitioned table (root is the SOLE leaf, guaranteed by the
      // mixedRoot guard above): whole-table crash-safe swap instead of
      // a partition park
      swapInto(table, tmp)
    } else {
      val backup = new org.apache.hadoop.fs.Path(path(
        table + "_pbak_" + bakSuffix()))
      fs.mkdirs(backup)
      todo.foreach { case (rel, _) =>
        val dest = rel.foldLeft(tableRoot)(
          (p, seg) => new org.apache.hadoop.fs.Path(p, seg))
        val src = rel.foldLeft(new org.apache.hadoop.fs.Path(tmp))(
          (p, seg) => new org.apache.hadoop.fs.Path(p, seg))
        val parked = new org.apache.hadoop.fs.Path(backup, rel.mkString("__"))
        require(fs.rename(dest, parked), s"park failed: $dest")
        require(fs.rename(src, dest), s"swap failed: $dest")
      }
      fs.delete(backup, true)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    todo.map { case (rel, n) =>
      s"compacted ${(table +: rel).mkString("/")} to $n file(s)" } ++ skipped
  }

  def writeModelSource(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path("model_source"))

  def modelSource: DataFrame = spark.read.parquet(path("model_source"))

  /** Model fact, partitioned by run timemark date (a run's dedup scope
    * is its timemark, so pruning is exact per-run). */
  def appendModelData(df: DataFrame): Unit =
    df.withColumn("run_date", to_date(col("timemark")))
      .write.mode(SaveMode.Append).partitionBy("run_date").parquet(path("model_data"))

  def modelData: DataFrame =
    spark.read.parquet(path("model_data")).drop("run_date")

  /** Partition-pruned model scan for one run timemark (forecast/
    * nowcast queries pin `timemark`): the run_date partition filter
    * cuts the scan to that run's directory. */
  def modelDataForTimemark(timemark: String): DataFrame =
    spark.read.parquet(path("model_data"))
      .filter(col("run_date") === to_date(lit(timemark)))
      .drop("run_date")

  /** Partition-pruned model scan for a TIME-range query (the nowcast
    * serving path): a nowcast row's run timemark sits within
    * `horizonDays` of the row's `time` by construction (each run
    * contributes the nowcast segment at its own clock), so only
    * run_date partitions inside the widened [start, end] window can
    * hold qualifying rows. Without this, years of model runs mean
    * every nowcast request lists every partition; with it, request IO
    * is window-bounded like [[gaugeDataForRange]]. The widening is
    * symmetric so the bound is safe whichever side of `time` a
    * deployment's run clock lands on.
    *
    * CONTRACT: `horizonDays` must bound the deployment's real
    * |time − timemark| for the rows being served — a run outside it
    * is pruned SILENTLY. The default (35 days) is generous even for
    * monthly run cadences; a deployment with longer hindcasts must
    * pass its own. A negative horizon would prune every run and serve
    * an empty answer, so it is rejected. */
  def modelDataForRange(startDate: String, endDate: String,
      horizonDays: Int = 35): DataFrame = {
    requireHorizon(horizonDays)
    spark.read.parquet(path("model_data"))
      .filter(col("run_date") >= date_sub(to_date(lit(startDate)), horizonDays) &&
        col("run_date") <= date_add(to_date(lit(endDate)), horizonDays))
      .drop("run_date")
  }

  protected def requireHorizon(horizonDays: Int): Unit =
    require(horizonDays >= 0, s"horizonDays must be >= 0, got $horizonDays")

  def hasModelData: Boolean = tableExists("model_data")

  /** Scoped model-fact repair: `df` holds the REPAIRED rows of one (or
    * few) run timemarks; only the run_date partitions df produces are
    * swapped (park pattern), every other run's partitions are
    * untouched. The rerun repair is therefore bounded by one run's
    * data, not the table size — at 100 TB a rerun rewrites one day's
    * directory, not the fact. */
  def swapModelRunDatePartitions(df: DataFrame): Unit = {
    val tmp = path("model_data_tmp")
    df.withColumn("run_date", to_date(col("timemark")))
      .write.mode(SaveMode.Overwrite).partitionBy("run_date").parquet(tmp)
    swapPartitions("model_data", tmp, "run_date=")
  }

  /** Park-then-swap every `<partPrefix>...` dir from `tmp` into
    * `table`: displaced live partitions go to a `_pbak_` dir until all
    * renames land ([[vacuum]] recovers a mid-loop crash), then backup
    * and tmp are dropped. */
  private def swapPartitions(table: String, tmp: String, partPrefix: String): Unit = {
    val fs = fsys
    val tmpRoot = new org.apache.hadoop.fs.Path(tmp)
    val mainRoot = new org.apache.hadoop.fs.Path(path(table))
    val backup = new org.apache.hadoop.fs.Path(path(
      table + "_pbak_" + bakSuffix()))
    fs.mkdirs(backup)
    fs.mkdirs(mainRoot)
    fs.listStatus(tmpRoot)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partPrefix))
      .foreach { partDir =>
        val dest = new org.apache.hadoop.fs.Path(mainRoot, partDir.getPath.getName)
        if (fs.exists(dest))
          require(fs.rename(dest, new org.apache.hadoop.fs.Path(backup, partDir.getPath.getName)),
            s"park failed: $dest")
        require(fs.rename(partDir.getPath, dest), s"swap failed: $dest")
      }
    fs.delete(backup, true)
    fs.delete(tmpRoot, true)
  }

  /** Idempotent per-run append: replaces any existing snapshot rows of
    * the same model_run_id (the reference's apsviz_station_file_meta
    * `ingested` guard, ingestModelTasks.py:295). */
  def appendApsVizStations(df: DataFrame): Unit = {
    val p = path("apsviz_station")
    if (tableExists("apsviz_station")) {
      val runIds = df.select("model_run_id").distinct()
        .collect().map(_.getString(0)).toSeq
      val kept = spark.read.parquet(p)
        .filter(!col("model_run_id").isin(runIds: _*))
        .unionByName(df)
      val local = kept.cache(); local.count()
      val tmp = path("apsviz_station_tmp")
      local.write.mode(SaveMode.Overwrite).parquet(tmp)
      local.unpersist()
      swapInto("apsviz_station", tmp)
    } else df.write.mode(SaveMode.Append).parquet(p)
  }

  def apsVizStations: DataFrame = spark.read.parquet(path("apsviz_station"))

  def appendRetainObsStations(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(path("retain_obs_station"))

  def hasRetainObsStations: Boolean =
    tableExists("retain_obs_station")

  def retainObsStations: DataFrame = spark.read.parquet(path("retain_obs_station"))

  def hasLedger: Boolean = tableExists("ledger_obs")

  def ledger: DataFrame = readOrEmpty("ledger_obs", Schemas.harvestObsFileMeta)

  def appendLedger(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(path("ledger_obs"))

  /** `UPDATE ... SET ingested=True` (ingestObsTasks.py:405-409) on
    * immutable storage: overwrite the (tiny) ledger with the flag set
    * for the given files. */
  def markIngested(fileNames: Seq[String]): Unit =
    rewriteSmall("ledger_obs", ledger.withColumn("ingested",
      when(col("file_name").isin(fileNames: _*), lit(true)).otherwise(col("ingested"))))

  // ---- model harvest-file ledger (drf_harvest_model_file_meta,
  // ingestModelTasks.py:251; one row per ingested run file) ----------

  /** Partitioned by model_run_id: the ledger grows with run history,
    * so per-run UPDATEs ([[markModelIngested]]) and the per-run filters
    * in the rerun gate must touch one run's directory, not the whole
    * ledger. The explicit read schema keeps the partition column a
    * plain string (no partition-value type inference) and pins column
    * order. */
  def modelLedger: DataFrame =
    if (tableExists("ledger_model"))
      spark.read.schema(Schemas.harvestModelFileMeta).parquet(path("ledger_model"))
    else emptyFrame(Schemas.harvestModelFileMeta)

  def appendModelLedger(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).partitionBy("model_run_id")
      .parquet(path("ledger_model"))

  /** UPDATE ingested=True scoped to one run's files
    * (ingestModelTasks.py:368-372). Rewrites ONLY that run's partition
    * — O(one run's file count) regardless of ledger history length.
    * Collected through the driver because the plan reads the partition
    * being replaced. */
  def markModelIngested(modelRunId: String, fileNames: Seq[String]): Unit = {
    val updated = modelLedger.filter(col("model_run_id") === modelRunId)
      .withColumn("ingested",
        when(col("file_name").isin(fileNames: _*), lit(true))
          .otherwise(col("ingested")))
    val local = updated.collect().toIndexedSeq
    if (local.nonEmpty) {
      val fresh = spark.createDataFrame(
        spark.sparkContext.parallelize(local, 1), updated.schema)
      val tmp = path("ledger_model_tmp")
      fresh.write.mode(SaveMode.Overwrite).partitionBy("model_run_id").parquet(tmp)
      swapPartitions("ledger_model", tmp, "model_run_id=")
    }
  }

  // ---- apsviz / retain-obs station meta-file ledgers
  // (drf_apsviz_station_file_meta, ingestModelTasks.py:295;
  //  drf_retain_obs_station_file_meta, ingestObsTasks.py:322) ---------

  def apsVizStationFileMeta: DataFrame =
    readOrEmpty("apsviz_station_file_meta", Schemas.apsVizStationFileMeta)

  /** Rows carry their own `ingested` commit marker: these ledgers are
    * only appended AFTER the data they describe committed, so no
    * false→true rewrite pass exists (unlike the harvest ledgers, whose
    * two-phase flag makes mid-ingest crashes detectable). */
  def appendApsVizStationFileMeta(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(path("apsviz_station_file_meta"))

  def retainObsStationFileMeta: DataFrame =
    readOrEmpty("retain_obs_station_file_meta", Schemas.retainObsStationFileMeta)

  def appendRetainObsStationFileMeta(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(path("retain_obs_station_file_meta"))

  /** Crash recovery + janitor, safe to run any time (e.g. at process
    * start). Two crash shapes are repaired, then strays are swept:
    *
    *  1. whole-table swap ([[swapInto]]) interrupted between park and
    *     swap: the live table dir is missing, the original sits in
    *     `<table>_bak_<millis>` — the NEWEST backup is renamed back;
    *  2. PARTITION swap ([[compactGaugeData]] scoped /
    *     [[swapModelRunDatePartitions]]) interrupted mid-loop: the
    *     table dir exists but individual partition dirs were parked
    *     into a `<table>_pbak_<millis>` dir and not yet replaced —
    *     every parked partition whose live counterpart is missing is
    *     renamed back (nested partitions are parked under flattened
    *     `a__b` names).
    *
    * The two suffixes are deliberately distinct: partition restore
    * mines ONLY `_pbak_` dirs. A whole-table `_bak_` stranded after
    * swapInto's swap-but-before-delete holds a superseded full copy —
    * mining IT for "missing" partition dirs would resurrect partitions
    * a rewrite legitimately dropped.
    *
    * Only after both repairs are `*_tmp` and remaining backup dirs
    * deleted (tmp holds re-derivable repair output, backups at that
    * point hold only superseded copies). Returns a human-readable
    * action log for operators and specs. */

  /** Operational table statistics — the observability side of the
    * small-file story [[binPackCompact]] acts on: per table, total
    * data files/bytes, leaf partition count, and the worst leaf by
    * file count (the compaction trigger signal). Pure FS metadata
    * walk, O(#files) on the driver — control plane, no Spark jobs,
    * safe to run on any cron cadence. */
  def tableStats(table: String): Option[Map[String, Any]] = {
    if (!fsys.exists(new org.apache.hadoop.fs.Path(path(table)))) return None
    val leaves = dataLeaves(table)
    if (leaves.isEmpty)
      return Some(Map("table" -> table, "files" -> 0, "bytes" -> 0L,
        "leaves" -> 0))
    val (worstRel, _, worstN) = leaves.maxBy(_._3)
    Some(Map(
      "table" -> table,
      "files" -> leaves.map(_._3).sum,
      "bytes" -> leaves.map(_._2).sum,
      "leaves" -> leaves.size,
      "max_files_per_leaf" -> worstN,
      "worst_leaf" -> (if (worstRel.isEmpty) "<root>"
        else worstRel.mkString("/"))))
  }

  def vacuum(): Seq[String] = {
    val fs = fsys
    val rootPath = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(rootPath)) return Seq.empty
    val entries = fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath)
    val bak = "^(.*)_bak_([0-9]+)$".r   // does NOT match `_pbak_` names
    val pbak = "^(.*)_pbak_([0-9]+)$".r
    val actions = scala.collection.mutable.ArrayBuffer[String]()
    // phase 0: publish committed-but-unfinalized atomic commits (crash
    // after the commit rename), then sweep uncommitted staging (crash
    // before it — invisible, safe to drop: its files re-derive on the
    // next ingest of the same inputs)
    val commitsRoot = new org.apache.hadoop.fs.Path(rootPath, "_commits")
    if (fs.exists(commitsRoot))
      fs.listStatus(commitsRoot).filter(_.isDirectory)
        .sortBy(_.getPath.getName).foreach { c =>
          publishCommit(c.getPath)
          actions += s"finalized commit ${c.getPath.getName}"
        }
    val stagingRoot = new org.apache.hadoop.fs.Path(rootPath, "_staging")
    if (fs.exists(stagingRoot) && fs.listStatus(stagingRoot).nonEmpty) {
      fs.delete(stagingRoot, true)
      actions += "swept uncommitted staging"
    }
    val byBase = entries.flatMap(p => p.getName match {
      case pbak(_, _) => None
      case bak(base, ts) => Some((base, ts.toLong, p))
      case _ => None
    }).groupBy(_._1)
    // phase 1: whole-table restore (live dir missing entirely)
    byBase.foreach { case (base, baks) =>
      val live = new org.apache.hadoop.fs.Path(rootPath, base)
      if (!fs.exists(live)) {
        val newest = baks.maxBy(_._2)._3
        require(fs.rename(newest, live), s"restore failed: $newest")
        actions += s"restored $base from ${newest.getName}"
      }
    }
    // phase 2: partition restore, from partition-scoped parks ONLY
    // (live table exists; parked partition dirs whose live counterpart
    // is missing go back, newest park first)
    entries.flatMap(p => p.getName match {
      case pbak(base, ts) => Some((base, ts.toLong, p))
      case _ => None
    }).groupBy(_._1).foreach { case (base, parks) =>
      val live = new org.apache.hadoop.fs.Path(rootPath, base)
      // no liveness guard: a parked partition was live moments before
      // the crash, so it is restored even if the table dir itself is
      // gone (mkdirs recreates it) — otherwise the janitor below would
      // delete the only copy
      parks.sortBy(-_._2).foreach { case (_, _, parkDir) =>
        if (fs.exists(parkDir))
          fs.listStatus(parkDir).filter(_.isDirectory).foreach { part =>
            val dest = part.getPath.getName.split("__")
              .foldLeft(live)((p, seg) => new org.apache.hadoop.fs.Path(p, seg))
            if (!fs.exists(dest)) {
              fs.mkdirs(dest.getParent)
              require(fs.rename(part.getPath, dest), s"restore failed: $dest")
              actions += s"restored $base/${part.getPath.getName} from ${parkDir.getName}"
            }
          }
      }
    }
    // janitor phase: drop leftover tmp + superseded backups
    fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath).foreach { p =>
      val stray = p.getName.endsWith("_tmp") ||
        bak.findFirstIn(p.getName).isDefined ||
        pbak.findFirstIn(p.getName).isDefined
      if (stray) { fs.delete(p, true); actions += s"deleted ${p.getName}" }
    }
    actions.toSeq
  }

  /** Incremental daily OHLC rollup of the obs fact — the serving tier
    * a timeseries dashboard reads instead of scanning raw obs (the
    * reference's UI pulls windowed raw rows per request,
    * get_obs_timeseries_station_data.sql; a rollup bounds that read by
    * days, not observations). One row per (data_source_part, obs_date,
    * source_id): open/close by (time, timemark) pick, high/low/n — the
    * [[graft.operators.Timeseries.ohlc]] aggregate over the sparse
    * fact's single populated measure.
    *
    * INCREMENTAL + IDEMPOTENT: a partition is (re)built only when its
    * fact row count disagrees with the rollup's recorded `n` sum —
    * catches new dates AND late-arriving rows appended into an
    * already-rolled date. Staleness detection is two control-plane
    * aggregates (O(#partitions) rows); the rebuild scans ONLY the
    * stale (source, date) partitions (partition-pruned disjunction)
    * and dynamic-partition-overwrites exactly those rollup dirs. A
    * clean second run rebuilds nothing. Returns the rebuilt partition
    * keys.
    */
  def rollupDaily(): Seq[(String, String)] = {
    val fs = fsys
    if (!fs.exists(new org.apache.hadoop.fs.Path(path("gauge_data"))))
      return Seq.empty
    val fact = spark.read.parquet(path("gauge_data"))
    val factCounts = fact.groupBy(col("data_source_part"), col("obs_date"))
      .agg(count(lit(1)).as("__fact_n"))
    val rollPath = path("gauge_rollup_daily")
    val rollCounts =
      if (fs.exists(new org.apache.hadoop.fs.Path(rollPath)))
        spark.read.parquet(rollPath)
          .groupBy(col("data_source_part"), col("obs_date"))
          .agg(sum(col("n")).as("__roll_n"))
      else factCounts.select(col("data_source_part"), col("obs_date"),
        lit(null).cast("long").as("__roll_n")).limit(0)
    // control plane: one row per (source, date) partition
    val stale = factCounts
      .join(rollCounts, Seq("data_source_part", "obs_date"), "left")
      .filter(col("__roll_n").isNull || col("__roll_n") =!= col("__fact_n"))
      .select(col("data_source_part"), col("obs_date").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    if (stale.isEmpty) return Seq.empty
    // partition-pruned scan of only the stale partitions
    val pred = stale.map { case (ds, d) =>
      col("data_source_part") === ds && col("obs_date") === to_date(lit(d))
    }.reduce(_ || _)
    // only measures actually present in this store's fact schema (the
    // sparse wide fact may carry a subset, e.g. single-source stores)
    val present = Schemas.obsMeasures.filter(fact.columns.contains)
    val value =
      if (present.isEmpty) lit(null).cast("double")
      else coalesce(present.map(col): _*)
    val scoped = fact.filter(pred)
      .select(col("data_source_part"), col("obs_date"), col("source_id"),
        col("time"), col("timemark"), value.as("__v"))
    val rolled = graft.operators.Timeseries.ohlc(
      scoped, Seq("data_source_part", "obs_date", "source_id"),
      "time", "timemark", "__v", trunc = "day", withMean = true)
      .drop("bucket") // obs_date already carries the day
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try rolled.write.mode(SaveMode.Overwrite)
      .partitionBy("data_source_part", "obs_date").parquet(rollPath)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    stale
  }

  /** The daily rollup table (empty frame if never built). NOTE: the
    * rollup gained a `mean` column in round 11 — a rollup tier built
    * before that has partitions without it; since this is a derived
    * tier, rebuild it once (delete the table dir + version marker and
    * re-run rollupDaily) rather than serving a mixed schema. */
  def rollupDailyTable: DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path("gauge_rollup_daily"))
    require(fsys.exists(p), s"no rollup at $p — run rollupDaily() first")
    spark.read.parquet(path("gauge_rollup_daily"))
  }
}

object GaugeStore {
  /** Open the store at `root` with backend auto-detection.
    *
    * DEFAULT (ADR, round 11): a NEW store — nothing on disk yet —
    * gets the manifest-log snapshot backend. It is the backend whose
    * guarantees hold on an object store at scale: atomic commits
    * without atomic rename, O(1)-listing planning under
    * per-micro-batch commit rates, time travel, CDC-maintained
    * rollups, and manifest-stat file pruning. The rename-based plain
    * backend remains for EXISTING stores (auto-detected: store
    * content on disk with neither the `_backend` marker nor a gauge
    * manifest log) and via an explicit `--backend plain` — it is the
    * simpler layout for a local-filesystem deployment and the
    * migration-free path for stores created before round 11.
    *
    * A store created under `backend = Some("snapshot")` (or the new
    * default) writes a `_backend` marker; every later open (CLI calls
    * pass no backend) routes the fact tables through the manifest-log
    * [[SnapshotTable]]s automatically, so backends never mix on one
    * store. The gauge manifest dir is a fallback detector for stores
    * whose marker was lost. */
  def open(spark: SparkSession, root: String,
      backend: Option[String] = None): GaugeStore = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$root/_backend")
    val rootP = new org.apache.hadoop.fs.Path(root)
    val logP = new org.apache.hadoop.fs.Path(s"$root/gauge_data/_log")
    val isSnap = fs.exists(marker) || fs.exists(logP)
    val existing = fs.exists(rootP) && fs.listStatus(rootP).nonEmpty
    val snap = backend match {
      // an explicit backend that CONTRADICTS what is on disk would mix
      // layouts (plain code reading manifest dirs as raw parquet, or
      // snapshot code planting a manifest log inside a plain table) —
      // refuse instead; with snapshot the default for new stores, a
      // habitual `--backend plain` against one is now an easy mistake
      case Some("snapshot") =>
        require(isSnap || !existing,
          s"store at $root has plain-backend content — open it without " +
            s"--backend (auto-detects plain); backends never mix")
        true
      case Some("plain") =>
        require(!isSnap,
          s"store at $root is snapshot-backed (_backend marker / " +
            s"manifest log present) — refusing --backend plain")
        false
      case Some(other) => sys.error(s"unknown --backend $other (snapshot|plain)")
      case None =>
        isSnap || !existing // new store: snapshot by default (ADR above)
    }
    if (snap) {
      if (!fs.exists(marker)) {
        fs.mkdirs(new org.apache.hadoop.fs.Path(root))
        // two concurrent first opens race on the marker; either copy
        // has identical content, so the loser just proceeds
        try {
          val out = fs.create(marker, false)
          try out.write("snapshot".getBytes("UTF-8")) finally out.close()
        } catch { case _: java.io.IOException => () }
      }
      new SnapshotGaugeStore(spark, root)
    } else new GaugeStore(spark, root)
  }
}
