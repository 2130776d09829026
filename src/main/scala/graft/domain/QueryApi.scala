package graft.domain

import graft.operators.FixedPivot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The engine's read path — Spark restatement of the reference's views
  * and PL/pgSQL crosstab functions (SURVEY §3.3). Each function is a
  * parameterized DataFrame pipeline; `*Json` variants reproduce the
  * JSON_AGG contract.
  *
  * Scale: the four request functions do not join. They resolve the
  * station/source dims on the driver (`stationFacts`), filter the fact
  * to the station's source ids and time window, and run the pivot,
  * sort and JSON_AGG over ONE partition: no Exchange, one Spark job
  * per request, and the fact scan one task over the window-pruned
  * files. The pivot uses a fixed category list (no distinct-scan).
  * The SQL views ([[gaugeStationSourceData]], [[registerViews]]) keep
  * the broadcast star join for unbounded ad-hoc reads.
  */
object QueryApi {

  /** drf_gauge_station_source_data view (ingestObsTasks.py:494-521):
    * 3-way star join flattening fact × source × station (J3). */
  def gaugeStationSourceData(
      fact: DataFrame, source: DataFrame, station: DataFrame): DataFrame =
    fact
      .join(broadcast(source), "source_id")
      .join(broadcast(station), "station_id")

  /** The reference view's exact 24-column projection (minus the serial
    * obs_id, which a distributed engine does not mint — SURVEY §7; plus
    * flow_volume which the query functions read). Column order matches
    * the CREATE VIEW statement for drop-in consumers. */
  def gaugeStationSourceDataProjected(
      fact: DataFrame, source: DataFrame, station: DataFrame): DataFrame =
    gaugeStationSourceData(fact, source, station).select(
      col("source_id"), col("station_id"), col("station_name"),
      col("timemark"), col("time"),
      col("water_level"), col("wave_height"), col("wind_speed"),
      col("air_pressure"), col("stream_elevation"), col("flow_volume"),
      col("tz"), col("gauge_owner"),
      col("data_source"), col("source_name"), col("source_archive"), col("units"),
      col("location_name"), col("apsviz_station"), col("location_type"),
      col("country"), col("state"), col("county"), col("geom"))

  /** Register the reference's two serving views for SQL users
    * (drf_gauge_station_source_data / drf_model_station_source_data,
    * ingestObsTasks.py:494-521, ingestModelTasks.py:475-501):
    * `spark.sql("SELECT * FROM gauge_station_source_data WHERE ...")`.
    */
  def registerViews(
      gaugeFact: DataFrame, gaugeSource: DataFrame,
      modelFact: DataFrame, modelSource: DataFrame,
      station: DataFrame): Unit = {
    gaugeStationSourceData(gaugeFact, gaugeSource, station)
      .createOrReplaceTempView("gauge_station_source_data")
    gaugeStationSourceData(modelFact, modelSource, station)
      .createOrReplaceTempView("model_station_source_data")
  }

  /** Fixed crosstab categories of get_obs_timeseries_station_data
    * (scripts/get_obs_timeseries_station_data.sql:31-38): raw
    * data_source value → output column name. */
  val obsPivotColumns: Seq[(String, String)] = Seq(
    "ocean_buoy" -> "ocean_buoy_wave_height",
    "tidal_gauge" -> "tidal_gauge_water_level",
    "tidal_predictions" -> "tidal_predictions",
    "coastal_gauge" -> "coastal_gauge_water_level",
    "river_gauge" -> "river_gauge_water_level")

  /** The fact rows behind one station's request, each tagged with its
    * source's `data_source`: the rows, with their multiplicity, of
    * `gaugeStationSourceData(fact, source, station)` filtered on
    * `station_name`, `factFilter` and `sourceFilter` — without the
    * join. The dims resolve on the driver: one collect maps the name to
    * its station_id(s), one more maps those to their source rows. Over
    * driver-local dims ([[GaugeStore.localStations]] and friends)
    * neither runs a Spark job; over parquet dims each is one tiny job.
    * The fact is then filtered on `source_id IN (...)` and tagged from
    * a literal `source_id → data_source*` map; `explode` repeats a row
    * once per matching (source row, station row) pair, exactly as the
    * join would — a station name held by two station_ids included.
    *
    * The result is coalesced to ONE partition, so the pivot, sort and
    * JSON_AGG above it need no Exchange and the request runs as one
    * Spark job. The price is that the request's fact scan is one task
    * over its window-pruned files — bounded by the window, not by the
    * store, but not parallel either. */
  private def stationFacts(
      fact: DataFrame, source: DataFrame, station: DataFrame,
      stationName: String, factFilter: Column,
      sourceFilter: Column = lit(true)): DataFrame = {
    val stationIds = station
      .filter(col("station_name") === stationName && col("station_id").isNotNull)
      .select(col("station_id").cast("long")).collect().map(_.getLong(0))
    val rowsPerId = stationIds.groupBy(identity).map { case (id, ns) => id -> ns.length }
    val tags: Map[Long, Seq[String]] =
      if (rowsPerId.isEmpty) Map.empty
      else source
        .filter(col("station_id").isin(rowsPerId.keys.toSeq: _*) &&
          col("source_id").isNotNull && sourceFilter)
        .select(col("source_id").cast("long"), col("station_id").cast("long"),
          col("data_source"))
        .collect().toSeq
        .flatMap(r => Seq.fill(rowsPerId(r.getLong(1)))(r.getLong(0) -> r.getString(2)))
        .groupMap(_._1)(_._2)
    fact.filter(col("source_id").isin(tags.keys.toSeq: _*) && factFilter)
      .withColumn("data_source",
        explode(element_at(typedLit(tags), col("source_id").cast("long"))))
      .coalesce(1)
  }

  private def timeBetween(lo: String, hi: String): Column =
    col("time") >= lit(lo).cast("timestamp") && col("time") <= lit(hi).cast("timestamp")

  /** get_obs_timeseries_station_data(station, start, end) →
    * one row per time, the 5 fixed data_source columns
    * (scripts/get_obs_timeseries_station_data.sql:7-44). */
  def obsTimeseriesStationData(
      fact: DataFrame, source: DataFrame, station: DataFrame,
      stationName: String, startDate: String, endDate: String): DataFrame = {
    val rows = stationFacts(fact, source, station, stationName,
      timeBetween(startDate, endDate))
      .select(
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("time_stamp"),
        col("data_source"),
        coalesce(col("water_level"), col("wave_height")).as("yaxis"))
    val pivoted = FixedPivot(rows, Seq("time_stamp"), "data_source",
      obsPivotColumns.map(_._1), first(col("yaxis")))
    obsPivotColumns.foldLeft(pivoted) { case (df, (cat, out)) =>
      df.withColumnRenamed(cat, out)
    }.orderBy("time_stamp")
  }

  /** JSON_AGG form: the full JSON array string the DRF API returns
    * (A8). NULL categories serialize as JSON null like ROW_TO_JSON. */
  def obsTimeseriesStationDataJson(
      fact: DataFrame, source: DataFrame, station: DataFrame,
      stationName: String, startDate: String, endDate: String): String =
    jsonAgg(obsTimeseriesStationData(fact, source, station, stationName, startDate, endDate),
      "time_stamp", obsPivotColumns.map(_._2))

  /** Fixed-key crosstab categories of the all-parameters variant, in
    * output order; the request's `nowcastSource` goes after the first. */
  private val allParmsColumns: Seq[(String, String)] = Seq(
    "air_barometer" -> "air_barometer",
    "ocean_buoy" -> "ocean_buoy_wave_height",
    "tidal_gauge" -> "tidal_gauge_water_level",
    "tidal_predictions" -> "tidal_predictions",
    "coastal_gauge" -> "coastal_gauge_water_level",
    "river_gauge" -> "river_gauge_water_level",
    "stream_gauge" -> "stream_gauge_stream_elevation",
    "wind_anemometer" -> "wind_anemometer")

  /** All-parameters variant of the obs query
    * (scripts/get_obs_timeseries_station_data_allparms.sql:7-57):
    * 6-way measure COALESCE, 9 categories including the parameterized
    * `nowcastSource` (its output column named with '.' stripped, F9).
    */
  def obsTimeseriesStationDataAllParms(
      fact: DataFrame, source: DataFrame, station: DataFrame,
      stationName: String, startDate: String, endDate: String,
      nowcastSource: String): DataFrame = {
    // a nowcastSource that IS one of the fixed categories must not
    // duplicate the pivot value (duplicate columns -> ambiguous
    // reference AnalysisException); its data already serves under the
    // fixed category's column
    val nowcastCat: Seq[(String, String)] =
      if (allParmsColumns.exists(_._1 == nowcastSource)) Nil
      else Seq(nowcastSource -> FixedPivot.sanitize(nowcastSource))
    val cats = allParmsColumns.head +: (nowcastCat ++ allParmsColumns.tail)
    val rows = stationFacts(fact, source, station, stationName,
      timeBetween(startDate, endDate))
      .select(
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("time_stamp"),
        col("data_source"),
        coalesce(col("water_level"), col("stream_elevation"), col("wave_height"),
          col("wind_speed"), col("air_pressure"), col("flow_volume")).as("yaxis"))
    val pivoted = FixedPivot(rows, Seq("time_stamp"), "data_source",
      cats.map(_._1), first(col("yaxis")))
    cats.foldLeft(pivoted) { case (df, (cat, out)) =>
      if (cat == out) df else df.withColumnRenamed(cat, out)
    }.orderBy("time_stamp")
  }

  def obsTimeseriesStationDataAllParmsJson(
      fact: DataFrame, source: DataFrame, station: DataFrame,
      stationName: String, startDate: String, endDate: String,
      nowcastSource: String): String = {
    val df = obsTimeseriesStationDataAllParms(
      fact, source, station, stationName, startDate, endDate, nowcastSource)
    jsonAgg(df, "time_stamp", df.columns.filterNot(_ == "time_stamp").toSeq)
  }

  /** get_forecast_timeseries_station_data(station, timemark, maxEnd,
    * dataSource, sourceInstance): model fact, one dynamic output
    * column named from data_source with '.' stripped
    * (scripts/get_forecast_timeseries_station_data.sql:12-33). */
  def forecastTimeseriesStationData(
      fact: DataFrame, source: DataFrame, station: DataFrame,
      stationName: String, timemark: String, maxForecastEndtime: String,
      dataSource: String, sourceInstance: String): DataFrame =
    stationFacts(fact, source, station, stationName,
      timeBetween(timemark, maxForecastEndtime) &&
        col("timemark") === lit(timemark).cast("timestamp"),
      col("data_source") === dataSource && col("source_instance") === sourceInstance)
      .select(
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("time_stamp"),
        col("water_level").as(FixedPivot.sanitize(dataSource)))
      .orderBy("time_stamp")

  /** get_nowcast_timeseries_station_data(station, start, end,
    * dataSource, sourceInstance) — like forecast but an open time
    * range, no timemark pin (scripts/get_nowcast_timeseries_station_data.sql). */
  def nowcastTimeseriesStationData(
      fact: DataFrame, source: DataFrame, station: DataFrame,
      stationName: String, startDate: String, endDate: String,
      dataSource: String, sourceInstance: String): DataFrame =
    stationFacts(fact, source, station, stationName,
      timeBetween(startDate, endDate),
      col("data_source") === dataSource && col("source_instance") === sourceInstance)
      .select(
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("time_stamp"),
        col("water_level").as(FixedPivot.sanitize(dataSource)))
      .orderBy("time_stamp")

  /** JSON_AGG: serialize an already-pivoted frame to the reference's
    * JSON array-of-objects (keys in column order, nulls explicit). */
  def jsonAgg(pivoted: DataFrame, idCol: String, valueCols: Seq[String]): String = {
    // Build each row as a JSON object string with explicit nulls, then
    // aggregate ordered by id. to_json(struct) would drop null keys.
    val obj = concat(
      lit("{"),
      concat_ws(",",
        (idCol +: valueCols).map { c =>
          // NaN/Infinity are not legal JSON tokens — a harvest cell
          // the CSV reader parsed as Double.NaN would otherwise break
          // every consumer's parse; serialize them as null
          val sv = col(c).cast("string")
          val finite = when(sv.isin("NaN", "Infinity", "-Infinity"),
            lit("null")).otherwise(sv)
          concat(lit("\"" + c + "\":"),
            when(col(c).isNull, lit("null"))
              .otherwise(
                if (c == idCol) concat(lit("\""), col(c), lit("\""))
                else finite))
        }: _*),
      lit("}"))
    // the array is assembled ON EXECUTORS: collect_list the (id, obj)
    // structs, sort by id, join — exactly ONE row reaches the driver,
    // whatever the window size (the per-station filter bounds the list
    // an executor holds, same bound the old row-per-timestamp collect
    // had on the driver)
    val assembled = pivoted
      .select(col(idCol).as("__id"), obj.as("__obj"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__id"), col("__obj")))),
            x => x.getField("__obj")),
          ",").as("joined"),
        count(lit(1)).as("n"))
      .collect()(0)
    if (assembled.getAs[Long]("n") == 0L) "null"
    else "[" + assembled.getAs[String]("joined") + "]"
  }
}
