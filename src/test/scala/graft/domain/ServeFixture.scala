package graft.domain

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A small gauge store written straight through the [[GaugeStore]]
  * API, shaped to stress the serve path's dim resolution:
  *  - station name "A" is held by two station_ids (1 and 2);
  *  - source 12's data_source (`ghost_gauge`) is outside every pivot
  *    category, and source 16's data_source is NULL;
  *  - source 13 carries the allparms `nowcastSource` (`adcirc.nowcast`);
  *  - model source 21 appears twice in `model_source`, so the star
  *    join doubles its rows;
  *  - fact rows of source 99 have no source row.
  * [[requests]] covers the four ops, including windows with no rows
  * (`null` answers); [[expected]] answers each one from the star join
  * ([[QueryApi.gaugeStationSourceData]]) + [[graft.operators.FixedPivot]]
  * + [[QueryApi.jsonAgg]]. */
object ServeFixture {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def frame(spark: SparkSession, schema: StructType, rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*), schema)

  private def station(id: Long, name: String) =
    Seq(id, name, 44.9, -66.9, "gmt", "NOAA", s"loc$id", "tidal", "us", "me", "Wash", "01A", false)

  /** One obs fact row with `measure` set to `v`. */
  private def obs(src: Long, time: String, measure: String, v: Double) =
    Seq[Any](src, ts("2023-04-23 12:00:00"), ts(time)) ++
      Schemas.obsMeasures.map(m => if (m == measure) v else null)

  def build(spark: SparkSession, root: String, backend: String): GaugeStore = {
    val store = GaugeStore.open(spark, root, Some(backend))
    store.writeStations(frame(spark, Schemas.gaugeStation,
      Seq(station(1, "A"), station(2, "A"), station(3, "B"))))
    store.writeGaugeSource(frame(spark, Schemas.gaugeSource, Seq(
      Seq(10L, 1L, "tidal_gauge", "noaa", "noaa", "m"),
      Seq(11L, 2L, "ocean_buoy", "ndbc", "ndbc", "m"),
      Seq(12L, 1L, "ghost_gauge", "x", "x", "m"),
      Seq(13L, 1L, "adcirc.nowcast", "adcirc", "renci", "m"),
      Seq(14L, 3L, "tidal_gauge", "noaa", "noaa", "m"),
      Seq(15L, 2L, "stream_gauge", "usgs", "usgs", "m"),
      Seq(16L, 1L, null, "x", "x", "m"))))
    val facts = Seq(
      obs(10, "2023-04-23 10:00:00", "water_level", 1.0),
      obs(10, "2023-04-23 11:00:00", "water_level", 1.1),
      obs(10, "2023-04-24 10:00:00", "water_level", 1.5),
      obs(11, "2023-04-23 10:00:00", "wave_height", 2.0),
      obs(11, "2023-04-23 12:00:00", "wave_height", 2.2),
      obs(12, "2023-04-23 10:00:00", "water_level", 9.9),
      obs(12, "2023-04-23 13:00:00", "water_level", 9.8),
      obs(13, "2023-04-23 11:00:00", "water_level", 0.7),
      obs(14, "2023-04-23 10:00:00", "water_level", 3.0),
      obs(15, "2023-04-23 11:00:00", "stream_elevation", 4.4),
      obs(16, "2023-04-23 14:00:00", "water_level", 5.5),
      obs(99, "2023-04-23 10:00:00", "water_level", 7.7))
    // one append per source, as the ingest writes them
    facts.groupBy(_.head).toSeq.sortBy(_._1.asInstanceOf[Long]).foreach { case (src, rows) =>
      store.appendGaugeData(frame(spark, Schemas.gaugeData, rows), s"src$src")
    }
    store.writeModelSource(frame(spark, Schemas.modelSource, Seq(
      Seq(20L, 1L, "GFS.V1", "adcirc", "renci", "m", "i1", "synoptic"),
      Seq(21L, 2L, "GFS.V1", "adcirc", "renci", "m", "i1", "synoptic"),
      Seq(21L, 2L, "GFS.V1", "adcirc", "renci", "m", "i1", "synoptic"),
      Seq(22L, 1L, "GFS.V1", "adcirc", "renci", "m", "i2", "synoptic"),
      Seq(23L, 1L, "OTHER", "adcirc", "renci", "m", "i1", "synoptic"))))
    def model(src: Long, timemark: String, time: String, v: Double) =
      Seq[Any](src, ts(timemark), ts(time), v, null)
    val run1 = "2023-04-23 12:00:00"
    val run2 = "2023-04-24 00:00:00"
    store.appendModelData(frame(spark, Schemas.modelData, Seq(
      model(20, run1, "2023-04-23 12:00:00", 0.5),
      model(20, run1, "2023-04-23 13:00:00", 0.6),
      model(20, run1, "2023-04-25 00:00:00", 0.9),
      model(21, run1, "2023-04-23 12:00:00", 0.55),
      model(22, run1, "2023-04-23 12:00:00", 0.77),
      model(23, run1, "2023-04-23 12:00:00", 0.88))))
    store.appendModelData(frame(spark, Schemas.modelData, Seq(
      model(20, run2, "2023-04-24 00:00:00", 0.3),
      model(20, run2, "2023-04-24 01:00:00", 0.31))))
    store
  }

  private val day = Map("start" -> "2023-04-23T00:00:00", "end" -> "2023-04-24T00:00:00")
  private val empty = Map("start" -> "2023-05-01T00:00:00", "end" -> "2023-05-02T00:00:00")
  private val obsOp = "get_obs_timeseries_station_data"
  private val allOp = "get_obs_timeseries_station_data_allparms"
  private val fcOp = "get_forecast_timeseries_station_data"
  private val ncOp = "get_nowcast_timeseries_station_data"
  private val gfs = Map("dataSource" -> "GFS.V1", "instance" -> "i1")

  /** Requests as parsed maps, keyed by a short label. */
  val requests: Seq[(String, Map[String, String])] = Seq(
    "obs A" -> (day ++ Map("op" -> obsOp, "station" -> "A")),
    "obs B" -> (day ++ Map("op" -> obsOp, "station" -> "B")),
    "obs A empty window" -> (empty ++ Map("op" -> obsOp, "station" -> "A")),
    "obs unknown station" -> (day ++ Map("op" -> obsOp, "station" -> "nosuch")),
    "allparms A" -> (day ++ Map("op" -> allOp, "station" -> "A",
      "nowcastSource" -> "adcirc.nowcast")),
    "allparms A, fixed nowcastSource" -> (day ++ Map("op" -> allOp, "station" -> "A",
      "nowcastSource" -> "tidal_gauge")),
    "allparms A empty window" -> (empty ++ Map("op" -> allOp, "station" -> "A",
      "nowcastSource" -> "adcirc.nowcast")),
    "forecast A" -> (gfs ++ Map("op" -> fcOp, "station" -> "A",
      "timemark" -> "2023-04-23T12:00:00", "maxEnd" -> "2023-04-24T12:00:00")),
    "forecast A empty run" -> (gfs ++ Map("op" -> fcOp, "station" -> "A",
      "timemark" -> "2023-05-01T00:00:00", "maxEnd" -> "2023-05-02T00:00:00")),
    "nowcast A" -> (gfs ++ Map("op" -> ncOp, "station" -> "A",
      "start" -> "2023-04-23T00:00:00", "end" -> "2023-04-25T00:00:00")),
    "nowcast A instance i2" -> (gfs ++ Map("op" -> ncOp, "station" -> "A",
      "instance" -> "i2", "start" -> "2023-04-23T00:00:00", "end" -> "2023-04-25T00:00:00")),
    "nowcast A empty window" -> (gfs ++ empty ++ Map("op" -> ncOp, "station" -> "A")))

  /** The request as the JSON line the serve loop reads. */
  def line(req: Map[String, String]): String =
    req.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")

  private def between(lo: String, hi: String): Column =
    col("time") >= lit(lo).cast("timestamp") && col("time") <= lit(hi).cast("timestamp")

  private def timeStamp = date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("time_stamp")

  /** Pivot `rows` (time_stamp, data_source, yaxis) on `cats` and
    * JSON_AGG it under the categories' output names. */
  private def pivotJson(rows: DataFrame, cats: Seq[(String, String)]): String = {
    val pivoted = graft.operators.FixedPivot(rows, Seq("time_stamp"), "data_source",
      cats.map(_._1), first(col("yaxis")))
    val named = pivoted.select(col("time_stamp") +:
      cats.map { case (cat, out) => col(s"`$cat`").as(out) }: _*)
    QueryApi.jsonAgg(named, "time_stamp", cats.map(_._2))
  }

  /** The join-based answer to `req` over the store's full fact
    * tables and parquet dims. */
  def expected(store: GaugeStore, req: Map[String, String]): String = {
    val atStation = col("station_name") === req("station")
    def gauge = QueryApi.gaugeStationSourceData(store.gaugeData, store.gaugeSource, store.stations)
      .filter(atStation && between(req("start"), req("end")))
    def model = QueryApi.gaugeStationSourceData(store.modelData, store.modelSource, store.stations)
      .filter(atStation && col("data_source") === req("dataSource") &&
        col("source_instance") === req("instance"))
    def series(df: DataFrame) = {
      val out = graft.operators.FixedPivot.sanitize(req("dataSource"))
      QueryApi.jsonAgg(df.select(timeStamp, col("water_level").as(out)), "time_stamp", Seq(out))
    }
    req("op") match {
      case `obsOp` =>
        pivotJson(gauge.select(timeStamp, col("data_source"),
          coalesce(col("water_level"), col("wave_height")).as("yaxis")),
          QueryApi.obsPivotColumns)
      case `allOp` =>
        val nc = req("nowcastSource")
        val fixed = Seq("ocean_buoy" -> "ocean_buoy_wave_height",
          "tidal_gauge" -> "tidal_gauge_water_level",
          "tidal_predictions" -> "tidal_predictions",
          "coastal_gauge" -> "coastal_gauge_water_level",
          "river_gauge" -> "river_gauge_water_level",
          "stream_gauge" -> "stream_gauge_stream_elevation",
          "wind_anemometer" -> "wind_anemometer")
        val ncCat = if ((fixed.map(_._1) :+ "air_barometer").contains(nc)) Nil
          else Seq(nc -> nc.replace(".", ""))
        pivotJson(gauge.select(timeStamp, col("data_source"),
          coalesce(col("water_level"), col("stream_elevation"), col("wave_height"),
            col("wind_speed"), col("air_pressure"), col("flow_volume")).as("yaxis")),
          ("air_barometer" -> "air_barometer") +: (ncCat ++ fixed))
      case `fcOp` =>
        series(model.filter(between(req("timemark"), req("maxEnd")) &&
          col("timemark") === lit(req("timemark")).cast("timestamp")))
      case `ncOp` =>
        series(model.filter(between(req("start"), req("end"))))
    }
  }
}
