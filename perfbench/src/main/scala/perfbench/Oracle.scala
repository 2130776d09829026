package perfbench

import scala.collection.mutable

/** Independent oracle for the served JSON. It knows only what the
  * generator delivered (which files, which runs, which revisions) and
  * recomputes every response from [[Gen]]'s closed form:
  *
  *  - obs cells apply keep-latest per (source, time): of the delivered
  *    files covering a time, the latest timemark wins;
  *  - forecast rows are pinned to their run's timemark, nowcast rows
  *    span every delivered run, and a re-delivered run serves only its
  *    latest revision;
  *  - every pivot category is present, with explicit nulls.
  *
  * The pivot columns and their naming are written out here, not taken
  * from the engine, so a category the engine drops shows as a mismatch.
  * Responses are compared as whole strings: any difference is a failed
  * operation. */
final class Oracle(gen: Gen) {
  import Gen._

  private val obsFiles = mutable.Map.empty[Int, mutable.TreeSet[Long]]
  private val runs = mutable.TreeMap.empty[Long, Int]

  def deliverObs(src: Int, timemark: Long): Unit =
    obsFiles.getOrElseUpdate(src, mutable.TreeSet.empty[Long]) += timemark
  def deliverRun(timemark: Long, rev: Int): Unit =
    runs(timemark) = math.max(rev, runs.getOrElse(timemark, rev))
  def runTimemarks: Seq[Long] = runs.keys.toSeq

  /** Keep-latest obs value of `src` at `hour`, if any delivered file covers it. */
  def obs(src: Int, st: Station, hour: Long): Option[Double] =
    obsFiles.get(src).flatMap(_.rangeFrom(hour).rangeUntil(hour + ObsSpan).lastOption)
      .map(tm => gen.obsValue(src, st, hour, tm))

  private def num(v: Option[Double]): String = v.fold("null")(_.toString)

  private def array(rows: Seq[String]): String =
    if (rows.isEmpty) "null" else rows.mkString("[", ",", "]")

  /** Output columns of `get_obs_timeseries_station_data`, as
    * (data_source, column). */
  private val obsColumns: Seq[(String, String)] = Seq(
    "ocean_buoy" -> "ocean_buoy_wave_height", "tidal_gauge" -> "tidal_gauge_water_level",
    "tidal_predictions" -> "tidal_predictions", "coastal_gauge" -> "coastal_gauge_water_level",
    "river_gauge" -> "river_gauge_water_level")

  /** Output columns of the all-parameters op, as (data_source, column). */
  private def allparmsColumns(nowcastSource: String): Seq[(String, String)] = {
    val fixed = Seq("air_barometer" -> "air_barometer", "ocean_buoy" -> "ocean_buoy_wave_height",
      "tidal_gauge" -> "tidal_gauge_water_level", "tidal_predictions" -> "tidal_predictions",
      "coastal_gauge" -> "coastal_gauge_water_level", "river_gauge" -> "river_gauge_water_level",
      "stream_gauge" -> "stream_gauge_stream_elevation", "wind_anemometer" -> "wind_anemometer")
    if (fixed.exists(_._1 == nowcastSource)) fixed
    else fixed.head +: (nowcastSource -> Oracle.column(nowcastSource)) +: fixed.tail
  }

  /** `get_obs_timeseries_station_data` (allparms = false) or its
    * all-parameters variant over hours `[start, end]`. */
  def obsResponse(station: String, start: Long, end: Long,
      allparms: Option[String]): String = {
    val st = gen.stationByName(station)
    val srcs = gen.sourcesOf(st)
    val cols = allparms.fold(obsColumns)(allparmsColumns)
    val rows = (start to end).flatMap { h =>
      val cells = srcs.map(s => Catalog(s).data_source -> obs(s, st, h)).toMap
      if (!cells.values.exists(_.isDefined)) None
      else Some(cols.map { case (ds, c) =>
        s""""$c":${num(cells.get(ds).flatten)}""" }
        .mkString(s"""{"time_stamp":"${sqlTs(h)}",""", ",", "}"))
    }
    array(rows)
  }

  private def modelType(st: Station): Int = ModelTypes.indexWhere(_._2 == st.locType)

  /** Served model value: the fact's water_level column, null for the
    * wave-height station type. */
  private def modelCell(st: Station, hour: Long, tm: Long): Option[Double] = {
    val t = modelType(st)
    if (ModelTypes(t)._3 != "water_level") None
    else Some(gen.modelValue(t, st, hour, tm, runs(tm)))
  }

  private def modelRow(st: Station, hour: Long, tm: Long): String =
    s"""{"time_stamp":"${sqlTs(hour)}","${Oracle.column(ModelSource)}":${num(modelCell(st, hour, tm))}}"""

  /** `get_forecast_timeseries_station_data`: one run, `[tm, maxEnd]`. */
  def forecastResponse(station: String, tm: Long, maxEnd: Long): String = {
    val st = gen.stationByName(station)
    if (!runs.contains(tm)) "null"
    else array((tm until tm + ForecastSpan).filter(_ <= maxEnd).map(modelRow(st, _, tm)))
  }

  /** `get_nowcast_timeseries_station_data`: every run's rows in
    * `[start, end]`, ordered like the served JSON_AGG (time, then row text). */
  def nowcastResponse(station: String, start: Long, end: Long): String = {
    val st = gen.stationByName(station)
    val rows = runs.keys.toSeq.flatMap { tm =>
      (tm - NowcastSpan until tm + ForecastSpan).filter(h => h >= start && h <= end)
        .map(h => (sqlTs(h), modelRow(st, h, tm)))
    }
    array(rows.sorted.map(_._2))
  }
}

object Oracle {
  /** Output column of a pivot category: the category with '.' removed. */
  def column(category: String): String = category.replace(".", "")
}

/** One served request, with the oracle's answer computed up front. */
final case class Request(op: String, line: String, expected: String)

object Request {
  private def q(kv: (String, String)*): String =
    kv.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")

  def obs(o: Oracle, station: String, start: Long, end: Long): Request =
    Request("obs", q("op" -> "get_obs_timeseries_station_data", "station" -> station,
      "start" -> Gen.iso(start), "end" -> Gen.iso(end)),
      o.obsResponse(station, start, end, None))

  val NowcastSource = "adcirc.ncsc123"

  def allparms(o: Oracle, station: String, start: Long, end: Long): Request =
    Request("allparms", q("op" -> "get_obs_timeseries_station_data_allparms",
      "station" -> station, "start" -> Gen.iso(start), "end" -> Gen.iso(end),
      "nowcastSource" -> NowcastSource),
      o.obsResponse(station, start, end, Some(NowcastSource)))

  def forecast(o: Oracle, station: String, tm: Long, maxEnd: Long): Request =
    Request("forecast", q("op" -> "get_forecast_timeseries_station_data",
      "station" -> station, "timemark" -> Gen.iso(tm), "maxEnd" -> Gen.iso(maxEnd),
      "dataSource" -> Gen.ModelSource, "instance" -> Gen.Instance),
      o.forecastResponse(station, tm, maxEnd))

  def nowcast(o: Oracle, station: String, start: Long, end: Long): Request =
    Request("nowcast", q("op" -> "get_nowcast_timeseries_station_data",
      "station" -> station, "start" -> Gen.iso(start), "end" -> Gen.iso(end),
      "dataSource" -> Gen.ModelSource, "instance" -> Gen.Instance),
      o.nowcastResponse(station, start, end))
}
