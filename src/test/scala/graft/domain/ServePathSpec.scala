package graft.domain

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** The serve path's driver-side dim resolution: [[QueryServe]] answers
  * equal the star-join answers on both backends, the dim copies
  * [[GaugeStore.localStations]] and friends follow every dim rewrite,
  * and a negative nowcast horizon is an error, not an empty answer. */
class ServePathSpec extends SparkSuite {

  private lazy val dir = Files.createTempDirectory("graft-serve-path").toString

  private def serve(store: GaugeStore, lines: String*): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    QueryServe.serve(store, lines.iterator, out += _)
    out.toSeq
  }

  for (backend <- Seq("plain", "snapshot"))
    test(s"$backend backend: every op answers exactly like the star join") {
      val store = ServeFixture.build(spark, s"$dir/diff-$backend", backend)
      val answers = ServeFixture.requests.map { case (label, req) =>
        val got = serve(store, ServeFixture.line(req)).head
        assert(got == ServeFixture.expected(store, req), label)
        label -> got
      }.toMap
      // the fixture's edges are really exercised, not vacuously equal
      assert(answers("obs A").contains("\"tidal_gauge_water_level\":1.1") &&
        answers("obs A").contains("\"ocean_buoy_wave_height\":2.2"), answers("obs A"))
      assert(answers("allparms A").contains("\"adcircnowcast\":0.7") &&
        answers("allparms A").contains("\"stream_gauge_stream_elevation\":4.4"),
        answers("allparms A"))
      assert("GFSV1\":0.55".r.findAllIn(answers("forecast A")).size == 2,
        s"a duplicated source row must double its rows: ${answers("forecast A")}")
      assert(answers("nowcast A").contains("\"GFSV1\":0.31"), answers("nowcast A"))
      for (l <- Seq("obs A empty window", "obs unknown station",
          "allparms A empty window", "forecast A empty run", "nowcast A empty window"))
        assert(answers(l) == "null", l)
    }

  private val meta = SourceMeta(
    data_source = "tidal_gauge", source_name = "noaa",
    source_archive = "noaa", source_variable = "water_level",
    filename_prefix = "noaaweb_stationdata_water_level",
    location_type = "tidal", units = "m")

  test("a request sees every dim rewrite: stations, gauge_source, model_source") {
    val root = s"$dir/invalidate"
    val harvest = Paths.get(root, "harvest")
    Files.createDirectories(harvest)
    Files.write(Paths.get(root, "geom_noaa.csv"),
      "8410140,44.9,-66.9,gmt,NOAA,Eastport,tidal,us,me,Wash,01A".getBytes)
    def drop(prefix: String, v: String) = Files.write(
      harvest.resolve(s"${prefix}_2023-04-23T12_00_00.csv"),
      s"TIME,STATION,WATER_LEVEL\n2023-04-23T10:00:00,8410140,$v".getBytes)
    val store = GaugeStore.open(spark, s"$root/store")
    store.writeStations(ObsIngest.seedStations(spark, s"$root/geom_noaa.csv"))
    def ingest(m: SourceMeta) = graft.IngestCli.sequenceIngest(spark, store, Seq(m),
      harvest.toString, lit("2023-04-24 00:00:00").cast("timestamp"), deleteProcessed = true)
    drop(meta.filename_prefix, "1.10")
    ingest(meta)
    val obs = """{"op":"get_obs_timeseries_station_data","station":"8410140",""" +
      """"start":"2023-04-23T00:00:00","end":"2023-04-24T00:00:00"}"""
    val before = serve(store, obs).head
    assert(before.contains("\"tidal_gauge_water_level\":1.1") &&
      before.contains("\"coastal_gauge_water_level\":null"), before)

    // a warm copy is reused until its files change
    assert(store.localStations eq store.localStations)
    store.markApsVizStations(Seq("8410140"))
    assert(store.localStations.filter(col("apsviz_station")).count() == 1,
      "markApsVizStations must reach the served stations copy")

    // an ingest of a new catalog source upserts gauge_source
    val coastal = meta.copy(data_source = "coastal_gauge", source_name = "nos",
      source_archive = "nos", filename_prefix = "nos_coastal_water_level")
    drop(coastal.filename_prefix, "2.20")
    ingest(coastal)
    val after = serve(store, obs).head
    assert(after.contains("\"tidal_gauge_water_level\":1.1") &&
      after.contains("\"coastal_gauge_water_level\":2.2"), after)

    // model facts whose source is not registered yet serve null, then
    // writeModelSource makes them visible
    val mmeta = meta.copy(data_source = "GFSFORECAST_EC95D", source_name = "adcirc",
      source_archive = "renci", filename_prefix = "FORECAST")
    Files.write(Paths.get(root, "FORECAST_NOAASTATIONS.csv"),
      "TIME,STATION,WATER_LEVEL\n2023-04-23T13:00:00,8410140,0.81".getBytes)
    val src = ModelIngest.buildModelSource(store.stations, mmeta, "inst1", "synoptic")
    store.appendModelData(ModelIngest.ingestRun(spark, mmeta, src, store.stations,
      lit("2023-04-23 12:00:00"), s"$root/FORECAST_NOAASTATIONS.csv").drop("model_run_id"))
    val other = ModelIngest.buildModelSource(store.stations,
      mmeta.copy(data_source = "OTHER"), "inst1", "synoptic")
    store.writeModelSource(other)
    val forecast = """{"op":"get_forecast_timeseries_station_data","station":"8410140",""" +
      """"timemark":"2023-04-23T12:00:00","maxEnd":"2023-04-24T00:00:00",""" +
      """"dataSource":"GFSFORECAST_EC95D","instance":"inst1"}"""
    assert(serve(store, forecast).head == "null")
    store.writeModelSource(other.unionByName(src))
    assert(serve(store, forecast).head ==
      """[{"time_stamp":"2023-04-23 13:00:00","GFSFORECAST_EC95D":0.81}]""")
  }

  test("two stores served from one session keep their own dim copies") {
    val a = ServeFixture.build(spark, s"$dir/two-a", "snapshot")
    val b = ServeFixture.build(spark, s"$dir/two-b", "snapshot")
    // same station name and source ids, different data_source in b
    val relabeled = b.gaugeSource.withColumn("data_source",
      when(col("source_id") === 10L, lit("river_gauge")).otherwise(col("data_source")))
      .collect()
    b.writeGaugeSource(spark.createDataFrame(
      java.util.Arrays.asList(relabeled: _*), b.gaugeSource.schema))
    val req = ServeFixture.line(ServeFixture.requests.toMap.apply("obs A"))
    val answers = Seq(a, b, a, b).map(s => serve(s, req).head)
    assert(answers(0) == answers(2) && answers(1) == answers(3))
    // serving b neither evicts nor replaces a's warm copy
    val warmA = a.localGaugeSource
    serve(b, req)
    assert(a.localGaugeSource eq warmA)
    assert(answers(0).contains("\"tidal_gauge_water_level\":1.1") &&
      answers(0).contains("\"river_gauge_water_level\":null"), answers(0))
    assert(answers(1).contains("\"river_gauge_water_level\":1.1") &&
      answers(1).contains("\"tidal_gauge_water_level\":null"), answers(1))
    assert(answers(1) == ServeFixture.expected(b, ServeFixture.requests.toMap.apply("obs A")))
  }

  for (backend <- Seq("plain", "snapshot"))
    test(s"$backend backend: a negative nowcast horizon is an error, not null") {
      val store = ServeFixture.build(spark, s"$dir/horizon-$backend", backend)
      intercept[IllegalArgumentException] {
        store.modelDataForRange("2023-04-23 00:00:00", "2023-04-25 00:00:00", -1)
      }
      val req = ServeFixture.requests.toMap.apply("nowcast A") + ("horizonDays" -> "-1")
      val out = serve(store, ServeFixture.line(req)).head
      assert(out.startsWith("{\"error\":") && out.contains("horizonDays"), out)
      // zero stays legal: only same-day runs survive the prune
      val zero = serve(store, ServeFixture.line(req + ("horizonDays" -> "0"))).head
      assert(zero.startsWith("[") && zero.contains("\"GFSV1\":0.31"), zero)
    }
}
