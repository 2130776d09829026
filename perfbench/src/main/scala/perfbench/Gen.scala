package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import graft.domain.SourceMeta

/** Deterministic generator of the apsviz harvest inputs (FIXTURES.md
  * §1-5): the 11-row source catalog, the headerless 11-column station
  * geometry seed, obs harvest data + `stationdata_meta` files, and
  * ADCIRC run directories with their `meta_*` station lists.
  *
  * Every measured value is a closed-form function of (seed, source,
  * station, time, timemark[, rerun revision]), so the keep-latest
  * answer to any request is computable without Spark ([[Oracle]]).
  * Times are whole hours after [[Gen.Origin]]; an obs file with
  * timemark `tm` carries the 12 hourly samples `tm-11 .. tm`, so files
  * delivered 6 h apart overlap by 6 samples and the later timemark
  * must win.
  */
object Gen {
  val Origin: LocalDateTime = LocalDateTime.of(2024, 3, 1, 0, 0)
  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val Sql = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val RunStamp = DateTimeFormatter.ofPattern("yyyyMMddHH")

  def iso(h: Long): String = Origin.plusHours(h).format(Iso)
  def sqlTs(h: Long): String = Origin.plusHours(h).format(Sql)
  /** File-name form of a timemark: Hadoop paths reject ':'. */
  def fileTs(h: Long): String = iso(h).replace(':', '_')

  /** Samples per obs harvest file, hourly, ending at the timemark. */
  val ObsSpan = 12
  /** ADCIRC run shape: nowcast `tm-6 .. tm-1`, forecast `tm .. tm+11`. */
  val NowcastSpan = 6
  val ForecastSpan = 12

  val LocationTypes: Seq[String] = Seq("tidal", "ocean", "coastal", "river")

  /** The 11 catalog sources (FIXTURES.md §5). Each (location_type,
    * data_source) pair is unique, so a station's pivot cell for a
    * category has exactly one source behind it. */
  val Catalog: IndexedSeq[SourceMeta] = IndexedSeq(
    SourceMeta("tidal_gauge", "noaa", "noaa", "water_level", "noaa_stationdata_water_level", "tidal", "m"),
    SourceMeta("tidal_predictions", "noaa", "noaa", "water_level", "noaa_stationdata_predictions", "tidal", "m"),
    SourceMeta("air_barometer", "noaa", "noaa", "air_pressure", "noaa_stationdata_air_pressure", "tidal", "mb"),
    SourceMeta("wind_anemometer", "noaa", "noaa", "wind_speed", "noaa_stationdata_wind_speed", "tidal", "mps"),
    SourceMeta("ocean_buoy", "ndbc", "ndbc", "wave_height", "ndbc_stationdata_wave_height", "ocean", "m"),
    SourceMeta("air_barometer", "ndbc", "ndbc", "air_pressure", "ndbc_stationdata_air_pressure", "ocean", "mb"),
    SourceMeta("wind_anemometer", "ndbc", "ndbc", "wind_speed", "ndbc_stationdata_wind_speed", "ocean", "mps"),
    SourceMeta("coastal_gauge", "contrails", "ncem", "water_level", "contrails_stationdata_coastal_level", "coastal", "m"),
    SourceMeta("air_barometer", "contrails", "ncem", "air_pressure", "contrails_stationdata_coastal_pressure", "coastal", "mb"),
    SourceMeta("river_gauge", "contrails", "ncem", "water_level", "contrails_stationdata_river_level", "river", "m"),
    SourceMeta("stream_gauge", "contrails", "ncem", "stream_elevation", "contrails_stationdata_river_elevation", "river", "m"))

  /** ADCIRC station types a generated run carries, with their location
    * type and measured variable: two of FIXTURES.md §3's four, one per
    * variable. Each type adds a FORECAST/NOWCAST file pair and about 12
    * Spark jobs to every `modelRunIngest`. */
  val ModelTypes: IndexedSeq[(String, String, String)] = IndexedSeq(
    ("NOAASTATIONS", "tidal", "water_level"), ("NDBCBUOYS", "ocean", "wave_height"))

  /** Model-run identity shared by every generated run. */
  val Ensemble = "gfsforecast"
  val Grid = "ec95d"
  val Instance = "ncsc123_gfs_sb55.01"
  val Metclass = "synoptic"
  val UiUrl = "https://apsviz.example/ui"
  val ModelSource: String = graft.domain.ModelIngest.dataSourceName(Ensemble, Grid, None)

  final case class Station(name: String, locType: String, idx: Int)

  final case class Delivered(name: String, bytes: Long)

  /** SplitMix64 finalizer over a running mix of the inputs. */
  def mix(xs: Long*): Long = {
    var h = 0x9E3779B97F4A7C15L
    xs.foreach { x =>
      var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      h = z ^ (z >>> 31)
    }
    h
  }

  /** A value with two decimals in [1.00, 999.99]: exact in its
    * shortest decimal form, so served JSON text compares exactly. */
  private def value(h: Long): Double = (100 + java.lang.Math.floorMod(h, 99900L)) / 100.0
}

/** The inputs of one seeded run. */
final class Gen(val seed: Long, val stationsPerType: Int) {
  import Gen._

  val stations: IndexedSeq[Station] = LocationTypes.zipWithIndex.flatMap { case (lt, t) =>
    (0 until stationsPerType).map { i =>
      val name = lt match {
        case "tidal" => s"87${10000 + i * 7}"
        case "ocean" => s"4${1000 + i * 3}"
        case "coastal" => s"CRC${100 + i}"
        case _ => s"RRV${100 + i}"
      }
      Station(name, lt, t * 1000 + i)
    }
  }.toIndexedSeq

  private val byType: Map[String, IndexedSeq[Station]] = stations.groupBy(_.locType)
  def stationsOf(locType: String): IndexedSeq[Station] = byType(locType)
  val stationByName: Map[String, Station] = stations.map(s => s.name -> s).toMap

  /** Stations the generated ADCIRC runs cover. */
  val modelStations: IndexedSeq[Station] =
    stations.filter(s => ModelTypes.exists(_._2 == s.locType))

  /** Sources (catalog indexes) observed at a station. */
  def sourcesOf(st: Station): Seq[Int] =
    Catalog.indices.filter(i => Catalog(i).location_type == st.locType)

  def obsValue(src: Int, st: Station, hour: Long, timemark: Long): Double =
    Gen.value(mix(seed, 1, src, st.idx, hour, timemark))

  def modelValue(modelType: Int, st: Station, hour: Long, timemark: Long, rev: Int): Double =
    Gen.value(mix(seed, 2, modelType, st.idx, hour, timemark, rev))

  private def write(p: Path, text: String): Long = {
    Files.createDirectories(p.getParent)
    val b = text.getBytes(UTF_8)
    Files.write(p, b)
    b.length.toLong
  }

  /** FIXTURES.md §4: headerless `station_name, lat, lon, tz,
    * gauge_owner, location_name, location_type, country, state,
    * county, geom`. */
  def writeStationSeed(p: Path): Unit = write(p, stations.map { s =>
    val h = mix(seed, 3, s.idx)
    val lat = 30.0 + java.lang.Math.floorMod(h, 1000000L) / 100000.0
    val lon = -80.0 + java.lang.Math.floorMod(h >>> 20, 1000000L) / 100000.0
    val owner = s.locType match {
      case "tidal" => "NOAA/NOS"
      case "ocean" => "NDBC"
      case _ => "NCEM"
    }
    Seq(s.name, f"$lat%.6f", f"$lon%.6f", "gmt", owner, s"Site ${s.name}", s.locType,
      "us", "nc", s"County${s.idx % 17}", f"0101000020E6100000${h & 0xFFFFFFFFL}%08X")
      .mkString(",")
  }.mkString("", "\n", "\n"))

  /** FIXTURES.md §5, with header. */
  def writeCatalog(p: Path): Unit = write(p,
    ("data_source,source_name,source_archive,source_variable,filename_prefix,location_type,units" +:
      Catalog.map(m => Seq(m.data_source, m.source_name, m.source_archive, m.source_variable,
        m.filename_prefix, m.location_type, m.units).mkString(","))).mkString("", "\n", "\n"))

  def obsFileName(src: Int, timemark: Long): String =
    s"${Catalog(src).filename_prefix}_${fileTs(timemark)}.csv"

  /** One obs harvest data file (FIXTURES.md §1) and, when `withMeta`,
    * its `stationdata_meta` station list (§2). Returns the data file. */
  def writeObsFile(dir: Path, src: Int, timemark: Long, withMeta: Boolean): Delivered = {
    val m = Catalog(src)
    val sts = stationsOf(m.location_type)
    val sb = new StringBuilder(s"TIME,STATION,${m.source_variable.toUpperCase}\n")
    (timemark - ObsSpan + 1 to timemark).foreach { h =>
      val t = iso(h)
      sts.foreach { st => sb.append(t).append(',').append(st.name).append(',')
        .append(obsValue(src, st, h, timemark)).append('\n') }
    }
    val name = obsFileName(src, timemark)
    val bytes = write(dir.resolve(name), sb.toString)
    if (withMeta)
      write(dir.resolve(graft.domain.ObsIngest.metaFileNameFor(name)),
        sts.map(_.name).mkString("STATION\n", "\n", "\n"))
    Delivered(name, bytes)
  }

  def modelRunId(timemark: Long): String =
    s"${4000 + timemark / 6}-${Origin.plusHours(timemark).format(RunStamp)}-$Ensemble"

  /** Processing stamp of a (re)delivery: later revisions are later. */
  def processingStamp(timemark: Long, rev: Int): String = iso(timemark + 2 + rev)

  /** An ADCIRC run directory (FIXTURES.md §3): FORECAST/NOWCAST per
    * station type in [[Gen.ModelTypes]] plus their `meta_*` station lists. Returns the run
    * dir and the data files with their sizes. */
  def writeRun(root: Path, timemark: Long, rev: Int): (Path, Seq[Delivered]) = {
    val dir = root.resolve(modelRunId(timemark))
    val files = ModelTypes.indices.flatMap { t =>
      val (stype, lt, v) = ModelTypes(t)
      val variable = v.toUpperCase
      val sts = stationsOf(lt)
      Seq("NOWCAST" -> (timemark - NowcastSpan until timemark),
        "FORECAST" -> (timemark until timemark + ForecastSpan)).map { case (phase, hours) =>
        val sb = new StringBuilder(s"TIME,STATION,$variable\n")
        hours.foreach { h =>
          val ts = iso(h)
          sts.foreach { st => sb.append(ts).append(',').append(st.name).append(',')
            .append(modelValue(t, st, h, timemark, rev)).append('\n') }
        }
        val name = s"${phase}_$stype.csv"
        write(dir.resolve(s"meta_$name"), sts.map(_.name).mkString("STATION\n", "\n", "\n"))
        Delivered(name, write(dir.resolve(name), sb.toString))
      }
    }
    (dir, files)
  }
}
