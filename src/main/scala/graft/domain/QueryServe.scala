package graft.domain

import com.fasterxml.jackson.core.{JsonProcessingException, StreamReadFeature}
import com.fasterxml.jackson.databind.DeserializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import scala.jdk.CollectionConverters._

/** Long-running serving loop for the §3.3 read path — the engine-side
  * equivalent of the reference's Django-REST endpoints over the serving
  * views and crosstab functions (`/root/reference/README.md:151-166`,
  * `scripts/get_obs_timeseries_station_data.sql`): one JSON request per
  * stdin line, one JSON response per stdout line. Deliberately NOT a
  * web framework (out of engine scope — any sidecar can adapt lines to
  * HTTP); the value is a warm SparkSession serving repeated reads
  * without per-query JVM/session startup.
  *
  * Request: a flat JSON object, `op` plus the op's parameters, e.g.
  * `{"op":"get_obs_timeseries_station_data","station":"Eastport",
  * "start":"2023-04-23T00:00:00","end":"2023-04-24T00:00:00"}`.
  * Response: the same JSON array the reference API returns (the
  * JSON_AGG contract), or `{"error":"..."}`; the loop never dies on a
  * bad request. Blank line or `quit` ends the session.
  *
  * Scale: each request is ONE Spark job. The station/source dims are
  * driver-local copies ([[GaugeStore.localStations]] and friends,
  * re-read only when a dim's files change) that `QueryApi` resolves on
  * the driver; the fact read is window-pruned (`gaugeDataForRange` /
  * `modelDataForTimemark` / `modelDataForRange`), so request cost is
  * bounded by the window no matter how large the store grows, and it
  * runs as one task, so it does not shrink with more cores either.
  */
object QueryServe {

  private val json = JsonMapper.builder()
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  /** Flat-object JSON parse (string values only — the request contract
    * above), via jackson.
    *
    * Strict about what it does NOT understand: nested objects, numeric
    * or bare values, duplicate keys and trailing content REJECT the
    * request (`IllegalArgumentException`) instead of silently dropping
    * or overriding keys — a dropped parameter would serve a
    * wrong-but-plausible answer, which violates the "never lies" half
    * of the serving contract. */
  private[domain] def parse(line: String): Map[String, String] = {
    def unparseable(what: String) = throw new IllegalArgumentException(
      s"unparseable request content (flat string-valued JSON only): $what")
    val tree = try json.readTree(line) catch {
      case e: JsonProcessingException =>
        // jackson reports a duplicate key as a plain parse error; only
        // its message tells the two apart
        val msg = e.getOriginalMessage
        if (msg.startsWith("Duplicate field"))
          throw new IllegalArgumentException(s"duplicate request key: ${msg.stripPrefix("Duplicate field ")}")
        unparseable(msg)
    }
    if (tree == null || !tree.isObject) unparseable(line)
    tree.properties().asScala.map { e =>
      if (!e.getValue.isTextual) unparseable(s"'${e.getKey}':${e.getValue}")
      e.getKey -> e.getValue.textValue
    }.toMap
  }

  private def jsonError(msg: String): String =
    "{\"error\":\"" + msg.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("\\p{Cntrl}", " ") + "\"}"

  /** One request → its JSON answer. Throws on a bad request. */
  def answer(store: GaugeStore, req: Map[String, String]): String = {
    def p(k: String) = req.getOrElse(k, sys.error(s"missing '$k'"))
    def series(df: org.apache.spark.sql.DataFrame) =
      QueryApi.jsonAgg(df, "time_stamp", df.columns.filterNot(_ == "time_stamp").toSeq)
    req.getOrElse("op", sys.error("missing 'op'")) match {
      case "get_obs_timeseries_station_data" =>
        QueryApi.obsTimeseriesStationDataJson(
          store.gaugeDataForRange(p("start"), p("end")),
          store.localGaugeSource, store.localStations,
          p("station"), p("start"), p("end"))
      case "get_obs_timeseries_station_data_allparms" =>
        QueryApi.obsTimeseriesStationDataAllParmsJson(
          store.gaugeDataForRange(p("start"), p("end")),
          store.localGaugeSource, store.localStations,
          p("station"), p("start"), p("end"), p("nowcastSource"))
      case "get_forecast_timeseries_station_data" =>
        series(QueryApi.forecastTimeseriesStationData(
          store.modelDataForTimemark(p("timemark").replace("T", " ")),
          store.localModelSource, store.localStations,
          p("station"), p("timemark"), p("maxEnd"),
          p("dataSource"), p("instance")))
      case "get_nowcast_timeseries_station_data" =>
        // run_date-pruned scan: a nowcast row's run timemark sits
        // within the horizon of its `time` (nowcast segments are
        // emitted at their own run's clock), so only partitions near
        // [start, end] can contribute — never the whole run history.
        // The silent-pruning CONTRACT and the 35-day default live on
        // GaugeStore.modelDataForRange; requests override per call.
        series(QueryApi.nowcastTimeseriesStationData(
          store.modelDataForRange(p("start"), p("end"),
            req.getOrElse("horizonDays", "35").toInt),
          store.localModelSource, store.localStations,
          p("station"), p("start"), p("end"),
          p("dataSource"), p("instance")))
      case other => sys.error(s"unknown op '$other'")
    }
  }

  /** The serve loop, I/O-abstracted so specs drive it directly. A
    * parse rejection or any other request-level error answers
    * `{"error":...}` — the loop never dies. Fatal JVM errors (OOM,
    * linkage) propagate: serving from a possibly-corrupt session would
    * be the "lies" failure mode. */
  def serve(store: GaugeStore, in: Iterator[String],
      out: String => Unit): Unit =
    in.map(_.trim).takeWhile(l => l.nonEmpty && l != "quit")
      .foreach { line =>
        out(try answer(store, parse(line))
        catch { case scala.util.control.NonFatal(e) =>
          jsonError(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
        })
      }
}
