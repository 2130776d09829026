package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.IngestCli
import graft.domain.{GaugeStore, ObsIngest, QueryServe, SourceMeta}

/** The apsviz pipeline as the benchmark drives it: one gauge store fed
  * by generated harvest drops, through the public entry points only
  * (`IngestCli.sequenceIngest`/`modelRunIngest`, `GaugeStore.open`/
  * `writeStations`/`rollupDaily`, `QueryServe.serve`). Every call is a
  * [[Tracer]] span, recorded in [[layers]]; every response is checked
  * against the [[Oracle]]. */
final class Apsviz(ctx: Ctx, val gen: Gen, val sources: Seq[Int], val ledger: Ledger) {
  import Gen._
  private val spark = ctx.spark
  val layers = new Layers
  val oracle = new Oracle(gen)
  private val obsDir = ctx.work.resolve("harvest")
  private val modelRoot = ctx.work.resolve("runs")
  private val storeDir = ctx.work.resolve("store")
  /** Harvest CSV bytes delivered (obs + model data files). */
  var inputBytes = 0L
  private val obsDelivered = ArrayBuffer.empty[String]
  private val obsTimemarks = ArrayBuffer.empty[Long]
  private val runFilesDelivered = ArrayBuffer.empty[(String, String, String)]
  /** Per served request: (op, latency ms, rows returned, span). */
  val served = ArrayBuffer.empty[(String, Double, Int, SpanStats)]
  /** Per `rollupDaily` call: the (source, day) groups it rebuilt. */
  val rollupGroups = ArrayBuffer.empty[Int]

  private def span[A](layer: String)(f: => A): (A, SpanStats) = {
    val (r, s) = ctx.tracer.span(layer)(f)
    layers.add(s)
    (r, s)
  }

  /** The catalog as the ingest reads it: the generated 11-row CSV,
    * loaded through the CLI's own loader, restricted to `sources`. */
  lazy val catalog: Seq[SourceMeta] = {
    val p = ctx.work.resolve("source_obs_meta.csv")
    gen.writeCatalog(p)
    val all = IngestCli.loadCatalog(spark, p.toString)
    require(all == Catalog, "catalog CSV did not round-trip")
    sources.map(all)
  }

  lazy val store: GaugeStore = {
    val seedCsv = ctx.work.resolve("stations").resolve("geom_stations.csv")
    gen.writeStationSeed(seedCsv)
    val s = GaugeStore.open(spark, storeDir.toString)
    span("store.write_stations") { s.writeStations(ObsIngest.seedStations(spark, seedCsv.toString)) }
    s
  }

  /** Drop one obs harvest file per source at `tm`. */
  def dropObs(tm: Long, withMeta: Boolean): Long =
    sources.map { src =>
      val d = gen.writeObsFile(obsDir, src, tm, withMeta)
      oracle.deliverObs(src, tm)
      obsDelivered += d.name
      obsTimemarks += tm
      inputBytes += d.bytes
      (ObsSpan * gen.stationsOf(Catalog(src).location_type).size).toLong
    }.sum

  /** `sequenceIngest` over the harvest dir, once per catalog source, so
    * each source is its own span (sources are independent inside the
    * call). Returns the summed wall time of the calls, in ms. */
  def obsIngest(layer: String, now: Long): Double =
    catalog.flatMap { meta =>
      ledger.attempt(s"$layer ${meta.data_source}") {
        span(layer) {
          IngestCli.sequenceIngest(spark, store, Seq(meta), obsDir.toString,
            lit(sqlTs(now)).cast("timestamp"), deleteProcessed = true)
        }._2.wallMs
      }
    }.sum

  /** Deliver run `tm` at revision `rev` and ingest it. Returns the
    * call's wall time in ms, None when it threw. */
  def modelRun(tm: Long, rev: Int): Option[Double] = {
    val (dir, files) = gen.writeRun(modelRoot, tm, rev)
    files.foreach { f =>
      inputBytes += f.bytes
      runFilesDelivered += ((gen.modelRunId(tm), f.name, gen.processingStamp(tm, rev)))
    }
    oracle.deliverRun(tm, rev)
    ledger.attempt(s"modelRunIngest ${gen.modelRunId(tm)} rev $rev") {
      span(if (rev == 0) "model_ingest.run" else "model_ingest.rerun") {
        IngestCli.modelRunIngest(spark, store, dir.toString, gen.modelRunId(tm), iso(tm),
          Ensemble, Grid, None, Instance, Metclass, UiUrl,
          processingDatetime = Some(gen.processingStamp(tm, rev)))
      }._2.wallMs
    }
  }

  def rollup(): Unit =
    ledger.attempt("rollupDaily") {
      rollupGroups += span("rollup") { store.rollupDaily() }._1.size
    }

  /** Serve one request through `QueryServe.serve` and check it. */
  def serve(req: Request): Unit =
    ledger.attempt(s"serve ${req.line}") {
      val (out, s) = span(s"serve.${req.op}") {
        val buf = ArrayBuffer.empty[String]
        QueryServe.serve(store, Iterator(req.line), buf += _)
        buf.toSeq
      }
      val got = out.mkString("\n")
      served += ((req.op, s.wallMs, Apsviz.rowsOf(got), s))
      Apsviz.checkResponse(ledger, req, got)
    }

  /** Post-cycle invariants: every delivered file is ledgered
    * `ingested=true` exactly once, and the rollup's `n` sums equal the
    * fact row count. */
  def checkInvariants(): Unit = {
    ledger.attempt("invariant: obs ledger") {
      val counts = store.ledger.filter(col("ingested")).groupBy("file_name").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      ledger.check("obs ledger holds each delivered file once",
        counts == obsDelivered.map(_ -> 1L).toMap,
        s"(${counts.size} ledgered, ${obsDelivered.size} delivered)")
    }
    ledger.attempt("invariant: model ledger") {
      val rows = store.modelLedger.filter(col("ingested"))
        .select(col("model_run_id"), col("file_name"),
          date_format(col("processing_datetime"), "yyyy-MM-dd'T'HH:mm:ss"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      ledger.check("model ledger holds each delivered (run, file, stamp) once",
        rows.sorted == runFilesDelivered.sorted,
        s"(${rows.size} ledgered, ${runFilesDelivered.size} delivered)")
    }
    ledger.attempt("invariant: rollup n") {
      val n = store.rollupDailyTable.agg(sum(col("n"))).collect()(0)
      val facts = store.gaugeData.count()
      ledger.check("rollup n sums to the fact row count",
        !n.isNullAt(0) && n.getLong(0) == facts, s"(rollup ${n.get(0)}, facts $facts)")
    }
  }

  /** On-disk state of the store's snapshot tables. */
  def storeWalk(m: Metrics): Unit = {
    val (bytes, _) = Stats.walk(storeDir)
    def isData(p: Path) = p.toString.endsWith(".parquet") && !p.toString.contains("/_log")
    val (_, factFiles) = Stats.walk(storeDir.resolve("gauge_data"), isData)
    val (_, modelFiles) = Stats.walk(storeDir.resolve("model_data"), isData)
    val (_, logs) = Stats.walk(storeDir, _.toString.contains("/_log/"))
    val days = {
      val hours = oracle.runTimemarks ++ obsTimemarks
      if (hours.isEmpty) 0L else (hours.max - hours.min) / 24 + 1
    }
    m.put("store.data_files", (factFiles.size + modelFiles.size).toDouble, "count")
    m.put("store.bytes", bytes.toDouble, "B")
    m.put("store.log_entries", logs.size.toDouble, "count")
    m.put("store.days", days.toDouble, "count")
    m.put("store.data_files_per_day", Stats.ratio(factFiles.size, days), "count")
    m.put("stored_bytes_per_input_byte", Stats.ratio(bytes, inputBytes), "ratio")
    m.put("store.input_bytes", inputBytes.toDouble, "B")
  }
}

object Apsviz {
  /** The response check of every served request: the whole response
    * text must equal the oracle's. */
  def checkResponse(ledger: Ledger, req: Request, got: String): Boolean =
    ledger.check(s"response to ${req.line}", got == req.expected,
      s"\n  expected ${req.expected.take(400)}\n  got      ${got.take(400)}")

  def rowsOf(json: String): Int = "\"time_stamp\":".r.findAllMatchIn(json).size

  /** Seeded Zipf(1.1) pick over `n` ranks. */
  def zipf(rnd: scala.util.Random, n: Int): Int = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, 1.1))
    var u = rnd.nextDouble() * w.sum
    var i = 0
    while (i < n - 1 && u > w(i)) { u -= w(i); i += 1 }
    i
  }
}
