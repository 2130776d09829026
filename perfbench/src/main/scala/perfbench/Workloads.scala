package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** `harvest_cycle`: the cron cycle. Each cycle is 6 simulated hours:
  * one obs harvest file per benchmarked catalog source (12 hourly
  * samples, overlapping the previous file by 6 h) and one ADCIRC run
  * directory (FORECAST/NOWCAST × [[Gen.ModelTypes]]) are dropped;
  * `sequenceIngest`, `modelRunIngest` and `rollupDaily` run; then one
  * obs and one forecast freshness request are served and checked.
  * Every 4th run (cycles 0, 4, 8, ...) is re-delivered with a new
  * processing stamp.
  *
  * Set-up creates the store, seeds the station dimension and ingests
  * cycle 0 (its drop, its run and the run's rerun, then the rollup).
  * The timed cycles therefore merge into a store that holds the
  * previous drop, the previous run and its rollup. The invariants are
  * checked after every timed cycle; they cover cycle 0's files too.
  * The traced run keeps cycle 0's rerun span for the
  * `model_ingest.rerun*` figures; every other per-layer figure covers
  * the timed cycles only. */
object HarvestCycle {
  /** tidal_gauge (noaa). */
  val Sources: Seq[Int] = Seq(0)
  val StationsPerType = 20
  val FirstTimemark = 24L

  def run(ctx: Ctx, m: Metrics, ledger: Ledger): Unit = {
    val gen = new Gen(ctx.seed, StationsPerType)
    val a = new Apsviz(ctx, gen, Sources, ledger)
    val rnd = new Random(ctx.seed)
    val obsStations = gen.stations.filter(s => a.catalog.exists(_.location_type == s.locType))
    val obsMs = ArrayBuffer.empty[Double]
    val modelMs = ArrayBuffer.empty[Double]

    /** Drop and ingest cycle `k`'s harvest, then roll up. */
    def ingest(k: Int): Unit = {
      val tm = FirstTimemark + 6L * k
      a.dropObs(tm, withMeta = true)
      obsMs += a.obsIngest("obs_ingest", tm)
      modelMs ++= a.modelRun(tm, 0)
      if (k % 4 == 0) modelMs ++= a.modelRun(tm, 1)
      a.rollup()
    }

    /** One timed cycle: [[ingest]] plus the freshness requests. */
    def cycle(k: Int): Double = {
      val tm = FirstTimemark + 6L * k
      val t0 = System.nanoTime()
      ingest(k)
      a.serve(Request.obs(a.oracle, obsStations(rnd.nextInt(obsStations.size)).name, tm - 23, tm))
      a.serve(Request.forecast(a.oracle, gen.modelStations(rnd.nextInt(gen.modelStations.size)).name,
        tm, tm + Gen.ForecastSpan - 1))
      val ms = (System.nanoTime() - t0) / 1e6
      ctx.log(f"cycle $k: $ms%.0f ms")
      a.checkInvariants()
      ms
    }

    a.store
    ingest(0)
    m.put("setup_s", ctx.sinceStartS, "s")
    ctx.log("cycle 0 ingested")
    a.layers.reset(keep = "model_ingest.rerun")
    a.rollupGroups.clear()
    obsMs.clear()
    modelMs.clear()
    val cycles = ArrayBuffer.empty[Double]
    var k = 1
    while (cycles.isEmpty || cycles.sum < ctx.seconds * 1000) {
      cycles += cycle(k)
      k += 1
    }
    m.put("op_p50_ms", Stats.median(cycles.toSeq), "ms")
    m.put("op_mean_ms", Stats.mean(cycles.toSeq), "ms")
    m.put("cycle_s", Stats.median(cycles.toSeq) / 1000, "s")
    m.put("cycles", cycles.size.toDouble, "count")
    m.put("cycle_obs_ingest_s", Stats.median(obsMs.toSeq) / 1000, "s")
    m.put("cycle_model_ingest_s", Stats.median(modelMs.toSeq) / 1000, "s")
    a.storeWalk(m)
    PerLayer.apsviz(a, ctx, m)
  }
}

/** `serve_mix`: read-only serving. Set-up backfills [[Days]] days of
  * obs history in one `sequenceIngest` call (the bulk path), adds
  * [[Runs]] model runs and one rollup. The timed part is a closed loop
  * of JSON request lines through `QueryServe.serve`, in shuffled blocks
  * of [[Block]]; stations are Zipf-popular, windows are 1, 3, 7 or 30
  * days and end at recent times more often. */
object ServeMix {
  /** tidal_gauge (noaa). */
  val Sources: Seq[Int] = Seq(0)
  val StationsPerType = 20
  val Days = 4
  val Runs = 1
  /** One block of the request mix: obs 50%, allparms 20%, forecast
    * 20%, nowcast 10%. */
  val Block: Seq[String] =
    Seq.fill(5)("obs") ++ Seq.fill(2)("allparms") ++ Seq.fill(2)("forecast") ++ Seq.fill(1)("nowcast")
  val WindowDays: Seq[Int] = Seq(1, 3, 7, 30)

  def run(ctx: Ctx, m: Metrics, ledger: Ledger): Unit = {
    val gen = new Gen(ctx.seed, StationsPerType)
    val a = new Apsviz(ctx, gen, Sources, ledger)
    val rnd = new Random(ctx.seed)
    val last = Days * 24L
    a.store
    var rows = 0L
    ctx.log("store seeded")
    (6L to last by 6L).foreach(tm => rows += a.dropObs(tm, withMeta = tm == last))
    a.obsIngest("backfill", last)
    ctx.log("backfill done")
    val runTms = (0 until Runs).map(i => last - 6L * (Runs - 1 - i))
    runTms.foreach(a.modelRun(_, 0))
    a.rollup()
    m.put("setup_s", ctx.sinceStartS, "s")
    ctx.log("model runs + rollup done")
    val bf = a.layers.of("backfill")
    m.put("backfill.rows", rows.toDouble, "count")
    m.put("backfill.s", bf.map(_.wallMs).sum / 1000, "s")
    m.put("backfill.rows_per_s", Stats.ratio(rows, bf.map(_.wallMs).sum / 1000), "1/s")
    a.layers.reset()
    a.rollupGroups.clear()

    // Zipf popularity over a seeded permutation of the stations
    val obsStations = rnd.shuffle(gen.stations.filter(s => a.catalog.exists(_.location_type == s.locType)))
    val modelStations = rnd.shuffle(gen.modelStations)
    def pick(sts: IndexedSeq[Gen.Station]) = sts(Apsviz.zipf(rnd, sts.size)).name
    def recentEnd(lastHour: Long, span: Long): Long =
      lastHour - math.floor(math.pow(rnd.nextDouble(), 3) * span).toLong
    def request(op: String, days: Int): Request = op match {
      case "obs" | "allparms" =>
        val end = recentEnd(last, last - 24)
        val st = pick(obsStations)
        if (op == "obs") Request.obs(a.oracle, st, end - 24L * days, end)
        else Request.allparms(a.oracle, st, end - 24L * days, end)
      case "forecast" =>
        val tm = runTms(runTms.size - 1 - Apsviz.zipf(rnd, runTms.size))
        Request.forecast(a.oracle, pick(modelStations), tm, tm + 5 + rnd.nextInt(7))
      case _ =>
        val end = recentEnd(runTms.last + Gen.ForecastSpan, 24)
        Request.nowcast(a.oracle, pick(modelStations), end - 24L * days, end)
    }

    var spent = 0.0
    val loopStart = System.nanoTime()
    def wallS = (System.nanoTime() - loopStart) / 1e9
    while ((spent == 0 || spent < ctx.seconds * 1000) && wallS < 3 * ctx.seconds) {
      // the k-th request of an op in a block takes window (k + its op
      // index) mod 4, so every seed times the same windows per op
      val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      rnd.shuffle(Block).foreach { op =>
        val days = WindowDays((Block.distinct.indexOf(op) + seen(op)) % WindowDays.size)
        seen(op) += 1
        val req = request(op, days)
        val before = a.served.size
        a.serve(req)
        spent += a.served.drop(before).map(_._2).sum
      }
    }
    ctx.log(s"${a.served.size} requests served")
    val lat = a.served.map(_._2).toSeq
    m.put("op_p50_ms", Stats.median(lat), "ms")
    m.put("op_mean_ms", Stats.mean(lat), "ms")
    a.storeWalk(m)
    PerLayer.apsviz(a, ctx, m)
  }
}
