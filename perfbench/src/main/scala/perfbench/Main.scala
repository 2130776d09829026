package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `perfbench/run.py`):
  *
  * {{{
  * Main --workload harvest_cycle|serve_mix|operator_suite --seed N
  *      --seconds S --trace 0|1 --work DIR --cores N --expected suite_rows.tsv
  * }}}
  *
  * Prints one JSON line last: `correct`, `attempted`, `failed` and the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1). */
object Main {
  val EndToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "op_p50_ms" -> "ms", "op_mean_ms" -> "ms")

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val spark = session(opt("cores").toInt)
    val tracer = new Tracer(spark, opt("trace") == "1")
    val ctx = Ctx(spark, tracer, opt("seed").toLong, opt("seconds").toDouble,
      opt("cores").toInt, Paths.get(opt("work")), startNs)
    Files.createDirectories(ctx.work)
    val ledger = new Ledger
    val m = new Metrics
    try {
      val selfTestOk = workload match {
        case "harvest_cycle" => HarvestCycle.run(ctx, m, ledger); SelfTest.apsviz(ctx)
        case "serve_mix" => ServeMix.run(ctx, m, ledger); SelfTest.apsviz(ctx)
        case "operator_suite" =>
          val expected = Suite.readExpected(Paths.get(opt("expected")))
          Suite.run(ctx, m, ledger, expected)
          SelfTest.suite(ctx, expected)
        case other => sys.error(s"unknown workload $other")
      }
      m.put("failed_ratio", Stats.ratio(ledger.failed, ledger.attempted), "ratio")
      m.put("attempted", ledger.attempted.toDouble, "count")
      m.put("cores", ctx.cores.toDouble, "count")
      m.put("trace.op_p50_ms", m.values("op_p50_ms")._1, "ms")
      m.put("trace.callback_ms", tracer.callbackMs, "ms")
      m.put("trace.drain_ms", tracer.drainMs, "ms")
      m.put("trace.overhead_frac", (tracer.callbackMs + tracer.drainMs) / (ctx.sinceStartS * 1000), "ratio")
      val names = if (ctx.trace) PerLayer.names else EndToEnd
      val metrics = names.map { case (n, unit) =>
        val v = m.values.get(n).map(_._1).getOrElse(0.0)
        s""""$n":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$unit"}"""
      }.mkString("{", ",", "}")
      val correct = selfTestOk && ledger.failed == 0 && ledger.attempted > 0
      println(s"""{"correct":$correct,"attempted":${ledger.attempted},"failed":${ledger.failed},"metrics":$metrics}""")
    } finally spark.stop()
  }
}

/** The checker's own test: the checks the runs use must flag a
  * corrupted response or row count, and a thrown call must count as
  * failed. Runs on a private [[Ledger]]; returns whether the checks
  * behaved. */
object SelfTest {
  private def report(what: String, ok: Boolean): Boolean = {
    if (!ok) System.err.println(s"[perfbench] SELF-TEST FAILED: $what")
    ok
  }

  def apsviz(ctx: Ctx): Boolean = {
    val gen = new Gen(ctx.seed, 2)
    val o = new Oracle(gen)
    o.deliverObs(0, 24); o.deliverObs(0, 30); o.deliverRun(24, 0)
    val st = gen.stationsOf("tidal").head.name
    val req = Request.obs(o, st, 13, 30)
    val good = req.expected
    val swapped = {
      val vals = """":(\d+\.\d+)""".r.findAllMatchIn(good).map(_.group(1)).toSeq
      val other = vals.find(_ != vals.head).getOrElse(vals.head + "1")
      good.replaceFirst(java.util.regex.Pattern.quote(vals.head), other)
    }
    val dropped = good.replaceFirst(""","tidal_predictions":[^,}]+""", "")
    val l = new Ledger("self-test flagged")
    def served(what: String, got: String) = l.attempt(what)(Apsviz.checkResponse(l, req, got))
    served("intact response", good)
    served("swapped value", swapped)
    served("dropped category", dropped)
    served("error response", """{"error":"self-test"}""")
    l.attempt("thrown call") {
      graft.domain.GaugeStore.open(ctx.spark, ctx.work.resolve("no-store").toString).rollupDailyTable
    }
    report("apsviz checker", swapped != good && dropped != good && l.attempted == 5 && l.failed == 4)
  }

  def suite(ctx: Ctx, expected: Map[String, Long]): Boolean = {
    val name = expected.keys.min
    val l = new Ledger("self-test flagged")
    l.attempt(s"right row count for $name")(Suite.checkRows(l, name, expected(name), expected))
    l.attempt(s"wrong row count for $name")(Suite.checkRows(l, name, expected(name) + 1, expected))
    Suite.checked(ctx, l, ctx.work.resolve("no-data"), name, expected)
    report("suite checker", l.attempted == 3 && l.failed == 2)
  }
}
