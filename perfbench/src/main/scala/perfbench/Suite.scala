package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The operator-suite dataset: the star schema, `events`, `documents`
  * and `embeddings` tables the `graft.queries.*` modules read (same
  * names, columns and value domains as the sf0.001 test data in
  * TESTDATA.md, about the same row counts), generated from [[DataSeed]] so the
  * committed per-query row counts (`suite_rows.tsv`) hold on every run. */
object SuiteData {
  val DataSeed = 42L
  private val Words = Seq("the", "a", "fast", "slow", "big", "small", "key", "order", "sort",
    "table", "scan", "merge", "part", "window", "hash", "join", "batch", "stream", "spark",
    "group", "query", "row", "data", "filter", "customer", "line", "value", "agg", "column",
    "vector")

  def write(spark: SparkSession, dir: Path): Unit = {
    val r = new Random(DataSeed)
    def table(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    def f(n: String, t: DataType) = StructField(n, t)
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(y0: Int, y1: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(y0, 1, 1).plusDays(r.nextInt(365 * (y1 - y0))).atStartOfDay())

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    table("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    table("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = Seq("FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE")
    table("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until 150).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999, 9999), segments(r.nextInt(5)))))
    table("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until 10).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(-999, 9999))))
    val adj = Seq("cold", "small", "large", "blue", "old", "new", "red", "hot")
    val noun = Seq("widget", "bolt", "rod", "anvil", "ring", "gear", "nut", "pipe")
    val types = Seq("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")
    table("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until 200).map(i => Row(i.toLong, s"${adj(r.nextInt(8))} ${noun(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50),
        math.round((900 + i * 0.1) * 100) / 100.0)))
    val status = Seq("F", "P", "O")
    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    table("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
      (0 until 1500).map(i => Row(i.toLong, r.nextInt(150).toLong, status(r.nextInt(3)),
        money(1000, 400000), day(1995, 2001), prio(r.nextInt(5)))))
    val flags = Seq("N", "A", "R")
    table("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))),
      (0 until 6000).map(_ => Row(r.nextInt(1500).toLong, r.nextInt(200).toLong,
        r.nextInt(10).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        money(900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        flags(r.nextInt(3)), if (r.nextBoolean()) "O" else "F", day(1995, 2001))))
    val kinds = Seq("error", "signup", "purchase", "view", "click")
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    table("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until 1000).map(_ => r.nextInt(30 * 86400)).sorted.zipWithIndex.map { case (s, i) =>
        Row(i.toLong, java.sql.Timestamp.valueOf(t0.plusSeconds(s.toLong).plusNanos(r.nextInt(1000000) * 1000L)),
          r.nextInt(15).toLong, kinds(r.nextInt(5)), money(0, 200), s"""{"k": ${r.nextInt(100)}}""")
      })
    // documents: random word text; every 10th is a near-duplicate of an earlier one
    val langs = Seq("en", "es", "fr", "de", "zh")
    val texts = ArrayBuffer.empty[String]
    (0 until 500).foreach { i =>
      texts += (if (i % 10 == 9) texts(r.nextInt(i)).split(' ').updated(0, "dup").mkString(" ")
        else Seq.fill(8 + r.nextInt(80))(Words(r.nextInt(Words.size))).mkString(" "))
    }
    table("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.indices.map(i => Row(i.toLong, texts(i), langs(r.nextInt(5)), s"src${i % 20}",
        texts(i).length.toLong)))
    // embeddings: 10 labelled clusters in 64 dimensions
    val centers = Seq.fill(10)(Seq.fill(64)(r.nextGaussian() * 0.1))
    table("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until 500).map { i =>
        val l = r.nextInt(10)
        Row(i.toLong, centers(l).map(c => (c + r.nextGaussian() * 0.03).toFloat), l)
      })
  }
}

/** `operator_suite`: each query listed in `suite_rows.tsv` (drawn from
  * every `graft.queries.*` module) built through `SparkEntry.queries` and
  * materialized through the `noop` sink, not `count()`. One warm pass
  * is set-up; timed passes repeat until the run's seconds are spent,
  * at least twice.
  * A query's materialized row count ([[materialize]]) must equal the
  * committed count in `suite_rows.tsv`; after an intended change to a
  * query, update that file from the failure message, which names both
  * counts. */
object Suite {
  def run(ctx: Ctx, m: Metrics, ledger: Ledger, expected: Map[String, Long]): Unit = {
    val dir = ctx.work.resolve("suite")
    SuiteData.write(ctx.spark, dir)
    val module: Map[String, String] = Suite.modules.flatMap { case (mod, defs) =>
      defs().map(_.name -> mod) }.toMap
    val names = expected.keys.toSeq.sorted
    def once(name: String) = checked(ctx, ledger, dir, name, expected)

    ctx.log("dataset written")
    names.foreach(once) // warm pass
    m.put("setup_s", ctx.sinceStartS, "s")
    ctx.log("warm pass done")
    val passes = ArrayBuffer.empty[Seq[(String, SpanStats)]]
    var spent = 0.0
    // at least two passes: the reported median must not flip between one
    // pass and the mean of two when a pass lands near `seconds`
    while (passes.size < 2 || spent < ctx.seconds * 1000) {
      val pass = names.flatMap(n => once(n).map(n -> _))
      spent += pass.map(_._2.wallMs).sum
      passes += pass
      ctx.log(f"pass ${passes.size}: ${pass.map(_._2.wallMs).sum}%.0f ms " +
        pass.map { case (n, s) => f"$n ${s.wallMs}%.0f" }.mkString(", "))
    }
    val passMs = passes.map(_.map(_._2.wallMs).sum).toSeq
    m.put("op_p50_ms", Stats.median(passMs), "ms")
    m.put("op_mean_ms", Stats.mean(passMs), "ms")
    PerLayer.suite(passes.toSeq, module, ctx, m)
  }

  val modules: Seq[(String, () => Seq[graft.QueryDef])] = Seq(
    "CoreRelational" -> (() => graft.queries.CoreRelational.defs),
    "LlmOps" -> (() => graft.queries.LlmOps.defs),
    "DomainOps" -> (() => graft.queries.DomainOps.defs),
    "StreamingShapes" -> (() => graft.queries.StreamingShapes.defs),
    "TimeseriesOps" -> (() => graft.queries.TimeseriesOps.defs),
    "DiagnosticsOps" -> (() => graft.queries.DiagnosticsOps.defs),
    "GraphOps" -> (() => graft.queries.GraphOps.defs),
    "StatsOps" -> (() => graft.queries.StatsOps.defs),
    "Coverage" -> (() => graft.queries.Coverage.defs),
    "TpchShapes" -> (() => graft.queries.TpchShapes.defs))

  /** One checked, timed materialization of query `name` over the
    * dataset in `dir`: a throw or a row count other than the committed
    * one fails it. */
  def checked(ctx: Ctx, ledger: Ledger, dir: Path, name: String,
      expected: Map[String, Long]): Option[SpanStats] =
    ledger.attempt(s"query $name") {
      val query = graft.SparkEntry.queries(name)
      val ((build, rows), s) = ctx.tracer.span(s"suite.$name") {
        val b0 = System.nanoTime()
        val df = query(ctx.spark, dir.toString)
        val b = (System.nanoTime() - b0) / 1e6
        (b, materialize(df))
      }
      s.buildMs = build
      checkRows(ledger, name, rows, expected)
      s
    }

  def checkRows(ledger: Ledger, name: String, rows: Long, expected: Map[String, Long]): Boolean =
    ledger.check(s"rows of $name", rows == expected(name),
      s"(expected ${expected(name)}, materialized $rows)")

  /** `name<TAB>rows` lines; `#` starts a comment. */
  def readExpected(p: Path): Map[String, Long] =
    Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, r) = l.split("\t"); n -> r.toLong }.toMap

  /** Write `df` through the `noop` sink; returns the rows written. The
    * noop write node carries no row metric of its own, so the count is
    * observed on the write's input (`Dataset.observe`). */
  def materialize(df: org.apache.spark.sql.DataFrame): Long = {
    val rows = org.apache.spark.sql.Observation()
    df.observe(rows, org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    rows.get("n").asInstanceOf[Long]
  }
}
