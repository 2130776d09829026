package graft.plans

import graft.{SparkSuite, SparkEntry}

/** Executable form of PLANS.md's required-plan-shape table: the
  * load-bearing physical-plan properties that keep the engine
  * 100 TB-safe, asserted so a regression fails `sbt test` instead of
  * waiting for a manual Explain audit. Runs against sf0.001 (plan
  * SHAPE is what matters; AQE size-based choices that legitimately
  * flip with scale — e.g. q3/q5's BHJ→SMJ — are not pinned here). */
class PlanAuditSpec extends SparkSuite {

  private val sfDir = sf("sf0.001")

  private def plan(query: String): String =
    SparkEntry.queries(query)(spark, sfDir).queryExecution.executedPlan.toString

  test("j3_star_join: pruned scans, pushed date filter, broadcast dims") {
    val p = plan("j3_star_join")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(p.contains("PushedFilters: [IsNotNull"), "filters must reach the scan")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "fixed-size dims must not shuffle-join at any SF")
  }

  test("j8_keep_latest_dedup: map-side WindowGroupLimit before the rank exchange") {
    val p = plan("j8_keep_latest_dedup")
    // partial (map-side) + final group-limit prune around one exchange:
    // losing this turns top-1-per-key into a full-sort-per-key
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"expected partial+final WindowGroupLimit, plan:\n$p")
  }

  test("e1_ann_bruteforce: query-side filter pushed, top-k pruned map-side") {
    val p = plan("e1_ann_bruteforce")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id"),
      "vec_id probe filter must reach the parquet scan")
    assert(p.contains("WindowGroupLimit"), "per-query top-k must prune map-side")
  }

  test("c4_chunk_windows: zero exchanges before the deterministic ORDER BY") {
    val df = SparkEntry.queries("c4_chunk_windows")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // exactly the ORDER BY's rangepartitioning exchange, nothing else —
    // chunking must stay a scan-local sequence→explode→slice
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"chunking grew a shuffle, plan:\n$p")
  }

  test("p7_time_range / gauge scans: partition pruning is asserted elsewhere, " +
      "q1 aggregates map-side") {
    val p = plan("q1_sum_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final HashAggregate (map-side combine)")
    assert(p.contains("PushedFilters"), "shipdate filter must reach the scan")
  }

  test("t9_fuzzy_pairs: blocked equi-join, never a cartesian/nested-loop") {
    val p = plan("t9_fuzzy_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy blocking degenerated to all-pairs, plan:\n$p")
    assert(p.contains("levenshtein"), "distance must run as a join residual/filter")
  }

  test("q4_order_priority: EXISTS runs as a semi join with the date filter pushed") {
    val p = plan("q4_order_priority")
    assert(p.contains("LeftSemi"), "EXISTS must decorrelate to a semi join")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "date window must reach the orders scan")
  }

  test("q17_small_qty_revenue: brand filter semi-prunes lineitem before any agg") {
    val p = plan("q17_small_qty_revenue")
    assert("LeftSemi".r.findAllIn(p).size >= 2,
      "both lineitem passes must be brand-pruned via semi joins")
    assert(p.contains("EqualTo(p_brand,Brand#23)"),
      "brand predicate must reach the part scan")
  }

  test("o6_rank_suite: both window families share ONE hash exchange") {
    val p = plan("o6_rank_suite")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"expected a single user_id exchange reused by both windows, got $hashEx:\n$p")
  }

  test("kmeans assign: row-local math, zero exchanges") {
    val quant = graft.Tables.embeddings(spark, sfDir).select(
      org.apache.spark.sql.functions.col("vec_id"),
      graft.similarity.Clustering.quantize(
        org.apache.spark.sql.functions.col("embedding"), 512).as("qv"))
    val cents = graft.similarity.Clustering.seedCentroids(quant, 4)
    val p = graft.similarity.Clustering.assign(quant, cents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"assignment must not shuffle the corpus, plan:\n$p")
    assert(!p.contains("Join"), "centroids must ride as literals, not a join")
  }

  test("u2_setops: set forms run as semi/anti joins, never materialized distincts x2") {
    val p = plan("u2_setops")
    assert(p.contains("LeftSemi"), "INTERSECT must plan as a semi join")
    assert(p.contains("LeftAnti"), "EXCEPT must plan as an anti join")
    assert(!p.contains("CartesianProduct"))
  }

  test("native kernels stay inside whole-stage codegen in real queries") {
    // e4's distance and d6's cosine must not fall out of codegen: the
    // `*(n)` span marker must wrap the stage that computes them
    val e4 = plan("e4_label_knn_agreement")
    assert(e4.contains("quantized_sq_dist"), "e4 must use the native kernel")
    assert(!e4.contains("zip_with") && !e4.contains("aggregate("),
      "interpreted HOF distance crept back into e4")
    val d6 = plan("d6_embedding_neardups")
    assert(d6.contains("cosine_similarity"), "d6 must use the fused cosine")
  }

  test("d13_dupspan_remove: no per-ngram window — min-struct aggregate handles hot ngrams") {
    // The round-5 weak spot: a row_number() window partitioned by ngram
    // pins every occurrence of a boilerplate "stop n-gram" onto one
    // task. The fix computes global-first via min(struct(id,pos)) inside
    // the occurrence-count groupBy (map-side combined, AQE-splittable
    // join after). Any Window operator reappearing here is a regression.
    val p = plan("d13_dupspan_remove")
    assert(!p.contains("Window"),
      s"per-ngram window crept back into removeDupSpans, plan:\n${p.take(4000)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "ngram occurrence counts must combine map-side")
  }

  test("v4_bpe_pairs: bounded top-k never materializes a global sort") {
    val p = plan("v4_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must run as TakeOrderedAndProject, plan:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "pair counts must combine map-side")
  }

  test("w5_retention: both aggregations map-side combine, no cartesian") {
    val p = plan("w5_retention")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("runtime bloom filter injects into a selective shuffle join (100 TB path)") {
    // At cluster scale a selective dim filter should pre-prune the fact
    // side's shuffle via Spark's runtime bloom filter. The feature is
    // size-gated, so on sf0.001 we drop the gates to prove the engine's
    // plans are ELIGIBLE — if a query shape regressed to a form the
    // optimizer can't inject into (e.g. a non-equi join or a filter
    // hidden behind a window), this breaks.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val p = lineitem.join(orders,
        lineitem("l_orderkey") === orders("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilterMightContain"),
        s"runtime bloom filter not injected; plan:\n${p.take(4000)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("d14_semdedup: within-cluster pairs only — equi-join on the cluster, no cross product") {
    val p = plan("d14_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the pair scan must stay cluster-scoped, plan:\n${p.take(3000)}")
    assert(p.contains("cosine_similarity"),
      "pair similarity must run on the fused codegen kernel")
  }

  test("n5_domain_prior: the rollup broadcasts back onto the corpus scan") {
    val p = plan("n5_domain_prior")
    assert(p.contains("BroadcastHashJoin"),
      s"per-domain prior must broadcast, not shuffle the corpus, plan:\n${p.take(3000)}")
  }

  test("v8_pmi: pair aggregate and marginals stay equi-joined — no cross product on data") {
    val p = plan("v8_pmi")
    assert(!p.contains("CartesianProduct"),
      s"pmi must never cross-join corpus-sized frames, plan:\n${p.take(3000)}")
    // the only nested-loop allowed is the 1-row scalar-total broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the scalar total may broadcast-nest, plan:\n${p.take(3000)}")
  }

  test("x3_contamination_semantic: banded equi-probe, fused cosine on candidates only") {
    val p = plan("x3_contamination_semantic")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"eval must probe train through (band,bucket), never eval×train, plan:\n${p.take(3000)}")
    assert(p.contains("cosine_similarity"),
      "candidate cosine must run on the fused codegen kernel")
  }

  test("k3_cluster_silhouette: codegen sq-dist kernel, min is map-side combined") {
    val p = plan("k3_cluster_silhouette")
    assert(p.contains("quantized_sq_dist"),
      "other-centroid distances must run on the codegen kernel")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "per-vector min must partial-aggregate before the exchange")
  }

  test("a17_unpivot: a scan-level Expand — no join, no pre-sort shuffle beyond ORDER BY") {
    val p = plan("a17_unpivot")
    assert(p.contains("Expand"), "unpivot must compile to an Expand node")
    assert(!p.contains("Join"), "melt must not join")
  }

  test("v9_zipf_slope: top-N via TakeOrdered, never a global sort of the vocabulary") {
    val p = plan("v9_zipf_slope")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab top-N must prune map-side, plan:\n${p.take(3000)}")
  }

  test("n7_url_canonicalize: scan-level canonicalization — no join anywhere") {
    val p = plan("n7_url_canonicalize")
    assert(!p.contains("Join"), "canonicalization must stay a projection")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "both rollups must map-side combine")
  }

  test("g6_link_prediction: broadcast degree joins, rank prunes before jaccard joins") {
    val p = plan("g6_link_prediction")
    assert(!p.contains("CartesianProduct"), "wedge join must stay an equi-join")
    assert(p.contains("WindowGroupLimit"), "top-k must prune map-side")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "degree annotate + both jaccard joins must broadcast the |V| table")
    // the rank filter must execute before the sdeg/ddeg joins: the
    // window's rank column is an INPUT to the join projections (rank
    // appears in a Project above a BroadcastHashJoin), not computed
    // above them — a Window node above the last join means the prune
    // regressed to ranking the full joined pair stream
    val windowIdx = p.indexOf("Window ")
    val firstJoinIdx = p.indexOf("BroadcastHashJoin")
    assert(windowIdx > firstJoinIdx,
      s"rank window must sit below the jaccard joins, plan:\n${p.take(3000)}")
    // the pair aggregate groups by ONE packed long (src<<32 | dst):
    // a single primitive key keeps HashAggregate on its fast
    // fixed-width map and halves the key bytes in the pair exchange;
    // the exact unsigned unpack restores (src, dst) above the anti-join
    assert(p.contains("shiftleft") && p.contains("shiftrightunsigned"),
      "candidate pairs must ride the packed single-long key")
  }

  test("t20_novelty_profile: linear shingle rollups, never pairwise, never a window") {
    val p = plan("t20_novelty_profile")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "novelty must never be all-pairs")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "min-per-shingle and per-doc rollups must map-side combine")
    // the first-holder mark must stay a groupBy+equi-join, NOT a
    // window over the shingle partition: a WindowExec pins every
    // occurrence of a hot boilerplate shingle onto one task (the
    // removeDupSpans straggler), while the aggregate partial-combines
    // hot keys map-side and the join back is AQE-skew-splittable
    // (round-18 adjudication, see noveltyProfile's comment)
    assert("""\(\d+\) Window""".r.findFirstIn(p).isEmpty,
      "first-holder min must not run as a per-shingle window")
  }

  test("x1/x4 contamination: one flag left-join, no semi-join, no stitch join, no window") {
    for (q <- Seq("x1_contamination", "x4_decontaminate")) {
      val p = plan(q)
      // hits and totals fold into ONE aggregate over a left-outer flag
      // join (round 18, change 14): the former LeftSemi probe and the
      // doc-keyed stitch join must not come back, and the per-shingle
      // mark must never become a window (hot-shingle straggler — the
      // removeDupSpans adjudication)
      assert(!p.contains("LeftSemi"),
        s"$q: the semi-join form re-evaluates the tagged stream twice")
      assert("""\(\d+\) Window""".r.findFirstIn(p).isEmpty,
        s"$q: per-shingle mark must not run as a window")
      assert(p.contains("LeftOuter"),
        s"$q: the flag join must preserve every probe-side row")
    }
  }

  test("w8_event_transitions: one sort-shuffle window feeds a tiny rollup") {
    val p = plan("w8_event_transitions")
    assert(p.contains("Window") || p.contains("lag"), "lag must run as a window")
    assert(!p.contains("Join"), "transition matrix needs no join")
  }

  test("a21_cuped: the only non-equi join is the 1-row theta broadcast") {
    val p = plan("a21_cuped")
    assert(!p.contains("CartesianProduct"),
      "the scalar broadcast must not plan as a cartesian")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "user rollup and arm rollup must map-side combine")
  }

  test("partsupp shapes: derived table stays broadcast-shaped, no cartesian blowup") {
    // the partsupp derivation contains exactly one 1-row scalar cross
    // (the supplier count) — a BNLJ against a single row, the
    // established scalar-broadcast idiom. Nothing else may nest-loop.
    val q2 = plan("q2_min_cost_supplier")
    assert(!q2.contains("CartesianProduct"), "q2 must never cartesian")
    assert(q2.contains("BroadcastHashJoin"), "q2 dims must broadcast")
    val q9 = plan("q9_product_profit")
    assert(!q9.contains("CartesianProduct"), "q9 must never cartesian")
    assert("HashAggregate".r.findAllIn(q9).size >= 2,
      "q9 profit rollup must map-side combine")
    val q16 = plan("q16_part_supplier_cnt")
    assert(q16.contains("LeftAnti"),
      "q16's NOT IN must plan as an anti join")
  }

  test("g4_triangle_census: adjacency arrays broadcast on the default gate") {
    val p = plan("g4_triangle_census")
    assert(!p.contains("CartesianProduct"))
    // both intersection probes must be hash joins against the
    // broadcast sorted-adjacency table (the shuffle fallback is
    // exercised separately in GraphSpec at a forced-low threshold),
    // and the census must run the native merge kernel, not the
    // per-row hash-set array_intersect
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"orientation + adjacency joins must broadcast, plan:\n${p.take(3000)}")
    assert(p.contains("sorted_intersect_count"),
      "the census must aggregate the native merge-intersection kernel")
    assert(!p.contains("array_intersect"),
      "per-row hash-set intersection must not appear in the census plan")
  }

  test("t13_fuzzy_pairs_suffix: two disjoint blocked arms, no pair-level distinct exchange") {
    val p = plan("t13_fuzzy_pairs_suffix")
    assert(p.contains("Union"), "both arms must contribute")
    // the round-6 rewrite removed the distinct over the expanded pair
    // set; an aggregate ABOVE the union reappearing = the shuffle is back
    val aboveUnion = p.substring(0, p.indexOf("Union"))
    assert(!aboveUnion.contains("HashAggregate"),
      s"pair-level distinct crept back above the union, plan:\n${p.take(3000)}")
  }

  test("dupGroups contraction shape: distinct rides the repartition(src) exchange") {
    // The per-round edge dedup in Dedup.dupGroups is written as
    // repartition(src) THEN distinct, so the (src, dst) aggregate's
    // clustered-distribution requirement is satisfied by the join-key
    // exchange (all rows of a pair share src) and the planner must NOT
    // insert a second exchange. One exchange per contraction round,
    // and the raw (pre-dedup) stream crosses the network exactly once.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val raw = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val deduped = raw.repartition(col("src")).distinct()
    assert(deduped.collect().length == 3)
    val full = deduped.queryExecution.executedPlan.toString
    // AQE prints the plan twice (Final + Initial) — audit the final one
    val p = full.split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(p).size == 1,
      s"distinct must reuse the repartition(src) partitioning, plan:\n$full")
  }

  for ((backend, expectedJobs) <- Seq("plain" -> 2, "snapshot" -> 1))
    test(s"apsviz serve requests ($backend): no Exchange, $expectedJobs Spark job(s) on warm dims") {
      // The serve path resolves the station/source dims on the driver
      // and coalesces the request's fact rows to one partition, so the
      // pivot, sort and JSON_AGG plan without any (broadcast) exchange.
      // On the snapshot backend the fact read needs no schema-inference
      // job either: a request on warm dim copies is exactly ONE job.
      // The plain backend's parquet-directory read adds its inference
      // job on top.
      import graft.domain.{QueryServe, ServeFixture}
      import scala.collection.mutable.ArrayBuffer
      val sc = spark.sparkContext
      val dir = java.nio.file.Files.createTempDirectory("graft-serve-plan").toString
      val store = ServeFixture.build(spark, dir, backend)
      val group = s"serve-plan-audit-$backend"
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val plans = ArrayBuffer.empty[String]
      val jobListener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
            jobs.incrementAndGet()
      }
      val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          plans.synchronized { plans += qe.executedPlan.toString }
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
      try {
        val reqs = ServeFixture.requests.toMap
        for (label <- Seq("obs A", "allparms A", "forecast A", "nowcast A")) {
          val line = ServeFixture.line(reqs(label))
          def run(): String = {
            val out = ArrayBuffer.empty[String]
            QueryServe.serve(store, Iterator(line), out += _)
            out.head
          }
          assert(run().startsWith("["), label) // warms the dim copies
          org.apache.spark.ListenerBusDrain(sc)
          plans.synchronized { plans.clear() }
          jobs.set(0)
          sc.setJobGroup(group, label)
          try assert(run().startsWith("["), label) finally sc.clearJobGroup()
          org.apache.spark.ListenerBusDrain(sc)
          assert(jobs.get == expectedJobs,
            s"$label ran ${jobs.get} Spark jobs on warm dims, expected $expectedJobs")
          assert(plans.nonEmpty, label)
          // "Exchange" covers shuffle and broadcast exchanges, and the
          // AQE query stages that wrap them
          plans.foreach(p => assert(!p.contains("Exchange"), s"$label planned an exchange:\n$p"))
        }
      } finally {
        spark.listenerManager.unregister(planListener)
        sc.removeSparkListener(jobListener)
      }
    }
}
