package graft

import org.apache.spark.sql.DataFrame

import graft.queries.RelationalQueries

/** Physical-plan assertions: each headline query must compile to the plan
  * we designed for 100 TB — broadcast joins for dims, pushdown reaching the
  * scan, top-k instead of global sort, partial aggregation — not merely a
  * plan that returns the right rows. */
class PlanShapeSpec extends SparkSpec {

  private def executed(df: DataFrame): String = {
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("q03: dimension side broadcast, fact sides shuffle at most once") {
    val plan = executed(RelationalQueries.q03ShippingPriority(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"))
  }

  test("q05: all five dims broadcast — no shuffle join anywhere") {
    val plan = executed(RelationalQueries.q05NationRevenue(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q02: filter and projection pushed into the parquet scan") {
    val df = RelationalQueries.q02FilterProject(spark, sfDir)
    val plan = executed(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber"), plan)
    assert(!plan.contains("l_comment"), "unused columns must be pruned")
  }

  test("q13: global top-k is TakeOrderedAndProject, not a full sort") {
    val plan = executed(RelationalQueries.q13TopK(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q01: partial (map-side) aggregation before the exchange") {
    val plan = executed(RelationalQueries.q01PricingSummary(spark, sfDir))
    val firstAgg = plan.linesIterator.toSeq.reverse
      .find(_.contains("HashAggregate"))
    assert(firstAgg.exists(_.contains("partial_")),
      s"expected partial aggregation below the exchange:\n$plan")
  }

  test("q04: EXISTS becomes a semi join, never a full join + filter") {
    val plan = executed(RelationalQueries.q04OrderPriority(spark, sfDir))
    assert(plan.contains("LeftSemi"), plan)
  }

  test("bucketed tables: co-located join with no shuffle exchange") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // a previous JVM's managed-table dirs survive the in-memory catalog
    for (t <- Seq("b_orders", "b_customer")) {
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$t")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .format("parquet").saveAsTable("b_orders")
    customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .format("parquet").saveAsTable("b_customer")
    val joined = spark.table("b_orders")
      .join(spark.table("b_customer"),
        org.apache.spark.sql.functions.col("o_custkey") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      .groupBy("c_mktsegment").count()
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // bucketing pre-partitions both sides: the join itself needs no exchange
    val joinSection = plan.split("HashAggregate").last
    assert(!joinSection.contains("Exchange hashpartitioning(o_custkey") &&
      !joinSection.contains("Exchange hashpartitioning(c_custkey"),
      s"bucketed join must not reshuffle join keys:\n$plan")
  }

  test("partitioned write + read prunes partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val ev = graft.queries.Tables.events(spark, sfDir)
      .withColumn("day", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")))
    ev.write.partitionBy("day").mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .filter("day = date'2024-01-02'")
      .groupBy("event_type").count()
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan)
    // only one day's files are scanned — the partition filter is in the
    // scan, not a post-scan Filter on day
    assert(!plan.matches("(?s).*Filter .*day.*ColumnarToRow.*"), plan)
  }

  test("q40: query side broadcast for similarity search") {
    val plan = executed(graft.queries.SimilarityQueries.q40CosineTopK(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("graft_cosine"), "custom codegen expression in the plan")
    // Catalyst's WindowGroupLimit pushes the rank<=k filter below the
    // shuffle: only per-partition top-k survivors move. This is why no
    // custom TopKPerKey SparkPlan exists in this engine — the declarative
    // window + filter already compiles to the bounded-heap plan
    // (SURVEY.md §7.3: prefer built-ins over custom strategies).
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q44 prefix-sum packing: every exchange is partitioned, none single-partition") {
    val plan = executed(
      graft.queries.CurationQueries.q44PackSequences(spark, sfDir))
    // the whole point of the two-phase scan: a naive cumulative window
    // would show 'Exchange SinglePartition' feeding a Window
    val windowFeeds = plan.linesIterator.sliding(8).exists(w =>
      w.exists(_.contains("Window")) && w.exists(_.contains("SinglePartition")))
    assert(!windowFeeds, s"single-partition window detected:\n$plan")
    assert(plan.contains("Window"), plan)
  }

  // AQE's toString appends the initial plan after the final one — strip it
  // so assertions see only what actually ran ('*(n)' marks codegen stages)
  private def finalOnly(plan: String): String =
    plan.split("== Initial Plan ==").head

  test("catalog table: global min/max/count push down to the parquet footer scan") {
    // at 100 TB a stats query (row count, column bounds) must read file
    // footers, not data pages — Spark's parquet aggregate pushdown does
    // exactly that, and it must survive the graft catalog's DSv2
    // delegation (a catalog that breaks it would silently turn footer
    // reads into full scans)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      graft.queries.CatalogQueries.q21CatalogScan(spark, sfDir).collect()
      // timestamp bounds are excluded on purpose: parquet min/max stats for
      // timestamps are not trusted by Spark's pushdown rule, and ONE
      // unsupported aggregate disables pushdown for the whole query
      val df = spark.sql(
        "SELECT count(*), min(l_orderkey), max(l_orderkey) FROM graft.tpch.lineitem")
      df.collect()
      val plan = finalOnly(df.queryExecution.executedPlan.toString)
      assert(plan.contains("PushedAggregation: [COUNT(*)"),
        s"aggregate not pushed to the scan:\n$plan")
      assert(plan.contains("MIN(l_orderkey)") && plan.contains("MAX(l_orderkey)"),
        plan)
    } finally spark.conf.unset("spark.sql.parquet.aggregatePushdown")
  }

  test("AQE splits a skewed shuffle join at runtime (the unsalted-skew backstop)") {
    // q72 is the *planned* answer to skew (salting); this pins the *runtime*
    // answer — AQE detecting a hot key mid-query and splitting the skewed
    // partition — so an operator that meets unplanned skew at 100 TB
    // degrades to split subpartitions, not to one straggler executor.
    // Thresholds are lowered to make the 200k-row fixture register as
    // skewed; the MECHANISM under test is identical at any scale.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      import org.apache.spark.sql.functions.{when, lit, md5}
      val big = spark.range(0, 200000).select(
        when($"id" % 20 === 0, $"id" % 100).otherwise(lit(7L)).as("k"),
        md5($"id".cast("string")).as("payload"))
      val dim = spark.range(0, 100).select($"id".as("k"), ($"id" * 2).as("w"))
      val j = big.join(dim, "k")
      j.queryExecution.toRdd.count()
      val plan = finalOnly(j.queryExecution.executedPlan.toString)
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q130 char entropy: per-row codegen'd array ops — no shuffle except " +
      "widen's round-robin and the final sort") {
    val df = graft.queries.TextQueries.q130CharEntropy(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("Join"), s"entropy must not join:\n$plan")
    // no KEY shuffle: widen is RoundRobin, the sort is range — neither
    // hash-partitions, so the heavy fold never lands on one hot key
    assert(!plan.contains("hashpartitioning"), s"unexpected key shuffle:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"only widen + the final sort may exchange:\n$plan")
  }

  test("q129 DSIR: B-row log-ratio table broadcasts back onto per-doc counts") {
    val df = graft.queries.CurationQueries.q129DsirWeights(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    // the scoring join must be broadcast (ratio table is ≤ `buckets` rows,
    // bounded regardless of corpus size); a SortMergeJoin here would
    // shuffle the full per-doc feature table against a 1024-row side
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q123 mixture sampling: document-scale cumulative sum is never single-partition") {
    val df = graft.queries.CurationQueries.q123MixtureSample(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    // the per-document cumulative path must ride the bucketed prefix sum
    // (__pid-partitioned window); single-partition exchanges are only
    // legal feeding the per-SOURCE quota frame, whose input is the
    // constant-size hash aggregate over sources
    assert(plan.contains("__pid"), s"bucketed prefix path missing:\n$plan")
    val lines = plan.linesIterator.toVector
    lines.zipWithIndex
      .filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        val child = lines.slice(i + 1, i + 9).mkString("\n")
        assert(child.contains("HashAggregate"),
          s"single-partition exchange over non-aggregated input at line $i:\n$plan")
      }
  }

  test("q124 epoch shard: the permutation rank is never a global window") {
    val df = graft.queries.CurationQueries.q124EpochShard(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    // the rank must ride the bucketed prefix sum — a row_number() over the
    // whole corpus would plan 'Exchange SinglePartition' into a Window
    assert(plan.contains("__pid"), s"bucketed prefix path missing:\n$plan")
    val windowFeeds = plan.linesIterator.sliding(8).exists(w =>
      w.exists(_.contains("Window")) && w.exists(_.contains("SinglePartition")))
    assert(!windowFeeds, s"single-partition window detected:\n$plan")
  }

  test("q98: inverted-index Jaccard plans no product join") {
    val df = graft.queries.DedupQueries.q98JaccardIndex(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"index join must not degrade to a product:\n$plan")
  }

  test("q127 SRP near-dup: bucket equi-joins only, signature in codegen") {
    val df = graft.queries.SimilarityQueries.q127SrpNearDup(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"LSH pipeline must never degrade to a product join:\n$plan")
    assert(plan.contains("graft_srp_signature"), plan)
  }

  test("q79: gate bucketed join is SMJ with no join-key exchange") {
    val df = graft.queries.CatalogQueries.q79BucketedJoin(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed gate join must not reshuffle join keys:\n$plan")
  }

  test("q38 redaction: per-row PII work stays inside whole-stage codegen") {
    val plan = finalOnly(
      executed(graft.queries.CurationQueries.q38PiiRedact(spark, sfDir)))
    assert(plan.contains("*("), plan)
    // redaction is a scan-side projection + partial agg: one hash exchange
    // for the source-keyed aggregation + one range exchange for the sort
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$plan")
  }

  test("q54 decontamination: gram match is a semi join, benchmark side broadcast by AQE") {
    val plan = executed(graft.queries.CurationQueries.q54Decontaminate(spark, sfDir))
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop") ||
      plan.contains("SortMergeJoin"), plan)
  }

  test("q65 gap fill: counts side actually broadcasts (hint on the buildable side)") {
    val plan = finalOnly(
      executed(graft.queries.StreamQueries.q65GapFill(spark, sfDir)))
    // the left-outer grid join must be a broadcast join — a hint on the
    // preserved side is silently dropped and degrades to a shuffle join
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q55 z-order: pure projection over the scan — no join, no extra exchange") {
    val plan = finalOnly(
      executed(graft.queries.MaintenanceQueries.q55ZOrder(spark, sfDir)))
    assert(!plan.contains("Join"), s"z-value must not join:\n$plan")
    assert(plan.contains("*("), plan)
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"only the final sort may exchange:\n$plan")
  }

  test("q101 bm25: df and corpus stats broadcast, top-k is TakeOrdered, no product") {
    val plan = executed(graft.queries.RetrievalQueries.q101Bm25(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"tf⋈df must broadcast, not shuffle:\n$plan")
  }

  test("q103 fuzzy pairs: banded equi-join (no product), bounded-lev verify in codegen") {
    val plan = executed(graft.queries.ResolutionQueries.q103FuzzyNames(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate pairing must stay an equi-join on (block, band):\n$plan")
    assert(plan.contains("graft_bounded_lev"), plan)
  }

  test("q42 ivf: centroid assignment is a partial max_by aggregate, not a window") {
    val plan = finalOnly(
      executed(graft.queries.SimilarityQueries.q42IvfTopK(spark, sfDir)))
    // the argmax collapses to one row per vector map-side; a row_number
    // window here would exchange |corpus|×kCells rows before ranking
    assert(plan.contains("partial_max_by"),
      s"expected map-side-combinable max_by assignment:\n$plan")
  }

  test("q110 bucket diff: two aggregated sides meet in one small full-outer join") {
    val plan = executed(graft.queries.MaintenanceQueries.q110BucketDiff(spark, sfDir))
    assert(plan.contains("FullOuter"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // both sides pre-aggregate (partial_) before their exchanges — the
    // join only ever sees `buckets` rows per side
    assert(plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")), plan)
  }

  test("q132 boilerplate removal: the df>maxDf set joins as a broadcast, " +
      "never a corpus shuffle") {
    val df = graft.queries.ChunkQueries.q132Boilerplate(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"),
      s"boilerplate set must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q134 decay score: the corpus-max reference broadcasts; the " +
      "user aggregate is map-side combined") {
    val df = graft.queries.StreamQueries.q134DecayScore(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"1-row reference must broadcast, not shuffle the events:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_count")), plan)
  }

  test("q135 source minhash: signature mins are partial aggregates — a " +
      "giant source is never a hot partition") {
    val df = graft.queries.DedupQueries.q135SourceMinhash(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_min")),
      s"per-seed mins must map-side combine before the source shuffle:\n$plan")
  }

  test("q137 scoreboard: top-k is TakeOrdered over the scored corpus — " +
      "never a corpus-wide window or product") {
    val df = graft.queries.PipelineQueries.q137Scoreboard(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(plan.contains("TakeOrderedAndProject"),
      s"the corpus cut must be per-partition top-n + single reduce:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q138 CCNet buckets: the tercile rank rides the bucketed prefix " +
      "sum, never a corpus-wide window") {
    val df = graft.queries.TextQueries.q138CcnetBuckets(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(plan.contains("__pid"), s"bucketed prefix path missing:\n$plan")
    val windowFeeds = plan.linesIterator.sliding(8).exists(w =>
      w.exists(_.contains("Window")) && w.exists(_.contains("SinglePartition")))
    assert(!windowFeeds, s"single-partition window detected:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q140 source cap: per-source top-k is WindowGroupLimit; the global " +
      "round-robin position is never a global window") {
    val df = graft.queries.CurationQueries.q140SourceCap(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    // the cap filters rank<=k BELOW the shuffle — only survivors move
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("__pid"), s"bucketed prefix path missing:\n$plan")
    // single-partition exchanges are legal only feeding the per-SOURCE
    // index frame (constant-size aggregate input), per the q123 rule
    val lines = plan.linesIterator.toVector
    lines.zipWithIndex
      .filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        val child = lines.slice(i + 1, i + 9).mkString("\n")
        assert(child.contains("HashAggregate"),
          s"single-partition exchange over non-aggregated input at line $i:\n$plan")
      }
  }

  test("q139 robust outliers: keyed percentile aggregates and equi-joins " +
      "only — no global sort, no product") {
    val df = graft.queries.ResolutionQueries.q139RobustOutliers(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // both the median and MAD passes must partial-aggregate per supplier
    assert(plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("percentile")), plan)
    assert(!plan.contains("Exchange SinglePartition"),
      s"nothing in this query may single-partition:\n$plan")
  }

  test("q142 hourly anomaly: the per-series stats join is broadcast onto " +
      "the hourly counts") {
    val df = graft.queries.StreamQueries.q142HourlyAnomaly(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"),
      s"series-stats side is series-count-sized, must broadcast:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_count")), plan)
  }

  test("q143 stupid backoff: count-table joins are keyed equi-joins; the " +
      "only nested-loop is the 1-row token-total broadcast") {
    val df = graft.queries.TextQueries.q143StupidBackoff(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct"), plan)
    // five model joins on token keys — none may degenerate to a product;
    // BroadcastNestedLoopJoin is legal only for the single-row N
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"token joins degenerated to nested loops:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_count")), plan)
  }

  test("q144 int8 audit: dim-count range table broadcasts back onto the " +
      "exploded value stream") {
    val df = graft.queries.SimilarityQueries.q144Int8Audit(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"),
      s"per-dim ranges are dim-count rows, must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // min/max must partial-aggregate before the dim shuffle
    assert(plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_min")), plan)
  }

  test("q145 attribution: touch join keeps the user equi-key; the touch " +
      "count is keyed by conversion, never a global window") {
    val df = graft.queries.StreamQueries.q145Attribution(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"time predicate must ride the user equi-join as a filter:\n$plan")
    val windowFeeds = plan.linesIterator.sliding(8).exists(w =>
      w.exists(_.contains("Window")) && w.exists(_.contains("SinglePartition")))
    assert(!windowFeeds, s"single-partition window detected:\n$plan")
  }

  test("q133 k-gram novelty: census join is an equi-join, no product") {
    val df = graft.queries.DedupQueries.q133KgramNovelty(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"first-occurrence join must stay an equi-join:\n$plan")
    // the first-occurrence census is map-side combinable
    assert(plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_min")), plan)
  }

  test("q146 substring dedup: census and flag joins are hash-keyed " +
      "equi-joins; occurrence census is map-side combined") {
    val df = graft.queries.DedupQueries.q146SubstrDedup(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"gram-hash joins must stay equi-joins:\n$plan")
    // count + min(struct(doc, pos)) census combines before the shuffle
    // (struct-typed min lands in SortAggregate/ObjectHashAggregate, still
    // with a partial phase)
    assert(plan.contains("partial_min"), plan)
  }

  test("q154 incremental rollup: delta partial-aggregates before the merge " +
      "join; no product") {
    val df = graft.queries.MutationQueries.q154IncrementalRollup(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the CDC delta combines map-side before touching the merge join
    assert(plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_sum")), plan)
  }

  test("q147 MaxSim: queries broadcast; per-query top-k is WindowGroupLimit, " +
      "not a global sort") {
    val df = graft.queries.SimilarityQueries.q147MaxSim(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"query side must broadcast, never shuffle the corpus:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k must push into the window:\n$plan")
  }

  test("q148 embedding drift: dim-keyed global rollup broadcasts back; " +
      "per-(group,dim) sums are partial aggregates") {
    val df = graft.queries.SimilarityQueries.q148EmbeddingDrift(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"),
      s"the dim-count global table must broadcast:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q149 CDC chunking: codegen'd cut rows; bounds via id-keyed window " +
      "and equi-join, no product") {
    val df = graft.queries.ChunkQueries.q149CdcChunks(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"bounds join must stay an equi-join:\n$plan")
    // the cut-detection md5 runs inside whole-stage codegen (the HOF
    // formulation fell to GenerateExec's CodegenFallback — 7x slower)
    assert(!plan.contains("CodegenFallback"), plan)
    // key shuffles only on the doc id (window + join), plus widen/sort
    val exchanges = plan.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchanges.forall(_.contains("__id")),
      s"unexpected non-id key shuffle:\n${exchanges.mkString("\n")}")
  }

  test("q150 wordpiece: vocabulary joins broadcast; the corpus is touched " +
      "only by the word-frequency aggregate") {
    val df = graft.queries.TextQueries.q150Wordpiece(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab must broadcast into the candidate match:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q164 sequence match: all four automaton windows ride ONE " +
      "user-keyed shuffle — no self-joins, no per-window re-exchange") {
    val df = graft.queries.StreamQueries.q164SequenceMatch(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("Join"), s"the automaton must not self-join:\n$plan")
    // exactly one hash exchange (the user partition); the rest is the
    // gate's output range sort
    val hashEx = plan.linesIterator
      .filter(_.contains("hashpartitioning")).toSeq
    assert(hashEx.size == 1 && hashEx.head.contains("user_id"),
      s"expected one user_id exchange:\n${hashEx.mkString("\n")}")
  }

  test("q163 embed decontam: eval set broadcast, per-vector best rank " +
      "pre-truncated (WindowGroupLimit), global top-k is TakeOrdered") {
    val df = graft.queries.SimilarityQueries.q163EmbedDecontam(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"the eval set must broadcast — the corpus side never shuffles for the join:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-vector rank must truncate before the exchange:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k must be TakeOrdered, not a full sort:\n$plan")
  }

  test("q162 quality classifier: the model lives in the expression — " +
      "no join anywhere, partial aggregation below the doc exchange") {
    val df = graft.queries.CurationQueries.q162QualityClassifier(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("Join"), s"hashed weights need no model join:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")),
      s"expected map-side partial aggregation:\n$plan")
  }

  test("q181 unigram segment: the vocabulary broadcasts into the lattice " +
      "join; the only cross join is the 1-row frequency total") {
    val df = graft.queries.TextQueries.q181UnigramSegment(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab must broadcast into the edge match:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the 1-row total must broadcast, never cartesian:\n$plan")
    // the words-edges DP join may SMJ: both sides are word-partitioned
    // lexicon-sized aggregates — co-partitioned merge is the correct
    // choice at scale (a 100 TB corpus's lexicon must NOT broadcast)
  }

  test("q183 tokenizer fertility: at most two corpus scans — the wide " +
      "per-source count and the column-pruned text-only lexicon read") {
    val df = graft.queries.TextQueries.q183TokenizerFertility(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    // Catalyst rewrites the lattice side's count-pruned re-aggregate to a
    // distinct over a text-only scan instead of reusing the wide
    // (source, word) exchange — a narrower read than a forced reuse, and
    // one scan fewer than the naive train-then-evaluate pair's three.
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("documents"))
    assert(scans <= 2,
      s"expected at most two documents scans, got $scans:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q184 production-shape semDedup: pair search shuffles on the cell key, " +
      "never a cartesian product; the SRP signature is pure projection") {
    val df = graft.queries.SimilarityQueries.q184SemdedupCells(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct"), plan)
    // the self-join must key on the cluster cell (hashpartitioning over the
    // concat'd cell column), which is what bounds pairs to Σ|cell|²
    assert(plan.contains("hashpartitioning"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q167 leakage split: the split assignment never widens the plan — " +
      "no cartesian product; the md5 bucket is pure projection") {
    val df = graft.queries.DedupQueries.q167LeakageSplit(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct"), plan)
    // the only non-LSH join surface is the id-keyed component merge
    assert(plan.contains("Project"), plan)
  }

  test("q186 silhouette: the k-row centroid table broadcasts — the corpus " +
      "side never shuffles into the distance join") {
    val df = graft.queries.SimilarityQueries
      .q186LabelSilhouette(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    // label-count centroid rows reach every point via broadcast (the
    // crossJoin plans as BroadcastNestedLoopJoin over k rows, by design)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q182 win-rate CI: one item-keyed shuffle — the interval math is " +
      "pure projection over the count aggregate") {
    val df = graft.queries.GraphQueries.q182WinRateCi(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Join"), plan) // no join at all: union + agg
  }

  test("q193 windowed PSI: one aggregation, the PSI a projection over " +
      "it — no join, no second shuffle, reference as literals") {
    val df = graft.queries.StreamQueries.q193WindowedPsi(spark, sfDir)
    df.collect()
    val plan = finalOnly(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("Join"), plan) // baseline rides as literals
    // exactly one pair of partial/final hash aggregates over the scan
    // (plus nothing else that shuffles except the output sort)
    assert("HashAggregate".r.findAllIn(plan).size <= 4, plan)
  }

  test("AQE skew-join mitigation engages on a celebrity-hub shaped join") {
    // The 100 TB skew story has two tiers: operators with a planted-skew
    // hazard carry their own mitigation (salting — q72; degree
    // orientation — triangles), and EVERYTHING ELSE leans on AQE's
    // runtime skew-join split. This receipt proves the lean is real: a
    // join with one celebrity key (a hub-shaped profile, scaled to
    // test size) must come out of AQE with the skewed partition SPLIT —
    // visible as skew=true on the sort-merge join — not serialized
    // through one straggler task.
    import org.apache.spark.sql.functions.{col, concat, length, lit, pmod, sum, when}
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // production defaults scaled to test bytes: the hub partition
      // (~20 MB) exceeds factor × median and the threshold; advisory
      // size forces a multi-way split
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
      // tiny dim must not broadcast — the receipt is about the SMJ path
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val pay = "x" * 100
      val fact = spark.range(0, 260000).select(
        when(col("id") < 200000, 0L).otherwise(pmod(col("id"), lit(997L)))
          .as("k"),
        concat(lit(pay), col("id")).as("payload"))
      val dim = spark.range(0, 997).select(col("id").as("k"),
        concat(lit(pay), col("id")).as("dpay"))
      val joined = fact.join(dim, Seq("k"))
        .agg(sum(length(col("payload")) + length(col("dpay"))).as("bytes"))
      assert(joined.collect()(0).getLong(0) > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("skew=true"),
        s"AQE did not split the celebrity partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
