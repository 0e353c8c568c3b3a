package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{AnnIndex, ProductQuantization, Similarity}

/** The persisted-ANN-index lifecycle: build once → register in the catalog
  * → search many. Pins (1) search-over-persisted-index ≡ the in-query
  * twins, (2) build is SKIPPED when the source fingerprint is unchanged
  * and re-runs when it changes, (3) the postings scan is partition-pruned
  * to the probed cells, (4) the catalog entry is a capability pointer —
  * properties round-trip, direct scans/writes are rejected, and a stale
  * pointer re-registers. */
class AnnIndexSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private lazy val source = s"$sfDir/embeddings.parquet"

  private def seededCells = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))

  private def queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 103)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private def tmpLoc(name: String): String =
    s"${Files.createTempDirectory("graft-annspec").toString}/$name"

  test("persisted IVF search is row-identical to the in-query ivfTopK") {
    val loc = tmpLoc("ivf")
    assert(AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", loc, source), "first ensure must build")
    val persisted = AnnIndex.searchIvf(spark, loc, queries, "qid", "qvec",
      k = 10, nprobe = 3).orderBy("qid", "rank").collect()
    val inQuery = Similarity.ivfTopK(emb, "vec_id", "embedding",
      queries, "qid", "qvec", seededCells, "cid", "cvec",
      k = 10, nprobe = 3).orderBy("qid", "rank").collect()
    assert(persisted.nonEmpty)
    assert(persisted.toSeq == inQuery.toSeq)
  }

  test("persisted IVF-PQ search is row-identical to the in-query searchIvfPq") {
    val loc = tmpLoc("ivfpq")
    val codebook = ProductQuantization.seedCodebook(
      emb, "vec_id", "embedding", m = 8, k = 16)
    val pqQueries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    assert(AnnIndex.ensureIvfPq(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", codebook, m = 8, loc, source))
    val persisted = AnnIndex.searchIvfPq(spark, loc, pqQueries, "qid", "qvec",
      k = 10, nprobe = 3, rerank = 100).orderBy("qid", "rank").collect()
    val inQuery = ProductQuantization.searchIvfPq(emb, "vec_id", "embedding",
      pqQueries, "qid", "qvec", seededCells, "cid", "cvec",
      codebook, m = 8, k = 10, nprobe = 3, rerank = 100)
      .orderBy("qid", "rank").collect()
    assert(persisted.nonEmpty)
    assert(persisted.toSeq == inQuery.toSeq)
  }

  test("unchanged fingerprint skips the build; a changed source rebuilds") {
    val loc = tmpLoc("ivf-fresh")
    assert(AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", loc, source))
    // same source → fresh → no rebuild (search-many side of the split)
    assert(!AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", loc, source))
    // a different source path stats to a different fingerprint → rebuild
    assert(AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", loc, s"$sfDir/nation.parquet"))
  }

  test("a manifest-less residue at the location is cleared and rebuilt") {
    val loc = tmpLoc("ivf-residue")
    Files.createDirectories(java.nio.file.Paths.get(s"$loc/postings"))
    Files.writeString(java.nio.file.Paths.get(s"$loc/postings/garbage"), "x")
    assert(AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", loc, source))
    val res = AnnIndex.searchIvf(spark, loc, queries, "qid", "qvec",
      k = 5, nprobe = 2).collect()
    assert(res.nonEmpty)
  }

  /** One index per IVF tier over the whole corpus, built once for the
    * specs that compare tiers or exercise a tier-independent path. */
  private lazy val tierLocs: Map[String, String] = {
    val locs = Map("ivf" -> tmpLoc("tier-ivf"), "ivf_pq" -> tmpLoc("tier-pq"),
      "ivf_sq" -> tmpLoc("tier-sq"))
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", locs("ivf"), source)
    AnnIndex.ensureIvfPq(emb, "vec_id", "embedding", seededCells, "cid",
      "cvec", ProductQuantization.seedCodebook(emb, "vec_id", "embedding",
        m = 8, k = 16), m = 8, locs("ivf_pq"), source)
    AnnIndex.ensureIvfSq(emb, "vec_id", "embedding", seededCells, "cid",
      "cvec", sqRanges, locs("ivf_sq"), source)
    locs
  }

  /** The tier-named search over [[tierLocs]]`(tier)`, k = 10, nprobe = 3. */
  private def tierSearch(tier: String, qs: DataFrame = queries) = tier match {
    case "ivf" => AnnIndex.searchIvf(spark, tierLocs(tier), qs,
      "qid", "qvec", k = 10, nprobe = 3)
    case "ivf_pq" => AnnIndex.searchIvfPq(spark, tierLocs(tier), qs,
      "qid", "qvec", k = 10, nprobe = 3)
    case _ => AnnIndex.searchIvfSq(spark, tierLocs(tier), qs,
      "qid", "qvec", k = 10, nprobe = 3)
  }

  test("postings scan is partition-pruned to the probed cells") {
    for (tier <- Seq("ivf", "ivf_pq", "ivf_sq")) {
      val df = tierSearch(tier)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), s"$tier:\n$plan")
      val pruned = plan.linesIterator
        .filter(_.contains("PartitionFilters"))
        .exists(l => l.contains("cid") && l.contains(" IN "))
      assert(pruned,
        s"$tier: expected a static cid IN (...) partition filter:\n$plan")
    }
  }

  test("incremental append: build-half + append-half ≡ one-shot build, " +
      "and a crash between the phases reads as stale") {
    val locFull = tmpLoc("ivf-oneshot")
    val locInc = tmpLoc("ivf-incremental")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", locFull, source)
    // two-phase: even half builds under a partial marker, odd half appends
    AnnIndex.ensureIvf(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", seededCells, "cid", "cvec", locInc, source,
      fingerprintOverride = Some("partial:xyz"))
    // mid-flow the manifest must NOT read as the complete index
    assert(AnnIndex.readManifest(locInc).get.fingerprint == "partial:xyz")
    AnnIndex.append(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", locInc, newFingerprint = "full:xyz")
    assert(AnnIndex.readManifest(locInc).get.fingerprint == "full:xyz")

    val oneShot = AnnIndex.searchIvf(spark, locFull, queries, "qid", "qvec",
      k = 10, nprobe = 3).orderBy("qid", "rank").collect()
    val incremental = AnnIndex.searchIvf(spark, locInc, queries, "qid", "qvec",
      k = 10, nprobe = 3).orderBy("qid", "rank").collect()
    assert(incremental.nonEmpty)
    assert(incremental.toSeq == oneShot.toSeq)

    // a fresh ensure against the partial marker state must rebuild: the
    // stamp discipline is what makes a crash between phases recoverable
    assert(AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec",
      {
        val loc = tmpLoc("ivf-crashed")
        AnnIndex.ensureIvf(emb.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", seededCells, "cid", "cvec", loc, source,
          fingerprintOverride = Some(s"partial:${AnnIndex.sourceFingerprint(source)}"))
        loc
      }, source), "a partial-marker index must read as stale and rebuild")
  }

  test("incremental IVF-PQ append ≡ one-shot build (codes encoded against " +
      "the frozen codebook at append time)") {
    val codebook = ProductQuantization.seedCodebook(
      emb, "vec_id", "embedding", m = 8, k = 16)
    val pqQueries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val locFull = tmpLoc("ivfpq-oneshot")
    val locInc = tmpLoc("ivfpq-incremental")
    AnnIndex.ensureIvfPq(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", codebook, m = 8, locFull, source)
    AnnIndex.ensureIvfPq(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", seededCells, "cid", "cvec", codebook, m = 8,
      locInc, source, fingerprintOverride = Some("partial:xyz"))
    AnnIndex.append(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", locInc, newFingerprint = "full:xyz")
    val oneShot = AnnIndex.searchIvfPq(spark, locFull, pqQueries,
      "qid", "qvec", k = 10, nprobe = 3, rerank = 100)
      .orderBy("qid", "rank").collect()
    val incremental = AnnIndex.searchIvfPq(spark, locInc, pqQueries,
      "qid", "qvec", k = 10, nprobe = 3, rerank = 100)
      .orderBy("qid", "rank").collect()
    assert(incremental.nonEmpty)
    assert(incremental.toSeq == oneShot.toSeq)
  }

  test("compaction shrinks the post-append file count without changing " +
      "any search result; cellStats counts every posting") {
    val loc = tmpLoc("ivf-compact")
    AnnIndex.ensureIvf(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", seededCells, "cid", "cvec", loc, source,
      fingerprintOverride = Some("partial:c"))
    AnnIndex.append(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", loc, newFingerprint = "full:c")
    def parquetFiles: Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$loc/postings"))
        .count(_.getName.endsWith(".parquet"))
    }
    val before = AnnIndex.searchIvf(spark, loc, queries, "qid", "qvec",
      k = 10, nprobe = 3).orderBy("qid", "rank").collect()
    val statsBefore = AnnIndex.cellStats(spark, loc).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val filesBefore = parquetFiles
    AnnIndex.compactIvf(spark, loc)
    val filesAfter = parquetFiles
    assert(filesAfter < filesBefore,
      s"compaction must shrink files: $filesBefore -> $filesAfter")
    val after = AnnIndex.searchIvf(spark, loc, queries, "qid", "qvec",
      k = 10, nprobe = 3).orderBy("qid", "rank").collect()
    assert(after.toSeq == before.toSeq, "compaction must not change results")
    val statsAfter = AnnIndex.cellStats(spark, loc).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(statsAfter == statsBefore, "compaction must not change content")
    assert(statsAfter.values.sum == emb.count(),
      "cellStats must count every corpus vector exactly once")
    // the manifest (fingerprint included) survives compaction
    assert(AnnIndex.readManifest(loc).get.fingerprint == "full:c")
  }

  test("streaming serving: query vectors arriving as a stream, searched " +
      "per micro-batch against the persisted index, match batch search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val loc = tmpLoc("ivf-serve")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", loc, source)
    val qLocal = queries.as[(Long, Seq[Float])].collect().toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val served = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Long, Double)]
    val query = stream.toDF().toDF("qid", "qvec")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the serving shape: each micro-batch of queries probes the
        // SAME persisted index — no per-batch training, no state
        served.synchronized {
          served ++= AnnIndex.searchIvf(spark, loc, batch,
            "qid", "qvec", k = 10, nprobe = 3)
            .as[(Long, Int, Long, Double)].collect()
        }
        ()
      }
      .start()
    try {
      // two arrivals exercise the repeated-search path
      stream.addData(qLocal.take(1))
      query.processAllAvailable()
      stream.addData(qLocal.drop(1))
      query.processAllAvailable()
    } finally query.stop()
    val batchResults = AnnIndex.searchIvf(spark, loc, queries,
      "qid", "qvec", k = 10, nprobe = 3)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(served.nonEmpty)
    assert(served.sortBy(r => (r._1, r._2)) ==
      batchResults.sortBy(r => (r._1, r._2)))
  }

  test("catalog lifecycle: register, resolve by name, reject direct access, re-point") {
    val loc = tmpLoc("ivf-cat")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", loc, source)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.annspec")
    val name = "graft.annspec.emb_ivf_idx"
    AnnIndex.registerIndexTable(spark, name, loc)

    // properties round-trip through the catalog
    val props = spark.sql(s"SHOW TBLPROPERTIES $name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.index.type") == "ivf")
    assert(props("graft.index.metric") == "cosine")
    assert(props("graft.index.nlist") == "10")
    assert(AnnIndex.resolveIndexLocation(spark, name) == loc)

    // search resolves the location BY NAME through the catalog
    val viaCatalog = AnnIndex.searchIvf(spark,
      AnnIndex.resolveIndexLocation(spark, name),
      queries, "qid", "qvec", k = 10, nprobe = 3)
      .orderBy("qid", "rank").collect()
    assert(viaCatalog.nonEmpty)

    // the entry is a capability pointer: direct scan and write refuse
    val scanErr = intercept[Exception](spark.sql(s"SELECT * FROM $name").collect())
    assert(scanErr.getMessage.contains("AnnIndex"), scanErr.getMessage)
    val writeErr = intercept[Exception](
      spark.sql(s"INSERT INTO $name VALUES (1L, array(1.0f), 0)"))
    assert(writeErr.getMessage.contains("AnnIndex"), writeErr.getMessage)

    // idempotent re-register keeps the entry; a NEW location re-points it
    AnnIndex.registerIndexTable(spark, name, loc)
    assert(AnnIndex.resolveIndexLocation(spark, name) == loc)
    val loc2 = tmpLoc("ivf-cat2")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", loc2, source)
    AnnIndex.registerIndexTable(spark, name, loc2)
    assert(AnnIndex.resolveIndexLocation(spark, name) == loc2)

    // end of life: deregister (DROP) keeps the index data for other
    // consumers; PURGE deletes the whole index tree with the entry
    spark.sql(s"DROP TABLE $name")
    assert(!spark.catalog.tableExists(name))
    assert(Files.exists(java.nio.file.Paths.get(loc2)),
      "deregister must keep the index data")
    AnnIndex.registerIndexTable(spark, name, loc2)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    cat.purgeTable(org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("annspec"), "emb_ivf_idx"))
    assert(!spark.catalog.tableExists(name))
    assert(!Files.exists(java.nio.file.Paths.get(loc2)),
      "purge must delete the index tree")
  }

  test("CDC streaming ingest: per-micro-batch adds (appendIvf) and deletes " +
      "(tombstones) keep the served index ≡ the equivalent batch corpus") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val loc = tmpLoc("ivf-cdc")
    // base index: the even ids under 150; the CDC feed then adds the odd
    // ids under 100 and deletes the %10∈{0,4} stragglers, across two
    // micro-batches — the nightly-ingest loop compressed into a test
    AnnIndex.ensureIvf(emb.filter(col("vec_id") < 150 && col("vec_id") % 2 === 0),
      "vec_id", "embedding", seededCells, "cid", "cvec", loc, source,
      fingerprintOverride = Some("cdc:base"))
    val adds = emb.filter(col("vec_id") < 100 && col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    val stream = MemoryStream[(String, Long, Seq[Float])]
    val feed = stream.toDF().toDF("op", "vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.persist()
        try {
          val delta = b.filter(col("op") === "add")
            .select(col("vec_id"), col("embedding"))
          if (delta.limit(1).count() > 0)
            AnnIndex.append(delta, "vec_id", "embedding", loc,
              newFingerprint = "cdc:base")
          val dels = b.filter(col("op") === "del").select(col("vec_id"))
          if (dels.limit(1).count() > 0)
            AnnIndex.deleteIds(dels, "vec_id", loc)
        } finally { b.unpersist(); () }
        ()
      }
      .start()
    try {
      stream.addData(adds.take(25).map { case (id, v) => ("add", id, v) } ++
        Seq(("del", 0L, Seq.empty[Float]), ("del", 10L, Seq.empty[Float])))
      feed.processAllAvailable()
      stream.addData(adds.drop(25).map { case (id, v) => ("add", id, v) } ++
        (20L until 150L by 10L).map(i => ("del", i, Seq.empty[Float])) ++
        (4L until 150L by 10L).map(i => ("del", i, Seq.empty[Float])))
      feed.processAllAvailable()
    } finally feed.stop()
    val got = AnnIndex.searchIvf(spark, loc, queries, "qid", "qvec",
      k = 10, nprobe = 3).orderBy("qid", "rank").collect()
    // the equivalent batch corpus: (evens<150 ∪ odds<100) minus %10∈{0,4}
    val corpus = emb.filter(
      ((col("vec_id") < 150 && col("vec_id") % 2 === 0) ||
       (col("vec_id") < 100 && col("vec_id") % 2 === 1)) &&
      col("vec_id") % 10 =!= 0 && col("vec_id") % 10 =!= 4)
    val want = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", seededCells, "cid", "cvec",
      k = 10, nprobe = 3).orderBy("qid", "rank").collect()
    assert(got.nonEmpty)
    assert(got.toSeq == want.toSeq)
  }

  test("tombstone delete ≡ filter: IVF search excludes deleted ids and " +
      "matches the in-query search over the filtered corpus") {
    val loc = tmpLoc("ivf-del")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", loc, source)
    AnnIndex.deleteIds(emb.filter(col("vec_id") % 7 === 3), "vec_id", loc)
    assert(AnnIndex.hasTombstones(loc))
    val got = AnnIndex.searchIvf(spark, loc, queries, "qid", "qvec",
      k = 10, nprobe = 3).orderBy("qid", "rank").collect()
    // centroids stay the FULL seeded frame (frozen index metadata);
    // only the corpus side is filtered — exactly what a delete means
    val want = Similarity.ivfTopK(emb.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", queries, "qid", "qvec",
      seededCells, "cid", "cvec", k = 10, nprobe = 3)
      .orderBy("qid", "rank").collect()
    assert(got.nonEmpty)
    assert(got.toSeq == want.toSeq)
    assert(!got.exists(_.getLong(2) % 7 == 3), "a deleted id was retrieved")
  }

  test("deletes accumulate across batches and re-deleting is a no-op") {
    val loc = tmpLoc("ivf-del2")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", loc, source)
    AnnIndex.deleteIds(emb.filter(col("vec_id") % 7 === 3), "vec_id", loc)
    AnnIndex.deleteIds(emb.filter(col("vec_id") % 7 === 5), "vec_id", loc)
    val both = AnnIndex.searchIvf(spark, loc, queries, "qid", "qvec",
      k = 10, nprobe = 3).orderBy("qid", "rank").collect()
    assert(!both.exists(r => r.getLong(2) % 7 == 3 || r.getLong(2) % 7 == 5))
    // set semantics: a crashed delete job re-runs without harm
    AnnIndex.deleteIds(emb.filter(col("vec_id") % 7 === 3), "vec_id", loc)
    val again = AnnIndex.searchIvf(spark, loc, queries, "qid", "qvec",
      k = 10, nprobe = 3).orderBy("qid", "rank").collect()
    assert(again.toSeq == both.toSeq)
  }

  test("compaction folds tombstones: physically removed, dir cleared, " +
      "search results unchanged") {
    val loc = tmpLoc("ivf-del-compact")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", loc, source)
    AnnIndex.deleteIds(emb.filter(col("vec_id") % 7 === 3), "vec_id", loc)
    val before = AnnIndex.searchIvf(spark, loc, queries, "qid", "qvec",
      k = 10, nprobe = 3).orderBy("qid", "rank").collect()
    AnnIndex.compactIvf(spark, loc)
    assert(!AnnIndex.hasTombstones(loc),
      "compaction must clear the folded tombstones")
    val physical = spark.read.parquet(s"$loc/postings")
      .filter(col("vec_id") % 7 === 3).count()
    assert(physical == 0, "tombstoned rows must be physically dropped")
    val after = AnnIndex.searchIvf(spark, loc, queries, "qid", "qvec",
      k = 10, nprobe = 3).orderBy("qid", "rank").collect()
    assert(after.toSeq == before.toSeq)
  }

  test("IVF-PQ delete drops candidates in BOTH stages (ADC and rerank)") {
    val loc = tmpLoc("ivfpq-del")
    val codebook = ProductQuantization.seedCodebook(
      emb, "vec_id", "embedding", m = 8, k = 16)
    val pqQueries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    AnnIndex.ensureIvfPq(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", codebook, m = 8, loc, source)
    AnnIndex.deleteIds(emb.filter(col("vec_id") % 7 === 3), "vec_id", loc)
    val got = AnnIndex.searchIvfPq(spark, loc, pqQueries, "qid", "qvec",
      k = 10, nprobe = 3, rerank = 100).orderBy("qid", "rank").collect()
    // the in-query twin over the filtered corpus, frozen codebook/cells
    val want = ProductQuantization.searchIvfPq(
      emb.filter(col("vec_id") % 7 =!= 3), "vec_id", "embedding",
      pqQueries, "qid", "qvec", seededCells, "cid", "cvec",
      codebook, m = 8, k = 10, nprobe = 3, rerank = 100)
      .orderBy("qid", "rank").collect()
    assert(got.nonEmpty)
    assert(got.toSeq == want.toSeq)
  }

  test("filtered search, selective arm: bypasses the probe layer and is " +
      "EXACT — ≡ brute force over the filtered corpus (recall 1.0)") {
    val loc = tmpLoc("ivf-filt-exact")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", loc, source)
    val pred = col("label") === 5 && col("vec_id") % 2 === 0
    val got = AnnIndex.search(spark, loc, queries, "qid", "qvec",
      k = 10, nprobe = 3,
      allowed = Some(emb.filter(pred).select(col("vec_id"))),
      exactCap = 1000000L)
      .orderBy("qid", "rank").collect()
    val want = Similarity.bruteForceTopK(emb.filter(pred),
      "vec_id", "embedding", queries, "qid", "qvec", k = 10)
      .orderBy("qid", "rank").collect()
    assert(got.nonEmpty)
    assert(got.toSeq == want.toSeq)
  }

  test("filtered search, broad arm: keeps the IVF probe and pushes the " +
      "allowed-id semi-join beneath scoring — ≡ ivfTopK over the " +
      "pre-filtered corpus (frozen centroids)") {
    val loc = tmpLoc("ivf-filt-broad")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", loc, source)
    val pred = col("label") >= 2
    // exactCap = 0 forces the IVF arm regardless of the filter's size
    val got = AnnIndex.search(spark, loc, queries, "qid", "qvec",
      k = 10, nprobe = 3,
      allowed = Some(emb.filter(pred).select(col("vec_id"))), exactCap = 0L)
      .orderBy("qid", "rank").collect()
    val want = Similarity.ivfTopK(emb.filter(pred), "vec_id", "embedding",
      queries, "qid", "qvec", seededCells, "cid", "cvec",
      k = 10, nprobe = 3).orderBy("qid", "rank").collect()
    assert(got.nonEmpty)
    assert(got.toSeq == want.toSeq)
    // a post-filter ABOVE the top-k would under-fill k; the pushed-down
    // semi-join must still return full shortlists on a broad filter
    val perQid = got.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perQid.values.forall(_ == 10),
      s"under-filled shortlist: $perQid")
  }

  test("filtered-search path decision counts no further than the cap and " +
      "flips exactly at it") {
    val ids = emb.filter(col("label") === 5 && col("vec_id") % 2 === 0)
      .select(col("vec_id"))
    val n = ids.count()
    assert(n > 1, "fixture predicate must pass more than one id")
    assert(AnnIndex.takesExactPath(ids, n))
    assert(!AnnIndex.takesExactPath(ids, n - 1))
    assert(!AnnIndex.takesExactPath(ids, 0L))
  }

  test("filtered search composes with tombstones: a deleted id drops out " +
      "of BOTH arms even when it passes the metadata filter") {
    val loc = tmpLoc("ivf-filt-del")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", loc, source)
    val pred = col("label") >= 2
    // delete an id that the unfiltered broad search retrieves at rank 1
    val first = AnnIndex.search(spark, loc, queries, "qid", "qvec",
      k = 1, nprobe = 3,
      allowed = Some(emb.filter(pred).select(col("vec_id"))), exactCap = 0L)
      .collect().head.getLong(2)
    AnnIndex.deleteIds(emb.filter(col("vec_id") === first), "vec_id", loc)
    for (cap <- Seq(0L, 1000000L)) {
      val got = AnnIndex.search(spark, loc, queries, "qid", "qvec",
        k = 10, nprobe = 3,
        allowed = Some(emb.filter(pred).select(col("vec_id"))), exactCap = cap)
        .collect()
      assert(got.nonEmpty)
      assert(!got.exists(_.getLong(2) == first),
        s"tombstoned id $first retrieved with exactCap=$cap")
    }
  }

  test("filtered IVF-PQ search: broad arm ≡ searchIvfPq over the " +
      "pre-filtered corpus; selective arm ≡ brute force") {
    val loc = tmpLoc("ivfpq-filt")
    val codebook = ProductQuantization.seedCodebook(
      emb, "vec_id", "embedding", m = 8, k = 16)
    val pqQueries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    AnnIndex.ensureIvfPq(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", codebook, m = 8, loc, source)
    val broad = col("label") >= 2
    val gotBroad = AnnIndex.search(spark, loc, pqQueries, "qid", "qvec",
      k = 10, nprobe = 3, rerank = 100,
      allowed = Some(emb.filter(broad).select(col("vec_id"))), exactCap = 0L)
      .orderBy("qid", "rank").collect()
    val wantBroad = ProductQuantization.searchIvfPq(
      emb.filter(broad), "vec_id", "embedding",
      pqQueries, "qid", "qvec", seededCells, "cid", "cvec",
      codebook, m = 8, k = 10, nprobe = 3, rerank = 100)
      .orderBy("qid", "rank").collect()
    assert(gotBroad.nonEmpty)
    assert(gotBroad.toSeq == wantBroad.toSeq)
    val narrow = col("label") === 5 && col("vec_id") % 2 === 0
    val gotNarrow = AnnIndex.search(spark, loc, pqQueries, "qid", "qvec",
      k = 10, nprobe = 3, rerank = 100,
      allowed = Some(emb.filter(narrow).select(col("vec_id"))),
      exactCap = 1000000L)
      .orderBy("qid", "rank").collect()
    val wantNarrow = Similarity.bruteForceTopK(emb.filter(narrow),
      "vec_id", "embedding", pqQueries, "qid", "qvec", k = 10)
      .orderBy("qid", "rank").collect()
    assert(gotNarrow.nonEmpty)
    assert(gotNarrow.toSeq == wantNarrow.toSeq)
  }

  // ---- IVF-SQ8 ----------------------------------------------------------

  private def sqRanges = graft.ops.ScalarQuant.trainRanges(emb, "embedding")

  private def sqSearch(loc: String) =
    AnnIndex.searchIvfSq(spark, loc, queries, "qid", "qvec",
      k = 10, nprobe = 3, rerank = 50).orderBy("qid", "rank")

  test("IVF-SQ8: search returns k live rows per query and the postings " +
      "scan is partition-pruned to the probed cells") {
    val loc = tmpLoc("ivfsq")
    assert(AnnIndex.ensureIvfSq(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", sqRanges, loc, source),
      "first ensure must build")
    val df = sqSearch(loc)
    val got = df.collect()
    assert(got.length == 30, s"3 queries × k=10, got ${got.length}")
    val plan = df.queryExecution.executedPlan.toString
    val pruned = plan.linesIterator
      .filter(_.contains("PartitionFilters"))
      .exists(l => l.contains("cid") && l.contains(" IN "))
    assert(pruned, s"expected a static cid IN (...) partition filter:\n$plan")
  }

  test("IVF-SQ8: codes are uint8-bounded and reconstruction error is " +
      "within half a quantization step per dimension") {
    val loc = tmpLoc("ivfsq-codes")
    AnnIndex.ensureIvfSq(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", sqRanges, loc, source)
    val postings = spark.read.parquet(s"$loc/postings")
    assert(postings.filter(exists(col("codes"),
      c => c < 0 || c > 255)).count() == 0, "a code escaped [0, 255]")
    val (loArr, scaleArr) = graft.ops.ScalarQuant.collectModel(
      spark.read.parquet(s"$loc/sq"))
    // x̂ = lo + code·scale must sit within scale/2 of x (plus float eps):
    // the defining accuracy bound of round-to-nearest affine quantization
    val maxScale = scaleArr.max
    val worst = postings
      .withColumn("__dec",
        graft.ops.ScalarQuant.decode(col("codes"), loArr, scaleArr))
      .select(aggregate(zip_with(col("embedding"), col("__dec"),
        (x, y) => abs(x.cast("double") - y.cast("double"))),
        lit(0.0), (a, x) => greatest(a, x)).as("err"))
      .agg(max(col("err"))).head().getDouble(0)
    assert(worst <= maxScale / 2 + 1e-6,
      s"reconstruction error $worst exceeds half-step ${maxScale / 2}")
  }

  test("IVF-SQ8: build-half + append-half against the frozen ranges ≡ " +
      "one-shot") {
    val locOne = tmpLoc("ivfsq-oneshot")
    val locTwo = tmpLoc("ivfsq-append")
    AnnIndex.ensureIvfSq(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", sqRanges, locOne, source)
    val fp = AnnIndex.sourceFingerprint(source)
    AnnIndex.ensureIvfSq(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", seededCells, "cid", "cvec", sqRanges,
      locTwo, source, fingerprintOverride = Some(s"partial:$fp"))
    AnnIndex.append(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", locTwo, newFingerprint = fp)
    assert(AnnIndex.readManifest(locTwo).exists(_.fingerprint == fp),
      "append must re-stamp the full fingerprint")
    val one = sqSearch(locOne).collect()
    assert(one.nonEmpty)
    assert(sqSearch(locTwo).collect().toSeq == one.toSeq)
  }

  test("IVF-SQ8: delete ≡ filter (frozen ranges — quantization never " +
      "retrains on delete) and compaction folds without changing results") {
    val locDel = tmpLoc("ivfsq-del")
    val locRef = tmpLoc("ivfsq-del-ref")
    AnnIndex.ensureIvfSq(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", sqRanges, locDel, source)
    AnnIndex.deleteIds(emb.filter(col("vec_id") % 7 === 3), "vec_id", locDel)
    // reference: one-shot index over the FILTERED corpus with the SAME
    // full-corpus ranges and centroids
    AnnIndex.ensureIvfSq(emb.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", seededCells, "cid", "cvec", sqRanges,
      locRef, source)
    val want = sqSearch(locRef).collect()
    assert(want.nonEmpty)
    val before = sqSearch(locDel).collect()
    assert(before.toSeq == want.toSeq)
    assert(!before.exists(_.getLong(2) % 7 == 3), "a deleted id surfaced")
    AnnIndex.compactIvf(spark, locDel)
    assert(!AnnIndex.hasTombstones(locDel))
    assert(spark.read.parquet(s"$locDel/postings")
      .filter(col("vec_id") % 7 === 3).count() == 0,
      "compaction must physically drop tombstoned rows (codes included)")
    assert(sqSearch(locDel).collect().toSeq == want.toSeq)
  }

  test("IVF-SQ8: unchanged fingerprint skips the build; stale rebuilds") {
    val loc = tmpLoc("ivfsq-fresh")
    assert(AnnIndex.ensureIvfSq(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", sqRanges, loc, source))
    assert(!AnnIndex.ensureIvfSq(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", sqRanges, loc, source))
    assert(AnnIndex.ensureIvfSq(emb, "vec_id", "embedding",
      seededCells, "cid", "cvec", sqRanges, loc, s"$sfDir/nation.parquet"))
  }

  test("filtered IVF-SQ8 search: selective arm ≡ brute force over the " +
      "allowed ids; broad arm over every id ≡ the unfiltered search") {
    val loc = tierLocs("ivf_sq")
    val narrow = col("label") === 5 && col("vec_id") % 2 === 0
    val gotNarrow = AnnIndex.search(spark, loc, queries, "qid", "qvec",
      k = 10, nprobe = 3, rerank = 50,
      allowed = Some(emb.filter(narrow).select(col("vec_id"))),
      exactCap = 1000000L)
      .orderBy("qid", "rank").collect()
    val wantNarrow = Similarity.bruteForceTopK(emb.filter(narrow),
      "vec_id", "embedding", queries, "qid", "qvec", k = 10)
      .orderBy("qid", "rank").collect()
    assert(gotNarrow.nonEmpty)
    assert(gotNarrow.toSeq == wantNarrow.toSeq)
    // exactCap = 0 forces the probe arm; every id allowed ≡ no filter
    val gotAll = AnnIndex.search(spark, loc, queries, "qid", "qvec",
      k = 10, nprobe = 3, rerank = 50,
      allowed = Some(emb.select(col("vec_id"))), exactCap = 0L)
      .orderBy("qid", "rank").collect()
    val unfiltered = tierSearch("ivf_sq").orderBy("qid", "rank").collect()
    assert(gotAll.nonEmpty)
    assert(gotAll.toSeq == unfiltered.toSeq)
  }

  test("filtered search, selective arm: flat, PQ and SQ8 indexes over one " +
      "corpus return identical rows (the exact arm never reads codes)") {
    val allowed = emb.filter(col("label") === 5 && col("vec_id") % 2 === 0)
      .select(col("vec_id"))
    val Seq(flat, pq, sq) = Seq("ivf", "ivf_pq", "ivf_sq").map(tier =>
      AnnIndex.search(spark, tierLocs(tier), queries, "qid", "qvec",
        k = 10, nprobe = 3, allowed = Some(allowed), exactCap = 1000000L)
        .orderBy("qid", "rank").collect().toSeq)
    assert(flat.nonEmpty)
    assert(pq == flat)
    assert(sq == flat)
  }

  test("a tier-named search refuses an index of another tier") {
    intercept[IllegalArgumentException](AnnIndex.searchIvfPq(spark,
      tierLocs("ivf"), queries, "qid", "qvec"))
    intercept[IllegalArgumentException](AnnIndex.searchIvfSq(spark,
      tierLocs("ivf_pq"), queries, "qid", "qvec"))
    intercept[IllegalArgumentException](AnnIndex.searchIvf(spark,
      tierLocs("ivf_sq"), queries, "qid", "qvec"))
  }

  test("graft_ann_search serves every IVF tier with the tier's own search") {
    val qv = emb.filter(col("vec_id") === 100).select(col("embedding"))
      .head().getSeq[Float](0)
    val qs = spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(-1L, qv)),
      org.apache.spark.sql.types.StructType.fromDDL(
        "qid BIGINT, qvec ARRAY<FLOAT>"))
    val vecLit = qv.map(f => s"CAST('$f' AS FLOAT)")
      .mkString("array(", ", ", ")")
    for (tier <- Seq("ivf", "ivf_pq", "ivf_sq")) {
      val loc = tierLocs(tier)
      val got = spark.sql(
        s"SELECT * FROM graft_ann_search('$loc', $vecLit, 10, 3)")
        .orderBy("rank").collect().map(r =>
          (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
      val want = tierSearch(tier, qs).orderBy("rank").collect().map(r =>
        (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
      assert(got.length == 10, s"$tier: ${got.length} rows")
      assert(got.toSeq == want.toSeq, tier)
    }
  }
}
