package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted INVERTED text index — the full-text-search sibling of
  * [[AnnIndex]]'s vector indexes, completing the reference's index-type
  * family (its format offers scalar, full-text, and vector indexes over a
  * table; the catalog layer hands out the location pointer either way).
  *
  * The in-query BM25 gate ([[TextRanking.bm25]], q101) tokenizes the
  * corpus per invocation. At 100 TB that tokenize-and-count pass IS the
  * cost — so, exactly like the vector lifecycle, build once / search many:
  *
  * On-disk layout under `location`:
  * {{{
  *   postings/bkt=<n>/...  (term, doc_id, tf, dl) PARTITIONED BY a
  *                         term-hash bucket — a query's terms name their
  *                         buckets BEFORE the scan, so the read carries a
  *                         static `bkt IN (...)` partition filter and a
  *                         search touches ~|terms|/nBuckets of the bytes
  *   doclens/              (doc_id, dl) — narrow per-doc lengths; feeds
  *                         delete-time stats capture, never searched
  *   stats/                (n_docs, sum_dl) DELTA ROWS — one per
  *                         build/append; searches SUM them, so an append
  *                         never rewrites history
  *   tombstones/           (doc_id, dl) — deletes since compaction;
  *                         searches anti-join ids AND subtract the dl
  *                         mass from the corpus stats (BM25's idf/avgdl
  *                         must see the filtered corpus, not just a
  *                         filtered result list)
  *   _MANIFEST.properties  type=inverted/metric=bm25/nlist=nBuckets/
  *                         fingerprint
  * }}}
  *
  * Everything the score needs beyond the query is IN the index: tf and dl
  * ride each posting row, df(t) is the live row count of the term's
  * postings, (n, sum_dl) come from the stats deltas. Search therefore
  * reads: the probed buckets + the few stats rows. No corpus access.
  *
  * Determinism: tf/df/dl/n/sum_dl are exact integers persisted losslessly,
  * and [[searchBm25]] recomputes the score with the IDENTICAL expression
  * tree as [[TextRanking.bm25]] (same double-precision idf/tf terms, same
  * decimal(38,18) per-doc sum) — so persisted search is hash-identical to
  * the in-query twin, which is what the q209 gate pins against q101's
  * oracle.
  *
  * Reuses [[AnnIndex]]'s manifest codec, fingerprint staleness, atomic
  * staging-dir publish, and tombstone discipline — one lifecycle contract
  * across index families.
  */
object TextIndex {

  /** Bucket of a term: first 8 md5 hex chars mod nBuckets. The SAME
    * arithmetic driver-side (here, for the search's pruning literals —
    * no Spark job needed) and executor-side ([[bucketCol]], at build) —
    * the md5-derived-determinism device the LSH family already uses. */
  def bucketOf(term: String, nBuckets: Int): Int = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(term.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % nBuckets).toInt
  }

  private def bucketCol(term: org.apache.spark.sql.Column, nBuckets: Int) =
    (conv(substring(md5(term), 1, 8), 16, 10).cast("long") % nBuckets)
      .cast("int")

  /** The tokenize → (term, doc) tf/dl/positions frame both build and
    * append share — the exact token pipeline of [[TextRanking.bm25]]
    * (lowercase, trim, whitespace split; empty-string tokens INDEXED,
    * because the in-query twin counts them in dl and a query could
    * legitimately ask for any term the tokenizer emits). One corpus scan;
    * the (term, doc) count is map-side combinable. Each posting row also
    * carries the term's sorted 0-based POSITIONS in the doc (bounded by
    * doc length) — what phrase search intersects; BM25 searches never
    * read the column (parquet column pruning), so carrying it is free on
    * the scoring path. */
  private def tokenized(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    TextFunctions.widen(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        size(col("__toks")).cast("long").as("dl"))
      .select(col("doc_id"), col("dl"),
        posexplode(col("__toks")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"),
        sort_array(collect_list(col("pos"))).as("positions"))

  /** Build (or reuse, if the source fingerprint is unchanged) an inverted
    * index at `location`. Same contract as [[AnnIndex.ensureIvf]]:
    * returns true iff a build ran; a manifest-less residue is cleared;
    * publish is an atomic rename. */
  def ensureInverted(docs: DataFrame, idCol: String, textCol: String,
      location: String, sourcePath: String, nBuckets: Int = 64,
      fingerprintOverride: Option[String] = None): Boolean = {
    val fp = fingerprintOverride.getOrElse(
      AnnIndex.sourceFingerprint(sourcePath))
    AnnIndex.readManifest(location) match {
      // metric gates the LAYOUT generation: a pre-positional index
      // (metric=bm25) rebuilds even when the data fingerprint matches,
      // so phrase search never meets postings without a positions column
      case Some(m) if m.fingerprint == fp && m.indexType == "inverted" &&
          m.metric == "bm25pos" && m.nlist == nBuckets &&
          m.sourcePath.nonEmpty => false
      case _ =>
        AnnIndex.deleteRecursively(location)
        val spark = docs.sparkSession
        AnnIndex.buildAndPublish(location,
          AnnIndex.Manifest("inverted", "bm25pos", nBuckets, 0, fp,
            sourcePath = sourcePath, sourceIdCol = idCol,
            sourceKeyCol = textCol)) { staging =>
          writeSlice(spark, docs, idCol, textCol, nBuckets,
            s"$staging/postings", s"$staging/doclens", s"$staging/stats",
            sliceIsWholeIndex = true)
        }
    }
  }

  /** ONE tokenization pass per build/append slice — naive lineage would
    * re-tokenize the slice once per output (postings, doclens, stats:
    * 3× the dominant cost at 100 TB). Docs whose text is NULL produce no
    * postings but DO belong to the corpus count (n_docs) with null
    * length mass — the in-query twin's convention — so they rejoin
    * doclens from a tokenization-free null-text scan.
    *
    * The doclens derivation differs by slice kind: a BUILD (the slice IS
    * the whole index) derives them from the narrow doc_id/dl columns of
    * the postings just written — an index-local read, no re-tokenize; an
    * APPEND must not read the corpus-sized shared postings for a
    * delta-sized answer, so it re-derives from the delta's tokenized
    * lineage PERSISTED across its doclens write and stats aggregate. */
  private def writeSlice(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, nBuckets: Int,
      postingsDir: String, doclensDir: String, statsDir: String,
      sliceIsWholeIndex: Boolean): Unit = {
    val toks = tokenized(docs, idCol, textCol)
    toks.withColumn("bkt", bucketCol(col("term"), nBuckets))
      .repartition(col("bkt"))
      .write.mode("append").partitionBy("bkt").parquet(postingsDir)
    val nullDocs = docs.filter(col(textCol).isNull)
      .select(col(idCol).cast("long").as("doc_id"),
        lit(null).cast("long").as("dl"))
    val doclens =
      (if (sliceIsWholeIndex)
        spark.read.parquet(postingsDir)
          .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      else toks.groupBy(col("doc_id")).agg(max(col("dl")).as("dl")))
        .unionByName(nullDocs)
        .persist()
    doclens.write.mode("append").parquet(doclensDir)
    doclens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .coalesce(1).write.mode("append").parquet(statsDir)
    doclens.unpersist()
    ()
  }

  /** Incrementally ADD documents: tokenize ONLY the delta, append its
    * postings into the bucketed layout, its doclens, and ONE new stats
    * delta row — history is never rewritten; searches sum the deltas.
    * df(t) needs no maintenance at all (it is the live row count of the
    * term's postings). Same crash discipline as [[AnnIndex.append]]:
    * the caller builds with a `partial:` fingerprint and this re-stamps
    * `newFingerprint` only AFTER the appends commit. */
  def appendInverted(delta: DataFrame, idCol: String, textCol: String,
      location: String, newFingerprint: String): Unit = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "inverted", s"not an inverted index: $location")
    writeSlice(delta.sparkSession, delta, idCol, textCol, man.nlist,
      s"$location/postings", s"$location/doclens", s"$location/stats",
      sliceIsWholeIndex = false)
    AnnIndex.writeManifest(location,
      man.copy(fingerprint = newFingerprint))
  }

  // ---- delete ----------------------------------------------------------

  private def tombstoneDir(location: String): String =
    s"$location/tombstones"

  def hasTombstones(location: String): Boolean =
    IndexFs.exists(tombstoneDir(location))

  /** DELETE documents — tombstones, never a postings rewrite (the
    * [[AnnIndex.deleteIds]] discipline). BM25 needs one thing more than
    * the vector path did: the deleted docs' LENGTH MASS, because idf and
    * avgdl are corpus statistics — a delete that only dropped result rows
    * would keep scoring the survivors against the old corpus. So the
    * delete job captures (doc_id, dl) from the narrow doclens table ONCE,
    * here at delete time (a delete-batch-sized semi-join; deletes are
    * rare, searches frequent — the cost belongs on this side), and every
    * search subtracts the tombstones' count/dl from the stats deltas.
    * Set semantics: ids never indexed vanish in the semi-join; re-deletes
    * land duplicate rows that the search-side `distinct()` folds. */
  def deleteDocs(ids: DataFrame, idCol: String, location: String): Unit = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    val spark = ids.sparkSession
    spark.read.parquet(s"$location/doclens")
      .join(broadcast(ids.select(col(idCol).cast("long").as("doc_id"))
        .distinct()), Seq("doc_id"), "left_semi")
      .coalesce(1)
      .write.mode("append").parquet(tombstoneDir(location))
    // index-only deletes diverge the live view from the source — stamp
    // it so freshness consumers decline even after a compaction
    if (!man.divergent)
      AnnIndex.writeManifest(location, man.copy(divergent = true))
  }

  // ---- search ----------------------------------------------------------

  /** BM25 over the persisted index: reads ONLY the query terms' buckets
    * (static `bkt IN (...)` partition pruning, the cid device) plus the
    * stats delta rows. tf/dl ride the posting rows; df(t) is the live
    * per-term row count; (n, sum_dl) = Σ stats deltas − tombstone mass.
    * Scoring is the verbatim [[TextRanking.bm25]] expression tree, so
    * persisted ≡ in-query bit-for-bit (gate q209 ≡ q101).
    * Returns (doc_id, score) for every doc matching ≥1 term. */
  def searchBm25(spark: SparkSession, location: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75)
      : DataFrame =
    searchBm25Internal(spark, location, queryTerms, k1, b, None)

  private def searchBm25Internal(spark: SparkSession, location: String,
      queryTerms: Seq[String], k1: Double, b: Double,
      allowedIds: Option[DataFrame]): DataFrame = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "inverted", s"not an inverted index: $location")
    require(queryTerms.nonEmpty, "searchBm25: queryTerms must be non-empty")
    val bkts = queryTerms.map(bucketOf(_, man.nlist)).distinct.sorted
    val raw = spark.read.parquet(s"$location/postings")
      .filter(col("bkt").isin(bkts.map(Int.box): _*))
      .filter(col("term").isInCollection(queryTerms))
    val tombs =
      if (!hasTombstones(location)) None
      else Some(spark.read.parquet(tombstoneDir(location))
        .select(col("doc_id"), col("dl")).distinct())
    val live = tombs.fold(raw)(t =>
      raw.join(broadcast(t.select(col("doc_id"))), Seq("doc_id"), "left_anti"))
    val rawStats = spark.read.parquet(s"$location/stats")
      .agg(sum(col("n_docs")).as("__n"), sum(col("sum_dl")).as("__sumdl"))
    val stats = tombs.fold(rawStats)(t =>
      rawStats.crossJoin(broadcast(t.agg(
          count(lit(1)).as("__tn"), sum(col("dl")).as("__tdl"))))
        .select((col("__n") - col("__tn")).as("__n"),
          (col("__sumdl") - coalesce(col("__tdl"), lit(0L))).as("__sumdl")))
    // df from the LIVE (tombstone-cleaned) postings — before any search-
    // time filter: the filter restricts results, not the corpus
    val dfreq = live.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val scoredRows = allowedIds.fold(live)(ids =>
      live.join(ids, Seq("doc_id"), "left_semi"))
    val avgdl = col("__sumdl").cast("double") / col("__n")
    val idf = log(lit(1.0) +
      (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val tfTerm = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    scoredRows.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(sum((idf * tfTerm).cast("decimal(38,18)")).cast("double")
        .as("score"))
      .select(col("doc_id"), col("score"))
  }

  /** FILTERED BM25 over the persisted index: only documents whose ids
    * pass a metadata predicate (evaluated on the base table, shipped as
    * the single-column `allowed` frame) can be returned. The semi-join
    * lands BENEATH the scoring aggregate, so scores are only computed
    * for returnable docs — but df(t) and (n, sum_dl) stay CORPUS-GLOBAL:
    * a search-time filter restricts the RESULT SET, it does not redefine
    * the corpus. That is the semantic line between this and
    * [[deleteDocs]]: a delete shrinks the corpus (idf/avgdl shift, q211
    * pins it); a filter leaves every surviving doc's score exactly what
    * the unfiltered search would give it (q212 pins THAT, by an oracle
    * that scores globally and filters after). Tombstones compose on the
    * delete side of the line: they adjust stats AND drop rows. */
  def searchBm25Filtered(spark: SparkSession, location: String,
      allowed: DataFrame, allowedIdCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    val ids = allowed.select(col(allowedIdCol).cast("long").as("doc_id"))
    searchBm25Internal(spark, location, queryTerms, k1, b, Some(ids))
  }

  /** PHRASE search over the positional postings: documents containing the
    * EXACT consecutive token sequence `phrase`, with the occurrence count.
    *
    * Plan: read ONLY the phrase terms' buckets (the same static
    * `bkt IN (...)` pruning as BM25), take each term's posting rows with
    * its positions array SHIFTED left by its phrase offset, join the
    * per-term frames on doc_id, and intersect the shifted arrays — a
    * phrase occurrence at position p is exactly p surviving every
    * intersection. Position arrays are doc-length-bounded, the joins are
    * posting-list-sized (AQE broadcasts the rarest term's side — the
    * classic phrase-query optimization falls out of the planner), and the
    * corpus is never re-tokenized. Repeated terms in the phrase reuse the
    * same posting row under different shifts, so "t t" counts overlapping
    * occurrences, matching a positional scan of the text.
    *
    * Tombstones compose: the per-term frames are the LIVE view, so a
    * deleted doc can never match. Returns (doc_id, n_hits), n_hits ≥ 1.
    */
  def searchPhrase(spark: SparkSession, location: String,
      phrase: Seq[String]): DataFrame = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "inverted", s"not an inverted index: $location")
    require(man.metric == "bm25pos",
      s"index at $location predates positional postings — rebuild it")
    require(phrase.nonEmpty, "searchPhrase: phrase must be non-empty")
    // the index holds the LOWERCASED token stream — normalize the phrase
    // so "Fast Sort" finds what a positional scan of the text would
    val normPhrase = phrase.map(_.toLowerCase)
    val terms = normPhrase.distinct
    val bkts = terms.map(bucketOf(_, man.nlist)).distinct.sorted
    val raw = spark.read.parquet(s"$location/postings")
      .filter(col("bkt").isin(bkts.map(Int.box): _*))
      .filter(col("term").isInCollection(terms))
    val live =
      if (!hasTombstones(location)) raw
      else raw.join(
        broadcast(spark.read.parquet(tombstoneDir(location))
          .select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti")
    val parts = normPhrase.zipWithIndex.map { case (t, i) =>
      live.filter(col("term") === t)
        .select(col("doc_id"),
          transform(col("positions"), p => p - i).as(s"__p$i"))
    }
    val joined = parts.reduce((a, b) => a.join(b, Seq("doc_id")))
    val inter = normPhrase.indices.map(i => col(s"__p$i"))
      .reduce((a, b) => array_intersect(a, b))
    joined.select(col("doc_id"), size(inter).cast("long").as("n_hits"))
      .filter(col("n_hits") > 0)
  }

  // ---- compaction ------------------------------------------------------

  /** Fold tombstones into the physical layout: postings minus deleted
    * docs rewritten one file per bucket, doclens minus deleted, stats
    * collapsed to ONE true row, tombstones cleared after the swaps
    * commit. Same atomic old-or-new swap as [[AnnIndex.compactIvf]];
    * live search results are unchanged by construction. */
  def compactInverted(spark: SparkSession, location: String): Unit = {
    require(AnnIndex.readManifest(location).isDefined, s"no index at $location")
    val tombIds =
      if (!hasTombstones(location))
        spark.emptyDataFrame.withColumn("doc_id", lit(0L)).limit(0)
      else spark.read.parquet(tombstoneDir(location))
        .select(col("doc_id")).distinct()
    val pid = AnnIndex.uniqueSuffix()
    // ALL staging subtrees are written from the live view BEFORE any swap
    // commits: a swap-then-recompute ordering would, on cache eviction,
    // recompute later subtrees from file paths an earlier swap already
    // retired (the ScalarIndex compaction hazard, ADVICE r13) — writing
    // everything first makes the swaps pure renames with no lineage left
    // to re-execute
    val doclens = spark.read.parquet(s"$location/doclens")
      .join(broadcast(tombIds), Seq("doc_id"), "left_anti")
      .persist()
    spark.read.parquet(s"$location/postings")
      .join(broadcast(tombIds), Seq("doc_id"), "left_anti")
      .repartition(col("bkt"))
      .write.mode("overwrite").partitionBy("bkt")
      .parquet(s"$location/postings.compact.$pid")
    doclens.write.mode("overwrite").parquet(s"$location/doclens.compact.$pid")
    // derive the stats from the WRITTEN doclens staging — index-local
    // narrow read, immune to eviction of the `doclens` cache
    spark.read.parquet(s"$location/doclens.compact.$pid")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$location/stats.compact.$pid")
    doclens.unpersist()
    Seq("postings", "doclens", "stats").foreach { sub =>
      IndexFs.renameIntoOrThrow(s"$location/$sub", s"$location/$sub.retired.$pid")
      try IndexFs.renameIntoOrThrow(s"$location/$sub.compact.$pid", s"$location/$sub")
      catch {
        case e: Throwable =>
          IndexFs.renameIntoOrThrow(s"$location/$sub.retired.$pid", s"$location/$sub")
          throw e
      }
      AnnIndex.deleteRecursively(s"$location/$sub.retired.$pid")
    }
    AnnIndex.deleteRecursively(tombstoneDir(location))
  }
}
