package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted ANN index lifecycle: BUILD once, REGISTER in the catalog,
  * SEARCH many times.
  *
  * Every in-query ANN gate ([[Similarity.ivfTopK]],
  * [[ProductQuantization.searchIvfPq]]) recomputes the corpus-side work —
  * cell assignment and PQ encoding — per invocation. That is the right
  * shape for a hash-gated correctness query, but at 100 TB index build and
  * search are SEPARATE jobs: a nightly build pass materializes the
  * assignment (and codes) once, and every search afterwards reads only the
  * probed slice. This module is that split, mirroring the reference's
  * tables-as-location-pointers model (`GlueNamespace.java:257-268`: the
  * catalog stores a location + properties; the data plane reads it). The
  * IVF family is the reference ecosystem's own vector-index shape — its
  * benchmark artifacts are `lance_ivf*.csv` over the sift corpus
  * (reference `.gitignore:84-86`).
  *
  * On-disk layout under `location`:
  * {{{
  *   centroids/                 (cid int, cvec array<float>)   — tiny
  *   codebook/                  (s, c, cvec)  [ivf_pq only]    — tiny
  *   postings/cid=<n>/...       (vec_id, embedding[, codes])   — the corpus,
  *                              PARTITIONED BY cell id
  *   tombstones/                (vec_id)  — deletes since the last
  *                              compaction; searches anti-join it
  *   _MANIFEST.properties       type/metric/nlist/m/fingerprint
  * }}}
  *
  * Why `partitionBy(cid)` is the whole point: a search probes `nprobe` of
  * `nlist` cells, and because the probed cell ids are known before the scan
  * (they come from the tiny centroid table), the postings read carries a
  * STATIC `cid IN (...)` partition filter — Spark prunes non-probed
  * directories at file-listing time, so a 100 TB index answers a query by
  * reading ~nprobe/nlist of its bytes. No shuffle touches the corpus: the
  * probe set and centroids broadcast.
  *
  * Build atomicity: all control-plane I/O (manifest, staleness stat,
  * publish, tombstone probes) goes through [[IndexFs]] — Hadoop
  * `FileSystem`, any scheme. On rename-capable FS the index is written to
  * a `<location>.tmp.<pid>` staging dir and atomically renamed into
  * place, so a concurrent reader never observes a half-written index and
  * a lost build race leaves the winner's output intact; on object stores
  * the manifest is PUT last as the commit marker (protocol notes in
  * [[IndexFs]]).
  *
  * Staleness: the manifest records a fingerprint of the SOURCE parquet
  * (file names + sizes — a driver-side stat, no data scan). [[ensureIvf]] /
  * [[ensureIvfPq]] / [[ensureIvfSq]] rebuild only when the manifest is
  * absent or the fingerprint changed.
  *
  * Tiers: IVF-flat (`ivf`), IVF-PQ (`ivf_pq`) and IVF-SQ8 (`ivf_sq`)
  * share the centroid/postings layout and differ only in the private
  * `Tier` value — `Flat`, `Pq(m, codebook)` or `Sq8(lo, scale)`. Build
  * takes it from the caller's training artifact; search and [[append]]
  * rebuild it from the manifest and the persisted model directory
  * (`codebook/`, `sq/`). It supplies the two steps that differ: the
  * `codes` column build and append add to the postings, and the
  * approximate candidate scorer (none for flat, ADC lookups for PQ,
  * decode + cosine for SQ8). Everything else exists once: one build body,
  * one [[append]], and one [[search]] pipeline — read the manifest; pick
  * the arm (a selective `allowed` id set takes the exact pre-filter over
  * the live postings, otherwise probe and read the live pruned postings,
  * semi-joined by `allowed` when given); apply the tier's scorer; finish
  * with one exact top-k. [[searchIvf]] / [[searchIvfPq]] /
  * [[searchIvfSq]] are the same pipeline for callers that name the tier.
  *
  * Determinism: assignment, encoding, ADC, and rerank reuse the exact
  * operators of the in-query twins (max_by with ties to the lowest cid,
  * decimal partial sums, 6-dp rounded cosine), and array<float> round-trips
  * parquet bit-exactly — so search-over-persisted-index is hash-identical
  * to the in-query q117/q121 paths, which is what the q197/q198 gates pin.
  */
object AnnIndex {

  private val ManifestFile = "_MANIFEST.properties"

  /** The smallest residue age [[vacuumIndex]] accepts — no build or
    * compaction leg in this repo approaches an hour, so anything older
    * under the staging patterns is genuinely abandoned. */
  val MinVacuumHorizonMs: Long = 3600L * 1000

  /** @param keyType  DDL string of a scalar index's key column type
    *                 (e.g. "BIGINT", "DATE"), stamped at build so
    *                 registration can declare the TRUE schema and typed
    *                 searches can refuse a mismatched bound; "" for
    *                 index families without a scalar key
    * @param divergent true once [[deleteIds]]-style index-only deletes
    *                 made the index's live content a strict subset of
    *                 what the (unchanged-fingerprint) source holds —
    *                 compaction folds the tombstones away but can never
    *                 clear this flag; only a rebuild does. The optimizer
    *                 route checks it: a divergent index must not serve
    *                 plain filters even when it looks fresh by stat. */
  final case class Manifest(indexType: String, metric: String, nlist: Int,
      m: Int, fingerprint: String, keyType: String = "",
      divergent: Boolean = false,
      /** the SOURCE BINDING, stamped at build: where the corpus lives and
        * which (id, key/text/vector) columns fed the index — what lets a
        * consumer that holds only the index (the `graft_contains` TVF's
        * residual fetch, inventories, rebuild tooling) find its way back
        * to the data without out-of-band knowledge */
      sourcePath: String = "", sourceIdCol: String = "",
      sourceKeyCol: String = "",
      /** TOTAL source row count at build (+appends), INCLUDING rows the
        * index does not store (null / empty-string keys) — what lets a
        * metadata-served aggregate prove the index saw every row: serve
        * `count(*)` / GROUP-BY counts only when the index's own row sum
        * equals this. -1 = unknown (pre-accounting manifests decline). */
      sourceRows: Long = -1L)

  // ---- manifest & fingerprint ----------------------------------------

  /** Driver-side stat fingerprint of a parquet file/dir: md5 over the
    * sorted (name, size, mtime) listing — one Hadoop `FileSystem` stat,
    * no data read, any scheme. Changes whenever the source data drop
    * changes, INCLUDING an in-place rewrite that keeps every name and
    * byte count (the mtime catches it) and direct-child churn inside a
    * one-level partition subtree (the child dir's mtime moves). Deeper
    * nesting (dt=X over hour=Y) only bumps the grandchild's parent —
    * keep indexed sources at most one partition level deep, or rebuild
    * explicitly after surgical deep edits. */
  def sourceFingerprint(sourcePath: String): String = {
    val entries = IndexFs.listNamesSizes(sourcePath)
      .map { case (n, sz, mt) => s"$n:$sz:$mt" }.sorted
    val md = MessageDigest.getInstance("MD5")
    md.update(entries.mkString("\n").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  private[ops] def writeManifest(location: String, m: Manifest): Unit = {
    val props = new java.util.Properties()
    props.setProperty("graft.index.type", m.indexType)
    props.setProperty("graft.index.metric", m.metric)
    props.setProperty("graft.index.nlist", m.nlist.toString)
    props.setProperty("graft.index.m", m.m.toString)
    props.setProperty("graft.index.fingerprint", m.fingerprint)
    if (m.keyType.nonEmpty)
      props.setProperty("graft.index.keytype", m.keyType)
    if (m.divergent)
      props.setProperty("graft.index.divergent", "true")
    if (m.sourcePath.nonEmpty)
      props.setProperty("graft.index.source", m.sourcePath)
    if (m.sourceIdCol.nonEmpty)
      props.setProperty("graft.index.source.idcol", m.sourceIdCol)
    if (m.sourceKeyCol.nonEmpty)
      props.setProperty("graft.index.source.keycol", m.sourceKeyCol)
    if (m.sourceRows >= 0)
      props.setProperty("graft.index.source.rows", m.sourceRows.toString)
    IndexFs.writeProperties(s"$location/$ManifestFile", props,
      "graft index manifest")
  }

  /** None if the location holds no (complete) index. */
  def readManifest(location: String): Option[Manifest] =
    IndexFs.readProperties(s"$location/$ManifestFile").map { props =>
      Manifest(
        props.getProperty("graft.index.type"),
        props.getProperty("graft.index.metric", "cosine"),
        props.getProperty("graft.index.nlist", "0").toInt,
        props.getProperty("graft.index.m", "0").toInt,
        props.getProperty("graft.index.fingerprint", ""),
        props.getProperty("graft.index.keytype", ""),
        props.getProperty("graft.index.divergent", "false").toBoolean,
        props.getProperty("graft.index.source", ""),
        props.getProperty("graft.index.source.idcol", ""),
        props.getProperty("graft.index.source.keycol", ""),
        props.getProperty("graft.index.source.rows", "-1").toLong)
    }

  // ---- build ----------------------------------------------------------

  /** Nearest-centroid cell per corpus vector — the identical max_by
    * aggregate as [[Similarity.ivfTopK]] (map-side combinable; ties to the
    * lowest cid), so persisted assignments match the in-query twin. */
  private def assign(corpus: DataFrame, idCol: String, vecCol: String,
      cells: DataFrame): DataFrame =
    TextFunctions.widen(corpus)
      .select(col(idCol).as("vec_id"), col(vecCol).as("__v"))
      .join(broadcast(cells))
      .select(col("vec_id"), col("__v"), col("cid"),
        Similarity.cosine(col("__v"), col("__c")).as("__sim"))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cid"), col("__v")),
        struct(col("__sim"), -col("cid"))).as("__best"))
      .select(col("vec_id"), col("__best.__v").as("embedding"),
        col("__best.cid").as("cid"))

  private val stagingSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A staging-path suffix unique across processes (pid) AND across
    * concurrent invocations within one JVM (counter) — a pid alone lets
    * two same-process builders write into one staging dir and clobber
    * each other mid-build (caught by PropertySpec's publish-race law). */
  private[ops] def uniqueSuffix(): String =
    s"${ProcessHandle.current().pid()}.${stagingSeq.incrementAndGet()}"

  /** Build the index at `location` under [[IndexFs]]'s per-FS commit
    * protocol: staging dir + one atomic rename on rename-capable
    * filesystems; direct write with the manifest PUT last as the commit
    * marker on object stores. Returns false if another builder won a
    * rename-publish race (the existing index is kept). */
  private[ops] def buildAndPublish(location: String, manifest: Manifest)
      (write: String => Unit): Boolean =
    if (IndexFs.renamePublish(location)) {
      IndexFs.mkdirsParent(location)
      val staging = s"$location.tmp.${uniqueSuffix()}"
      // a failing build must not leave a staging residue behind
      try write(staging)
      catch { case e: Throwable => deleteRecursively(staging); throw e }
      writeManifest(staging, manifest)
      if (IndexFs.renameInto(staging, location)) true
      else {
        // lost the race — discard our staging tree, keep the winner's
        deleteRecursively(staging)
        // a rename that failed with NO complete index at the target is a
        // real I/O failure, not a race
        require(readManifest(location).isDefined,
          s"index publish to $location failed and no index exists there")
        false
      }
    } else {
      // object store: data first, manifest last — the single-object
      // manifest write is the commit point ([[IndexFs]] protocol notes)
      deleteRecursively(location)
      write(location)
      writeManifest(location, manifest)
      true
    }

  private[ops] def deleteRecursively(location: String): Unit =
    IndexFs.deleteRecursively(location)

  /** Build (or reuse, if fresh) an IVF index at `location`.
    * @param centroids (cidCol int, cvecCol array<float>) — e.g. from
    *                  [[Similarity.trainCentroids]] or a seeded frame
    * @param sourcePath the corpus parquet path, for the staleness
    *                   fingerprint
    * @param fingerprintOverride stamp this fingerprint instead of
    *                   stat-ing sourcePath — the build-then-append flow
    *                   stamps a `partial:` marker here so a crash between
    *                   the two phases reads as stale, never as complete
    * @return true if a build ran, false if the existing index was fresh */
  def ensureIvf(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      location: String, sourcePath: String,
      fingerprintOverride: Option[String] = None): Boolean =
    ensure("ivf", corpus, idCol, vecCol, centroids, cidCol, cvecCol, None,
      location, sourcePath, fingerprintOverride)(Flat)

  /** Build (or reuse) an IVF-PQ index: cells prune WHICH vectors are
    * scored, per-vector PQ codes (persisted alongside) prune WHAT is read
    * to score them; full vectors stay in the postings for the exact
    * rerank. */
  def ensureIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      codebook: DataFrame, m: Int,
      location: String, sourcePath: String,
      fingerprintOverride: Option[String] = None): Boolean =
    ensure("ivf_pq", corpus, idCol, vecCol, centroids, cidCol, cvecCol,
      Some("codebook" -> codebook), location, sourcePath,
      fingerprintOverride)(Pq(m, codebook))

  /** Build (or reuse) an IVF-SQ8 index: cells prune WHICH vectors are
    * scored, per-dimension uint8 codes ([[ScalarQuant]], 4× compression)
    * prune WHAT is read to score them — the middle compression tier
    * between IVF-flat (1×) and IVF-PQ (32×), with reconstruction good
    * enough to score directly (one codegen'd cosine over the decoded
    * floats; no distance table). Full vectors stay in the postings for
    * the exact rerank, as in [[ensureIvfPq]].
    * @param ranges the SQ8 model (dim, lo, hi) — e.g. from
    *               [[ScalarQuant.trainRanges]]; passed in like the PQ
    *               codebook so the model is the caller's training
    *               artifact, frozen into the index (appends encode
    *               against it — build+append ≡ one-shot) */
  def ensureIvfSq(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      ranges: DataFrame,
      location: String, sourcePath: String,
      fingerprintOverride: Option[String] = None): Boolean = {
    val model = ranges.select(col("dim"), col("lo"), col("hi"))
    ensure("ivf_sq", corpus, idCol, vecCol, centroids, cidCol, cvecCol,
      Some("sq" -> model), location, sourcePath, fingerprintOverride) {
      val (lo, scale) = ScalarQuant.collectModel(model)
      Sq8(lo, scale)
    }
  }

  /** The one build body behind the three `ensureIvf*` entry points. The
    * tier is evaluated only when a build runs (SQ8's costs a model
    * collect); `model` is the tier's training artifact, persisted under
    * its subdirectory so searches and appends can rebuild the tier. */
  private def ensure(indexType: String, corpus: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, cidCol: String, cvecCol: String,
      model: Option[(String, DataFrame)], location: String,
      sourcePath: String, fingerprintOverride: Option[String])
      (tier: => Tier): Boolean = {
    val fp = fingerprintOverride.getOrElse(sourceFingerprint(sourcePath))
    readManifest(location) match {
      // sourcePath.nonEmpty is a LAYOUT-GENERATION gate (the bm25pos
      // device): pre-source-binding manifests rebuild once so every
      // live index records where its corpus lives
      case Some(man) if man.fingerprint == fp &&
          man.indexType == indexType && man.sourcePath.nonEmpty => false
      case _ =>
        // stale manifest OR a manifest-less residue (crashed build):
        // clear the location so the fresh publish can't collide with it
        deleteRecursively(location)
        val cells = centroids.select(col(cidCol).as("cid"), col(cvecCol).as("__c"))
        val nlist = cells.count().toInt
        val t = tier
        val m = t match { case Pq(m, _) => m; case _ => 0 }
        buildAndPublish(location,
          Manifest(indexType, "cosine", nlist, m, fp, sourcePath = sourcePath,
            sourceIdCol = idCol, sourceKeyCol = vecCol)) { staging =>
          cells.select(col("cid"), col("__c").as("cvec"))
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$staging/centroids")
          model.foreach { case (dir, frame) =>
            frame.coalesce(1).write.mode("overwrite").parquet(s"$staging/$dir")
          }
          withCodes(t, corpus, idCol, vecCol, assign(corpus, idCol, vecCol, cells))
            .write.mode("overwrite").partitionBy("cid")
            .parquet(s"$staging/postings")
        }
    }
  }

  // ---- compression tier -----------------------------------------------

  /** What differs between the IVF-family indexes: how a posting's `codes`
    * are made and how probed postings are approximately scored. IVF-flat
    * stores and scores the full vectors; PQ stores per-subspace codebook
    * ids (m, codebook); SQ8 stores per-dimension uint8 codes (lo, scale). */
  private sealed trait Tier
  private case object Flat extends Tier
  private final case class Pq(m: Int, codebook: DataFrame) extends Tier
  private final case class Sq8(lo: Array[Double], scale: Array[Double])
    extends Tier

  /** The tier of a built index, from its manifest and the model it
    * persisted (`codebook/` for PQ, `sq/` for SQ8). */
  private def tierOf(spark: SparkSession, location: String,
      man: Manifest): Tier = man.indexType match {
    case "ivf" => Flat
    case "ivf_pq" => Pq(man.m, spark.read.parquet(s"$location/codebook"))
    case "ivf_sq" =>
      val (lo, scale) =
        ScalarQuant.collectModel(spark.read.parquet(s"$location/sq"))
      Sq8(lo, scale)
    case t => throw new IllegalArgumentException(
      s"$location holds a '$t' index, not an IVF-family one")
  }

  /** Assigned postings (vec_id, embedding, cid) plus the tier's `codes`
    * column, encoded from `corpus` against the tier's frozen model. */
  private def withCodes(tier: Tier, corpus: DataFrame, idCol: String,
      vecCol: String, assigned: DataFrame): DataFrame = tier match {
    case Flat => assigned
    case Pq(m, codebook) =>
      assigned.join(ProductQuantization.encode(corpus, idCol, vecCol, codebook, m)
        .select(col(idCol).as("vec_id"), col("codes")), Seq("vec_id"))
    case Sq8(lo, scale) =>
      assigned.withColumn("codes", ScalarQuant.encode(col("embedding"), lo, scale))
  }

  // ---- incremental append ---------------------------------------------

  /** Incrementally ADD vectors to an existing IVF-family index: assign
    * ONLY the delta against the index's FROZEN centroids, encode it
    * against the index's frozen codebook or SQ8 ranges (its tier, read
    * from the manifest), and append its postings to the partitioned
    * layout — the nightly-ingest path. A 100 TB index re-processes just
    * the day's delta, not the corpus; the trade is the standard IVF one
    * (centroids and quantizers don't move on append, so cell balance
    * drifts and out-of-range SQ8 values clamp to the code edges — the
    * rebuild cadence is the owner's policy, observable via the
    * fingerprint).
    *
    * Crash discipline: the build-then-append flow stamps the manifest
    * with a `partial:` marker at build and only [[append]] re-stamps
    * the final `newFingerprint` AFTER its postings commit — a crash
    * between the phases reads as stale and rebuilds, never as a silently
    * half-covered index. The append itself is file-granular (parquet
    * append): a concurrent reader sees either the old or the new file
    * set of a partition, the same read-committed class as any parquet
    * append. */
  def append(delta: DataFrame, idCol: String, vecCol: String,
      location: String, newFingerprint: String): Unit = {
    val man = readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    val spark = delta.sparkSession
    val tier = tierOf(spark, location, man)
    val cells = spark.read.parquet(s"$location/centroids")
      .select(col("cid"), col("cvec").as("__c"))
    withCodes(tier, delta, idCol, vecCol, assign(delta, idCol, vecCol, cells))
      .write.mode("append").partitionBy("cid")
      .parquet(s"$location/postings")
    writeManifest(location, man.copy(fingerprint = newFingerprint))
  }

  // ---- deletes (tombstones) -------------------------------------------

  private def tombstoneDir(location: String): String =
    s"$location/tombstones"

  /** True if the index carries any not-yet-compacted deletes. */
  def hasTombstones(location: String): Boolean =
    IndexFs.exists(tombstoneDir(location))

  /** DELETE vectors from a persisted index — as TOMBSTONES, never by
    * rewriting postings: at 100 TB a delete job must not touch the
    * corpus-sized layout. The id set is appended to `tombstones/`
    * (file-granular parquet append, the same read-committed class as the
    * postings append); every search anti-joins the probed postings
    * against it, and [[compactIvf]] folds the tombstones into the
    * physical layout and clears them. The reference's deregister/purge
    * split (`LanceNamespace` dropTable modes) is the same shape one
    * level up: logical removal now, physical reclamation as a separate
    * maintenance pass.
    *
    * Semantics are a set union: deleting an id twice, or an id the
    * index never held, is a no-op — a crashed delete job simply
    * re-runs. Scale bound: the tombstone frame is the delete volume
    * since the last compaction (broadcast at search; the compaction
    * cadence is the owner's policy, the same knob as cell-balance
    * drift). A tombstoned-but-uncompacted row still COSTS the probe
    * scan — it is filtered after the read — which is why [[cellStats]]
    * deliberately reports the physical counts that drive that cost. */
  def deleteIds(ids: DataFrame, idCol: String, location: String): Unit = {
    val man = readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    ids.select(col(idCol).cast("long").as("vec_id"))
      .distinct()
      .coalesce(1)
      .write.mode("append").parquet(tombstoneDir(location))
    // tombstones first, flag second: a crash between the two leaves
    // tombstones-on-disk, which freshness consumers also check
    if (!man.divergent) writeManifest(location, man.copy(divergent = true))
  }

  /** Postings minus tombstones — the LIVE view every search runs on.
    * The tombstone side broadcasts explicitly: it is
    * delete-since-compaction-sized by policy, and the planner must
    * never degrade the anti-join to a shuffle of the corpus-sized
    * postings because file-size estimates said otherwise. */
  private def withoutTombstones(spark: SparkSession, location: String,
      postings: DataFrame): DataFrame =
    if (!hasTombstones(location)) postings
    else postings.join(
      broadcast(spark.read.parquet(tombstoneDir(location))
        .select(col("vec_id"))),
      Seq("vec_id"), "left_anti")

  // ---- compaction & observability -------------------------------------

  /** Compact a fragmented index: every [[append]] lands at least one
    * new file per touched cell, so a daily-ingest index accumulates the
    * classic small-files tax (per-file open/footer cost dominates the
    * scan). Rewrites the postings with one file per cell partition into a
    * staging dir and atomically swaps it in — readers see the old or the
    * new layout, never a mix. LIVE content (and therefore every search
    * result) is unchanged; tombstoned rows are physically dropped and the
    * tombstones cleared AFTER the swap commits — a crash between the two
    * leaves the tombstones applied twice, which the set semantics make a
    * no-op. */
  def compactIvf(spark: SparkSession, location: String): Unit = {
    val man = readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    val postings = withoutTombstones(spark, location,
      spark.read.parquet(s"$location/postings"))
    val tag = uniqueSuffix()
    val staging = s"$location/postings.compact.$tag"
    // one output file per cell: repartition on the partition column so
    // each write task owns whole cells
    postings.repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid")
      .parquet(staging)
    val live = s"$location/postings"
    val retired = s"$location/postings.retired.$tag"
    IndexFs.renameIntoOrThrow(live, retired)
    try IndexFs.renameIntoOrThrow(staging, live)
    catch {
      case e: Throwable =>
        // restore the old layout rather than leaving no postings at all
        IndexFs.renameIntoOrThrow(retired, live)
        throw e
    }
    deleteRecursively(retired)
    // tombstones are now folded into the physical layout
    deleteRecursively(tombstoneDir(location))
    // live content unchanged — the manifest (fingerprint included) stands
    val _ = man
  }

  /** Per-cell posting counts — the balance report an index owner watches
    * between rebuilds: frozen centroids drift out of balance as appends
    * accumulate, and a fat cell is exactly a slow probe. One partition-
    * column aggregate; never reads vector data (column pruning drops the
    * embeddings). */
  def cellStats(spark: SparkSession, location: String): DataFrame =
    spark.read.parquet(s"$location/postings")
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("cid"))

  // ---- search ---------------------------------------------------------

  /** nprobe nearest cells per query + the collected probed-cell set (the
    * static pruning predicate). The collect is nprobe × |queries| ints —
    * query-sized by construction, never corpus-sized. */
  private def probe(spark: SparkSession, location: String,
      queries: DataFrame, qidCol: String, qvecCol: String, nprobe: Int)
      : (DataFrame, Seq[Int]) = {
    val cells = spark.read.parquet(s"$location/centroids")
      .select(col("cid"), col("cvec").as("__c"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("__sim").desc, col("cid"))
    val probes = queries.select(col(qidCol).as("qid"), col(qvecCol).as("__q"))
      .join(broadcast(cells))
      .select(col("qid"), col("__q"), col("cid"),
        Similarity.cosine(col("__q"), col("__c")).as("__sim"))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nprobe)
      .select(col("qid"), col("__q"), col("cid"))
    val probedCids = probes.select(col("cid")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    (probes, probedCids)
  }

  /** Postings scan restricted to the probed cells — `cid IN (...)` is a
    * literal predicate on the partition column, so pruning happens at
    * file listing (PartitionFilters in the explain), before any I/O. */
  private def prunedPostings(spark: SparkSession, location: String,
      probedCids: Seq[Int]): DataFrame =
    spark.read.parquet(s"$location/postings")
      .filter(col("cid").isin(probedCids.map(Int.box): _*))

  /** True when the metadata filter passes at most `exactCap` ids — the
    * pre-filter/post-filter planning decision. The cardinality probe is
    * `limit(exactCap+1).count()`: it stops counting at the cap, so the
    * decision job is O(exactCap) work regardless of corpus size (a full
    * `count()` here would itself be a corpus-sized aggregate). */
  def takesExactPath(allowedIds: DataFrame, exactCap: Long): Boolean = {
    val probe =
      if (exactCap >= Int.MaxValue - 1L) Int.MaxValue else (exactCap + 1).toInt
    allowedIds.limit(probe).count() <= exactCap
  }

  private val IvfTypes = Set("ivf", "ivf_pq", "ivf_sq")

  /** Top-k search over a persisted IVF-family index of any tier, read
    * from its manifest. Result: (qid, rank, vec_id, score) with 6-dp
    * rounded exact cosine scores; a query never retrieves its own id.
    *
    * Unfiltered, the plan is: tiny centroid read → per-query probes
    * (broadcast) → partition-pruned live postings → the tier's
    * approximate shortlist of `rerank` per query (none for IVF-flat) →
    * exact top-k. Result shape and values are identical to the in-query
    * twins over the same corpus/centroids: [[Similarity.ivfTopK]] for
    * IVF-flat (gate q197 ≡ q117) and [[ProductQuantization.searchIvfPq]]
    * for IVF-PQ (gate q198 ≡ q121). Candidates can only come from probed
    * cells, so the rerank never re-opens the full corpus.
    *
    * FILTERED search: `allowed` is a single-column frame of the ids whose
    * metadata passes a predicate. The index stores no metadata — the
    * predicate is evaluated on the BASE table (column-pruned to the id +
    * filter columns). Two physical plans, chosen by the filter's measured
    * cardinality ([[takesExactPath]]) — the pre-filter/post-filter split
    * every production vector store makes (the reference's query layer
    * exposes it as a prefilter flag on vector queries):
    *
    *  - EXACT PRE-FILTER (selective, ≤ `exactCap` ids): the probe layer
    *    is pure overhead and would also LOSE matches that live outside
    *    the probed cells — so bypass it and the tier: scan only the
    *    allowed full vectors (semi-joined into the postings) and rank
    *    exactly. Recall = 1.0 by construction, cost ∝ |allowed| ×
    *    |queries|, and the same rows for every tier.
    *  - IVF POST-FILTER (broad): probe as usual and push the allowed-id
    *    semi-join BENEATH every scoring stage — the approximate shortlist
    *    and the exact rerank — so filtered-out vectors can neither crowd
    *    the shortlist (a post-filter above the top-k would return fewer
    *    than k rows) nor reappear as rerank candidates (the q205/q208
    *    two-stage discipline).
    *
    * Scale: the allowed set broadcasts when Spark's size estimate allows
    * (a semi-join never widens rows); at 100 TB with a non-selective
    * predicate it degrades to a shuffled semi-join of (id) pairs — the
    * minimum possible shuffle for the semantics. Tombstones compose: both
    * arms search the live view. */
  def search(spark: SparkSession, location: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int = 10, nprobe: Int = 2, rerank: Int = 50,
      allowed: Option[DataFrame] = None,
      exactCap: Long = 10000L): DataFrame =
    pipeline(IvfTypes, spark, location, queries, qidCol, qvecCol, k, nprobe,
      rerank, allowed, exactCap)

  /** [[search]] over an index that must be IVF-flat. */
  def searchIvf(spark: SparkSession, location: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int = 10, nprobe: Int = 2): DataFrame =
    pipeline(Set("ivf"), spark, location, queries, qidCol, qvecCol, k,
      nprobe, 0, None, 0L)

  /** [[search]] over an index that must be IVF-PQ. */
  def searchIvfPq(spark: SparkSession, location: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int = 10, nprobe: Int = 2, rerank: Int = 50): DataFrame =
    pipeline(Set("ivf_pq"), spark, location, queries, qidCol, qvecCol, k,
      nprobe, rerank, None, 0L)

  /** [[search]] over an index that must be IVF-SQ8. */
  def searchIvfSq(spark: SparkSession, location: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int = 10, nprobe: Int = 2, rerank: Int = 50): DataFrame =
    pipeline(Set("ivf_sq"), spark, location, queries, qidCol, qvecCol, k,
      nprobe, rerank, None, 0L)

  /** The one search pipeline ([[search]]) over an index whose type is
    * one of `types`: arm choice, probe, the tier's approximate shortlist,
    * exact top-k. The tier's model is read only on the probe arm — the
    * exact arm never touches it. */
  private def pipeline(types: Set[String], spark: SparkSession,
      location: String, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int, rerank: Int, allowed: Option[DataFrame],
      exactCap: Long): DataFrame = {
    val man = readManifest(location).filter(m => types.contains(m.indexType))
      .getOrElse(throw new IllegalArgumentException(
        s"no ${types.toSeq.sorted.mkString("/")} index at $location"))
    val ids = allowed.map(a =>
      a.select(col(a.columns.head).cast("long").as("vec_id")))
    ids.filter(takesExactPath(_, exactCap)) match {
      case Some(few) =>
        exactTopK(withoutTombstones(spark, location,
            spark.read.parquet(s"$location/postings"))
          .join(few, Seq("vec_id"), "left_semi")
          .join(broadcast(queries.select(
            col(qidCol).as("qid"), col(qvecCol).as("__q")))), k)
      case None =>
        val tier = tierOf(spark, location, man)
        val (probes, probedCids) =
          probe(spark, location, queries, qidCol, qvecCol, nprobe)
        val live = withoutTombstones(spark, location,
          prunedPostings(spark, location, probedCids))
        // the live (and allowed) view feeds BOTH the approximate pass and
        // the exact rerank — a deleted or filtered-out vector can neither
        // be retrieved nor sneak back in as a rerank candidate
        val postings = ids.fold(live)(live.join(_, Seq("vec_id"), "left_semi"))
        shortlist(tier, postings, probes, queries, qidCol, qvecCol, rerank)
          .map(ProductQuantization.rerankExact(_, postings, "vec_id",
            "embedding", queries, qidCol, qvecCol, k))
          .getOrElse(exactTopK(postings.join(broadcast(probes), Seq("cid")), k))
    }
  }

  /** Exact top-k over (qid, __q, vec_id, embedding) rows: 6-dp rounded
    * cosine, ties to the lower vec_id, self-matches excluded. */
  private def exactTopK(scoped: DataFrame, k: Int): DataFrame = {
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    scoped
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(Similarity.cosine(col("__q"), col("embedding")), 6).as("score"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("score"))
  }

  /** The tier's approximate scorer over the probed postings: (qid,
    * vec_id) of the best `rerank` candidates per query, or None for
    * IVF-flat, which scores the probed full vectors exactly.
    *  - PQ: a per-query (s, c) → partial-L2² distance table, broadcast as
    *    one lookup map, and one codegen'd m-lookup sum per (query,
    *    probed vector) row ([[ProductQuantization.adcDistance]]) — the
    *    same values as the in-query twin.
    *  - SQ8: decode the codes back to float vectors (shuffle-free
    *    `transform` against the frozen lo/scale literal arrays) and score
    *    them with the SAME codegen'd cosine as a flat search — no
    *    distance table and no per-candidate explode, which is exactly why
    *    serving systems default to it. */
  private def shortlist(tier: Tier, postings: DataFrame, probes: DataFrame,
      queries: DataFrame, qidCol: String, qvecCol: String, rerank: Int)
      : Option[DataFrame] = tier match {
    case Flat => None
    case Pq(m, codebook) =>
      val dim = queries.select(size(col(qvecCol))).head().getInt(0)
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val subDim = dim / m
      val dtable = queries.select(col(qidCol).as("qid"),
          explode(array((0 until m).map(s =>
            struct(lit(s).as("s"),
              slice(col(qvecCol), s * subDim + 1, subDim).as("qsv"))): _*)).as("__e"))
        .select(col("qid"), col("__e.s").as("s"), col("__e.qsv").as("qsv"))
        .join(broadcast(codebook), Seq("s"))
        .select(col("qid"), col("s"), col("c"),
          ProductQuantization.l2sq(col("qsv"), col("cvec")).as("partial"))
      Some(topCandidates(postings
        .join(broadcast(probes.select(col("qid"), col("cid"))), Seq("cid"))
        .filter(col("vec_id") =!= col("qid"))
        .join(broadcast(ProductQuantization.dtableToMap(dtable)), Seq("qid"))
        .select(col("qid"), col("vec_id"),
          ProductQuantization.adcDistance(col("codes"), col("__dt"), m)
            .as("approx_l2sq")),
        col("approx_l2sq"), rerank))
    case Sq8(lo, scale) =>
      Some(topCandidates(postings
        .withColumn("__dec", ScalarQuant.decode(col("codes"), lo, scale))
        .join(broadcast(probes), Seq("cid"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          Similarity.cosine(col("__q"), col("__dec")).as("__approx")),
        col("__approx").desc, rerank))
  }

  /** (qid, vec_id) of the `rerank` best rows per query by `byApprox`,
    * ties to the lower vec_id. */
  private def topCandidates(scored: DataFrame, byApprox: Column,
      rerank: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(byApprox, col("vec_id"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= rerank)
      .select(col("qid"), col("vec_id"))
  }

  // ---- catalog registration ------------------------------------------

  /** Register (or refresh) the index as a catalog table whose location IS
    * the index root and whose properties carry the manifest — the
    * reference's capability-handoff model: the catalog stores the pointer,
    * the data plane (this module) interprets it. Re-registers when an
    * existing entry points at a different (stale) location. */
  def registerIndexTable(spark: SparkSession, tableName: String,
      location: String): Unit = {
    val man = readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index manifest at $location"))
    val current =
      if (!spark.catalog.tableExists(tableName)) None
      else Some(resolveIndexLocation(spark, tableName))
    if (!current.contains(location)) {
      current.foreach(_ => spark.sql(s"DROP TABLE $tableName"))
      // The schema is declared EXPLICITLY (the postings row shape): the
      // index root holds centroids/ + postings/ (+ codebook/), so schema
      // inference over it would fail with conflicting directory
      // structures — and a capability-pointer table must never need to
      // scan its location just to be registered. Reads of the index go
      // through the family's search API, which interprets the layout.
      val schema = man.indexType match {
        case "ivf_pq" | "ivf_sq" =>
          "vec_id BIGINT, embedding ARRAY<FLOAT>, codes ARRAY<INT>, cid INT"
        case "inverted" =>
          "term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, " +
            "positions ARRAY<INT>, bkt INT"
        case "ngram" => "gram STRING, doc_id BIGINT, bkt INT"
        // the key column keeps its NATIVE type in the postings (btreeRows
        // never casts), so the declared schema must use the build-time
        // type from the manifest — declaring DOUBLE over BIGINT postings
        // broke every SQL read of the registered table (ADVICE r13)
        case "btree" =>
          val kt = if (man.keyType.nonEmpty) man.keyType else "DOUBLE"
          s"id BIGINT, key $kt, bkt INT"
        // the zorder manifest stamps BOTH key DDLs comma-joined
        case "zorder" =>
          val Array(xt, yt) = (if (man.keyType.nonEmpty) man.keyType
            else "DOUBLE,DOUBLE").split(",", 2)
          s"id BIGINT, x $xt, y $yt, zv BIGINT, bkt INT"
        case "bitmap" | "label_list" => "id BIGINT, k STRING"
        case _ => "vec_id BIGINT, embedding ARRAY<FLOAT>, cid INT"
      }
      spark.sql(
        s"""CREATE TABLE $tableName
           |  ($schema)
           |LOCATION '$location'
           |TBLPROPERTIES (
           |  'graft.index.location' = '$location',
           |  'graft.index.type' = '${man.indexType}',
           |  'graft.index.metric' = '${man.metric}',
           |  'graft.index.nlist' = '${man.nlist}',
           |  'graft.index.m' = '${man.m}',
           |  'graft.index.fingerprint' = '${man.fingerprint}')""".stripMargin)
    }
    ()
  }

  /** Resolve a registered index table back to its location — search jobs
    * address the index by NAME, the catalog supplies the pointer. Reads
    * the non-reserved `graft.index.location` property (Spark hides the
    * reserved `location` key from SHOW TBLPROPERTIES). */
  def resolveIndexLocation(spark: SparkSession, tableName: String): String =
    spark.sql(s"SHOW TBLPROPERTIES $tableName ('graft.index.location')")
      .collect().head.getString(1)

  /** REBUILD an index from its manifest's SOURCE BINDING — the recovery
    * path the divergence contract points at: an index-only `deleteIds`
    * stamps `divergent` and the optimizer route declines "until a
    * rebuild"; this IS that rebuild, driven entirely by what the
    * manifest recorded at build time (path, id/key columns, width,
    * curve), so an operator holding only the index location can restore
    * route service with one call. The tree is deleted first (a divergent
    * index can carry the CURRENT source fingerprint, so the ensure-reuse
    * check alone would skip), then the family's ensure runs fresh.
    * Refuses loudly when: the manifest predates source binding; a bound
    * column is missing from the source (the index was built over a
    * DERIVED column — rebuild through the original pipeline); or the
    * family needs training artifacts the manifest cannot carry
    * (ivf/ivf_pq/ivf_sq centroids/codebooks/ranges — rebuild through
    * their ensure APIs). */
  def rebuildFromSource(spark: SparkSession, location: String): Unit = {
    val man = readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index manifest at $location"))
    require(man.sourcePath.nonEmpty && man.sourceIdCol.nonEmpty &&
        man.sourceKeyCol.nonEmpty,
      s"rebuildFromSource: the index at $location predates source-binding " +
        "manifests — rebuild through its ensure API")
    require(!IvfTypes.contains(man.indexType),
      s"rebuildFromSource: a '${man.indexType}' index needs its training " +
        "artifacts (centroids/codebook/ranges) — rebuild through its " +
        "ensure API")
    val src = spark.read.parquet(man.sourcePath)
    val keyCols = man.sourceKeyCol.split(",").toSeq
    (man.sourceIdCol +: keyCols).foreach(c =>
      require(src.columns.contains(c),
        s"rebuildFromSource: source ${man.sourcePath} has no column '$c' " +
          "— the index was built over a DERIVED column; rebuild through " +
          "the original pipeline"))
    deleteRecursively(location)
    man.indexType match {
      case "btree" => ScalarIndex.ensureBtree(src, man.sourceIdCol,
        keyCols.head, location, man.sourcePath, nBuckets = man.nlist)
      case "bitmap" => ScalarIndex.ensureBitmap(src, man.sourceIdCol,
        keyCols.head, location, man.sourcePath,
        maxCardinality = math.max(10000, man.nlist))
      case "label_list" => ScalarIndex.ensureLabelList(src, man.sourceIdCol,
        keyCols.head, location, man.sourcePath,
        maxCardinality = math.max(10000, man.nlist))
      case "ngram" => NgramIndex.ensureNgram(src, man.sourceIdCol,
        keyCols.head, location, man.sourcePath, n = man.m,
        nBuckets = man.nlist)
      case "inverted" => TextIndex.ensureInverted(src, man.sourceIdCol,
        keyCols.head, location, man.sourcePath, nBuckets = man.nlist)
      case "zorder" => ZorderIndex.ensureZorder(src, man.sourceIdCol,
        keyCols(0), keyCols(1), location, man.sourcePath,
        nBuckets = man.nlist,
        curve = if (man.metric == "hilbert-box") "hilbert" else "z")
      case t => throw new IllegalArgumentException(
        s"rebuildFromSource: unknown index type '$t' at $location")
    }
    ()
  }

  /** VACUUM an index tree: delete the residue a crashed builder or
    * compactor can leave behind — sibling build stagings
    * (`<location>.tmp.<pid>.<seq>`, [[buildAndPublish]]) and in-tree
    * compaction stagings/retirees (`<sub>.compact.<pid>` /
    * `<sub>.retired.<pid>`, [[ScalarIndex.swapStaged]]) — when they are
    * older than `olderThanMs` (default 24 h). The age guard is what makes
    * this safe to run ANY time, including while another process builds or
    * compacts: an in-flight staging is younger than the horizon, and a
    * completed publish/swap leaves nothing live under these names — the
    * patterns can only ever match abandoned trees. That safety argument
    * rests ENTIRELY on the horizon, so a horizon shorter than any
    * plausible build is refused outright ([[MinVacuumHorizonMs]], 1 h —
    * ADVICE r14: `older_than_hours => '0'` through the SQL procedure
    * would have deleted a live builder's staging mid-build). Live subdirs
    * (postings/zonemap/…) and the manifest never match. Returns the
    * deleted paths (driver-side, metadata-sized). The reference keeps
    * table data self-pruning through its format; an index lifecycle with
    * crash-safe staging owes its users the matching janitor. */
  def vacuumIndex(location: String,
      olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    require(olderThanMs >= MinVacuumHorizonMs,
      s"vacuumIndex: horizon ${olderThanMs}ms is below the " +
        s"${MinVacuumHorizonMs}ms floor — a short horizon races with " +
        "live builders (their staging would match the residue patterns)")
    val horizon = System.currentTimeMillis() - olderThanMs
    val residue = "(.*\\.tmp\\..+)|(.*\\.compact\\..+)|(.*\\.retired\\..+)".r
    def matches(name: String): Boolean = residue.pattern.matcher(name).matches
    val root = new org.apache.hadoop.fs.Path(location)
    val rootName = root.getName
    val parent = Option(root.getParent).map(_.toString).getOrElse("")
    // sibling build stagings: <rootName>.tmp.<suffix>
    val siblings =
      if (parent.isEmpty) Seq.empty
      else IndexFs.listNamesMtimes(parent).collect {
        case (n, t) if n.startsWith(s"$rootName.tmp.") && t < horizon =>
          s"$parent/$n"
      }
    // in-tree compaction residue: <sub>.{compact,retired}.<suffix>
    val inTree = IndexFs.listNamesMtimes(location).collect {
      case (n, t) if matches(n) && t < horizon && n != ManifestFile =>
        s"$location/$n"
    }
    val doomed = siblings ++ inTree
    doomed.foreach(deleteRecursively)
    doomed
  }

  /** INVENTORY of the registered indexes in a namespace — the list_indices
    * surface of the reference's index family: every `graft.index.*`
    * capability-pointer table with its type/metric/width metadata, read
    * from the catalog properties stamped at registration. Catalog
    * enumeration is driver-side and metadata-sized (a namespace holds
    * tables, not data) — and it is BATCHED: a GraftCatalog namespace
    * resolves through ONE backend listing + one pooled bulk describe
    * ([[graft.catalog.GraftCatalog.describeNamespaceTables]]), never a
    * `SHOW TBLPROPERTIES` round trip per table (the reference's N+1
    * anti-pattern, `Hive2Namespace.java:541-556`, which crawls against a
    * remote HMS/Glue at thousands of tables). Non-graft catalogs fall
    * back to the per-table path. Returns (table_name, index_type,
    * metric, m), sorted by table name. */
  def listIndexTables(spark: SparkSession, namespace: String): DataFrame = {
    val parts = namespace.split('.')
    val bulk: Option[Seq[(String, Map[String, String])]] =
      (if (parts.length < 2) None
       else scala.util.Try(
         spark.sessionState.catalogManager.catalog(parts.head)).toOption)
        .collect { case g: graft.catalog.GraftCatalog =>
          g.describeNamespaceTables(parts.tail).map(i =>
            (s"${parts.head}.${i.id.toDelimited()}", i.properties))
        }
    val tables: Seq[(String, Map[String, String])] = bulk.getOrElse {
      spark.sql(s"SHOW TABLES IN $namespace").collect()
        .map(r => s"$namespace.${r.getString(1)}").sorted.toSeq
        .map { t =>
          (t, spark.sql(s"SHOW TBLPROPERTIES $t").collect()
            .map(r => r.getString(0) -> r.getString(1)).toMap)
        }
    }
    val rows = tables.flatMap { case (t, props) =>
      props.get("graft.index.type").map(tpe =>
        (t, tpe, props.getOrElse("graft.index.metric", ""),
          props.getOrElse("graft.index.m", "0").toLong))
    }
    import spark.implicits._
    rows.toDF("table_name", "index_type", "metric", "m")
      .orderBy(col("table_name"))
  }
}
