package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AnnIndex, Similarity}

/** Gate coverage for similarity search over `embeddings`.
  * The oracle mirrors Spark's exact left-fold cosine (same order, double
  * precision), so scores match bit-for-bit before the 6-dp round. */
object SimilarityQueries {

  /** Brute-force cosine top-10 for 5 query vectors (qid < 5). */
  def q40CosineTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 5)
    Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", k = 10)
      .orderBy(col("qid"), col("rank"))
  }

  private val cosExpr =
    """list_reduce(list_transform(range(1, len(q.embedding)+1),
      |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a,x) -> a+x)
      |  / (sqrt(list_reduce(list_transform(range(1, len(q.embedding)+1),
      |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), (a,x) -> a+x))
      |   * sqrt(list_reduce(list_transform(range(1, len(e.embedding)+1),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a,x) -> a+x)))""".stripMargin

  val q40Sql: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS qid, e.vec_id AS vec_id,
       |    round($cosExpr, 6) AS score
       |  FROM embeddings q JOIN embeddings e ON q.vec_id < 5 AND e.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT qid, vec_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT qid, rank, vec_id, score FROM ranked WHERE rank <= 10
       |ORDER BY qid, rank""".stripMargin

  /** Embedding near-dup pairs: all-pairs cosine ≥ 0.4 (synthetic corpus has
    * no true near-dups; the threshold exercises the operator end-to-end). */
  def q41CosineNearDup(s: SparkSession, d: String): DataFrame =
    Similarity.cosineNearDupPairs(
        Tables.embeddings(s, d).filter(col("vec_id") < 200), "vec_id", "embedding",
        threshold = 0.4)
      .orderBy(col("id_a"), col("id_b"))

  val q41Sql: String = {
    val cos =
      """list_reduce(list_transform(range(1, len(a.embedding)+1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x,y) -> x+y)
        |  / (sqrt(list_reduce(list_transform(range(1, len(a.embedding)+1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x,y) -> x+y))
        |   * sqrt(list_reduce(list_transform(range(1, len(b.embedding)+1),
        |      i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x,y) -> x+y)))""".stripMargin
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, round($cos, 6) AS cos
       |FROM (SELECT * FROM embeddings WHERE vec_id < 200) a
       |JOIN (SELECT * FROM embeddings WHERE vec_id < 200) b ON a.vec_id < b.vec_id
       |WHERE $cos >= 0.4
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Banded SRP-LSH near-dup over the FULL embeddings table — the at-scale
    * analog of q41's all-pairs form (which caps its input at vec_id < 200
    * precisely because it is quadratic). 16 md5-parity hyperplanes in
    * 4 bands × 4 bits; candidates verified at cosine ≥ 0.30. The oracle is
    * the SAME computation in SQL — signatures from the identical md5-parity
    * weights, the identical band-collision rule, the identical left-fold
    * cosine — so the hash match pins the whole LSH pipeline, not just the
    * verify step. */
  def q127SrpNearDup(s: SparkSession, d: String): DataFrame =
    Similarity.srpBandedNearDupPairs(
        Tables.embeddings(s, d), "vec_id", "embedding",
        dims = 64, bands = 4, rowsPerBand = 4, threshold = 0.30)
      .orderBy(col("id_a"), col("id_b"))

  val q127Sql: String = {
    val cos =
      """list_reduce(list_transform(range(1, len(a.embedding)+1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x,y) -> x+y)
        |  / (sqrt(list_reduce(list_transform(range(1, len(a.embedding)+1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x,y) -> x+y))
        |   * sqrt(list_reduce(list_transform(range(1, len(b.embedding)+1),
        |      i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x,y) -> x+y)))""".stripMargin
    s"""WITH sig AS (
       |  SELECT vec_id, embedding,
       |    list_transform(range(0,16), p ->
       |      CASE WHEN list_reduce(list_transform(range(1,65), i ->
       |        (CASE WHEN strpos('13579bdf', substr(md5(p::VARCHAR || ':' || i::VARCHAR),1,1)) > 0
       |              THEN 1.0 ELSE -1.0 END) * CAST(embedding[i] AS DOUBLE)), (acc,x)->acc+x) >= 0
       |      THEN 1 ELSE 0 END) AS bits
       |  FROM embeddings
       |), banded AS (
       |  SELECT vec_id, embedding, b AS band,
       |    bits[b*4+1]::VARCHAR || bits[b*4+2] || bits[b*4+3] || bits[b*4+4] AS key
       |  FROM sig, unnest(range(0,4)) AS t(b)
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |    a.embedding AS ea, b.embedding AS eb
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
       |)
       |SELECT id_a, id_b, round($cos, 6) AS cos
       |FROM (SELECT id_a, id_b, ea AS embedding FROM cand) a
       |JOIN (SELECT id_a, id_b, eb AS embedding FROM cand) b
       |  USING (id_a, id_b)
       |WHERE $cos >= 0.30
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Johnson–Lindenstrauss projection 64 → 16 dims with the md5-parity
    * Rademacher matrix ([[Similarity.rademacherProject]]): every vector's
    * full projected array is pinned, so the matrix generation, the
    * per-component fold order, and the √k scale are all on the hook. The
    * oracle regenerates the identical matrix from md5 in SQL — the q127
    * device, applied to dimensionality reduction instead of hashing.
    * Output is scalar `(vec_id, dim, value)` rows (posexplode of the
    * projected array) so the gate can sort and hash every cell; the
    * array-valued form stays available as the library op
    * [[Similarity.rademacherProject]]. */
  def q131JlProjection(s: SparkSession, d: String): DataFrame = {
    val m = Similarity.rademacherMatrix(outDims = 16, inDims = 64, salt = "jl")
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        posexplode(transform(Similarity.rademacherProject(col("embedding"), m),
          x => round(x, 6))).as(Seq("dim", "value")))
      .orderBy(col("vec_id"), col("dim"))
  }

  val q131Sql: String =
    """SELECT vec_id, CAST(p AS INT) AS dim,
      |  round(list_reduce(list_transform(range(1, 65), i ->
      |    (CASE WHEN strpos('13579bdf',
      |       substr(md5('jl:' || p::VARCHAR || ':' || i::VARCHAR), 1, 1)) > 0
      |      THEN 1.0 ELSE -1.0 END) * CAST(embedding[i] AS DOUBLE)),
      |    (acc, x) -> acc + x) / sqrt(16.0), 6) AS value
      |FROM embeddings, unnest(range(0, 16)) AS t(p)
      |ORDER BY vec_id, dim""".stripMargin

  /** IVF cell training is an OFFLINE index build — a serving system trains
    * once and answers many queries. The trained centroids (tiny: kCells
    * rows) are memoized per source dir, so repeated q42 invocations in one
    * JVM measure the query path, not re-training. Training itself stays
    * deterministic (bit-stable decimal-sum Lloyd's), so the cache changes
    * cost, never results. */
  private val centroidCache = scala.collection.concurrent.TrieMap
    .empty[String, (Array[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType)]

  private def trainedCentroids(s: SparkSession, emb: DataFrame,
      d: String): DataFrame = {
    val (rows, schema) = centroidCache.getOrElseUpdate(d, {
      val df = Similarity.trainCentroids(emb, "vec_id", "embedding",
        kCells = 10, iters = 2)
      (df.collect(), df.schema)
    })
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** IVF ANN with TRAINED cells: [[Similarity.trainCentroids]]' 2
    * decimal-pinned Lloyd's rounds feed [[Similarity.ivfTopK]]. The
    * oracle replays the training itself ([[TrainedCentroidCtes]]) —
    * seeding, both assignment rounds, the decimal means, the float
    * truncation — then the full query path, so the row is hash-gated
    * end to end (the q161/q166/q174 unrolled-training device). */
  def q42IvfTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec",
        trainedCentroids(s, emb, d),
        "cid", "cvec", k = 10, nprobe = 4)
      .orderBy(col("qid"), col("rank"))
  }

  /** Product-quantization ANN with exact re-rank. The codebook is
    * deterministically seeded ([[graft.ops.ProductQuantization.seedCodebook]]),
    * so the whole encode → ADC → rerank pipeline is SQL-expressible:
    * q119 runs this very function and [[q119Sql]] is the shared oracle —
    * hash-gated, with the recall floor additionally pinned in PQSpec. */
  def q43PqTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val codebook = graft.ops.ProductQuantization.seedCodebook(
      emb, "vec_id", "embedding", m = 8, k = 16)
    graft.ops.ProductQuantization.searchADC(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", codebook, m = 8, k = 10, rerank = 100)
      .orderBy(col("qid"), col("rank"))
  }

  /** Per-label embedding centroids (the supervised flavor of the IVF
    * training pass): posexplode to (label, dim) keys, one map-side-
    * combinable mean — the only shuffle carries (label, dim, partial)
    * triples, never vectors. Oracle-checked, unlike the rows-only ANN
    * queries: the aggregation arithmetic itself is pinned. */
  def q57LabelCentroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("p", "x")))
      .select(col("label"), (col("p") + 1).cast("long").as("pos"), col("x"))
      .groupBy(col("label"), col("pos"))
      // decimal sum, not avg(float): decimal addition is associative, so
      // the partial-merge fetch order can't wiggle the mean at the
      // round(…,6) boundary (same hazard Similarity.trainCentroids pins)
      .agg(round(sum(col("x").cast("decimal(30,15)")).cast("double")
        / count(lit(1)), 6).as("m"))
      .orderBy(col("label"), col("pos"))

  val q57Sql: String =
    """SELECT label, i AS pos,
      |  round(CAST(sum(CAST(embedding[i] AS DECIMAL(30,15))) AS DOUBLE)
      |    / count(*), 6) AS m
      |FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(i)
      |GROUP BY label, i ORDER BY label, pos""".stripMargin

  /** Vector L2-norm statistics per label over deterministically scaled
    * embeddings (the fixture vectors are unit-norm, so scaling by
    * vec_id%5+1 makes the distribution non-trivial). Fully relational:
    * explode to one row per vector element, one sum-of-squares
    * aggregation per vector, one stats aggregation per label — no interpreted
    * higher-order functions in the norm path. */
  def q48VectorNorms(s: SparkSession, d: String): DataFrame = {
    val sq = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        (col("vec_id") % 5 + 1).cast("double").as("s"),
        explode(col("embedding")).as("x"))
    sq.groupBy(col("vec_id"), col("label"))
      .agg(sqrt(sum(col("x").cast("double") * col("s") * col("x") * col("s")))
        .as("nrm"))
      .groupBy(col("label"))
      .agg(round(avg(col("nrm")), 6).as("avg_norm"),
        round(max(col("nrm")), 6).as("max_norm"))
      .orderBy(col("label"))
  }

  val q48Sql: String =
    """WITH sq AS (
      |  SELECT vec_id, label, CAST(vec_id % 5 + 1 AS DOUBLE) AS s,
      |         unnest(embedding) AS x
      |  FROM embeddings)
      |SELECT label, round(avg(nrm), 6) AS avg_norm, round(max(nrm), 6) AS max_norm
      |FROM (SELECT label, sqrt(sum(CAST(x AS DOUBLE)*s*x*s)) AS nrm
      |      FROM sq GROUP BY vec_id, label)
      |GROUP BY label ORDER BY label""".stripMargin

  /** Int8 scalar quantization stats for vectors < 50: per-vector dims,
    * quantized-value sum/min/max and the symmetric scale — pins the
    * quantization arithmetic itself (rounding mode, scale choice,
    * zero-vector guard) against the oracle. */
  def q90Int8Quant(s: SparkSession, d: String): DataFrame =
    Similarity.int8Quantize(Tables.embeddings(s, d), "vec_id", "embedding")
      .filter(col("vec_id") < 50)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dims"),
        sum(col("q")).cast("long").as("q_sum"),
        min(col("q")).as("q_min"), max(col("q")).as("q_max"),
        round(max(col("scale")), 6).as("scale"))
      .orderBy(col("vec_id"))

  val q90Sql: String =
    """WITH xs AS (
      |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings, UNNEST(range(1, len(embedding)+1)) AS t(i)
      |  WHERE vec_id < 50),
      |sc AS (SELECT vec_id, max(abs(x)) AS scale FROM xs GROUP BY vec_id),
      |q AS (
      |  SELECT xs.vec_id,
      |    CASE WHEN sc.scale = 0 THEN 0
      |         ELSE CAST(round(xs.x * 127.0 / sc.scale) AS INTEGER) END AS q,
      |    sc.scale
      |  FROM xs JOIN sc USING (vec_id))
      |SELECT vec_id, count(*) AS n_dims, CAST(sum(q) AS BIGINT) AS q_sum,
      |  min(q) AS q_min, max(q) AS q_max, round(max(scale), 6) AS scale
      |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** SemDeDup over label clusters at cos ≥ 0.35: transitive near-dup
    * components collapse to their min id; survivors summarized per label.
    * The pair search is label-bounded (shuffle on the cluster key, never a
    * corpus cross join) and chains merge via connected components — the
    * full cluster-then-prune semantics, oracle-pinned. */
  def q93SemDedup(s: SparkSession, d: String): DataFrame =
    Similarity.semDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", threshold = 0.35)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_survivors"),
        sum(size(col("embedding")).cast("long")).as("sum_dims"))
      .orderBy(col("label"))

  val q93Sql: String = {
    val cos =
      """list_reduce(list_transform(range(1, len(a.embedding)+1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x,y) -> x+y)
        |  / (sqrt(list_reduce(list_transform(range(1, len(a.embedding)+1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x,y) -> x+y))
        |   * sqrt(list_reduce(list_transform(range(1, len(b.embedding)+1),
        |      i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x,y) -> x+y)))""".stripMargin
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE $cos >= 0.35
       |), und AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |verts AS (SELECT DISTINCT a AS id FROM und),
       |reach(id, r) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id
       |), lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |losers AS (SELECT id FROM lbl WHERE id <> cluster_id)
       |SELECT label, count(*) AS n_survivors, CAST(sum(len(embedding)) AS BIGINT) AS sum_dims
       |FROM embeddings e WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.id = e.vec_id)
       |GROUP BY label ORDER BY label""".stripMargin
  }

  /** PRODUCTION-SHAPE SemDeDup — q93's operator under the cluster key the
    * SemDeDup recipe actually prescribes at scale. q93's gate key (`label`,
    * fixed cardinality) lets cluster sizes grow with the corpus, so the
    * 100× audit reads Σ|cluster|² superlinear BY PARAMETER, not by plan
    * (BASELINE.md round-11 adjudication). Production sizes clusters
    * constant by scaling k with N; modeled here as label × 7-bit
    * md5-parity SRP sub-bucket — the identical [[Similarity.semDedup]]
    * call under its documented cluster contract ("a k-means cell, a
    * label, an LSH bucket"). The oracle re-derives the same signature
    * bits inline (q127's md5-parity device) and replays the per-cell
    * pair join + connected components (q93's recursive-CTE device), so
    * the shape that scales is itself hash-gated rather than only
    * measured at scale. Output: per label, the
    * surviving cell count and survivor summary. */
  def q184SemdedupCells(s: SparkSession, d: String): DataFrame = {
    val srp = Similarity.srpPlaneWeights(planes = 7, dims = 64)
    val bucketed = Tables.embeddings(s, d).withColumn("cell",
      concat_ws(":", col("label").cast("string"),
        array_join(graft.functions.SrpSignature(col("embedding"), srp), "")))
    Similarity.semDedup(bucketed, "vec_id", "embedding", "cell",
        threshold = 0.35)
      .groupBy(col("label"))
      .agg(countDistinct(col("cell")).as("n_cells"),
        count(lit(1)).as("n_survivors"),
        sum(size(col("embedding")).cast("long")).as("sum_dims"))
      .orderBy(col("label"))
  }

  val q184Sql: String = {
    val cos = cosSql("a", "embedding", "b", "embedding")
    s"""WITH RECURSIVE bits AS (
       |  SELECT vec_id, label, embedding,
       |    list_transform(range(0,7), p ->
       |      CASE WHEN list_reduce(list_transform(range(1,65), i ->
       |        (CASE WHEN strpos('13579bdf', substr(md5(p::VARCHAR || ':' || i::VARCHAR),1,1)) > 0
       |              THEN 1.0 ELSE -1.0 END) * CAST(embedding[i] AS DOUBLE)), (acc,x)->acc+x) >= 0
       |      THEN 1 ELSE 0 END) AS bv
       |  FROM embeddings
       |), sig AS (
       |  SELECT vec_id, label, embedding,
       |    label::VARCHAR || ':' || bv[1] || bv[2] || bv[3] || bv[4] || bv[5] || bv[6] || bv[7] AS cell
       |  FROM bits
       |), pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM sig a JOIN sig b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE $cos >= 0.35
       |), und AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
       |verts AS (SELECT DISTINCT a AS id FROM und),
       |reach(id, r) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.id
       |), lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |losers AS (SELECT id FROM lbl WHERE id <> cluster_id)
       |SELECT label, count(DISTINCT cell) AS n_cells, count(*) AS n_survivors,
       |  CAST(sum(len(embedding)) AS BIGINT) AS sum_dims
       |FROM sig e WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.id = e.vec_id)
       |GROUP BY label ORDER BY label""".stripMargin
  }

  /** Matryoshka top-10: brute-force cosine over the first 16 of 64 dims —
    * the 4× cheaper prefix search MRL embeddings are trained for. */
  def q94Matryoshka(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.matryoshkaTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", dims = 16, k = 10)
      .orderBy(col("qid"), col("rank"))
  }

  val q94Sql: String =
    s"""WITH t AS (
       |  SELECT vec_id, list_slice(embedding, 1, 16) AS embedding FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS qid, e.vec_id AS vec_id,
       |    round($cosExpr, 6) AS score
       |  FROM t q JOIN t e ON q.vec_id < 3 AND e.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT qid, vec_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT qid, rank, vec_id, score FROM ranked WHERE rank <= 10
       |ORDER BY qid, rank""".stripMargin

  /** ColBERT-style MaxSim late-interaction top-5
    * ([[graft.ops.Similarity.maxSimTopK]]): 64-dim vectors as 4
    * sub-vectors of 16, score = Σ_i max_j cos(q_i, d_j). The oracle
    * unrolls the same 4×4 interaction grid with the same left-fold
    * cosine, `greatest`, and left-associated sum, so the statically
    * generated codegen expression must match bit-for-bit pre-round. */
  def q147MaxSim(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.maxSimTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", dim = 64, m = 4, k = 5)
      .orderBy(col("qid"), col("rank"))
  }

  /** Exact left-fold cosine between 16-wide slices of q.embedding /
    * e.embedding at the given 0-based offsets — the sub-vector unit of
    * the q147 MaxSim grid. */
  private def subCosSql(qOff: Int, eOff: Int, w: Int): String =
    s"""(list_reduce(list_transform(range(1, ${w + 1}),
       |      i -> CAST(q.embedding[$qOff + i] AS DOUBLE) * CAST(e.embedding[$eOff + i] AS DOUBLE)), (x,y) -> x+y)
       |  / (sqrt(list_reduce(list_transform(range(1, ${w + 1}),
       |      i -> CAST(q.embedding[$qOff + i] AS DOUBLE) * CAST(q.embedding[$qOff + i] AS DOUBLE)), (x,y) -> x+y))
       |   * sqrt(list_reduce(list_transform(range(1, ${w + 1}),
       |      i -> CAST(e.embedding[$eOff + i] AS DOUBLE) * CAST(e.embedding[$eOff + i] AS DOUBLE)), (x,y) -> x+y))))""".stripMargin

  val q147Sql: String = {
    val scoreSql = (0 until 4).map { i =>
      "greatest(" +
        (0 until 4).map(j => subCosSql(i * 16, j * 16, 16)).mkString(",\n") +
        ")"
    }.mkString("\n + ")
    s"""WITH scored AS (
       |  SELECT q.vec_id AS qid, e.vec_id AS vec_id,
       |    round($scoreSql, 6) AS score
       |  FROM embeddings q JOIN embeddings e ON q.vec_id < 5 AND e.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT qid, vec_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT qid, rank, vec_id, score FROM ranked WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin
  }

  /** Embedding drift monitor ([[graft.ops.Profiling.embeddingDrift]])
    * keyed on the label column: every group's centroid distance from
    * the corpus centroid, decimal-pinned so the per-dim means, the 6-dp
    * deviation quantization, and the exact decimal sum of squares all
    * replay identically in DuckDB. */
  def q148EmbeddingDrift(s: SparkSession, d: String): DataFrame =
    graft.ops.Profiling.embeddingDrift(
        Tables.embeddings(s, d), "label", "embedding")
      .withColumnRenamed("grp", "label")
      .orderBy(col("label"))

  val q148Sql: String =
    """WITH el AS (
      |  SELECT label AS grp, CAST(i - 1 AS BIGINT) AS pos,
      |    CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
      |  WHERE label IS NOT NULL
      |), pg AS (
      |  SELECT grp, pos, count(*) AS n_g,
      |    sum(CAST(x AS DECIMAL(30,15))) AS s_g
      |  FROM el GROUP BY 1, 2
      |), gl AS (
      |  SELECT pos, sum(n_g) AS n, sum(s_g) AS s FROM pg GROUP BY 1
      |), dv AS (
      |  SELECT grp, n_g,
      |    CAST(round(CAST(s_g AS DOUBLE) / n_g - CAST(s AS DOUBLE) / n, 6)
      |      AS DECIMAL(12,6)) AS devd
      |  FROM pg JOIN gl USING (pos)
      |)
      |SELECT grp AS label, max(n_g) AS n_vecs,
      |  round(CAST(max(abs(devd)) AS DOUBLE), 6) AS max_abs_dev,
      |  round(sqrt(CAST(sum(devd * devd) AS DOUBLE)), 6) AS l2_drift
      |FROM dv GROUP BY 1 ORDER BY label""".stripMargin

  /** Parameterized DuckDB mirror of the exact left-fold cosine between
    * `$a.$av` and `$b.$bv` — the device that lets multi-stage vector
    * plans (assignment, probing, scoring) be written as plain SQL. */
  private def cosSql(a: String, av: String, b: String, bv: String): String =
    s"""list_reduce(list_transform(range(1, len($a.$av)+1),
       |      i -> CAST($a.$av[i] AS DOUBLE) * CAST($b.$bv[i] AS DOUBLE)), (x,y) -> x+y)
       |  / (sqrt(list_reduce(list_transform(range(1, len($a.$av)+1),
       |      i -> CAST($a.$av[i] AS DOUBLE) * CAST($a.$av[i] AS DOUBLE)), (x,y) -> x+y))
       |   * sqrt(list_reduce(list_transform(range(1, len($b.$bv)+1),
       |      i -> CAST($b.$bv[i] AS DOUBLE) * CAST($b.$bv[i] AS DOUBLE)), (x,y) -> x+y)))""".stripMargin

  /** IVF with SEEDED centroids (vectors 0..9 as cells): unlike trained
    * q42 this makes the ENTIRE ANN query path — corpus→cell assignment,
    * query→nprobe probing, within-cell scoring, top-k — SQL-expressible,
    * so the oracle hash-checks it end to end instead of rows-only. */
  def q117IvfSeeded(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 103)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec",
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec")),
        "cid", "cvec", k = 10, nprobe = 3)
      .orderBy(col("qid"), col("rank"))
  }

  val q117Sql: String = ivfSeededSql("")

  /** q117's oracle with an optional predicate on the ASSIGNED (index)
    * side — ONE SQL device shared by q117 (`""`) and q204 (the deleted
    * ids filtered): the persisted-delete gate pins delete ≡ filter
    * against the very same replay, differing only in this WHERE. */
  private def ivfSeededSql(assignedWhere: String): String =
    s"""WITH cents AS (
       |  SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec
       |  FROM embeddings WHERE vec_id < 10),
       |assigned AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c$assignedWhere)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT qid, qvec, cid FROM (
       |    SELECT q.vec_id AS qid, q.embedding AS qvec, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosSql("q", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM embeddings q CROSS JOIN cents c
       |    WHERE q.vec_id >= 100 AND q.vec_id < 103)
       |  WHERE rn <= 3),
       |scored AS (
       |  SELECT p.qid, a.vec_id,
       |    round(${cosSql("p", "qvec", "a", "embedding")}, 6) AS score
       |  FROM assigned a JOIN probes p USING (cid)
       |  WHERE a.vec_id <> p.qid)
       |SELECT qid, CAST(rank AS INT) AS rank, vec_id, score FROM (
       |  SELECT qid, vec_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** The PQ query path with a FULL hash-match oracle: the codebook is
    * seeded deterministically (subvectors of the k lowest-id corpus
    * vectors — [[graft.ops.ProductQuantization.seedCodebook]]), encoding
    * breaks distance ties to the lowest code, and ADC partials sum as
    * decimals, so the entire encode → distance-table → ADC → exact-rerank
    * pipeline is SQL-expressible and DuckDB replays it bit-for-bit. The
    * companion of q117 (which pins IVF the same way): together they leave
    * only genuinely engine-specific sketches (q73) rows-only. */
  def q119PqSeeded(s: SparkSession, d: String): DataFrame = q43PqTopK(s, d)

  private val M = 8
  private val CodebookK = 16

  /** DuckDB mirror of `ProductQuantization.l2sq` — left fold, double
    * precision, 0.0-seeded (IEEE: 0.0 + x == x, so the seedless DuckDB
    * fold matches Spark's `aggregate(..., lit(0.0), _+_)`). */
  private def l2Sql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a)+1),
       |      i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
       |         * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))), (acc,x) -> acc+x)""".stripMargin

  /** The seeded-PQ CTE block (subspace params, first-$CodebookK codebook,
    * corpus subvectors, deterministic codes, per-query distance table for
    * qid < 5) — the SINGLE source q119 and q121 both splice, so the two
    * oracles can never silently fork on the encode/ADC semantics. */
  private val PqCtes: String =
    s"""params AS (
       |  SELECT CAST(len(embedding) // $M AS INT) AS sd FROM embeddings LIMIT 1),
       |sdim AS (SELECT unnest(range(0, $M)) AS s),
       |seeds AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c, embedding
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $CodebookK)),
       |codebook AS (
       |  SELECT sdim.s, seeds.c,
       |    seeds.embedding[(sdim.s*p.sd+1):((sdim.s+1)*p.sd)] AS cvec
       |  FROM seeds CROSS JOIN params p CROSS JOIN sdim),
       |subs AS (
       |  SELECT e.vec_id, sdim.s,
       |    e.embedding[(sdim.s*p.sd+1):((sdim.s+1)*p.sd)] AS sv
       |  FROM embeddings e CROSS JOIN params p CROSS JOIN sdim),
       |codes AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT subs.vec_id, subs.s, cb.c,
       |      row_number() OVER (PARTITION BY subs.vec_id, subs.s
       |        ORDER BY ${l2Sql("subs.sv", "cb.cvec")}, cb.c) AS rn
       |    FROM subs JOIN codebook cb USING (s))
       |  WHERE rn = 1),
       |dtable AS (
       |  SELECT q.vec_id AS qid, cb.s, cb.c,
       |    ${l2Sql("q.sv", "cb.cvec")} AS partial
       |  FROM subs q JOIN codebook cb USING (s)
       |  WHERE q.vec_id < 5)""".stripMargin

  val q119Sql: String = {
    val cos =
      """list_reduce(list_transform(range(1, len(q.embedding)+1),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a,x) -> a+x)
        |  / (sqrt(list_reduce(list_transform(range(1, len(q.embedding)+1),
        |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)), (a,x) -> a+x))
        |   * sqrt(list_reduce(list_transform(range(1, len(e.embedding)+1),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a,x) -> a+x)))""".stripMargin
    s"""WITH $PqCtes,
       |approx AS (
       |  SELECT d.qid, c.vec_id,
       |    CAST(sum(CAST(d.partial AS DECIMAL(38,18))) AS DOUBLE) AS al2
       |  FROM codes c JOIN dtable d ON d.s = c.s AND d.c = c.code
       |  WHERE c.vec_id <> d.qid
       |  GROUP BY d.qid, c.vec_id),
       |cands AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY al2, vec_id) AS rn
       |    FROM approx)
       |  WHERE rn <= 100),
       |scored AS (
       |  SELECT cand.qid, cand.vec_id, round($cos, 6) AS score
       |  FROM cands cand
       |  JOIN embeddings e ON e.vec_id = cand.vec_id
       |  JOIN embeddings q ON q.vec_id = cand.qid)
       |SELECT qid, CAST(rank AS INT) AS rank, vec_id, score FROM (
       |  SELECT qid, vec_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  /** IVF-PQ with BOTH stages seeded (q117's cells + q119's codebook), so
    * the full production composition — cell assignment, nprobe probing,
    * PQ encode, ADC scoring over probed cells only, exact rerank — is
    * deterministic and the oracle hash-checks it end to end. With q117
    * and q119 this closes the ANN family: only q73's engine-specific
    * sketches remain legitimately rows-only. */
  def q121IvfPqSeeded(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val codebook = graft.ops.ProductQuantization.seedCodebook(
      emb, "vec_id", "embedding", m = M, k = CodebookK)
    graft.ops.ProductQuantization.searchIvfPq(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec",
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec")),
        "cid", "cvec",
        codebook, m = M, k = 10, nprobe = 3, rerank = 100)
      .orderBy(col("qid"), col("rank"))
  }

  val q121Sql: String = ivfPqSeededSql("")

  /** q121's oracle with an optional predicate on the ASSIGNED side —
    * the [[ivfSeededSql]] device for the IVF-PQ path, shared by q121
    * (`""`) and q205 (deleted ids filtered). The codebook CTEs stay
    * corpus-wide on both sides: the index's codebook is FROZEN metadata
    * a delete never touches. */
  private def ivfPqSeededSql(assignedWhere: String): String = {
    s"""WITH $PqCtes,
       |cents AS (
       |  SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec
       |  FROM embeddings WHERE vec_id < 10),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c$assignedWhere)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosSql("q", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM embeddings q CROSS JOIN cents c
       |    WHERE q.vec_id < 5)
       |  WHERE rn <= 3),
       |approx AS (
       |  SELECT p.qid, a.vec_id,
       |    CAST(sum(CAST(d.partial AS DECIMAL(38,18))) AS DOUBLE) AS al2
       |  FROM probes p
       |  JOIN assigned a USING (cid)
       |  JOIN codes c ON c.vec_id = a.vec_id
       |  JOIN dtable d ON d.qid = p.qid AND d.s = c.s AND d.c = c.code
       |  WHERE a.vec_id <> p.qid
       |  GROUP BY p.qid, a.vec_id),
       |cands AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY al2, vec_id) AS rn
       |    FROM approx)
       |  WHERE rn <= 100),
       |scored AS (
       |  SELECT cand.qid, cand.vec_id,
       |    round(${cosSql("q", "embedding", "e", "embedding")}, 6) AS score
       |  FROM cands cand
       |  JOIN embeddings e ON e.vec_id = cand.vec_id
       |  JOIN embeddings q ON q.vec_id = cand.qid)
       |SELECT qid, CAST(rank AS INT) AS rank, vec_id, score FROM (
       |  SELECT qid, vec_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  /** DuckDB replay of [[Similarity.trainCentroids]] (kCells = 10,
    * iters = 2) — the unrolled-training oracle device (q161 BPE / q166
    * Bradley–Terry / q174 Weiszfeld) applied to Lloyd's k-means:
    *  - `kseed`/`kc0`: seeding = the 10 corpus vectors with the smallest
    *    md5("ivf:" || id), cids assigned in that md5 order (no RNG);
    *  - per round r: `kasg{r}` re-derives the max_by(sim, -cid)
    *    assignment as a row_number (sim DESC, cid) window; `kmean{r}`
    *    is the (cid, dim) decimal(30,15) sum / count mean — decimal
    *    addition is associative, so both engines agree regardless of
    *    partial-merge order — truncated to REAL exactly where Scala's
    *    `.toFloat` truncates; `kc{r}` keeps the previous centroid for
    *    any cell that lost all members (Spark's `cents ++ updated`).
    * Yields `kc2(cid, cvec)` for the q42/q108 query paths. CTE names are
    * k-prefixed so the block composes with [[PqCtes]] (whose `seeds` is
    * the PQ codebook seed). */
  private val TrainedCentroidCtes: String = {
    def round_(prev: String, cur: Int): String =
      s"""kasg$cur AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT e.vec_id, e.embedding, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${cosSql("e", "embedding", "c", "cvec")} DESC, c.cid) AS rn
         |    FROM embeddings e CROSS JOIN kc${cur - 1} c)
         |  WHERE rn = 1),
         |kmean$cur AS (
         |  SELECT cid, i - 1 AS p,
         |    CAST(CAST(CAST(sum(CAST(embedding[i] AS DECIMAL(30,15))) AS DOUBLE)
         |      / count(*) AS REAL) AS DOUBLE) AS c
         |  FROM kasg$cur, UNNEST(range(1, len(embedding) + 1)) AS t(i)
         |  GROUP BY cid, p),
         |kc$cur AS (
         |  SELECT cid, list(c ORDER BY p) AS cvec FROM kmean$cur GROUP BY cid
         |  UNION ALL
         |  SELECT p.cid, p.cvec FROM kc${cur - 1} p
         |  WHERE p.cid NOT IN (SELECT cid FROM kmean$cur))""".stripMargin
    s"""kseed AS (
       |  SELECT vec_id, embedding, md5('ivf:' || vec_id::VARCHAR) AS h
       |  FROM embeddings ORDER BY h LIMIT 10),
       |kc0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY h) - 1 AS INT) AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM kseed),
       |${round_("kc0", 1)},
       |${round_("kc1", 2)}""".stripMargin
  }

  val q42Sql: String =
    s"""WITH $TrainedCentroidCtes,
       |assigned AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN kc2 c)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT qid, qvec, cid FROM (
       |    SELECT q.vec_id AS qid, q.embedding AS qvec, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosSql("q", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM embeddings q CROSS JOIN kc2 c
       |    WHERE q.vec_id < 5)
       |  WHERE rn <= 4),
       |scored AS (
       |  SELECT p.qid, a.vec_id,
       |    round(${cosSql("p", "qvec", "a", "embedding")}, 6) AS score
       |  FROM assigned a JOIN probes p USING (cid)
       |  WHERE a.vec_id <> p.qid)
       |SELECT qid, CAST(rank AS INT) AS rank, vec_id, score FROM (
       |  SELECT qid, vec_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** IVF-PQ composition with TRAINED cells (cells prune the scored set,
    * codes prune the bytes read, exact re-rank repairs the shortlist).
    * Hash-gated end to end: the oracle composes the unrolled Lloyd's
    * training ([[TrainedCentroidCtes]]) with the seeded-PQ block
    * ([[PqCtes]]) — q121's query path over q42's trained cells. */
  def q108IvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val codebook = graft.ops.ProductQuantization.seedCodebook(
      emb, "vec_id", "embedding", m = 8, k = 16)
    graft.ops.ProductQuantization.searchIvfPq(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec",
        trainedCentroids(s, emb, d), "cid", "cvec",
        codebook, m = 8, k = 10, nprobe = 6, rerank = 100)
      .orderBy(col("qid"), col("rank"))
  }

  val q108Sql: String = {
    s"""WITH $TrainedCentroidCtes,
       |$PqCtes,
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN kc2 c)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.vec_id AS qid, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosSql("q", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM embeddings q CROSS JOIN kc2 c
       |    WHERE q.vec_id < 5)
       |  WHERE rn <= 6),
       |approx AS (
       |  SELECT p.qid, a.vec_id,
       |    CAST(sum(CAST(d.partial AS DECIMAL(38,18))) AS DOUBLE) AS al2
       |  FROM probes p
       |  JOIN assigned a USING (cid)
       |  JOIN codes c ON c.vec_id = a.vec_id
       |  JOIN dtable d ON d.qid = p.qid AND d.s = c.s AND d.c = c.code
       |  WHERE a.vec_id <> p.qid
       |  GROUP BY p.qid, a.vec_id),
       |cands AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY al2, vec_id) AS rn
       |    FROM approx)
       |  WHERE rn <= 100),
       |scored AS (
       |  SELECT cand.qid, cand.vec_id,
       |    round(${cosSql("q", "embedding", "e", "embedding")}, 6) AS score
       |  FROM cands cand
       |  JOIN embeddings e ON e.vec_id = cand.vec_id
       |  JOIN embeddings q ON q.vec_id = cand.qid)
       |SELECT qid, CAST(rank AS INT) AS rank, vec_id, score FROM (
       |  SELECT qid, vec_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin
  }

  /** Per-dimension affine int8 quantization audit
    * ([[graft.ops.ProductQuantization.int8QuantizationAudit]]) — the
    * corpus-TRAINED scalar-quantization tier (per-dim min/max, the
    * FAISS-SQ8 scheme), vs q90's train-free per-vector symmetric scale.
    * All 64 dims' ranges and reconstruction errors are hash-pinned, so
    * the explicit ⌊·+0.5⌋ rounding, the clamp, and the decimal-sum mean
    * error must replay identically. */
  def q144Int8Audit(s: SparkSession, d: String): DataFrame =
    graft.ops.ProductQuantization.int8QuantizationAudit(
        Tables.embeddings(s, d), "vec_id", "embedding")
      .orderBy(col("dim"))

  val q144Sql: String =
    """WITH vals AS (
      |  SELECT CAST(i - 1 AS BIGINT) AS dim,
      |    CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
      |  WHERE vec_id IS NOT NULL),
      |ranges AS (
      |  SELECT dim, min(x) AS mn, max(x) AS mx,
      |    (max(x) - min(x)) / 255.0 AS scale
      |  FROM vals GROUP BY dim),
      |quant AS (
      |  SELECT dim, mn, mx, scale, x,
      |    CASE WHEN scale = 0 THEN 0.0
      |      ELSE least(greatest(floor((x - mn) / scale + 0.5), 0.0), 255.0)
      |    END AS q
      |  FROM vals JOIN ranges USING (dim)),
      |err AS (
      |  SELECT dim, mn, mx, abs(mn + q * scale - x) AS e FROM quant)
      |SELECT dim, round(min(mn), 6) AS min_val, round(max(mx), 6) AS max_val,
      |  round(CAST(sum(CAST(e AS DECIMAL(27,15))) AS DOUBLE) / count(*), 6)
      |    AS mean_abs_err,
      |  round(max(e), 6) AS max_abs_err
      |FROM err GROUP BY dim ORDER BY dim""".stripMargin

  /** Embedding-space decontamination report
    * ([[Similarity.decontamTopMatches]]): every 97th vector plays the
    * held-out eval set; the 20 training vectors closest to ANY eval
    * vector are reported with their best-matching eval id and exact
    * cosine — all hash-pinned. The semantic-leakage companion to the
    * n-gram decontamination gate (q86): a pipeline drops or reviews
    * these before training.
    *
    * The eval set is pinned to replica-0 ids (`vec_id < 1000000`, a no-op
    * at gate scale where all ids fit): a real decontamination benchmark is
    * FIXED-size while the training corpus grows, and the audit corpora
    * shift replica ids by 1M ([[graft.tools.Scale10xGen]]), so this bound
    * makes the gate query itself carry the production corpus×fixed-eval
    * shape the 100× receipts measured (BASELINE.md round-11). */
  def q163EmbedDecontam(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val eval = emb.filter(col("vec_id") % 97 === 0 && col("vec_id") < 1000000L)
      .select(col("vec_id").as("eval_id"), col("embedding").as("eval_vec"))
    Similarity.decontamTopMatches(
        emb.filter(col("vec_id") % 97 =!= 0), "vec_id", "embedding",
        eval, "eval_id", "eval_vec", k = 20)
      .orderBy(col("cos").desc, col("vec_id"))
  }

  val q163Sql: String =
    s"""WITH ev AS (
       |  SELECT vec_id AS eval_id, embedding AS eval_vec
       |  FROM embeddings WHERE vec_id % 97 = 0 AND vec_id < 1000000),
       |tr AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 97 <> 0),
       |scored AS (
       |  SELECT tr.vec_id, ev.eval_id,
       |    round(${cosSql("tr", "embedding", "ev", "eval_vec")}, 6) AS cos
       |  FROM tr CROSS JOIN ev),
       |best AS (
       |  SELECT vec_id, eval_id, cos,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, eval_id) AS rn
       |  FROM scored)
       |SELECT vec_id, eval_id, cos FROM best WHERE rn = 1
       |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin

  /** ANN RECALL AUDIT — the quality metric itself as a gate row: recall@10
    * of the seeded IVF path (q117's exact parameters) against the exact
    * brute-force top-10, per query. Because the IVF variant is seeded,
    * BOTH arms are SQL-expressible, so the recall numbers hash-match —
    * the evaluation harness a serving team runs nightly ("did the index
    * rebuild lose recall?"), pinned end to end rather than asserted
    * rows-only in a spec. */
  def q170AnnRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 103)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val ivf = q117IvfSeeded(s, d).select(col("qid"), col("vec_id"))
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 10)
      .select(col("qid"), col("vec_id"))
    // single-job lazy form kept DELIBERATELY (measured r17): the eager
    // persist-and-collect gate serialized the branch jobs and read ~1.3×
    // slower at this arm size (3 queries × top-10)
    val common = ivf.join(bf, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_common"))
    bf.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(common, Seq("qid"), "left")
      .select(col("qid"), col("n_exact"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)) /
          col("n_exact").cast("double"), 6).as("recall"))
      .orderBy(col("qid"))
  }

  val q170Sql: String =
    s"""WITH cents AS (
       |  SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec
       |  FROM embeddings WHERE vec_id < 10),
       |assigned AS (
       |  SELECT vec_id, embedding, cid FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT qid, qvec, cid FROM (
       |    SELECT q.vec_id AS qid, q.embedding AS qvec, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosSql("q", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM embeddings q CROSS JOIN cents c
       |    WHERE q.vec_id >= 100 AND q.vec_id < 103)
       |  WHERE rn <= 3),
       |iscored AS (
       |  SELECT p.qid, a.vec_id,
       |    round(${cosSql("p", "qvec", "a", "embedding")}, 6) AS score
       |  FROM assigned a JOIN probes p USING (cid)
       |  WHERE a.vec_id <> p.qid),
       |ivf AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
       |    FROM iscored) WHERE rank <= 10),
       |bscored AS (
       |  SELECT q.vec_id AS qid, e.vec_id,
       |    round(${cosSql("q", "embedding", "e", "embedding")}, 6) AS score
       |  FROM embeddings q JOIN embeddings e
       |    ON q.vec_id >= 100 AND q.vec_id < 103 AND e.vec_id <> q.vec_id),
       |bf AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
       |    FROM bscored) WHERE rank <= 10),
       |common AS (
       |  SELECT qid, count(*) AS n_common
       |  FROM ivf JOIN bf USING (qid, vec_id) GROUP BY qid),
       |nx AS (SELECT qid, count(*) AS n_exact FROM bf GROUP BY qid)
       |SELECT nx.qid, n_exact, CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
       |  round(coalesce(n_common, 0) / CAST(n_exact AS DOUBLE), 6) AS recall
       |FROM nx LEFT JOIN common USING (qid) ORDER BY qid""".stripMargin

  /** Per-label geometric median ([[Similarity.geometricMedian]], 2
    * Weiszfeld rounds): every (label, dim) coordinate of the robust
    * centroid is hash-pinned — the decimal-exact mean init, both rounds'
    * 12-dp-rounded weight sums, and the 6-dp output all replay in the
    * oracle's unrolled SQL. The outlier-resistant anchor the drift
    * monitor (q148) upgrades to on untrusted corpora. Scalar rows
    * (label, dim, value) per the gate's sortability contract. */
  def q174GeometricMedian(s: SparkSession, d: String): DataFrame =
    Similarity.geometricMedian(Tables.embeddings(s, d), "label",
        "embedding", iters = 2)
      .orderBy(col("label"), col("dim"))

  val q174Sql: String = {
    def dimRows(src: String, withD: Boolean): String = {
      val dcol = if (withD) ", d" else ""
      s"""SELECT g$dcol, i - 1 AS p, CAST(e[i] AS DOUBLE) AS x
         |      FROM $src, UNNEST(range(1, len(e) + 1)) AS t(i)""".stripMargin
    }
    def round_(prev: String, cur: Int): String =
      s"""r$cur AS (
         |  SELECT v.g, v.e,
         |    sqrt(list_reduce(list_transform(range(1, len(v.e) + 1),
         |      i -> (CAST(v.e[i] AS DOUBLE) - cl[i]) *
         |           (CAST(v.e[i] AS DOUBLE) - cl[i])),
         |      (a, x) -> a + x)) AS d
         |  FROM v JOIN $prev USING (g)),
         |a$cur AS (
         |  SELECT g, p,
         |    CAST(sum(CAST(round(x / d, 12) AS DECIMAL(30,15))) AS DOUBLE) AS num,
         |    CAST(sum(CAST(round(1.0 / d, 12) AS DECIMAL(30,15))) AS DOUBLE) AS den
         |  FROM (${dimRows(s"(SELECT * FROM r$cur WHERE d > 0)", withD = true)})
         |  GROUP BY g, p),
         |c$cur AS (SELECT g, list(num / den ORDER BY p) AS cl
         |  FROM a$cur GROUP BY g)""".stripMargin
    s"""WITH v AS (
       |  SELECT CAST(label AS VARCHAR) AS g, embedding AS e
       |  FROM embeddings WHERE label IS NOT NULL),
       |d0 AS (
       |  SELECT g, p,
       |    CAST(sum(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS c
       |  FROM (${dimRows("v", withD = false)})
       |  GROUP BY g, p),
       |c0 AS (SELECT g, list(c ORDER BY p) AS cl FROM d0 GROUP BY g),
       |${round_("c0", 1)},
       |${round_("c1", 2)}
       |SELECT g AS label, CAST(p AS INT) AS dim,
       |  round(num / den, 6) AS value
       |FROM a2 ORDER BY label, dim""".stripMargin
  }

  /** SRP-LSH RECALL AUDIT — q171's device for the embedding near-dup
    * family: planted near-dups (every 5th vector under 200 re-keyed with
    * +0.05 on its first component — cos ≈ 0.999) are hunted by BOTH the
    * banded SRP pipeline ([[Similarity.srpBandedNearDupPairs]], 4 bands ×
    * 4 md5-parity sign bits) and the exact all-pairs cosine arm at the
    * same 0.9 threshold; the summary row (counts, recall, precision) is
    * hash-pinned. Unlike the Hamming pigeonhole audits (q177/q179) SRP
    * banding is probabilistic — collision prob 1-(1-(1-θ/π)^4)^4 — so
    * this measures REAL recall; precision is 1 by construction (band
    * candidates are verified with exact cosine before counting). The
    * perturbation is double-add-then-float-truncate on both engines so
    * the planted vectors are bit-identical.
    *
    * Audit-scoped by design (vec_id < 200 caps the exact arm), like
    * q41/q98/q171. */
  def q178SrpRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 500000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") + lit(0.05)).cast("float"))
            .otherwise(x)).as("embedding"))
    // materialize the tiny audit corpus so both arms plan on EXACT stats:
    // size estimates otherwise ride the underlying scan, and on a large
    // corpus the exact arm's theta join degrades to an estimate-driven
    // cartesian that recomputes the inner side per partition pair (the
    // q179 100×-receipt lesson — ×5.7 there before this device)
    val corpus = emb.unionByName(planted).localCheckpoint()
    val band = Similarity.srpBandedNearDupPairs(corpus, "vec_id", "embedding",
        dims = 64, bands = 4, rowsPerBand = 4, threshold = 0.9)
      .select(col("id_a"), col("id_b"))
    val exact = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding",
        threshold = 0.9)
      .select(col("id_a"), col("id_b"))
    // single-job crossJoin form kept DELIBERATELY (measured r17): the
    // arms are small over the checkpointed corpus, and one job overlaps
    // all three count branches — the eager persist-and-count gate (the
    // q179 device) serialized them and read ~1.3× slower here
    val nCommon = band.join(exact, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_common"))
    val nBand = band.agg(count(lit(1)).as("n_band"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    nExact.crossJoin(nBand).crossJoin(nCommon)
      .select(col("n_exact"), col("n_band"), col("n_common"),
        round(col("n_common") / col("n_exact").cast("double"), 6).as("recall"),
        round(col("n_common") / col("n_band").cast("double"), 6).as("precision"))
  }

  val q178Sql: String = {
    val cos =
      """list_reduce(list_transform(range(1, len(a.embedding)+1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x,y) -> x+y)
        |  / (sqrt(list_reduce(list_transform(range(1, len(a.embedding)+1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x,y) -> x+y))
        |   * sqrt(list_reduce(list_transform(range(1, len(b.embedding)+1),
        |      i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x,y) -> x+y)))""".stripMargin
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
       |  UNION ALL
       |  SELECT vec_id + 500000,
       |    list_transform(range(1, len(embedding) + 1), i ->
       |      CASE WHEN i = 1 THEN CAST(CAST(embedding[i] AS DOUBLE) + 0.05 AS REAL)
       |           ELSE embedding[i] END) AS embedding
       |  FROM embeddings WHERE vec_id < 200 AND vec_id % 5 = 0
       |), sig AS (
       |  SELECT vec_id, embedding,
       |    list_transform(range(0,16), p ->
       |      CASE WHEN list_reduce(list_transform(range(1,65), i ->
       |        (CASE WHEN strpos('13579bdf', substr(md5(p::VARCHAR || ':' || i::VARCHAR),1,1)) > 0
       |              THEN 1.0 ELSE -1.0 END) * CAST(embedding[i] AS DOUBLE)), (acc,x)->acc+x) >= 0
       |      THEN 1 ELSE 0 END) AS bits
       |  FROM corpus
       |), bnd AS (
       |  SELECT vec_id, embedding, b AS band,
       |    bits[b*4+1]::VARCHAR || bits[b*4+2] || bits[b*4+3] || bits[b*4+4] AS key
       |  FROM sig, unnest(range(0,4)) AS t(b)
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |    a.embedding AS ea, b.embedding AS eb
       |  FROM bnd a JOIN bnd b
       |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
       |), bandp AS (
       |  SELECT id_a, id_b
       |  FROM (SELECT id_a, id_b, ea AS embedding FROM cand) a
       |  JOIN (SELECT id_a, id_b, eb AS embedding FROM cand) b
       |    USING (id_a, id_b)
       |  WHERE $cos >= 0.9
       |), exct AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
       |  WHERE $cos >= 0.9
       |), c AS (
       |  SELECT count(*) AS n_common FROM bandp JOIN exct USING (id_a, id_b)
       |), nb AS (SELECT count(*) AS n_band FROM bandp),
       |ne AS (SELECT count(*) AS n_exact FROM exct)
       |SELECT n_exact, n_band, n_common,
       |  round(n_common / CAST(n_exact AS DOUBLE), 6) AS recall,
       |  round(n_common / CAST(n_band AS DOUBLE), 6) AS precision
       |FROM ne CROSS JOIN nb CROSS JOIN c""".stripMargin
  }

  /** Per-label simplified silhouette ([[Similarity.labelSilhouette]]):
    * the clustering-quality score of the label partition in embedding
    * space — per point, distance to its own label centroid vs the
    * nearest other centroid, averaged per label. The quality gate a
    * pipeline runs before trusting any grouping (k-means output,
    * SemDeDup cells, a taxonomy column); every centroid mean, distance
    * fold and per-label average is hash-pinned against the oracle's
    * replay of the same decimal devices. */
  def q186LabelSilhouette(s: SparkSession, d: String): DataFrame =
    Similarity.labelSilhouette(Tables.embeddings(s, d), "vec_id", "label",
        "embedding")
      .orderBy(col("label"))

  val q186Sql: String =
    """WITH v AS (
      |  SELECT vec_id, label, embedding AS e
      |  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL),
      |px AS (
      |  SELECT label, i - 1 AS p, CAST(e[i] AS DOUBLE) AS x
      |  FROM v, UNNEST(range(1, len(e) + 1)) AS t(i)),
      |cm AS (
      |  SELECT label, p,
      |    CAST(sum(CAST(x AS DECIMAL(30,15))) AS DOUBLE) / count(*) AS m
      |  FROM px GROUP BY label, p),
      |cent AS (
      |  SELECT label AS clabel, list(m ORDER BY p) AS cl
      |  FROM cm GROUP BY label),
      |d AS (
      |  SELECT v.vec_id, v.label, c.clabel,
      |    sqrt(list_reduce(list_transform(range(1, len(v.e) + 1),
      |      i -> (CAST(v.e[i] AS DOUBLE) - c.cl[i]) *
      |           (CAST(v.e[i] AS DOUBLE) - c.cl[i])),
      |      (a, x) -> a + x)) AS dist
      |  FROM v CROSS JOIN cent c),
      |ab AS (
      |  SELECT vec_id, label,
      |    max(CASE WHEN clabel = label THEN dist END) AS a,
      |    min(CASE WHEN clabel <> label THEN dist END) AS b
      |  FROM d GROUP BY vec_id, label),
      |sil AS (
      |  SELECT label,
      |    CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
      |         ELSE CAST(0.0 AS DOUBLE) END AS s
      |  FROM ab)
      |SELECT label, CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(CAST(round(s, 12) AS DECIMAL(27,15))) AS DOUBLE)
      |    / count(*), 6) AS silhouette
      |FROM sil GROUP BY label ORDER BY label""".stripMargin

  /** Run-scoped root for persisted ANN indexes: one dir per (sf-dir
    * basename, index name); staleness is handled inside [[AnnIndex]] by
    * the source fingerprint, so a data-drop change rebuilds in place. */
  private def annIndexLocation(d: String, name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-ann-index/" +
      s"${new java.io.File(d).getName}/$name"

  /** q197: the q117 IVF search run over a PERSISTED, CATALOG-REGISTERED
    * index — the build-once/search-many lifecycle split that q42/q117
    * deliberately fold into one query. [[graft.ops.AnnIndex.ensureIvf]]
    * materializes cell assignments partitioned BY cell (build job, skipped
    * when the source fingerprint is unchanged), the index is registered as
    * a `graft.index.*`-tagged catalog table, and the search resolves the
    * location BY NAME through the catalog before reading only the probed
    * partitions. Hash-gated against the SAME oracle as q117: persisted
    * search ≡ in-query search, end to end. */
  def q197PersistedIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivf-seeded")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec", loc, s"$d/embeddings.parquet")
    CatalogQueries.ensureCatalog(s)
    AnnIndex.registerIndexTable(s, "graft.tpch.emb_ivf_seeded_idx", loc)
    val resolved = AnnIndex.resolveIndexLocation(s, "graft.tpch.emb_ivf_seeded_idx")
    AnnIndex.searchIvf(s, resolved,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 103)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 3)
      .orderBy(col("qid"), col("rank"))
  }

  /** q198: the q121 IVF-PQ search over a persisted index — cell
    * assignments AND per-vector PQ codes materialized at build time, so
    * the search job encodes nothing: it reads codes from the probed
    * partitions, ADCs them against the per-query distance table, and
    * reranks on the full vectors stored alongside. Same oracle as q121. */
  def q198PersistedIvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivfpq-seeded")
    AnnIndex.ensureIvfPq(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec",
      graft.ops.ProductQuantization.seedCodebook(
        emb, "vec_id", "embedding", m = M, k = CodebookK),
      m = M, loc, s"$d/embeddings.parquet")
    CatalogQueries.ensureCatalog(s)
    AnnIndex.registerIndexTable(s, "graft.tpch.emb_ivfpq_seeded_idx", loc)
    val resolved = AnnIndex.resolveIndexLocation(s, "graft.tpch.emb_ivfpq_seeded_idx")
    AnnIndex.searchIvfPq(s, resolved,
      emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 3, rerank = 100)
      .orderBy(col("qid"), col("rank"))
  }

  /** q200: the INCREMENTAL-INGEST path of the persisted IVF index — build
    * on the even half of the corpus (stamping a `partial:` fingerprint),
    * [[graft.ops.AnnIndex.append]] the odd half against the frozen
    * centroids (re-stamping the full fingerprint only after the append
    * commits), then search. Assignment is per-vector independent, so
    * build+append must be INDISTINGUISHABLE from the one-shot build: the
    * oracle is q117's, hash-checked — a crash between the phases reads as
    * stale (partial ≠ full) and rebuilds rather than serving half an
    * index. */
  def q200IndexAppend(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivf-append")
    val src = s"$d/embeddings.parquet"
    val fpFull = AnnIndex.sourceFingerprint(src)
    val cells = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
    if (!AnnIndex.readManifest(loc)
        .exists(m => m.indexType == "ivf" && m.fingerprint == fpFull)) {
      AnnIndex.ensureIvf(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", cells, "cid", "cvec", loc, src,
        fingerprintOverride = Some(s"partial:$fpFull"))
      AnnIndex.append(emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", loc, newFingerprint = fpFull)
    }
    AnnIndex.searchIvf(s, loc,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 103)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 3)
      .orderBy(col("qid"), col("rank"))
  }

  /** q201: q200's IVF-PQ twin — the odd half is encoded against the
    * index's frozen codebook at append time; build+append ≡ one-shot is
    * pinned by q121's oracle. */
  def q201IndexAppendPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivfpq-append")
    val src = s"$d/embeddings.parquet"
    val fpFull = AnnIndex.sourceFingerprint(src)
    val cells = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
    if (!AnnIndex.readManifest(loc)
        .exists(m => m.indexType == "ivf_pq" && m.fingerprint == fpFull)) {
      // the codebook is seeded from the FULL corpus (the q119/q121
      // device) — production would likewise train it before sharding
      val codebook = graft.ops.ProductQuantization.seedCodebook(
        emb, "vec_id", "embedding", m = M, k = CodebookK)
      AnnIndex.ensureIvfPq(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", cells, "cid", "cvec", codebook, m = M,
        loc, src, fingerprintOverride = Some(s"partial:$fpFull"))
      AnnIndex.append(emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", loc, newFingerprint = fpFull)
    }
    AnnIndex.searchIvfPq(s, loc,
      emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 3, rerank = 100)
      .orderBy(col("qid"), col("rank"))
  }

  /** q203: the FULL production build job persisted — k-means-TRAINED
    * centroids ([[Similarity.trainCentroids]]' decimal-pinned Lloyd's, the
    * q42 path) feed the index build instead of the seeded frame, and the
    * search runs over the materialized postings. With q197 (seeded twin)
    * and q200 (append) this closes the lifecycle matrix: {seeded,
    * trained} × {one-shot, incremental} all hash-gated. Oracle = q42's
    * unrolled-training SQL: the oracle replays the training, the
    * assignment, probing, scoring AND the persistence round-trip must
    * change none of it. */
  def q203PersistedTrainedIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivf-trained")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      trainedCentroids(s, emb, d), "cid", "cvec",
      loc, s"$d/embeddings.parquet")
    AnnIndex.searchIvf(s, loc,
      emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 4)
      .orderBy(col("qid"), col("rank"))
  }

  /** q204: DELETE from the persisted IVF index — build the seeded index,
    * tombstone every vec_id ≡ 3 (mod 7), search. Deletes are TOMBSTONES
    * the search anti-joins ([[graft.ops.AnnIndex.deleteIds]]) — never a
    * postings rewrite, because a 100 TB delete job must not touch the
    * corpus-sized layout; compaction folds them in later (pinned in
    * AnnIndexSpec). The oracle is q117's replay with the deleted ids
    * filtered from the ASSIGNED side only, so the gate hash-pins
    * delete ≡ filter end to end — including the edge that query 101
    * (101 ≡ 3 mod 7) is itself deleted: a tombstoned doc can still
    * QUERY the index, it just can't be retrieved. */
  def q204IndexDelete(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivf-delete")
    val built = AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec", loc, s"$d/embeddings.parquet")
    // delete exactly once per build: a fresh build starts tombstone-free
    // (ensureIvf wipes the location), and re-deleting the same set would
    // be a no-op anyway (set semantics) — this guard just keeps repeated
    // gate runs from appending identical tombstone files
    if (built || !AnnIndex.hasTombstones(loc))
      AnnIndex.deleteIds(emb.filter(col("vec_id") % 7 === 3), "vec_id", loc)
    AnnIndex.searchIvf(s, loc,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 103)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 3)
      .orderBy(col("qid"), col("rank"))
  }

  /** q205: q204's IVF-PQ twin — tombstoned vectors must drop out of BOTH
    * stages (the ADC candidate generation and the exact rerank; a delete
    * that only filtered the final ranks would let a deleted vector's
    * candidacy displace live ones). The codebook stays frozen — deleting
    * data never retrains quantization. Oracle = q121's replay with the
    * assigned side filtered. */
  def q205IndexDeletePq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivfpq-delete")
    val built = AnnIndex.ensureIvfPq(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec",
      graft.ops.ProductQuantization.seedCodebook(
        emb, "vec_id", "embedding", m = M, k = CodebookK),
      m = M, loc, s"$d/embeddings.parquet")
    if (built || !AnnIndex.hasTombstones(loc))
      AnnIndex.deleteIds(emb.filter(col("vec_id") % 7 === 3), "vec_id", loc)
    AnnIndex.searchIvfPq(s, loc,
      emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 3, rerank = 100)
      .orderBy(col("qid"), col("rank"))
  }

  /** q206: FILTERED vector search, the BROAD arm — top-k among only the
    * vectors whose metadata passes `label >= 2` (~80% of the corpus).
    * The predicate is evaluated on the base table (the index stores no
    * metadata) and [[graft.ops.AnnIndex.search]] with `allowed` keeps the
    * IVF probe, pushing the allowed-id semi-join BENEATH the distance
    * computation — a post-filter above the top-k would return fewer
    * than k rows whenever filtered-out vectors crowd the shortlist.
    * Oracle = q117's replay with the assigned side filtered (the q204
    * device): assignment is per-row, so filter-then-assign ≡
    * assign-then-filter. */
  def q206FilteredIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivf-seeded")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec", loc, s"$d/embeddings.parquet")
    AnnIndex.search(s, loc,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 103)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 3,
      allowed = Some(emb.filter(col("label") >= 2).select(col("vec_id"))),
      exactCap = 50)
      .orderBy(col("qid"), col("rank"))
  }

  /** q207: FILTERED vector search, the SELECTIVE arm — the predicate
    * (`label = 5 AND vec_id % 2 = 0`, ~4–5% of the corpus) passes fewer
    * ids than `exactCap`, so the engine bypasses the probe layer and
    * scans the allowed vectors exactly. The oracle is a TRUE independent
    * oracle (filtered brute-force top-k, not a replay of the engine's
    * plan): the exact arm promises recall 1.0, and this gate hash-pins
    * that promise. */
  def q207FilteredExact(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivf-seeded")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec", loc, s"$d/embeddings.parquet")
    AnnIndex.search(s, loc,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 103)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 3,
      allowed = Some(emb.filter(col("label") === 5 && col("vec_id") % 2 === 0)
        .select(col("vec_id"))),
      exactCap = 2000)
      .orderBy(col("qid"), col("rank"))
  }

  val q207Sql: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS qid, e.vec_id AS vec_id,
       |    round(${cosSql("q", "embedding", "e", "embedding")}, 6) AS score
       |  FROM (SELECT * FROM embeddings WHERE vec_id >= 100 AND vec_id < 103) q
       |  JOIN (SELECT * FROM embeddings
       |        WHERE label = 5 AND vec_id % 2 = 0) e ON e.vec_id <> q.vec_id)
       |SELECT qid, CAST(rank AS INT) AS rank, vec_id, score FROM (
       |  SELECT qid, vec_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** q208: q206's IVF-PQ twin — the allowed-id semi-join lands beneath
    * BOTH stages (ADC candidate generation and exact rerank), the same
    * two-stage discipline the delete gate q205 pins for tombstones.
    * Oracle = q121's replay with the assigned side filtered. */
  def q208FilteredIvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivfpq-seeded")
    AnnIndex.ensureIvfPq(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec",
      graft.ops.ProductQuantization.seedCodebook(
        emb, "vec_id", "embedding", m = M, k = CodebookK),
      m = M, loc, s"$d/embeddings.parquet")
    AnnIndex.search(s, loc,
      emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 3, rerank = 100,
      allowed = Some(emb.filter(col("label") >= 2).select(col("vec_id"))),
      exactCap = 50)
      .orderBy(col("qid"), col("rank"))
  }

  /** q202: per-cell posting counts of the persisted IVF index — the
    * cell-balance report an owner watches between rebuilds (frozen
    * centroids drift out of balance as appends accumulate; a fat cell IS
    * a slow probe). The oracle replays the assignment argmax per vector
    * and counts per cell, so the gate hash-pins the INDEX CONTENT itself,
    * not just search results over it. */
  def q202IndexStats(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivf-seeded")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec", loc, s"$d/embeddings.parquet")
    AnnIndex.cellStats(s, loc)
  }

  val q202Sql: String =
    s"""WITH cents AS (
       |  SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec
       |  FROM embeddings WHERE vec_id < 10),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1)
       |SELECT cid, CAST(count(*) AS BIGINT) AS n_vectors
       |FROM assigned GROUP BY cid ORDER BY cid""".stripMargin

  /** q218: the IVF-SQ8 tier of the persisted-index family — per-dimension
    * uint8 codes ([[graft.ops.ScalarQuant]], the q144 int8-audit
    * convention lifted into an index; 4× compression vs PQ's 32×) stored
    * alongside the full vectors, searched by decoding the PROBED cells'
    * codes back to floats and scoring them with the same codegen'd cosine
    * as a flat search (no distance table, no per-candidate explode), then
    * exact-reranking the shortlist. With q197 (IVF-flat) and q198
    * (IVF-PQ) this completes the three compression tiers every production
    * vector index ships. The oracle replays range-training, encoding,
    * decoding, probing, approx scoring, and the rerank end to end. */
  def q218PersistedIvfSq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivfsq-seeded")
    AnnIndex.ensureIvfSq(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec",
      graft.ops.ScalarQuant.trainRanges(emb, "embedding"),
      loc, s"$d/embeddings.parquet")
    CatalogQueries.ensureCatalog(s)
    AnnIndex.registerIndexTable(s, "graft.tpch.emb_ivfsq_seeded_idx", loc)
    val resolved = AnnIndex.resolveIndexLocation(s, "graft.tpch.emb_ivfsq_seeded_idx")
    AnnIndex.searchIvfSq(s, resolved,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 103)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 3, rerank = 50)
      .orderBy(col("qid"), col("rank"))
  }

  /** q219: q200's IVF-SQ8 twin — the odd half is SQ8-encoded against the
    * index's FROZEN ranges at append time (the ranges are trained on the
    * full corpus before sharding, the q201 codebook device), so
    * build+append ≡ one-shot: q218's oracle, hash-checked. */
  def q219IvfSqAppend(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivfsq-append")
    val src = s"$d/embeddings.parquet"
    val fpFull = AnnIndex.sourceFingerprint(src)
    val cells = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
    if (!AnnIndex.readManifest(loc)
        .exists(m => m.indexType == "ivf_sq" && m.fingerprint == fpFull)) {
      AnnIndex.ensureIvfSq(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", cells, "cid", "cvec",
        graft.ops.ScalarQuant.trainRanges(emb, "embedding"),
        loc, src, fingerprintOverride = Some(s"partial:$fpFull"))
      AnnIndex.append(emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", loc, newFingerprint = fpFull)
    }
    AnnIndex.searchIvfSq(s, loc,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 103)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 3, rerank = 50)
      .orderBy(col("qid"), col("rank"))
  }

  /** q220: q204's IVF-SQ8 twin — tombstoned vectors drop out of BOTH the
    * decoded-approximate pass and the exact rerank; the ranges stay
    * frozen (deleting data never retrains quantization, the q205
    * codebook rule). Oracle = q218's replay with the assigned side
    * filtered. */
  def q220IvfSqDelete(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = ensureIvfSqDeleted(s, d)
    AnnIndex.searchIvfSq(s, loc,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 103)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 3, rerank = 50)
      .orderBy(col("qid"), col("rank"))
  }

  /** The q220 index: seeded IVF-SQ8 with `vec_id % 7 == 3` tombstoned —
    * shared by the delete gate and the filtered-search gates so the
    * filtered arms are pinned TOMBSTONE-COMPOSED (the filter semi-join
    * and the tombstone anti-join stack on the same live view). Idempotent
    * across gate orderings: build if stale, delete once per build. */
  private def ensureIvfSqDeleted(s: SparkSession, d: String): String = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivfsq-delete")
    val built = AnnIndex.ensureIvfSq(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec",
      graft.ops.ScalarQuant.trainRanges(emb, "embedding"),
      loc, s"$d/embeddings.parquet")
    if (built || !AnnIndex.hasTombstones(loc))
      AnnIndex.deleteIds(emb.filter(col("vec_id") % 7 === 3), "vec_id", loc)
    loc
  }

  /** q230: FILTERED IVF-SQ8 search, the BROAD arm — completes the
    * filtered-search matrix across all three compression tiers
    * (q206 ivf / q208 ivf_pq / this). The allowed-id semi-join lands
    * beneath BOTH the decoded-approximate pass and the exact rerank, and
    * it is pinned TOMBSTONE-COMPOSED: the index carries the q220
    * deletions, so the oracle's assigned side filters on the metadata
    * predicate AND the deleted ids. */
  def q230FilteredIvfSq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = ensureIvfSqDeleted(s, d)
    AnnIndex.search(s, loc,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 103)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 3, rerank = 50,
      allowed = Some(emb.filter(col("label") >= 2).select(col("vec_id"))),
      exactCap = 50)
      .orderBy(col("qid"), col("rank"))
  }

  /** q231: FILTERED IVF-SQ8 search, the SELECTIVE arm — the predicate
    * passes fewer ids than `exactCap`, so the engine bypasses
    * quantization entirely and ranks the allowed full vectors exactly
    * (recall 1.0 by construction, and exact where decoded scores are
    * lossy). TRUE independent brute-force oracle (the q207 device), with
    * the q220 tombstones composed into the allowed corpus. */
  def q231FilteredIvfSqExact(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = ensureIvfSqDeleted(s, d)
    AnnIndex.search(s, loc,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 103)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 3, rerank = 50,
      allowed = Some(emb.filter(col("label") === 5 && col("vec_id") % 2 === 0)
        .select(col("vec_id"))),
      exactCap = 2000)
      .orderBy(col("qid"), col("rank"))
  }

  val q231Sql: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS qid, e.vec_id AS vec_id,
       |    round(${cosSql("q", "embedding", "e", "embedding")}, 6) AS score
       |  FROM (SELECT * FROM embeddings WHERE vec_id >= 100 AND vec_id < 103) q
       |  JOIN (SELECT * FROM embeddings
       |        WHERE label = 5 AND vec_id % 2 = 0
       |          AND vec_id % 7 <> 3) e ON e.vec_id <> q.vec_id)
       |SELECT qid, CAST(rank AS INT) AS rank, vec_id, score FROM (
       |  SELECT qid, vec_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** q233: vector search reached through PURE SQL — the
    * `graft_ann_search` TVF ([[graft.functions.GraftExtensions]]): the
    * query vector rides the SQL text as an array literal and the TVF
    * splices the IDENTICAL probe→pruned-scan→top-k plan the Scala API
    * builds. The synthetic qid (-1) never collides with a corpus id, so
    * the self-exclusion keeps every vector eligible — the query vector's
    * own source row legitimately ranks first at similarity 1.0, and the
    * oracle (a replay WITHOUT self-exclusion) pins exactly that. */
  def q233SqlAnnSearch(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivf-seeded")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec", loc, s"$d/embeddings.parquet")
    val qv = emb.filter(col("vec_id") === 100)
      .select(col("embedding")).head().getSeq[Float](0)
    val vecLit = qv.map(v => s"CAST('$v' AS FLOAT)")
      .mkString("array(", ", ", ")")
    s.sql(
      s"""SELECT rank, vec_id, score
         |FROM graft_ann_search('$loc', $vecLit, 10, 3)
         |ORDER BY rank""".stripMargin)
  }

  val q233Sql: String =
    s"""WITH cents AS (
       |  SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec
       |  FROM embeddings WHERE vec_id < 10),
       |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 100),
       |probes AS (
       |  SELECT cid FROM (
       |    SELECT c.cid, row_number() OVER (ORDER BY
       |      ${cosSql("q", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM qv q CROSS JOIN cents c)
       |  WHERE rn <= 3),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |scored AS (
       |  SELECT e.vec_id,
       |    round(${cosSql("q", "embedding", "e", "embedding")}, 6) AS score
       |  FROM assigned a
       |  JOIN probes USING (cid)
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  CROSS JOIN qv q)
       |SELECT CAST(rank AS INT) AS rank, vec_id, score FROM (
       |  SELECT vec_id, score,
       |    row_number() OVER (ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY rank""".stripMargin

  /** q239: `ORDER BY cosine(embedding, <literal>) DESC LIMIT 10` served
    * from the persisted IVF index — the vector-database promise reached
    * from a PLAIN top-k query: no index named, no search API called; the
    * [[graft.plans.IndexRoute.registerAnnApprox]] route (an EXPLICIT
    * consent to the IVF approximation — probe-bounded recall, 6-dp
    * scores, vec_id ties) lets the optimizer splice the probe →
    * partition-pruned-postings → top-k plan where a corpus-wide cosine
    * TakeOrdered stood. The gate REQUIRES the rewrite fired and the
    * corpus was not opened; the oracle replays the INDEX's approximation
    * (the consented contract), not the exact scan. */
  /** q248: FILTERED vector search from PLAIN SQL — `WHERE label = 5 AND
    * vec_id % 2 = 0 ORDER BY cosine DESC LIMIT 10` over the approximate
    * route: the rewrite splices the ORIGINAL filter subtree as the
    * allowed-id set and [[graft.ops.AnnIndex.search]]'s
    * measured-cardinality split picks the arm — selective here, so the
    * EXACT path runs and the oracle is q207's TRUE independent filtered
    * brute force (single query vector, no self-exclusion: the route's
    * qid is the non-colliding -1). */
  def q248FilteredAnnSql(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivf-seeded")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec", loc, s"$d/embeddings.parquet")
    val qv = emb.filter(col("vec_id") === 100)
      .select(col("embedding")).head().getSeq[Float](0)
    try {
      graft.plans.IndexRoute.registerAnnApprox(
        s"$d/embeddings.parquet", "embedding", "vec_id", loc, nprobe = 3)
      val df = emb
        .filter(col("label") === 5 && col("vec_id") % 2 === 0)
        .orderBy(Similarity.cosine(col("embedding"), typedLit(qv)).desc)
        .limit(10)
        .select(col("vec_id"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains(new java.io.File(loc).getName),
        s"q248: the filtered ANN rewrite did not fire:\n$plan")
      val rows = df.collect()
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.toSeq.asJava, df.schema)
    } finally {
      graft.plans.IndexRoute.clear()
    }
  }

  val q248Sql: String =
    s"""WITH scored AS (
       |  SELECT e.vec_id AS vec_id,
       |    round(${cosSql("q", "embedding", "e", "embedding")}, 6) AS score
       |  FROM (SELECT * FROM embeddings WHERE vec_id = 100) q
       |  JOIN (SELECT * FROM embeddings
       |        WHERE label = 5 AND vec_id % 2 = 0) e ON true)
       |SELECT vec_id FROM (
       |  SELECT vec_id,
       |    row_number() OVER (ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY vec_id""".stripMargin

  def q239AnnTopkRewrite(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivf-seeded")
    AnnIndex.ensureIvf(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec", loc, s"$d/embeddings.parquet")
    val qv = emb.filter(col("vec_id") === 100)
      .select(col("embedding")).head().getSeq[Float](0)
    try {
      graft.plans.IndexRoute.registerAnnApprox(
        s"$d/embeddings.parquet", "embedding", "vec_id", loc, nprobe = 3)
      val df = emb
        .orderBy(Similarity.cosine(col("embedding"), typedLit(qv)).desc)
        .limit(10)
        .select(col("vec_id"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains(new java.io.File(loc).getName),
        s"q239: the ANN top-k rewrite did not fire:\n$plan")
      require(!plan.contains("embeddings.parquet"),
        s"q239: the corpus was still scanned:\n$plan")
      val rows = df.collect()
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.toSeq.asJava, df.schema)
    } finally {
      graft.plans.IndexRoute.clear()
    }
  }

  val q239Sql: String =
    s"""WITH cents AS (
       |  SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec
       |  FROM embeddings WHERE vec_id < 10),
       |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 100),
       |probes AS (
       |  SELECT cid FROM (
       |    SELECT c.cid, row_number() OVER (ORDER BY
       |      ${cosSql("q", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM qv q CROSS JOIN cents c)
       |  WHERE rn <= 3),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |scored AS (
       |  SELECT e.vec_id,
       |    round(${cosSql("q", "embedding", "e", "embedding")}, 6) AS score
       |  FROM assigned a
       |  JOIN probes USING (cid)
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  CROSS JOIN qv q)
       |SELECT vec_id FROM (
       |  SELECT vec_id, score,
       |    row_number() OVER (ORDER BY score DESC, vec_id) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY vec_id""".stripMargin

  /** q229: the FULL production SQ8 build persisted — k-means-TRAINED
    * centroids (the q42/q203 2-round Lloyd's) + corpus-trained ranges
    * feed the IVF-SQ8 build, and the search runs over the materialized
    * codes. With q218 (seeded twin) and q219 (append) this closes the
    * {seeded, trained} × {one-shot, incremental} matrix for the SQ tier,
    * as q197/q200/q203 did for IVF-flat. The oracle replays the TRAINING
    * (seeding, both assignment rounds, decimal means, float truncation)
    * and then the same encode/decode/probe/score/rerank device as q218. */
  def q229TrainedIvfSq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val loc = annIndexLocation(d, "ivfsq-trained")
    AnnIndex.ensureIvfSq(emb, "vec_id", "embedding",
      trainedCentroids(s, emb, d), "cid", "cvec",
      graft.ops.ScalarQuant.trainRanges(emb, "embedding"),
      loc, s"$d/embeddings.parquet")
    AnnIndex.searchIvfSq(s, loc,
      emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 10, nprobe = 4, rerank = 50)
      .orderBy(col("qid"), col("rank"))
  }

  /** q218's oracle with the q204/q117 optional assigned-side predicate —
    * the full SQ8 replay: per-dimension lo/hi over the corpus, the
    * ⌊·+0.5⌋-clamped encode, float reconstruction, seeded-cell
    * assignment/probing, approximate cosine over the decoded lists,
    * top-`rerank` shortlist, exact rerank. Shared by q218/q219 (`""`)
    * and q220 (deleted ids filtered); the ranges CTE always sees the
    * FULL corpus — the model is frozen at build. */
  private def ivfSqSeededSql(assignedWhere: String): String =
    ivfSqSql(
      """cents AS (
        |  SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec
        |  FROM embeddings WHERE vec_id < 10)""".stripMargin,
      "cents", "q.vec_id >= 100 AND q.vec_id < 103", nprobe = 3,
      assignedWhere)

  /** The general SQ8 replay, parameterized over the centroid source so
    * the seeded gates (q218–q220) and the TRAINED gate (q229 — centroids
    * from the unrolled 2-round Lloyd's, [[TrainedCentroidCtes]]) splice
    * the SAME encode/decode/probe/score/rerank SQL and can never fork on
    * the quantization semantics. */
  private def ivfSqSql(centCtes: String, centRel: String,
      queryWhere: String, nprobe: Int, assignedWhere: String): String =
    s"""WITH $centCtes,
       |ranges AS (
       |  SELECT CAST(i - 1 AS INT) AS dim,
       |    min(CAST(embedding[i] AS DOUBLE)) AS lo,
       |    max(CAST(embedding[i] AS DOUBLE)) AS hi
       |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
       |  GROUP BY 1),
       |scales AS (SELECT dim, lo, (hi - lo) / 255.0 AS sc FROM ranges),
       |decel AS (
       |  SELECT e.vec_id, s.dim,
       |    CAST(CASE WHEN s.sc = 0 THEN s.lo
       |      ELSE s.lo + CAST(least(greatest(floor(
       |        (CAST(e.embedding[s.dim + 1] AS DOUBLE) - s.lo) / s.sc + 0.5),
       |        0.0), 255.0) AS INT) * s.sc END AS REAL) AS v
       |  FROM embeddings e JOIN scales s ON s.dim < len(e.embedding)),
       |decv AS (
       |  SELECT vec_id, list(v ORDER BY dim) AS dvec FROM decel GROUP BY 1),
       |sq_assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${cosSql("e", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM embeddings e CROSS JOIN $centRel c$assignedWhere)
       |  WHERE rn = 1),
       |sq_probes AS (
       |  SELECT qid, qvec, cid FROM (
       |    SELECT q.vec_id AS qid, q.embedding AS qvec, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosSql("q", "embedding", "c", "cvec")} DESC, c.cid) AS rn
       |    FROM embeddings q CROSS JOIN $centRel c
       |    WHERE $queryWhere)
       |  WHERE rn <= $nprobe),
       |approx AS (
       |  SELECT p.qid, a.vec_id,
       |    ${cosSql("p", "qvec", "dv", "dvec")} AS ap
       |  FROM sq_assigned a JOIN sq_probes p USING (cid)
       |  JOIN decv dv ON dv.vec_id = a.vec_id
       |  WHERE a.vec_id <> p.qid),
       |cands AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY ap DESC, vec_id) AS rn
       |    FROM approx)
       |  WHERE rn <= 50),
       |rr AS (
       |  SELECT c.qid, e.vec_id,
       |    round(${cosSql("q", "embedding", "e", "embedding")}, 6) AS score
       |  FROM cands c JOIN embeddings q ON q.vec_id = c.qid
       |  JOIN embeddings e ON e.vec_id = c.vec_id)
       |SELECT qid, CAST(rank AS INT) AS rank, vec_id, score FROM (
       |  SELECT qid, vec_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
       |  FROM rr)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q197_persisted_ivf" -> (q197PersistedIvf _),
    "q198_persisted_ivfpq" -> (q198PersistedIvfPq _),
    "q218_persisted_ivfsq" -> (q218PersistedIvfSq _),
    "q219_ivfsq_append" -> (q219IvfSqAppend _),
    "q220_ivfsq_delete" -> (q220IvfSqDelete _),
    "q229_trained_ivfsq" -> (q229TrainedIvfSq _),
    "q200_index_append" -> (q200IndexAppend _),
    "q201_index_append_pq" -> (q201IndexAppendPq _),
    "q202_index_stats" -> (q202IndexStats _),
    "q203_persisted_trained_ivf" -> (q203PersistedTrainedIvf _),
    "q204_index_delete" -> (q204IndexDelete _),
    "q205_index_delete_pq" -> (q205IndexDeletePq _),
    "q206_filtered_ivf" -> (q206FilteredIvf _),
    "q207_filtered_exact" -> (q207FilteredExact _),
    "q208_filtered_ivfpq" -> (q208FilteredIvfPq _),
    "q230_filtered_ivfsq" -> (q230FilteredIvfSq _),
    "q231_filtered_ivfsq_exact" -> (q231FilteredIvfSqExact _),
    "q233_sql_ann_search" -> (q233SqlAnnSearch _),
    "q239_ann_topk_rewrite" -> (q239AnnTopkRewrite _),
    "q248_filtered_ann_sql" -> (q248FilteredAnnSql _),
    "q186_label_silhouette" -> (q186LabelSilhouette _),
    "q178_srp_recall" -> (q178SrpRecall _),
    "q174_geometric_median" -> (q174GeometricMedian _),
    "q170_ann_recall" -> (q170AnnRecall _),
    "q163_embed_decontam" -> (q163EmbedDecontam _),
    "q144_int8_audit" -> (q144Int8Audit _),
    "q117_ivf_seeded" -> (q117IvfSeeded _),
    "q119_pq_seeded" -> (q119PqSeeded _),
    "q121_ivfpq_seeded" -> (q121IvfPqSeeded _),
    "q108_ivfpq" -> (q108IvfPq _),
    "q90_int8_quant" -> (q90Int8Quant _),
    "q93_semdedup" -> (q93SemDedup _),
    "q184_semdedup_cells" -> (q184SemdedupCells _),
    "q94_matryoshka" -> (q94Matryoshka _),
    "q147_maxsim" -> (q147MaxSim _),
    "q148_embedding_drift" -> (q148EmbeddingDrift _),
    "q40_cosine_topk" -> (q40CosineTopK _),
    "q48_vector_norms" -> (q48VectorNorms _),
    "q41_cosine_neardup" -> (q41CosineNearDup _),
    "q127_srp_neardup" -> (q127SrpNearDup _),
    "q131_jl_projection" -> (q131JlProjection _),
    "q42_ivf_topk" -> (q42IvfTopK _),
    "q43_pq_topk" -> (q43PqTopK _),
    "q57_label_centroids" -> (q57LabelCentroids _))

  val oracles: Map[String, String] = Map(
    // persisted-index searches replay the SAME oracle as their in-query
    // twins: the gate is exactly "persisted ≡ in-query", hash-checked
    "q197_persisted_ivf" -> q117Sql,
    "q198_persisted_ivfpq" -> q121Sql,
    // the SQ8 tier: q218/q219 replay the full encode/decode/search; q220
    // is the same device with the deleted ids filtered from the assigned
    // side (ranges stay corpus-global — frozen at build)
    "q218_persisted_ivfsq" -> ivfSqSeededSql(""),
    "q219_ivfsq_append" -> ivfSqSeededSql(""),
    "q220_ivfsq_delete" -> ivfSqSeededSql(" WHERE e.vec_id % 7 <> 3"),
    // the trained tier: the oracle replays the 2-round Lloyd's training
    // (the q42/q203 device) and then the SAME SQ8 encode/decode replay
    "q229_trained_ivfsq" -> ivfSqSql(TrainedCentroidCtes, "kc2",
      "q.vec_id < 5", nprobe = 4, assignedWhere = ""),
    "q200_index_append" -> q117Sql,
    "q201_index_append_pq" -> q121Sql,
    "q202_index_stats" -> q202Sql,
    "q203_persisted_trained_ivf" -> q42Sql,
    // the delete gates pin delete ≡ filter: the SAME replay as the
    // build/search twins, with only the assigned side filtered
    "q204_index_delete" -> ivfSeededSql(" WHERE e.vec_id % 7 <> 3"),
    "q205_index_delete_pq" -> ivfPqSeededSql(" WHERE e.vec_id % 7 <> 3"),
    // filtered search, broad arm: the same replay with the assigned side
    // restricted to the metadata predicate; the selective arm (q207) gets
    // a TRUE brute-force oracle instead — the exact path promises recall 1
    "q206_filtered_ivf" -> ivfSeededSql(" WHERE e.label >= 2"),
    "q207_filtered_exact" -> q207Sql,
    "q208_filtered_ivfpq" -> ivfPqSeededSql(" WHERE e.label >= 2"),
    // SQ8 filtered arms, TOMBSTONE-COMPOSED over the q220 index: the
    // broad arm replays q218 with the assigned side restricted to the
    // metadata predicate AND the deleted ids; the selective arm gets the
    // q207-style TRUE brute-force oracle over the same composed corpus
    "q230_filtered_ivfsq" ->
      ivfSqSeededSql(" WHERE e.vec_id % 7 <> 3 AND e.label >= 2"),
    "q231_filtered_ivfsq_exact" -> q231Sql,
    // the SQL TVF surface: single-query replay WITHOUT self-exclusion
    // (the external query vector has no "self" — its source row ranks
    // first at 1.0, and the hash pins it)
    "q233_sql_ann_search" -> q233Sql,
    // the ANN top-k optimizer route: the oracle replays the INDEX's
    // approximation — the contract registerAnnApprox consents to
    "q239_ann_topk_rewrite" -> q239Sql,
    "q248_filtered_ann_sql" -> q248Sql,
    "q186_label_silhouette" -> q186Sql,
    "q178_srp_recall" -> q178Sql,
    "q174_geometric_median" -> q174Sql,
    "q170_ann_recall" -> q170Sql,
    "q163_embed_decontam" -> q163Sql,
    "q144_int8_audit" -> q144Sql,
    "q117_ivf_seeded" -> q117Sql,
    "q119_pq_seeded" -> q119Sql,
    "q121_ivfpq_seeded" -> q121Sql,
    "q90_int8_quant" -> q90Sql,
    "q93_semdedup" -> q93Sql,
    "q184_semdedup_cells" -> q184Sql,
    "q94_matryoshka" -> q94Sql,
    "q147_maxsim" -> q147Sql,
    "q148_embedding_drift" -> q148Sql,
    "q40_cosine_topk" -> q40Sql,
    "q48_vector_norms" -> q48Sql,
    "q41_cosine_neardup" -> q41Sql,
    "q127_srp_neardup" -> q127Sql,
    "q131_jl_projection" -> q131Sql,
    "q42_ivf_topk" -> q42Sql,
    // q119PqSeeded delegates to q43PqTopK — one computation, one oracle
    "q43_pq_topk" -> q119Sql,
    "q108_ivfpq" -> q108Sql,
    "q57_label_centroids" -> q57Sql)
}
