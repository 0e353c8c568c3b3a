package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AnnIndex, NgramIndex, ProductQuantization, ScalarIndex, ScalarQuant, TextIndex, ZorderIndex}

/** Every index family over one copy of the sources (`src`), persisted
  * under `idx`, plus their catalog registration. Families:
  * btree (events.value), bitmap (events.event_type), zorder
  * (events.value × events.user_id), string btree (documents.source),
  * label-list (tags.labels), ngram and inverted (documents.text), and IVF,
  * IVF-PQ and IVF-SQ8 (embeddings.embedding). */
final class IndexSet(spark: SparkSession, val src: String, val idx: String) {
  val evPath = s"$src/events.parquet"
  val docPath = s"$src/documents.parquet"
  val embPath = s"$src/embeddings.parquet"
  val tagPath = s"$src/tags.parquet"
  def loc(family: String): String = s"$idx/$family"

  def events: DataFrame = spark.read.parquet(evPath)
  def docs: DataFrame = spark.read.parquet(docPath)
  def emb: DataFrame = spark.read.parquet(embPath)
  def tags: DataFrame = spark.read.parquet(tagPath)

  val Nprobe = 4
  val PqM = 8

  /** Builds every family; returns (family, milliseconds) in build order. */
  def build(): Seq[(String, Double)] = {
    def t(family: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime(); f; family -> (System.nanoTime() - t0) / 1e6
    }
    val ev = events
    val d = docs
    val e = emb
    // two cells per replica of the scaled corpus: ids 0,1 and +1e6 steps
    val cells = e.filter(col("vec_id") % 1000000L < 2)
      .select(((col("vec_id") / 1000000L).cast("int") * 2 + (col("vec_id") % 1000000L).cast("int"))
        .as("cid"), col("embedding").as("cvec"))
    Seq(
      t("btree")(ScalarIndex.ensureBtree(ev, "event_id", "value", loc("btree"), evPath)),
      t("bitmap")(ScalarIndex.ensureBitmap(ev, "event_id", "event_type", loc("bitmap"), evPath)),
      t("zorder")(ZorderIndex.ensureZorder(ev, "event_id", "value", "user_id", loc("zorder"), evPath)),
      t("btree_str")(ScalarIndex.ensureBtree(d, "doc_id", "source", loc("btree_str"), docPath)),
      t("label_list")(ScalarIndex.ensureLabelList(tags, "doc_id", "labels", loc("label_list"), tagPath)),
      t("ngram")(NgramIndex.ensureNgram(d, "doc_id", "text", loc("ngram"), docPath)),
      t("inverted")(TextIndex.ensureInverted(d, "doc_id", "text", loc("inverted"), docPath)),
      t("ivf")(AnnIndex.ensureIvf(e, "vec_id", "embedding", cells, "cid", "cvec", loc("ivf"), embPath)),
      t("ivf_pq")(AnnIndex.ensureIvfPq(e, "vec_id", "embedding", cells, "cid", "cvec",
        ProductQuantization.seedCodebook(e, "vec_id", "embedding", m = PqM, k = 16), PqM,
        loc("ivf_pq"), embPath)),
      t("ivf_sq")(AnnIndex.ensureIvfSq(e, "vec_id", "embedding", cells, "cid", "cvec",
        ScalarQuant.trainRanges(e, "embedding"), loc("ivf_sq"), embPath)))
  }

  /** Registers the sources and every index as `graft.<ns>.*` catalog
    * tables, then lets the route layer discover the index tables. */
  def register(ns: String): Int = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    Seq("events" -> evPath, "documents" -> docPath, "tags" -> tagPath, "embeddings" -> embPath)
      .foreach { case (t, p) =>
        spark.sql(s"DROP TABLE IF EXISTS graft.$ns.$t")
        spark.sql(s"CREATE TABLE graft.$ns.$t LOCATION '$p'")
      }
    IndexSet.Families.foreach(f => AnnIndex.registerIndexTable(spark, s"graft.$ns.idx_$f", loc(f)))
    graft.plans.IndexRoute.discoverFromCatalogs(spark)
  }

  /** Bytes and file count under the index root. */
  def footprint(): (Long, Long) = IndexSet.du(new java.io.File(idx))
}

object IndexSet {
  val Families: Seq[String] = Seq("btree", "bitmap", "zorder", "btree_str", "label_list",
    "ngram", "inverted", "ivf", "ivf_pq", "ivf_sq")

  def du(f: java.io.File): (Long, Long) =
    if (f.isFile) (f.length, 1L)
    else Option(f.listFiles).getOrElse(Array.empty[java.io.File]).map(du)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val it = java.nio.file.Files.walk(from)
    try it.forEach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(target)
      else java.nio.file.Files.copy(p, target)
    } finally it.close()
  }
}
