package graftbench

import java.io.File
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's input data, generated once per checkout and then only
  * read. A fixed data seed makes the base tables; `graft.tools.Scale10xGen`
  * scales them ten-fold; a `tags` table (doc id -> label array) is derived
  * from the scaled documents for the label-list index. The workload seed
  * never touches this data: it drives the request streams, query literals
  * and query vectors.
  *
  * Layout under the fixture root:
  *   base/<table>.parquet   — the sf0.01-shaped tables Scale10xGen scales
  *   x10/<table>.parquet    — Scale10xGen output + tags (index_serving)
  *   catdata/d0..d3         — parquet behind catalog_ops' tables with data
  *   manifest.json          — row and byte counts per table
  */
object Fixture {
  val DataSeed = 20240101L
  val Vocab: IndexedSeq[String] = IndexedSeq("join", "hash", "row", "batch", "scan",
    "column", "customer", "filter", "small", "slow", "merge", "order", "vector",
    "line", "table", "data", "agg", "value", "key", "stream", "window", "a",
    "spark", "part", "group", "big", "sort", "query", "fast", "the")
  val EventTypes: IndexedSeq[String] = IndexedSeq("click", "signup", "error", "view", "purchase")
  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "en", "fr", "zh", "de", "es")
  val Dim = 64
  val Labels = 48

  final case class Sizes(customers: Int, suppliers: Int, parts: Int, orders: Int,
      events: Int, documents: Int, embeddings: Int)
  val BaseSizes: Sizes = Sizes(customers = 1500, suppliers = 100, parts = 2000,
    orders = 15000, events = 10000, documents = 500, embeddings = 500)

  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0

  /** One document's words: a seeded walk over the vocabulary. */
  def docText(rnd: java.util.SplittableRandom, nWords: Int): String =
    Seq.fill(nWords)(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")

  /** A unit vector near one of ten label centres. */
  def embedding(rnd: java.util.SplittableRandom, centres: Array[Array[Double]],
      label: Int): Array[Float] = {
    val v = Array.tabulate(Dim)(i => centres(label)(i) + 0.6 * gauss(rnd))
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def gauss(rnd: java.util.SplittableRandom): Double = {
    // Box-Muller on the seeded stream, so vectors are reproducible
    val u1 = math.max(rnd.nextDouble(), 1e-12)
    val u2 = rnd.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  def centres(): Array[Array[Double]] = {
    val rnd = new java.util.SplittableRandom(DataSeed + 7)
    Array.fill(10)(Array.fill(Dim)(gauss(rnd)))
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  def generateBase(spark: SparkSession, dir: String, s: Sizes): Unit = {
    val rnd = new java.util.SplittableRandom(DataSeed)
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(spark, regions.zipWithIndex.map { case (n, i) => Row(i, n) },
      StructType.fromDDL("r_regionkey INT, r_name STRING"), s"$dir/region.parquet")
    write(spark, (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
      StructType.fromDDL("n_nationkey INT, n_name STRING, n_regionkey INT"),
      s"$dir/nation.parquet")
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write(spark, (0 until s.customers).map(i => Row(i.toLong, f"Customer#$i%09d",
        rnd.nextInt(25), r2(rnd.nextDouble() * 10000 - 1000), segs(rnd.nextInt(5)))),
      StructType.fromDDL("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
        "c_acctbal DOUBLE, c_mktsegment STRING"), s"$dir/customer.parquet")
    write(spark, (0 until s.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
        rnd.nextInt(25), r2(rnd.nextDouble() * 10000))),
      StructType.fromDDL("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"),
      s"$dir/supplier.parquet")
    val adj = Seq("small", "red", "big", "green", "shiny")
    val noun = Seq("ring", "widget", "bolt", "gear", "plate")
    val types = Seq("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM")
    write(spark, (0 until s.parts).map(i => Row(i.toLong,
        s"${adj(rnd.nextInt(5))} ${noun(rnd.nextInt(5))}", s"Brand#${rnd.nextInt(25)}",
        types(rnd.nextInt(5)), 1 + rnd.nextInt(50), r2(900 + (i % 1000) * 0.1))),
      StructType.fromDDL("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
        "p_size INT, p_retailprice DOUBLE"), s"$dir/part.parquet")
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (0 until s.orders).map { i =>
      Row(i.toLong, rnd.nextInt(s.customers).toLong, Seq("F", "O", "P")(rnd.nextInt(3)),
        r2(1000 + rnd.nextDouble() * 500000), day0.plusDays(rnd.nextInt(2400)),
        prio(rnd.nextInt(5)))
    }
    write(spark, orders, StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, " +
      "o_orderpriority STRING"), s"$dir/orders.parquet")
    val lines = orders.flatMap { o =>
      val ok = o.getLong(0)
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        val q = (1 + rnd.nextInt(50)).toDouble
        Row(ok, rnd.nextInt(s.parts).toLong, rnd.nextInt(s.suppliers).toLong, ln, q,
          r2(q * (900 + rnd.nextInt(2000))), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)),
          o.getAs[LocalDateTime](4).plusDays(1 + rnd.nextInt(120)))
      }
    }
    write(spark, lines, StructType.fromDDL("l_orderkey BIGINT, l_partkey BIGINT, " +
      "l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, " +
      "l_shipdate TIMESTAMP_NTZ"), s"$dir/lineitem.parquet")
    val ts0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val events = (0 until s.events).map { i =>
      Row(i.toLong, ts0.plusNanos((i.toLong * 259000L + rnd.nextInt(250000)) * 1000L),
        rnd.nextInt(150).toLong, EventTypes(rnd.nextInt(EventTypes.size)),
        r2(0.01 + rnd.nextDouble() * rnd.nextDouble() * 490), s"""{"k": ${rnd.nextInt(100)}}""")
    }
    write(spark, events, StructType.fromDDL("event_id BIGINT, ts TIMESTAMP_NTZ, " +
      "user_id BIGINT, event_type STRING, value DOUBLE, props STRING"), s"$dir/events.parquet")
    // documents: random walks over the vocabulary, with one in twenty a
    // near-copy of an earlier document so the dedup operators find pairs
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val docs = (0 until s.documents).map { i =>
      val t =
        if (i > 10 && rnd.nextInt(20) == 0) {
          val w = texts(rnd.nextInt(texts.size)).split(" ")
          w(rnd.nextInt(w.length)) = "dup"
          w.mkString(" ")
        } else docText(rnd, 8 + rnd.nextInt(80))
      texts += t
      Row(i.toLong, t, Langs(rnd.nextInt(Langs.size)), s"src${i % 20}", t.length.toLong)
    }
    write(spark, docs, StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, " +
      "source STRING, n_chars BIGINT"), s"$dir/documents.parquet")
    val cs = centres()
    val embs = (0 until s.embeddings).map { i =>
      val label = rnd.nextInt(10)
      Row(i.toLong, embedding(rnd, cs, label).toSeq, label)
    }
    write(spark, embs, StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"),
      s"$dir/embeddings.parquet")
  }

  /** Label arrays for the label-list index: 1–3 labels per document, drawn
    * from the document id alone. */
  def labelsOf(docId: Long): Seq[String] = {
    val rnd = new java.util.SplittableRandom(docId * 7919L + 13L)
    Seq.fill(1 + rnd.nextInt(3))(f"l${rnd.nextInt(Labels)}%02d").distinct.sorted
  }

  def tagsOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    val labels = udf((id: Long) => labelsOf(id))
    docs.select(col("doc_id"), labels(col("doc_id")).as("labels"))
  }

  def tableStats(spark: SparkSession, dir: String): Seq[(String, Long, Long)] =
    Option(new File(dir).listFiles).getOrElse(Array.empty[File]).toSeq
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).map { f =>
        val bytes = Option(f.listFiles).getOrElse(Array(f)).filter(_.getName.endsWith(".parquet"))
          .map(_.length).sum
        (f.getName.stripSuffix(".parquet"), spark.read.parquet(f.getPath).count(), bytes)
      }

  /** Builds the fixture at `root` (a fresh directory) and returns the
    * manifest JSON. */
  def build(spark: SparkSession, root: String): String = {
    val t0 = System.nanoTime()
    generateBase(spark, s"$root/base", BaseSizes)
    graft.tools.Scale10xGen.generate(spark, s"$root/base", s"$root/x10", 10)
    Seq("base", "x10").foreach { d =>
      tagsOf(spark, spark.read.parquet(s"$root/$d/documents.parquet"))
        .coalesce(4).write.mode("overwrite").parquet(s"$root/$d/tags.parquet")
    }
    (0 until 4).foreach { d =>
      spark.range(100).selectExpr("id", "concat('l', id % 7) AS label", "id * 0.5 AS score")
        .coalesce(1).write.parquet(s"$root/catdata/d$d")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    def tables(d: String): String = tableStats(spark, d).map { case (n, rows, bytes) =>
      s""""$n":{"rows":$rows,"bytes":$bytes}"""
    }.mkString("{", ",", "}")
    s"""{"data_seed":$DataSeed,"generate_s":${Json.num(secs)},""" +
      s""""base":${tables(s"$root/base")},"x10":${tables(s"$root/x10")}}"""
  }
}
