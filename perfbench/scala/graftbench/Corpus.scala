package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** index_serving's source rows, read once with plain unfiltered scans
  * (no index route can serve a scan without a filter) and held in driver
  * memory. Expected answers are computed from these rows in plain Scala,
  * so they share no code path with the index and route layers. */
final class Corpus {
  final case class Event(id: Long, etype: String, value: Double, user: Long)
  final case class Doc(id: Long, source: String, text: String, tokens: Array[String])
  val events = mutable.ArrayBuffer.empty[Event]
  val docs = mutable.ArrayBuffer.empty[Doc]
  val tags = mutable.LinkedHashMap.empty[Long, Seq[String]]
  val vecs = mutable.LinkedHashMap.empty[Long, Array[Float]]

  def load(spark: SparkSession, set: IndexSet): Corpus = {
    set.events.select("event_id", "event_type", "value", "user_id").collect().foreach { r =>
      events += Event(r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))
    }
    set.docs.select("doc_id", "source", "text").collect().foreach { r =>
      docs += Doc(r.getLong(0), r.getString(1), r.getString(2), Corpus.tokens(r.getString(2)))
    }
    set.tags.select("doc_id", "labels").collect().foreach { r =>
      tags(r.getLong(0)) = r.getSeq[String](1)
    }
    set.emb.select("vec_id", "embedding").collect().foreach { r =>
      vecs(r.getLong(0)) = r.getSeq[Float](1).toArray
    }
    this
  }

  /** Exact top-k by cosine (ties by id), the brute-force answer. */
  def exactTopK(q: Array[Float], k: Int): Seq[(Long, Double)] =
    vecs.iterator.map { case (id, v) => (id, Corpus.cosine(q, v)) }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(k)

  /** BM25 over the documents, with the inverted index's tokenizer
    * (lower-cased, trimmed, split on whitespace) and parameters. */
  def bm25(terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): Map[Long, Double] = {
    val n = docs.size.toDouble
    val avgdl = docs.map(_.tokens.length.toLong).sum.toDouble / n
    val qs = terms.distinct
    val df = qs.map(t => t -> docs.count(_.tokens.contains(t)).toDouble).toMap
    docs.flatMap { d =>
      val dl = d.tokens.length.toDouble
      val parts = qs.flatMap { t =>
        val tf = d.tokens.count(_ == t).toDouble
        if (tf == 0) None
        else {
          val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
          Some(idf * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))))
        }
      }
      if (parts.isEmpty) None else Some(d.id -> parts.sum)
    }.toMap
  }

  /** Documents containing the exact token sequence, with the number of
    * (possibly overlapping) occurrences. */
  def phrase(words: Seq[String]): Map[Long, Long] = {
    val w = words.map(_.toLowerCase).toArray
    docs.iterator.flatMap { d =>
      val hits = d.tokens.indices.count(i => i + w.length <= d.tokens.length &&
        w.indices.forall(j => d.tokens(i + j) == w(j)))
      if (hits > 0) Some(d.id -> hits.toLong) else None
    }.toMap
  }
}

object Corpus {
  def tokens(text: String): Array[String] = text.trim.toLowerCase.split("\\s+")

  /** Cosine in double precision with the same left fold as the engine. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
}
