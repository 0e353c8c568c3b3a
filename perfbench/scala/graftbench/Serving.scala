package graftbench

import java.nio.file.Paths

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AnnIndex, TextIndex}

/** The index_serving request stream. Literals are drawn from the seed and
  * the source rows (so every request has answers); about 60% are SQL over
  * catalog tables that the route layer should serve from an index, 25% ANN
  * top-10 searches and 15% BM25 or phrase searches. */
object ServingGen {
  sealed trait Req { def kind: String; def routable: Boolean = false }
  final case class Range(lo: Double, hi: Double) extends Req { def kind = "sql_range"; override def routable = true }
  final case class InCount(types: Seq[String]) extends Req { def kind = "sql_in_count"; override def routable = true }
  final case class Prefix(p: String) extends Req { def kind = "sql_prefix"; override def routable = true }
  final case class HasLabel(l: String) extends Req { def kind = "sql_array_contains"; override def routable = true }
  final case class Contains(needle: String) extends Req { def kind = "sql_contains"; override def routable = true }
  final case class Box(xlo: Double, xhi: Double, ylo: Long, yhi: Long) extends Req {
    def kind = "sql_box"; override def routable = true
  }
  final case class Ann(tier: String, q: Seq[Float]) extends Req { def kind = s"ann_$tier" }
  final case class Bm25(terms: Seq[String]) extends Req { def kind = "bm25" }
  final case class Phrase(words: Seq[String]) extends Req { def kind = "phrase" }

  /** One cycle of request kinds: 7 SQL (each routable shape, range
    * twice), 3 ANN (one per tier) and 2 text searches, interleaved. The
    * timed region runs whole cycles, so every run measures the same mix. */
  val Cycle: IndexedSeq[String] = IndexedSeq("range", "ivf", "in", "prefix", "bm25", "label",
    "ivf_pq", "contains", "phrase", "box", "ivf_sq", "range")

  /** The timed region runs whole cycles until both its deadline has
    * passed and it holds this many requests, so the reported tail (p70)
    * has at least ten samples beyond it however slow the requests are. */
  val MinRequests = 36
  val TailPct = 70.0

  def stream(c: Corpus, seed: Long): Iterator[Req] = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + 1)
    val values = c.events.map(_.value).sorted.toIndexedSeq
    val users = c.events.map(_.user).distinct.sorted.toIndexedSeq
    val docs = c.docs.toIndexedSeq
    val vecs = c.vecs.values.toIndexedSeq
    def pair(): Seq[String] = {
      val t = docs(rnd.nextInt(docs.size)).tokens
      val i = rnd.nextInt(math.max(1, t.length - 1))
      t.slice(i, i + 2).toSeq
    }
    Iterator.from(0).map(i => Cycle(i % Cycle.size) match {
      case "range" => val i = rnd.nextInt(values.size - 300); Range(values(i), values(i + 300))
      case "in" => val a = rnd.nextInt(5); InCount(Seq(a, (a + 1 + rnd.nextInt(4)) % 5).map(Fixture.EventTypes))
      case "prefix" => Prefix(s"src${2 + rnd.nextInt(8)}")
      case "label" => HasLabel(f"l${rnd.nextInt(Fixture.Labels)}%02d")
      case "contains" => Contains(pair().mkString(" "))
      case "box" =>
        val i = rnd.nextInt(values.size - 2000); val u = rnd.nextInt(users.size - 15)
        Box(values(i), values(i + 2000), users(u), users(u + 15))
      case "bm25" => Bm25(pair())
      case "phrase" => Phrase(pair())
      case tier =>
        val base = vecs(rnd.nextInt(vecs.size))
        Ann(tier, base.map(x => (x + 0.05 * Fixture.gauss(rnd)).toFloat).toSeq)
    })
  }
}

/** Executes and checks serving requests against an [[IndexSet]]. */
final class Server(spark: SparkSession, set: IndexSet, ns: String) {
  import ServingGen._
  private def sqlStr(s: String) = s.replace("'", "''")

  def execute(req: Req): SparkReq.Out = SparkReq.run(spark, req.kind)(req match {
    case Range(lo, hi) => spark.sql(
      s"SELECT event_id, value FROM graft.$ns.events WHERE value >= $lo AND value <= $hi")
    case InCount(ts) => spark.sql(
      s"SELECT count(*) AS n FROM graft.$ns.events WHERE event_type IN (${ts.map(t => s"'$t'").mkString(",")})")
    case Prefix(p) => spark.sql(
      s"SELECT doc_id, source FROM graft.$ns.documents WHERE source LIKE '${sqlStr(p)}%'")
    case HasLabel(l) => spark.sql(
      s"SELECT doc_id FROM graft.$ns.tags WHERE array_contains(labels, '${sqlStr(l)}')")
    case Contains(n) => spark.sql(
      s"SELECT doc_id, text FROM graft.$ns.documents WHERE contains(text, '${sqlStr(n)}')")
    case Box(xlo, xhi, ylo, yhi) => spark.sql(
      s"SELECT event_id, value, user_id FROM graft.$ns.events " +
        s"WHERE value >= $xlo AND value <= $xhi AND user_id >= $ylo AND user_id <= $yhi")
    case Ann(tier, q) =>
      val qs = spark.createDataFrame(java.util.List.of(Row(-1L, q)),
        org.apache.spark.sql.types.StructType.fromDDL("qid BIGINT, qvec ARRAY<FLOAT>"))
      tier match {
        case "ivf" => AnnIndex.searchIvf(spark, set.loc("ivf"), qs, "qid", "qvec", 10, set.Nprobe)
        case "ivf_pq" => AnnIndex.searchIvfPq(spark, set.loc("ivf_pq"), qs, "qid", "qvec", 10, set.Nprobe)
        case _ => AnnIndex.searchIvfSq(spark, set.loc("ivf_sq"), qs, "qid", "qvec", 10, set.Nprobe)
      }
    case Bm25(terms) => TextIndex.searchBm25(spark, set.loc("inverted"), terms)
      .orderBy(col("score").desc, col("doc_id")).limit(10)
    case Phrase(w) => TextIndex.searchPhrase(spark, set.loc("inverted"), w)
  })

  /** True when the request's plan reads a file under the index root, i.e.
    * the route layer served it from an index. */
  def served(out: SparkReq.Out): Boolean =
    out.df.inputFiles.exists(_.contains(set.idx))

  /** Checks one answer against the corpus; returns an error message, or
    * None, and the recall for ANN answers. */
  def check(req: Req, got: Array[Row], c: Corpus): (Option[String], Option[Double]) = {
    def same[T](what: String, g: Seq[T], w: Seq[T]): Option[String] =
      if (g == w) None
      else Some(s"$what: got ${g.size} rows, want ${w.size}; first diff " +
        g.zipAll(w, null, null).find(p => p._1 != p._2).map(p => s"${p._1} vs ${p._2}").getOrElse(""))
    req match {
      case Range(lo, hi) =>
        (same(req.toString, got.map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted,
          c.events.iterator.filter(e => e.value >= lo && e.value <= hi).map(e => (e.id, e.value)).toSeq.sorted), None)
      case InCount(ts) =>
        (same(req.toString, got.map(_.getLong(0)).toSeq,
          Seq(c.events.iterator.count(e => ts.contains(e.etype)).toLong)), None)
      case Prefix(p) =>
        (same(req.toString, got.map(r => (r.getLong(0), r.getString(1))).toSeq.sorted,
          c.docs.iterator.filter(_.source.startsWith(p)).map(d => (d.id, d.source)).toSeq.sorted), None)
      case HasLabel(l) =>
        (same(req.toString, got.map(_.getLong(0)).toSeq.sorted,
          c.tags.iterator.filter(_._2.contains(l)).map(_._1).toSeq.sorted), None)
      case Contains(n) =>
        (same(req.toString, got.map(_.getLong(0)).toSeq.sorted,
          c.docs.iterator.filter(_.text.contains(n)).map(_.id).toSeq.sorted), None)
      case Box(xlo, xhi, ylo, yhi) =>
        (same(req.toString, got.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq.sorted,
          c.events.iterator.filter(e => e.value >= xlo && e.value <= xhi && e.user >= ylo && e.user <= yhi)
            .map(e => (e.id, e.value, e.user)).toSeq.sorted), None)
      case Ann(tier, q) =>
        val qa = q.toArray
        val res = got.map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
          .sortBy(_._1).toSeq
        val errs = res.flatMap { case (rank, id, score) =>
          c.vecs.get(id) match {
            case None => Some(s"rank $rank: unknown vec_id $id")
            case Some(v) =>
              val want = Corpus.round6(Corpus.cosine(qa, v))
              if (math.abs(want - score) > 2e-6) Some(s"rank $rank: vec $id score $score, want $want") else None
          }
        } ++ (if (res.map(_._3) != res.map(_._3).sorted.reverse) Seq("scores not descending") else Nil) ++
          (if (res.size != 10 || res.map(_._2).distinct.size != res.size) Seq(s"${res.size} results") else Nil)
        val exact = c.exactTopK(qa, 10).map(_._1).toSet
        (errs.headOption.map(e => s"$tier: $e"), Some(res.count(r => exact(r._2)) / 10.0))
      case Bm25(terms) =>
        val want = c.bm25(terms)
        val res = got.map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val cutoff = want.values.toSeq.sorted.reverse.lift(math.min(10, want.size) - 1).getOrElse(0.0)
        val errs = res.flatMap { case (id, s) =>
          want.get(id) match {
            case None => Some(s"doc $id scored $s but matches no term")
            case Some(w) if math.abs(w - s) > 1e-9 * math.max(1.0, math.abs(w)) => Some(s"doc $id score $s, want $w")
            case Some(w) if w < cutoff - 1e-9 => Some(s"doc $id score $w below the top-10 cutoff $cutoff")
            case _ => None
          }
        } ++ (if (res.size != math.min(10, want.size)) Seq(s"${res.size} results, want ${math.min(10, want.size)}") else Nil)
        (errs.headOption.map(e => s"$req: $e"), None)
      case Phrase(w) =>
        (same(req.toString, got.map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted,
          c.phrase(w).toSeq.sorted), None)
    }
  }
}

/** index_serving: one closed-loop client over the read-only 10x fixture,
  * every index family built and registered during set-up. */
final class ServingWorkload(ctx: Ctx, layers: Layers) {
  import ServingGen._

  def pass(traced: Boolean, fails: Failures): Pass = {
    val spark = ctx.spark
    val src = s"${ctx.fixture}/x10"
    // set up twice into fresh index roots (copies of the prebuilt indexes,
    // registered in the catalog and discovered by the route layer); the
    // last one serves
    var set: IndexSet = null
    val setups = (0 until 2).map { rep =>
      val t0 = System.nanoTime()
      val s = new IndexSet(spark, src, s"${ctx.runDir}/idx$rep")
      IndexSet.copyTree(Paths.get(ctx.indexes), Paths.get(s.idx))
      s.register("serve")
      set = s
      (System.nanoTime() - t0) / 1e9
    }
    // the prebuilt indexes' build times, measured once per program build
    layers.buildMs = "[0-9.]+".r.findAllIn(new String(java.nio.file.Files.readAllBytes(
      Paths.get(s"${ctx.indexes}/builds.json")), "UTF-8")).map(_.toDouble).sum
    val corpus = ServingWorkload.corpus(spark, set)
    val server = new Server(spark, set, "serve")
    // warm the planner, the JIT and the code paths on one unmeasured
    // cycle with literals of its own; a traced pass follows the plain one
    // in the same JVM, which has warmed them already
    if (!traced) {
      val warmIt = ServingGen.stream(corpus, ctx.seed + 1000003L)
      Cycle.indices.foreach(_ => server.execute(warmIt.next()))
    }
    val it = ServingGen.stream(corpus, ctx.seed)

    layers.begin()
    val gc0 = Main.gcMs()
    val samples = new Samples
    val kinds = scala.collection.mutable.Map.empty[String, Samples]
    val done = Vector.newBuilder[(Req, Array[Row])]
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var n = 0
    val cycleEnds = scala.collection.mutable.ArrayBuffer[Long](t0)
    while (System.nanoTime() < deadline || n < MinRequests || n % Cycle.size != 0) {
      n += 1
      val req = it.next()
      fails.attempted.incrementAndGet()
      val r0 = System.nanoTime()
      try {
        val out = server.execute(req)
        val ms = (System.nanoTime() - r0) / 1e6
        samples.add(ms); kinds.getOrElseUpdate(req.kind, new Samples).add(ms)
        layers.rowsReturned += out.rows.length
        // a cached file listing, not I/O; keeping the DataFrames for later
        // would show up in live_heap_mb
        if (req.routable) {
          layers.routable += 1
          if (server.served(out)) layers.routeServed += 1
        }
        done += ((req, out.rows))
      } catch { case e: Exception => fails.thrown(req.kind, e) }
      if (n % Cycle.size == 0) cycleEnds += System.nanoTime()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // requests per second of the median whole cycle
    val cycleS = cycleEnds.toSeq.zip(cycleEnds.toSeq.drop(1)).map { case (a, b) => (b - a) / 1e9 }
    val rate = if (cycleS.isEmpty) samples.count / wall else Cycle.size / Samples.median(cycleS)
    val gcMs = Main.gcMs() - gc0
    val heap = Main.liveHeapMb()
    layers.end(1)

    // every answer is checked, outside the timed region
    val recalls = new Samples
    var planted = !ctx.plantWrong
    done.result().foreach { case (req, rows0) =>
      val rows = if (!planted && rows0.nonEmpty) { planted = true; rows0.tail } else rows0
      val (err, recall) = server.check(req, rows, corpus)
      err.foreach(fails.wrong(req.kind, _))
      recall.foreach(recalls.add)
    }
    val (bytes, files) = set.footprint()
    layers.indexFiles = files
    def k(n: String, p: Double) = kinds.get(n).map(_.pct(p)).getOrElse(0.0)
    Pass(setups, samples, kinds.toMap, rate, wall, TailPct, heap, Seq(
      "serve_qps" -> rate, "serve_qps_mean" -> samples.count / wall,
      "serve_p50_ms" -> samples.pct(50),
      "serve_p70_ms" -> samples.pct(70), "serve_p90_ms" -> samples.pct(90),
      "recall_at_10" -> Samples.median(recalls.values),
      "recall_at_10_mean" -> recalls.sum / math.max(1, recalls.count),
      "index_bytes" -> bytes.toDouble, "index_files" -> files.toDouble,
      "cycles" -> (n / Cycle.size).toDouble, "cycle_s_min" -> cycleS.min, "cycle_s_max" -> cycleS.max,
      "route_served_frac" -> layers.routeServed.toDouble / math.max(1L, layers.routable)) ++
      cycleS.zipWithIndex.map { case (c, i) => s"cycle_s.$i" -> c } ++
      kinds.keys.toSeq.sorted.map(n => s"p50_ms.$n" -> k(n, 50)), gcMs)
  }

}

object ServingWorkload {
  private var loaded: Option[(String, Corpus)] = None

  /** The corpus of `set`'s sources, read once per JVM (both passes of a
    * traced run read the same read-only fixture). */
  def corpus(spark: SparkSession, set: IndexSet): Corpus = synchronized {
    loaded.collect { case (src, c) if src == set.src => c }.getOrElse {
      val c = new Corpus().load(spark, set)
      loaded = Some(set.src -> c)
      c
    }
  }
}
