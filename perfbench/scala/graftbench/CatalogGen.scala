package graftbench

/** The seeded request stream of the catalog_ops workload. Pure: the same
  * (seed, client) always yields the same operations, and nothing here
  * touches the catalog under test.
  *
  * The catalog holds `nNs` namespaces of `perNs` tables; table `i` of a
  * namespace has data when `i % 10 == 0`. `loadTable` keys follow a Zipf
  * law over a seeded ranking whose hottest ranks are the tables with data.
  * Each client owns at most one churn table at a time: its churn ops
  * alternate create and drop, so the catalog size stays steady. Client
  * `c` of `clients` alters only the namespaces `n` with
  * `n % clients == c`: alterNamespace is not atomic against a concurrent
  * alter of the same namespace (see [[CatalogOps.check]]). */
object CatalogGen {
  sealed trait Op { def name: String }
  final case class LoadTable(ns: Int, t: Int) extends Op { def name = "loadTable" }
  final case class TableExists(ns: Int, t: Int, present: Boolean) extends Op { def name = "tableExists" }
  final case class ListTables(ns: Int) extends Op { def name = "listTables" }
  final case class NamespaceRead(ns: Int, metadata: Boolean) extends Op {
    def name = if (metadata) "loadNamespaceMetadata" else "namespaceExists"
  }
  final case class CreateTable(ns: Int, table: String) extends Op { def name = "createTable" }
  final case class DropTable(ns: Int, table: String) extends Op { def name = "dropTable" }
  final case class AlterNamespace(ns: Int, key: String, value: String) extends Op { def name = "alterNamespace" }
  case object ListNamespaces extends Op { def name = "listNamespaces" }

  /** Op-mix shares, in percent, in stream order of the cumulative draw. */
  val Mix: Seq[(String, Int)] = Seq("loadTable" -> 40, "tableExists" -> 20,
    "listTables" -> 10, "namespaceRead" -> 10, "churn" -> 10,
    "alterNamespace" -> 5, "listNamespaces" -> 5)

  final case class Shape(nNs: Int, perNs: Int) {
    def hasData(t: Int): Boolean = t % 10 == 0
    def nsName(i: Int): String = f"ns$i%02d"
    def tableName(t: Int): String = f"t$t%03d"
  }

  /** All (ns, table) keys ranked hottest first: the data tables in a seeded
    * order, then the rest in a seeded order. */
  def ranking(shape: Shape, seed: Long): IndexedSeq[(Int, Int)] = {
    val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)
    val keys = for (n <- 0 until shape.nNs; t <- 0 until shape.perNs) yield (n, t)
    val (data, rest) = keys.partition { case (_, t) => shape.hasData(t) }
    rnd.shuffle(data) ++ rnd.shuffle(rest)
  }

  /** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The namespaces client `client` of `clients` alters. */
  def altered(shape: Shape, clients: Int, client: Int): IndexedSeq[Int] = {
    require(clients <= shape.nNs, s"$clients clients need at least as many namespaces")
    (0 until shape.nNs).filter(_ % clients == client)
  }

  /** Client `client`'s stream. Ops are dealt from shuffled decks of 100
    * that hold each kind exactly its share, so every stretch of the stream
    * has the stated mix. Churn tables are named `x<client>_<n>`. */
  def stream(shape: Shape, seed: Long, clients: Int, client: Int): Iterator[Op] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + client)
    val ranked = ranking(shape, seed)
    val zipf = new Zipf(ranked.size, 1.1)
    val deck = Mix.flatMap { case (k, n) => Seq.fill(n)(k) }.toArray
    var dealt = deck.length
    var churnAlive: Option[(Int, String)] = None
    var churnSeq = 0
    var alterSeq = 0
    var nsReadFlip = false
    val own = altered(shape, clients, client)
    def draw(): String = {
      if (dealt == deck.length) {
        // Fisher-Yates on the seeded stream
        for (i <- deck.indices.reverse) {
          val j = rnd.nextInt(i + 1); val t = deck(i); deck(i) = deck(j); deck(j) = t
        }
        dealt = 0
      }
      dealt += 1
      deck(dealt - 1)
    }
    Iterator.continually {
      draw() match {
        case "loadTable" =>
          val (n, t) = ranked(zipf.sample(rnd.nextDouble())); LoadTable(n, t)
        case "tableExists" =>
          // one probe in five asks for a table that was never created
          if (rnd.nextInt(5) == 0) TableExists(rnd.nextInt(shape.nNs), shape.perNs + rnd.nextInt(1000), present = false)
          else TableExists(rnd.nextInt(shape.nNs), rnd.nextInt(shape.perNs), present = true)
        case "listTables" => ListTables(rnd.nextInt(shape.nNs))
        case "namespaceRead" => nsReadFlip = !nsReadFlip; NamespaceRead(rnd.nextInt(shape.nNs), nsReadFlip)
        case "churn" =>
          churnAlive match {
            case Some((n, name)) => churnAlive = None; DropTable(n, name)
            case None =>
              churnSeq += 1
              val c = (rnd.nextInt(shape.nNs), s"x${client}_$churnSeq")
              churnAlive = Some(c); CreateTable(c._1, c._2)
          }
        case "alterNamespace" =>
          alterSeq += 1; AlterNamespace(own(rnd.nextInt(own.size)), s"bench.c$client", alterSeq.toString)
        case _ => ListNamespaces
      }
    }
  }
}
