package graftbench

/** Checks the load generators without touching the program under test:
  * same seed gives the same stream, another seed another stream, the
  * catalog op mix matches its shares, the catalog size stays steady, and
  * the hottest `loadTable` keys are tables with data. Prints one line per
  * check and returns the number that failed. */
object SelfTest {
  def run(): Int = {
    var failed = 0
    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s": $detail"}")
      if (!ok) failed += 1
    }
    val shape = CatalogGen.Shape(10, 40)
    val n = 40000
    val a = CatalogGen.stream(shape, 7, 4, 0).take(n).toVector
    check("catalog stream is a function of the seed", a == CatalogGen.stream(shape, 7, 4, 0).take(n).toVector)
    check("another seed gives another catalog stream", a != CatalogGen.stream(shape, 8, 4, 0).take(n).toVector)
    check("clients get distinct catalog streams", a != CatalogGen.stream(shape, 7, 4, 1).take(n).toVector)
    val alters = (0 until 4).map(c => c -> CatalogGen.stream(shape, 7, 4, c).take(n)
      .collect { case x: CatalogGen.AlterNamespace => x.ns }.toSet)
    check("each namespace is altered by one client only", alters.forall { case (c, ns) =>
      ns == CatalogGen.altered(shape, 4, c).toSet } && alters.flatMap(_._2).size == shape.nNs,
      s"altered namespaces $alters")
    val shares = a.groupBy {
      case _: CatalogGen.NamespaceRead => "namespaceRead"
      case _: CatalogGen.CreateTable | _: CatalogGen.DropTable => "churn"
      case op => op.name
    }.map { case (k, v) => k -> v.size * 100.0 / n }
    CatalogGen.Mix.foreach { case (k, want) =>
      val got = shares.getOrElse(k, 0.0)
      check(s"op share $k is $want%", math.abs(got - want) < 1.0, f"got $got%.2f%%")
    }
    // replay creates and drops: at most one live churn table per client
    var live = 0; var maxLive = 0
    a.foreach {
      case _: CatalogGen.CreateTable => live += 1; maxLive = math.max(maxLive, live)
      case _: CatalogGen.DropTable => live -= 1
      case _ =>
    }
    check("catalog size stays steady", maxLive <= 1 && live >= 0, s"max live churn tables $maxLive")
    val loads = a.collect { case CatalogGen.LoadTable(ns, t) => (ns, t) }
    val hot = loads.groupBy(identity).toSeq.sortBy(-_._2.size).take(10).map(_._1)
    check("the ten hottest loadTable keys have data", hot.forall(k => shape.hasData(k._2)), s"hot tables $hot")
    check("loadTable keys are skewed", loads.groupBy(identity).values.map(_.size).max > loads.size / 50,
      "hottest key too cold")
    failed
  }
}
