package graftbench

import java.util.concurrent.{Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.GraftCatalog
import graftbench.CatalogGen._

/** catalog_ops: `clients` closed-loop clients share one GraftCatalog per
  * backend and run their seeded streams — first on the `file` backend,
  * then the same streams on `hive2` against the embedded metastore. Every
  * result is kept and checked against the clients' own model of the
  * catalog after the timed phase. */
final class CatalogOps(ctx: Ctx, val shape: Shape, clients: Int) {
  private val spark: SparkSession = ctx.spark
  private val declaredSchema = StructType.fromDDL("id INT, name STRING")
  private val dataSchema = StructType.fromDDL("id BIGINT, label STRING, score DOUBLE")
  private val setupProps = Map("owner" -> "bench", "purpose" -> "catalog_ops")
  private def dataDir(t: Int): String = s"${ctx.runDir}/catdata/d${(t / 10) % 4}"

  /** Copies the four parquet datasets the data tables point at into the
    * run's directory. */
  def copyData(): Unit =
    IndexSet.copyTree(java.nio.file.Paths.get(s"${ctx.fixture}/catdata"),
      java.nio.file.Paths.get(s"${ctx.runDir}/catdata"))

  private def newCatalog(backend: String, conf: Map[String, String]): GraftCatalog = {
    val c = if (Trace.enabled) new TimedCatalog else new GraftCatalog
    val name = if (Trace.enabled) s"timed-$backend" else backend
    c.initialize("bench", new CaseInsensitiveStringMap(
      (conf + ("backend" -> name) + ("root" -> s"${ctx.runDir}/catwh/$backend")).asJava))
    c
  }

  private def ident(prefix: String, ns: Int, table: String): Identifier =
    Identifier.of(Array(prefix + shape.nsName(ns)), table)

  /** Creates the namespaces and tables; returns the seconds it took. */
  private def populate(c: GraftCatalog, prefix: String): Double = {
    val t0 = System.nanoTime()
    for (n <- 0 until shape.nNs) {
      c.createNamespace(Array(prefix + shape.nsName(n)), setupProps.asJava)
      for (t <- 0 until shape.perNs) {
        val props = new java.util.HashMap[String, String]()
        if (shape.hasData(t)) props.put("location", dataDir(t))
        c.createTable(ident(prefix, n, shape.tableName(t)),
          if (shape.hasData(t)) dataSchema else declaredSchema, Array.empty[Transform], props)
      }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** One result per executed op, checked after the phase. */
  sealed trait Res
  final case class Loaded(op: LoadTable, name: String, location: String,
      schema: StructType) extends Res
  final case class Exists(op: TableExists, got: Boolean) extends Res
  final case class Listed(op: ListTables, got: Seq[String], ownAlive: Option[String]) extends Res
  final case class NsRead(op: NamespaceRead, got: Either[Boolean, Map[String, String]]) extends Res
  final case class Mutated(op: Op, got: Boolean) extends Res
  final case class NsList(prefix: String, got: Seq[String]) extends Res

  final class Prepared(val backend: String, val catalog: GraftCatalog, val prefix: String,
      val setupS: Seq[Double], val streams: IndexedSeq[Iterator[Op]]) {
    /** Each client's live churn table, for the read-your-writes check. */
    val ownAlive = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
  }

  /** Sets the backend's catalog up `reps` times into fresh state (the
    * last one is measured), then warms every client's stream on it for
    * `warmS` seconds. */
  def prepare(backend: String, conf: Map[String, String], reps: Int, warmS: Double): Prepared = {
    var last: (GraftCatalog, String) = null
    val setups = (0 until reps).map { rep =>
      val t0 = System.nanoTime()
      val c = newCatalog(backend, conf + ("path" -> s"${ctx.runDir}/catalog-$backend-$rep.json"))
      // the embedded metastore outlives a pass: name its databases apart
      val p = if (backend == "file") "" else s"${new java.io.File(ctx.runDir).getName}r$rep"
      populate(c, p)
      last = (c, p)
      (System.nanoTime() - t0) / 1e9
    }
    val p = new Prepared(backend, last._1, last._2, setups,
      (0 until clients).map(i => CatalogGen.stream(shape, ctx.seed, clients, i)))
    drive(p, warmS, None)
    p
  }

  final case class Client(all: Samples, perOp: Map[String, Samples], res: Vector[Res],
      ends: Vector[Long])

  /** Runs every client's stream for `seconds`; records results when
    * `fails` is given (the timed region), otherwise only warms up. */
  def drive(p: Prepared, seconds: Double, fails: Option[Failures]): Seq[Client] = {
    val threads = p.streams.size
    val pool = Executors.newFixedThreadPool(threads)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    try {
      val futs = (0 until threads).map { i =>
        pool.submit(() => {
          val all = new Samples
          val per = scala.collection.mutable.Map.empty[String, Samples]
          val res = Vector.newBuilder[Res]
          val ends = Vector.newBuilder[Long]
          val it = p.streams(i)
          while (System.nanoTime() < deadline) {
            val op = it.next()
            fails.foreach(_.attempted.incrementAndGet())
            val t0 = System.nanoTime()
            try {
              val r = exec(p, op, i)
              val t1 = System.nanoTime()
              val ms = (t1 - t0) / 1e6
              if (fails.isDefined) {
                all.add(ms); per.getOrElseUpdate(op.name, new Samples).add(ms); res += r; ends += t1
              }
            } catch {
              case e: Exception => fails.foreach(_.thrown(s"${p.backend}.${op.name}", e))
            }
          }
          Client(all, per.toMap, res.result(), ends.result())
        })
      }
      futs.map(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS) }
  }

  /** Checks every recorded result, outside the timed region. */
  def check(p: Prepared, out: Seq[Client], fails: Failures): Unit = {
    // with plant-wrong, the first loaded table's answer names another table
    var planted = !ctx.plantWrong
    out.foreach(_.res.foreach {
      case l: Loaded if !planted => planted = true; checkOne(p.backend, l.copy(name = "planted"), fails)
      case r => checkOne(p.backend, r, fails)
    })
    // The backends' alterNamespace reads the namespace's properties and
    // writes the whole map back, which is not atomic against a concurrent
    // alter of the same namespace; the streams therefore give every
    // namespace one altering client. Each client's last value must be
    // there, and the set-up properties must stay.
    for (n <- 0 until shape.nNs) {
      val ns = shape.nsName(n)
      val props = p.catalog.loadNamespaceMetadata(Array(p.prefix + ns)).asScala.toMap
      if (!setupProps.forall { case (k, v) => props.get(k).contains(v) })
        fails.wrong(s"${p.backend}.alterNamespace", s"$ns lost its set-up properties: $props")
      out.indices.foreach { i =>
        val key = s"bench.c$i"
        val last = out(i).res.collect { case Mutated(AlterNamespace(`n`, `key`, v), _) => v }.lastOption
        // values are the client's increasing sequence numbers (warm-up
        // included), so a value without a timed write must be a warm-up one
        (props.get(key), last) match {
          case (got, Some(v)) if !got.contains(v) =>
            fails.wrong(s"${p.backend}.alterNamespace", s"$ns $key=${got.orNull}, want $v (last write)")
          case (Some(v), None) if !v.matches("\\d+") =>
            fails.wrong(s"${p.backend}.alterNamespace", s"$ns $key=$v was never written")
          case _ =>
        }
      }
    }
  }

  private def exec(p: Prepared, op: Op, client: Int): Res = {
    val (c, prefix, ownAlive) = (p.catalog, p.prefix, p.ownAlive)
    op match {
    case o @ LoadTable(n, t) =>
      val tbl = c.loadTable(ident(prefix, n, shape.tableName(t)))
      // resolving a table's schema is part of loading it (Spark's analyzer
      // asks right away); for tables with data it runs the storage probe
      val schema = Trace.span("catalog", "tableSchema")(tbl.schema())
      Loaded(o, tbl.name(), tbl.properties().get("location"), schema)
    case o @ TableExists(n, t, _) => Exists(o, c.tableExists(ident(prefix, n, shape.tableName(t))))
    case o @ ListTables(n) =>
      Listed(o, c.listTables(Array(prefix + shape.nsName(n))).map(_.name()).toSeq,
        Option(ownAlive.get(client)).collect { case (`n`, name) => name })
    case o @ NamespaceRead(n, true) =>
      NsRead(o, Right(c.loadNamespaceMetadata(Array(prefix + shape.nsName(n))).asScala.toMap))
    case o @ NamespaceRead(n, false) =>
      NsRead(o, Left(c.namespaceExists(Array(prefix + shape.nsName(n)))))
    case o @ CreateTable(n, name) =>
      c.createTable(ident(prefix, n, name), declaredSchema, Array.empty[Transform],
        new java.util.HashMap[String, String]())
      ownAlive.put(client, (n, name))
      Mutated(o, c.tableExists(ident(prefix, n, name)))
    case o @ DropTable(n, name) =>
      ownAlive.remove(client)
      Mutated(o, c.dropTable(ident(prefix, n, name)))
    case o @ AlterNamespace(n, k, v) =>
      c.alterNamespace(Array(prefix + shape.nsName(n)), NamespaceChange.setProperty(k, v))
      Mutated(o, true)
    case ListNamespaces => NsList(prefix, c.listNamespaces().map(_.mkString(".")).toSeq)
    }
  }

  private def checkOne(backend: String, r: Res, fails: Failures): Unit = {
    def bad(op: String, msg: String): Unit = fails.wrong(s"$backend.$op", msg)
    val staticNames = (0 until shape.perNs).map(shape.tableName).toSet
    r match {
      case Loaded(LoadTable(n, t), name, location, schema) =>
        val want = shape.tableName(t)
        if (!name.endsWith(want)) bad("loadTable", s"asked $want, got $name")
        if (shape.hasData(t)) {
          if (location == null || !location.stripSuffix("/").endsWith(dataDir(t).stripPrefix(ctx.runDir)))
            bad("loadTable", s"$want location $location, want ${dataDir(t)}")
          if (schema.fieldNames.toSeq != dataSchema.fieldNames.toSeq)
            bad("loadTable", s"$want schema ${schema.simpleString}")
        } else if (schema.fieldNames.toSeq != declaredSchema.fieldNames.toSeq)
          bad("loadTable", s"$want schema ${schema.simpleString}")
      case Exists(TableExists(n, t, present), got) =>
        if (got != present) bad("tableExists", s"${shape.nsName(n)}.${shape.tableName(t)}: $got")
      case Listed(ListTables(n), got, ownAlive) =>
        val names = got.toSet
        if (!staticNames.subsetOf(names))
          bad("listTables", s"${shape.nsName(n)} misses ${(staticNames -- names).take(3)}")
        names.filterNot(staticNames).find(x => !x.matches("x\\d+_\\d+"))
          .foreach(x => bad("listTables", s"${shape.nsName(n)} lists unknown table $x"))
        // read-your-writes: the client's own live churn table is listed
        ownAlive.filterNot(names).foreach(x => bad("listTables", s"${shape.nsName(n)} misses own table $x"))
      case NsRead(NamespaceRead(n, _), Right(props)) =>
        if (!setupProps.forall { case (k, v) => props.get(k).contains(v) })
          bad("loadNamespaceMetadata", s"${shape.nsName(n)} props $props")
      case NsRead(NamespaceRead(n, _), Left(exists)) =>
        if (!exists) bad("namespaceExists", s"${shape.nsName(n)} missing")
      case Mutated(op, ok) => if (!ok) bad(op.name, s"$op did not take effect")
      case NsList(prefix, got) =>
        val want = (0 until shape.nNs).map(n => prefix + shape.nsName(n)).toSet
        if (!want.subsetOf(got.toSet)) bad("listNamespaces", s"misses ${want -- got.toSet}")
    }
  }
}

/** catalog_ops as one measured pass: both backends set up and warmed,
  * then the file phase (two thirds of the run) and the hive2 phase (one
  * third). The embedded metastore creates a table in tens of milliseconds, so its
  * catalog is smaller and set up once; its thrift server runs at most
  * five workers and a traced run holds two catalogs' pools, so each pool
  * has two connections. */
final class CatalogWorkload(ctx: Ctx, layers: Layers) {
  /** Half as many clients as cores: with one client per core, any other
    * load on the host (the JIT, the collector, other tenants) preempts the
    * clients and every latency moves with it. */
  val clients: Int = math.max(1, ctx.cores / 2)

  def pass(traced: Boolean, fails: Failures): Pass = {
    // every client alters namespaces of its own, so there are at least as
    // many namespaces as clients
    val w = new CatalogOps(ctx, Shape(nNs = math.max(10, clients), perNs = 40), clients)
    val hw = new CatalogOps(ctx, Shape(nNs = math.max(4, clients), perNs = 5), clients)
    // the metastore boots and is set up first, so its start-up work is
    // over before the file phase is warmed and measured
    val b0 = System.nanoTime()
    val hms = graft.hive.LocalHiveMetastore.instance
    val bootS = (System.nanoTime() - b0) / 1e9
    val hive = hw.prepare("hive2", Map("hive.metastore.uris" -> s"thrift://localhost:${hms.port}",
      "client.pool-size" -> "2"), reps = 1, warmS = 1.0)
    w.copyData()
    // the file phase's warm-up lets the JIT compile the catalog and
    // backend paths before they are measured
    val file = w.prepare("file", Map.empty, reps = 3, warmS = 3.0)
    layers.begin()
    val gc0 = Main.gcMs()
    val t0 = System.nanoTime()
    val fileOut = w.drive(file, ctx.seconds * 2 / 3, Some(fails))
    val t1 = System.nanoTime()
    val hiveOut = hw.drive(hive, ctx.seconds / 3, Some(fails))
    val t2 = System.nanoTime()
    val gcMs = Main.gcMs() - gc0
    val heap = Main.liveHeapMb()
    layers.end(clients)
    val docFile = new java.io.File(s"${ctx.runDir}/catalog-file-2.json")
    layers.docBytes = docFile.length
    w.check(file, fileOut, fails)
    hw.check(hive, hiveOut, fails)
    def merged(out: Seq[CatalogOps#Client]): Samples = { val s = new Samples; out.foreach(c => s.addAll(c.all)); s }
    val (fs, hs) = (merged(fileOut), merged(hiveOut))
    val (fwall, hwall) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    val loads = new Samples
    (fileOut ++ hiveOut).foreach(_.perOp.get("loadTable").foreach(loads.addAll))
    val fileKinds = fileOut.flatMap(_.perOp).groupBy(_._1).map { case (op, ss) =>
      val s = new Samples; ss.foreach(x => s.addAll(x._2)); op -> s
    }
    val perOp = fileKinds.toSeq.sortBy(_._1).flatMap { case (op, s) =>
      Seq(s"file_${op}_p50_ms" -> s.pct(50), s"file_${op}_share" -> s.count.toDouble / math.max(1, fs.count))
    }
    // the contract metrics come from the file phase: mixing in the
    // metastore's calls, which are thirty times slower, puts the median on
    // the cliff between the two backends and makes it jump between runs
    val rate = Samples.windowRate(fileOut.flatMap(_.ends), t0, t1, 250000000L)
    Pass(file.setupS.map(_ + hive.setupS.head), fs, fileKinds, rate, fwall, 99, heap, Seq(
      "file_ops_per_s" -> rate, "file_ops_per_s_mean" -> fs.count / fwall,
      "file_p50_ms" -> fs.pct(50), "file_p99_ms" -> fs.pct(99),
      "hms_ops_per_s" -> hs.count / hwall, "hms_p50_ms" -> hs.pct(50), "hms_p99_ms" -> hs.pct(99),
      "file_samples" -> fs.count.toDouble, "hms_samples" -> hs.count.toDouble,
      "file_setup_s" -> Samples.median(file.setupS), "hms_setup_s" -> Samples.median(hive.setupS),
      "hms_boot_s" -> bootS, "clients" -> clients.toDouble,
      "catalog_doc_bytes" -> docFile.length.toDouble, "load_table_p50_ms" -> loads.pct(50)) ++ perOp, gcMs)
  }
}
