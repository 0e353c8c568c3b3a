package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.backend.{CreateMode, DropMode, MetadataBackend}
import graft.core.{GraftError, ObjectIdentifier, TableUtil}
import graft.schema.JsonArrowSchema

/** The Spark-native equivalent of the reference's `LanceNamespace` client
  * spec (SURVEY.md §2.1): a `CatalogPlugin` exposing whichever
  * [[MetadataBackend]] is configured to the full Spark SQL surface.
  *
  * Registration (the analog of `connect("glue", props)`,
  * `python/tests/test_namespace.py:15-36`):
  * {{{
  *   spark.sql.catalog.graft          = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.backend  = memory | iceberg | unity | polaris | <FQCN>
  *   spark.sql.catalog.graft.root     = /warehouse/root
  *   spark.sql.catalog.graft.<k>      = backend-specific options
  * }}}
  * then `CREATE NAMESPACE graft.db`, `CREATE TABLE graft.db.t ...`,
  * `SELECT ... FROM graft.db.t` — Catalyst supplies every relational
  * operator the reference never had (SURVEY.md §2.3).
  *
  * All catalog RPCs run on the driver (entry point A/B, SURVEY.md §3);
  * executors receive only serialized scan locations, which is why no
  * reference-style pickling dance (`glue.py:522-532`) exists here.
  *
  * Every [[GraftTable]] this catalog loads resolves its schema through the
  * catalog's one [[TableSnapshotCache]], once per snapshot of the
  * location's files. Has-data questions (`isOnlyDeclared`, bulk-probe
  * misses, `routablePath`, scans) take the same walk up to the first data
  * file. Declares, drops, purges and committed writes through this catalog
  * evict the location's entry along with the probe and describe caches.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private var backend: MetadataBackend = _
  private var conf: Map[String, String] = Map.empty

  private def spark: SparkSession = SparkSession.active

  private[graft] val snapshots = new TableSnapshotCache()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    conf = options.asScala.toMap
    backend = MetadataBackend.create(conf.getOrElse("backend", "memory"))
    backend.initialize(conf)
  }

  override def name(): String = catalogName

  override def toString: String = s"GraftCatalog($catalogName -> ${backend.backendId})"

  // ---- index-management procedures (CALL graft.system.*) ---------------
  // SQL DDL for the index lifecycle — see [[GraftProcedures]].

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  private def oid(ns: Array[String]): ObjectIdentifier = ObjectIdentifier(ns.toIndexedSeq)
  private def oid(ident: Identifier): ObjectIdentifier =
    ObjectIdentifier.of(ident.namespace(), ident.name())

  /** GraftError → Spark analysis exceptions at the DSv2 boundary
    * (the reverse of `GlueToLanceErrorConverter.java:26-57`). */
  private def mapped[T](f: => T): T =
    try f catch {
      case GraftError.NamespaceNotFound(id) =>
        throw new NoSuchNamespaceException(id.levels.toIndexedSeq)
      case GraftError.TableNotFound(id) =>
        throw new NoSuchTableException(id.levels.toIndexedSeq)
      case GraftError.NamespaceAlreadyExists(id) =>
        throw new NamespaceAlreadyExistsException(id.levels.toArray)
      case GraftError.TableAlreadyExists(id) =>
        throw new TableAlreadyExistsException(
          Identifier.of(id.parent.levels.toArray, id.name))
    }

  // ---- SupportsNamespaces ----

  override def listNamespaces(): Array[Array[String]] =
    mapped(backend.listNamespaces(ObjectIdentifier.root).map(_.levels.toArray).toArray)

  override def listNamespaces(parent: Array[String]): Array[Array[String]] = mapped {
    if (parent.nonEmpty && !backend.namespaceExists(oid(parent)))
      throw GraftError.NamespaceNotFound(oid(parent))
    backend.listNamespaces(oid(parent)).map(_.levels.toArray).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    backend.namespaceExists(oid(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    mapped(backend.describeNamespace(oid(namespace)).asJava)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = mapped {
    // Spark's CREATE NAMESPACE IF NOT EXISTS checks existence first, so the
    // plain Create mode is correct here; exist_ok/overwrite stay reachable
    // through the backend API for spec parity (`Hive2Namespace.java:406-450`).
    backend.createNamespace(oid(namespace), metadata.asScala.toMap, CreateMode.Create)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = mapped {
    val updates = changes.collect {
      case set: NamespaceChange.SetProperty => set.property() -> set.value()
    }.toMap
    val removals = changes.collect {
      case rm: NamespaceChange.RemoveProperty => rm.property()
    }.toSet
    backend.updateNamespaceProperties(oid(namespace), updates, removals)
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    mapped {
      // Restrict-only, like every reference backend (`Hive2Namespace.java:210-212`).
      if (cascade)
        throw GraftError.Unsupported("DROP NAMESPACE ... CASCADE (restrict-only)")
      backend.dropNamespace(oid(namespace), DropMode.Fail)
      true
    }

  // ---- TableCatalog ----

  override def listTables(namespace: Array[String]): Array[Identifier] = mapped {
    backend.listTables(oid(namespace))
      .map(id => Identifier.of(id.parent.levels.toArray, id.name)).toArray
  }

  /** Bulk (table, properties) listing of a namespace: ONE backend listing
    * plus one pooled, TTL-cached bulk describe — the batch path for
    * metadata inventories ([[graft.ops.AnnIndex.listIndexTables]]), where
    * a per-table `SHOW TBLPROPERTIES` round trip would be the N+1 shape
    * the reference's Hive backend is flagged for
    * (`Hive2Namespace.java:541-556`) and would crawl against a remote
    * HMS/Glue at thousands of tables. */
  def describeNamespaceTables(namespace: Array[String])
      : Seq[graft.backend.TableInfo] = mapped {
    describeTablesCached(backend.listTables(oid(namespace)))
  }

  override def tableExists(ident: Identifier): Boolean =
    backend.tableExists(oid(ident))

  override def loadTable(ident: Identifier): Table = mapped {
    val info = backend.describeTable(oid(ident))
    new GraftTable(ident, info, info.schemaJson.map(snapshots.declared), spark,
      snapshots, onCommit = () => invalidateCached(info.id, info.location))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = mapped {
    // IDENTITY transforms only: they map 1:1 onto hive-style
    // `col=value/` directory layouts under the location, which is the
    // partition story a 100 TB parquet lakehouse table actually has
    // (VERDICT r16 top item — the reference's metadata model is
    // partition-free, but its users' tables are partitioned trees).
    // bucket/days/truncate transforms have no plain-parquet layout and
    // refuse loudly.
    val partCols = partitions.toSeq.map { t =>
      if (t.name != "identity" || t.references.length != 1)
        throw GraftError.Unsupported(
          s"non-identity partition transform $t (identity columns only)")
      t.references.head.fieldNames.mkString(".")
    }
    partCols.foreach { c =>
      if (!schema.fieldNames.contains(c))
        throw new IllegalArgumentException(
          s"partition column $c is not in the table schema")
    }
    val props = properties.asScala.toMap
    val location = props.get(TableCatalog.PROP_LOCATION)
    val cleaned = props -- Seq(TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL) ++
      (if (partCols.nonEmpty)
        Map(graft.core.TableUtil.PartitionColumnsKey -> partCols.mkString(","))
      else Map.empty)
    val schemaJson = if (schema.isEmpty) None else Some(JsonArrowSchema.toJson(schema))
    val info = backend.declareTable(oid(ident), location, cleaned, schemaJson)
    invalidateCached(info.id, info.location)
    new GraftTable(ident, info, schemaJson.map(_ => schema), spark,
      snapshots, onCommit = () => invalidateCached(info.id, info.location))
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw GraftError.Unsupported("ALTER TABLE (no schema evolution in reference scope)")

  /** Deregister: catalog entry removed, data kept — the REST backends' only
    * drop flavor (`IcebergNamespace.java:465-512`). */
  override def dropTable(ident: Identifier): Boolean =
    try {
      val info = backend.dropTable(oid(ident), purge = false)
      invalidateCached(info.id, info.location)
      true
    }
    catch { case _: GraftError.TableNotFound => false }

  /** dropTable-with-data (`Hive2Namespace.java:589-593`): best-effort data
    * delete after the catalog entry is gone, like `safeDropDataset`
    * (`GlueNamespace.java:668-674`). */
  override def purgeTable(ident: Identifier): Boolean = {
    val removed = try Some(backend.dropTable(oid(ident), purge = true))
                  catch { case _: GraftError.TableNotFound => None }
    removed match {
      case None => false
      case Some(info) =>
        invalidateCached(info.id, info.location)
        try {
          val hconf = spark.sessionState.newHadoopConfWithOptions(info.storageOptions)
          val p = new org.apache.hadoop.fs.Path(info.location)
          val fs = p.getFileSystem(hconf)
          if (fs.exists(p)) fs.delete(p, true)
        } catch { case _: Exception => () } // best-effort, as in reference
        true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw GraftError.Unsupported("RENAME TABLE (not in reference spec)")

  /** Spec-parity surface not expressible through Spark DDL: declared-table
    * probe (`describeTable.check_declared`, `LanceTableUtil.java:44-60`). */
  def isOnlyDeclared(ident: Identifier): Boolean = {
    val info = backend.describeTable(oid(ident))
    !TableUtil.hasStorageComponents(info.location,
      spark.sessionState.newHadoopConfWithOptions(info.storageOptions))
  }

  /** Bounded daemon pool + short-TTL location cache backing the bulk
    * declared-probe below. The pool is shared across calls (the listing
    * may be polled); daemon threads so an un-closed catalog never pins
    * the JVM. */
  /** `probe.pool-size` caps concurrent storage probes (default 16). At
    * 100 TB against a slow or rate-limited object store this is the dial
    * between listing latency and store pressure; the pool is created on
    * first use, so the option is read once per catalog instance. */
  private def probePoolSize: Int =
    math.max(1, conf.get("probe.pool-size").map(_.toInt).getOrElse(16))
  private lazy val probePool = java.util.concurrent.Executors.newFixedThreadPool(
    probePoolSize,
    (r: Runnable) => { val t = new Thread(r, "graft-probe"); t.setDaemon(true); t })
  private val probeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Boolean)]()
  private val describeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, graft.backend.TableInfo)]()
  private def probeTtlMs: Long =
    conf.get("probe.cache.ttl-ms").map(_.toLong).getOrElse(30000L)

  /** Read-your-writes for the probe/describe caches: every mutation and
    * committed write through THIS catalog evicts its own entries, so a
    * table materialized (or dropped and redeclared at a reused location)
    * here is visible to the next `include_declared=false` listing
    * immediately — matching the reference's always-fresh serial probe
    * (`LanceTableUtil.java:48-60`) for self-inflicted changes. Writes by
    * OTHER processes remain TTL-bounded (that staleness window is the
    * price of the bulk probe path and is documented on `listTables`).
    * Keyed by the backend-normalized id (hive lowercases) + location. */
  private def invalidateCached(id: ObjectIdentifier, location: String): Unit = {
    describeCache.remove(cacheKey(id))
    probeCache.remove(location)
    snapshots.evict(location)
  }

  /** Exact, unambiguous cache key: levels joined on a separator that
    * cannot appear in SQL identifiers, case preserved — `a.b`.`t` and
    * `a`.`b`.`t` must not collide, and case-sensitive backends (memory,
    * file) must not alias `T` with `t`. Case-normalizing backends
    * (hive-family) return ids already lowered, and the listing ids being
    * keyed come from the same backend, so exact matching is right for
    * both families. */
  private def cacheKey(id: ObjectIdentifier): String =
    id.levels.mkString("\u001f")

  /** Drop entries past their TTL so churn (create/drop cycles, moved
    * locations) cannot grow the caches without bound — TTL gates
    * freshness on read, this sweep bounds memory. */
  private def sweepExpired(now: Long, ttl: Long): Unit = {
    probeCache.forEach((k, v) => if (now - v._1 >= ttl) { probeCache.remove(k, v); () })
    describeCache.forEach((k, v) => if (now - v._1 >= ttl) { describeCache.remove(k, v); () })
  }

  /** Bulk describes with the same short TTL as the probes: a polled
    * `include_declared=false` listing pays the backend's metadata fetch
    * once per TTL window, not once per call. Only tables the fresh
    * listing still contains are served from cache, so drops are always
    * visible; location/property changes land within one TTL. */
  private def describeTablesCached(
      ids: Seq[ObjectIdentifier]): Seq[graft.backend.TableInfo] = {
    val ttl = probeTtlMs
    if (ttl <= 0) backend.describeTables(ids)
    else {
      val now = System.currentTimeMillis()
      sweepExpired(now, ttl)
      // capture hit VALUES at partition time: a concurrent caller's sweep
      // may remove an entry between this scan and any later re-fetch
      val hitVals = Seq.newBuilder[graft.backend.TableInfo]
      val misses = Seq.newBuilder[ObjectIdentifier]
      ids.foreach { id =>
        val h = describeCache.get(cacheKey(id))
        if (h != null && now - h._1 < ttl) hitVals += h._2 else misses += id
      }
      val missing = misses.result()
      val fetched = if (missing.isEmpty) Nil else backend.describeTables(missing)
      fetched.foreach(i => describeCache.put(cacheKey(i.id), (now, i)))
      hitVals.result() ++ fetched
    }
  }

  private def hasDataCached(location: String,
      hconf: org.apache.hadoop.conf.Configuration): Boolean = {
    val ttl = probeTtlMs
    if (ttl <= 0) TableUtil.hasStorageComponents(location, hconf)
    else {
      val now = System.currentTimeMillis()
      val hit = probeCache.get(location)
      if (hit != null && now - hit._1 < ttl) hit._2
      else {
        val r = TableUtil.hasStorageComponents(location, hconf)
        probeCache.put(location, (now, r))
        r
      }
    }
  }

  /** Spec-parity listing with `include_declared` semantics
    * (`table_utils.py:17-19`): `includeDeclared=false` drops tables whose
    * storage has no data yet.
    *
    * The reference runs this as a serial describe+open per listed table
    * (`LanceTableUtil.java:48-60`) — the SURVEY.md §4 N+1 scale hazard:
    * at 10k tables, 10k sequential metastore+FS round trips on the
    * driver. Here the describes collapse to the backend's bulk RPC
    * (`describeTables`, one `getTableObjectsByName` on hive2) and the
    * storage probes fan out over a bounded 16-thread driver pool with a
    * short-TTL per-location cache (`probe.cache.ttl-ms`, default 30 s,
    * 0 disables) — so a polled listing pays the FS walk once per TTL,
    * not once per call. Tables dropped between list and describe are
    * omitted, matching the serial path's behavior. */
  def listTables(namespace: Array[String], includeDeclared: Boolean): Array[Identifier] = {
    val all = listTables(namespace)
    if (includeDeclared || all.isEmpty) all
    else {
      val infos = mapped(describeTablesCached(all.map(oid).toIndexedSeq))
      // Hadoop confs are built caller-side: SparkSession.active is
      // thread-local and must not be touched from the pool.
      val hconfs = infos.map(_.storageOptions).distinct
        .map(so => so -> spark.sessionState.newHadoopConfWithOptions(so)).toMap
      val futures = infos.map { info =>
        info -> probePool.submit(new java.util.concurrent.Callable[Boolean] {
          override def call(): Boolean =
            hasDataCached(info.location, hconfs(info.storageOptions))
        })
      }
      val withData = futures.collect {
        case (info, f) if f.get() => cacheKey(info.id)
      }.toSet
      all.filter(id => withData.contains(cacheKey(oid(id))))
    }
  }

  /** Paginated listing surface (spec `pageToken`/`limit`). */
  def listTablesPaged(namespace: Array[String], pageToken: Option[String],
      limit: Option[Int]): graft.backend.Page[Identifier] = mapped {
    val page = backend.listTablesPaged(oid(namespace), pageToken, limit)
    graft.backend.Page(
      page.items.map(id => Identifier.of(id.parent.levels.toArray, id.name)),
      page.nextToken)
  }
}
