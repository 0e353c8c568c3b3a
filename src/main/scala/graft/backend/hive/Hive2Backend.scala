package graft.backend.hive

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.hive.metastore.IMetaStoreClient
import org.apache.hadoop.hive.metastore.api.{AlreadyExistsException, Database, NoSuchObjectException, PrincipalType, SerDeInfo, StorageDescriptor, Table => HmsTable}
import org.apache.thrift.TException

import graft.backend.{CreateMode, DropMode, MetadataBackend, TableInfo}
import graft.core.{GraftError, ObjectIdentifier, TableUtil}

/** Live Hive 2.x metastore backend: databases are 1-level namespaces,
  * Lance tables are EXTERNAL HMS tables marked `table_type=lance`
  * (behavioral parity with `hive2/Hive2Namespace.java:94-690`, re-shaped
  * onto the [[MetadataBackend]] surface the Spark catalog drives).
  *
  * Configuration (all optional except the URI for live use):
  *  - `hive.metastore.uris` — thrift endpoint(s). When unset, every RPC
  *    fails with the spec's code-17 ServiceUnavailable instead of letting
  *    the Hive client silently boot a private embedded Derby metastore in
  *    the working directory — an unconfigured catalog must be loud.
  *  - `client.pool-size` (default 3, `Hive2NamespaceConfig.java:26-27`),
  *    `connect_timeout_ms` / `read_timeout_ms` → HMS socket timeout.
  *  - `root` — default table-location root.
  *  - any other `hive.`-prefixed key is forwarded into the client conf.
  *
  * Differences from the reference, on purpose:
  *  - `listTables` fetches table objects with ONE batched
  *    `getTableObjectsByName` RPC instead of the reference's
  *    getTable-per-table loop (`Hive2Namespace.java:538-560`) — the N+1
  *    listing pattern SURVEY.md §4 flags; at 10k tables per database
  *    that is 1 round trip instead of 10k.
  *  - schema fidelity: the Arrow schema JSON rides in table parameters
  *    (`graft.arrow_schema`), so declared tables keep a real schema; the
  *    reference stores placeholder columns only (SURVEY.md §1.2).
  *  - `updateNamespaceProperties` uses the native `alterDatabase` RPC;
  *    the trait's describe-then-overwrite default would drop-and-recreate.
  *  - HMS never deletes data on dropTable (`deleteData=false` always):
  *    purge semantics belong to the catalog layer, which owns the
  *    storage — same division as the memory/file backends.
  */
class Hive2Backend extends MetadataBackend with AutoCloseable {

  private var conf: Map[String, String] = Map.empty
  private var poolSize: Int = 3
  @volatile private var pool: HiveClientPool = _

  /** Arrow-schema parameter key (our fidelity extension). */
  private val SchemaParam = "graft.arrow_schema"
  /** Authoritative location parameter: HMS insists SD locations be
    * creatable DIRECTORIES (`create_table_core` mkdirs them), but a
    * registered external table can point at a single parquet FILE. The
    * real location always rides here; the SD location falls back to the
    * file's parent directory only in that case. */
  private val LocationParam = "graft.location"
  private val DescriptionKey = "database.description"  // Hive2NamespaceConfig.java:20
  private val LocationUriKey = "database.location-uri" // Hive2NamespaceConfig.java:21

  override def initialize(props: Map[String, String]): Unit = {
    conf = props
    poolSize = props.get("client.pool-size").map(_.toInt).getOrElse(3)
    if (poolSize <= 0) throw GraftError.InvalidInput("client.pool-size must be > 0")
    props.get("connect_timeout_ms").foreach(_.toLong) // validate eagerly
    props.get("read_timeout_ms").foreach(_.toLong)
  }

  override def backendId: String =
    s"hive2(${conf.getOrElse("hive.metastore.uris", "<unconfigured>")})"

  override def close(): Unit = synchronized {
    if (pool != null) { pool.close(); pool = null }
  }

  private def root: String = conf.getOrElse("root", "/tmp/graft-warehouse")

  /** The Hadoop conf for storage probes, built once: a `new Configuration()`
    * per describe, declare or drop parsed the default XML resources again
    * each time. */
  private lazy val storageConf = new Configuration()

  /** Build the client Configuration lazily: URI + timeouts + fail-fast
    * retry policy + any caller-supplied `hive.*` keys. */
  private def clientConf(): Configuration = {
    val c = new Configuration(false)
    conf.foreach { case (k, v) if k.startsWith("hive.") => c.set(k, v); case _ => }
    // seconds granularity; fail fast instead of the client's 3×1s default
    val sockTimeoutSec = math.max(1,
      conf.get("read_timeout_ms").map(_.toLong).getOrElse(30000L) / 1000)
    c.set("hive.metastore.client.socket.timeout", s"${sockTimeoutSec}s")
    c.setInt("hive.metastore.connect.retries", 1)
    c.setInt("hive.metastore.failure.retries", 1)
    c.set("hive.metastore.client.connect.retry.delay", "0s")
    c
  }

  private def withClient[R](op: String)(f: IMetaStoreClient => R): R = {
    if (!conf.contains("hive.metastore.uris"))
      throw GraftError.ServiceUnavailable(
        s"hive2 backend requires hive.metastore.uris; refusing to boot an " +
          s"implicit embedded metastore — operation: $op")
    if (pool == null) synchronized {
      if (pool == null) pool = new HiveClientPool(poolSize, clientConf())
    }
    try pool.run(f)
    catch {
      case e: GraftError => throw e
      case e: TException =>
        throw GraftError.ServiceUnavailable(s"$op failed: ${msg(e)}", e)
      case e: RuntimeException if rootCause(e).isInstanceOf[TException] ||
          msg(e).contains("Could not connect") =>
        throw GraftError.ServiceUnavailable(s"$op failed: ${msg(e)}", e)
    }
  }

  private def msg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getSimpleName)

  @annotation.tailrec
  private def rootCause(e: Throwable): Throwable =
    if (e.getCause == null || (e.getCause eq e)) e else rootCause(e.getCause)

  private def requireDepth1(id: ObjectIdentifier): Unit =
    if (id.depth != 1)
      throw GraftError.InvalidInput(
        s"hive2 namespaces are exactly 1 level (database), got $id")

  private def db(id: ObjectIdentifier): String = id.levels.head.toLowerCase

  private def getDatabaseOrNull(client: IMetaStoreClient, name: String): Database =
    try client.getDatabase(name)
    catch { case _: NoSuchObjectException => null }

  private def getTableOrNull(client: IMetaStoreClient, d: String, t: String): HmsTable =
    try client.getTable(d, t)
    catch { case _: NoSuchObjectException => null }

  // ---- namespaces -----------------------------------------------------

  override def listNamespaces(parent: ObjectIdentifier): Seq[ObjectIdentifier] =
    if (parent.isRoot)
      withClient("listNamespaces")(_.getAllDatabases.asScala.toSeq)
        .sorted.map(ObjectIdentifier.of(_))
    else if (parent.depth == 1) Nil // databases have no children
    else { requireDepth1(parent); Nil }

  /** Pattern-based database listing (`get_databases`). The Hive 3 adapter
    * uses this with a catalog-qualified pattern (`@cat#*`) to list the
    * databases of a non-default catalog through the 2.x-compatible wire
    * (HMS 3.x `parseDbName` compatibility path). */
  private[hive] def listDatabasesByPattern(pattern: String): Seq[String] =
    withClient("listDatabases")(_.getDatabases(pattern).asScala.toSeq)

  override def createNamespace(id: ObjectIdentifier, properties: Map[String, String],
      mode: CreateMode): Map[String, String] = {
    if (id.isRoot) throw GraftError.InvalidInput("cannot create root namespace")
    requireDepth1(id)
    val name = db(id)
    withClient("createNamespace") { client =>
      val existing = getDatabaseOrNull(client, name)
      if (existing != null) mode match {
        case CreateMode.Create => throw GraftError.NamespaceAlreadyExists(id)
        case CreateMode.ExistOk => return describeDb(existing)
        case CreateMode.Overwrite =>
          // restrict-only, matching dropNamespace and the Glue backend's
          // taxonomy: without this pre-check the cascade=false drop's
          // InvalidOperationException would surface as ServiceUnavailable
          // (code 17, reads as retryable) instead of InvalidInput
          val tables = client.getAllTables(name).asScala
          if (tables.nonEmpty)
            throw GraftError.InvalidInput(
              s"cannot overwrite non-empty namespace $id " +
                s"(${tables.size} tables; drop them first)")
          client.dropDatabase(name, false, true, false)
      }
      val d = new Database()
      d.setName(name)
      val params = new java.util.HashMap[String, String]()
      properties.foreach {
        case (DescriptionKey, v) => d.setDescription(v)
        case (LocationUriKey, v) => d.setLocationUri(v)
        case (k, v) if v != null => params.put(k, v)
        case _ =>
      }
      if (!d.isSetLocationUri) d.setLocationUri(s"${root.stripSuffix("/")}/$name")
      if (!d.isSetOwnerName)
        d.setOwnerName(org.apache.hadoop.security.UserGroupInformation
          .getCurrentUser.getUserName)
      if (!d.isSetOwnerType) d.setOwnerType(PrincipalType.USER)
      d.setParameters(params)
      client.createDatabase(d)
      describeDb(client.getDatabase(name))
    }
  }

  private def describeDb(d: Database): Map[String, String] = {
    val base = Map.newBuilder[String, String]
    Option(d.getDescription).foreach(base += DescriptionKey -> _)
    Option(d.getLocationUri).foreach(base += LocationUriKey -> _)
    Option(d.getOwnerName).foreach(base += "owner" -> _)
    Option(d.getOwnerType).foreach(t => base += "owner_type" -> t.name)
    Option(d.getParameters).foreach(p => base ++= p.asScala)
    base.result()
  }

  override def namespaceExists(id: ObjectIdentifier): Boolean = {
    requireDepth1(id)
    withClient("namespaceExists")(getDatabaseOrNull(_, db(id)) != null)
  }

  override def describeNamespace(id: ObjectIdentifier): Map[String, String] = {
    requireDepth1(id)
    withClient("describeNamespace") { client =>
      val d = getDatabaseOrNull(client, db(id))
      if (d == null) throw GraftError.NamespaceNotFound(id)
      describeDb(d)
    }
  }

  override def dropNamespace(id: ObjectIdentifier, mode: DropMode): Map[String, String] = {
    requireDepth1(id)
    val name = db(id)
    withClient("dropNamespace") { client =>
      val d = getDatabaseOrNull(client, name)
      if (d == null) mode match {
        case DropMode.Fail => throw GraftError.NamespaceNotFound(id)
        case DropMode.Skip => return Map.empty
      }
      // restrict-only (Hive2Namespace.java:620-631): ANY table blocks the
      // drop — a namespace holding non-lance tables is still non-empty
      val tables = client.getAllTables(name).asScala
      if (tables.nonEmpty)
        throw GraftError.InvalidInput(
          s"namespace $id is not empty (restrict drop): ${tables.size} tables")
      val props = describeDb(d)
      client.dropDatabase(name, false, true, false)
      props
    }
  }

  override def updateNamespaceProperties(id: ObjectIdentifier,
      updates: Map[String, String], removals: Set[String]): Map[String, String] = {
    requireDepth1(id)
    withClient("updateNamespaceProperties") { client =>
      val d = getDatabaseOrNull(client, db(id))
      if (d == null) throw GraftError.NamespaceNotFound(id)
      // HMS 2.3's alter_database persists ONLY parameters and owner
      // (ObjectStore.alterDatabase) — description/location changes would
      // be silently dropped server-side, so refuse REAL mutations loudly.
      // A no-op "update" to the current value passes: callers routinely
      // replay describeNamespace() output (merge-and-write, Spark's
      // ALTER NAMESPACE SET PROPERTIES), and that must keep working.
      val current = Map(
        DescriptionKey -> Option(d.getDescription),
        LocationUriKey -> Option(d.getLocationUri))
      val mutated = current.keys.filter { k =>
        (updates.contains(k) && !current(k).contains(updates(k))) ||
          (removals.contains(k) && current(k).isDefined)
      }
      if (mutated.nonEmpty)
        throw GraftError.InvalidInput(
          s"HMS 2.x alter_database cannot change ${mutated.mkString(", ")} " +
            "(only parameters and owner are alterable)")
      val params = new java.util.HashMap[String, String](
        Option(d.getParameters).getOrElse(java.util.Collections.emptyMap()))
      removals.foreach(params.remove)
      (updates - DescriptionKey - LocationUriKey).foreach {
        case (k, v) => params.put(k, v)
      }
      d.setParameters(params)
      client.alterDatabase(db(id), d)
      describeDb(client.getDatabase(db(id)))
    }
  }

  // ---- tables ---------------------------------------------------------

  override def listTables(ns: ObjectIdentifier): Seq[ObjectIdentifier] = {
    requireDepth1(ns)
    val name = db(ns)
    withClient("listTables") { client =>
      if (getDatabaseOrNull(client, name) == null)
        throw GraftError.NamespaceNotFound(ns)
      // fast path: server-side parameter filter — ONE RPC returning only
      // matching NAMES (measured: 1,001-table listing 754 ms → the
      // transfer of 1,001 full Table objects becomes a name list). The
      // filter is exact-match on the canonical lowercase marker every
      // writer (this repo, the reference's adapters) stores, but point
      // lookups (isLanceTable) accept ANY case — so names the filter
      // missed are batch-verified against the case-insensitive predicate
      // below, and listings can never disagree with describeTable. A
      // lance-only database pays one extra name-list RPC; a database
      // mixing in N non-canonical tables pays one batched fetch of those
      // N. Metastores with filtering disabled fall back to the batched
      // object fetch, which is still one RPC, not the reference's
      // getTable-per-table N+1.
      def batchedLance(names: Seq[String]): Seq[String] =
        if (names.isEmpty) Nil
        else client.getTableObjectsByName(name, names.asJava).asScala.toSeq
          .filter(t => TableUtil.isLanceTable(
            Option(t.getParameters).map(_.asScala.toMap).getOrElse(Map.empty)))
          .map(_.getTableName)
      try {
        val matched = client.listTableNamesByFilter(name,
            "hive_filter_field_params__table_type = \"lance\"", -1)
          .asScala.toSeq
        val residual = client.getAllTables(name).asScala.toSeq.diff(matched)
        (matched ++ batchedLance(residual))
          .map(ns.child).sortBy(_.toDelimited())
      }
      catch { case _: org.apache.hadoop.hive.metastore.api.MetaException |
                   _: org.apache.hadoop.hive.metastore.api.InvalidOperationException =>
        batchedLance(client.getAllTables(name).asScala.toSeq)
          .map(ns.child).sortBy(_.toDelimited())
      }
    }
  }

  override def tableExists(id: ObjectIdentifier): Boolean = {
    if (id.depth != 2) return false
    withClient("tableExists")(getTableOrNull(_, db(id.parent), id.name.toLowerCase) != null)
  }

  override def describeTable(id: ObjectIdentifier): TableInfo = {
    requireDepth1(id.parent)
    withClient("describeTable") { client =>
      val t = getTableOrNull(client, db(id.parent), id.name.toLowerCase)
      if (t == null) throw GraftError.TableNotFound(id)
      toTableInfo(id, t)
    }
  }

  private def toTableInfo(id: ObjectIdentifier, t: HmsTable,
      probeStorage: Boolean = true): TableInfo = {
    val params = Option(t.getParameters).map(_.asScala.toMap).getOrElse(Map.empty)
    TableUtil.validateLanceTable(id, params)
    val location = params.get(LocationParam)
      .orElse(Option(t.getSd).flatMap(sd => Option(sd.getLocation)))
      .getOrElse("")
    if (location.isEmpty) throw GraftError.TableNotFound(id)
    val (props, storageOpts) =
      TableUtil.splitStorageOptions(params - SchemaParam - LocationParam - "EXTERNAL")
    TableInfo(id.lowered, location, props, storageOpts,
      schemaJson = params.get(SchemaParam),
      isOnlyDeclared = probeStorage &&
        !TableUtil.hasStorageComponents(location, storageConf))
  }

  /** Bulk describe: ONE `getTableObjectsByName` RPC per database instead of
    * the trait's describe-per-table loop — the same N+1 deletion as
    * [[listTables]]. Per the trait contract this is a METADATA bulk read:
    * the per-table storage probe is deferred (`isOnlyDeclared` stays
    * false), because the bulk caller (the catalog's
    * `include_declared=false` filter) probes locations itself on a
    * parallel pool — one serial FS walk per table here would undo
    * everything the batched RPC saves. Vanished and non-lance names are
    * skipped. */
  override def describeTables(ids: Seq[ObjectIdentifier]): Seq[TableInfo] = {
    val byId = ids.groupBy(_.parent).toSeq.flatMap { case (ns, grouped) =>
      requireDepth1(ns)
      val d = db(ns)
      val names = grouped.map(_.name.toLowerCase).distinct
      // Chunked (256 names/RPC) and fetched concurrently across the client
      // pool: one giant getTableObjectsByName both risks message-size
      // limits and serializes the server-side metadata fetch; bounded
      // chunks keep each frame small and let the pooled clients overlap
      // the server work (measured on the embedded HMS: 1,001 tables in one
      // frame ≈ 1.3 s, 4 concurrent chunks ≈ the slowest chunk).
      def fetch(chunk: Seq[String]): Seq[(String, HmsTable)] =
        withClient("describeTables")(
          _.getTableObjectsByName(d, chunk.asJava).asScala.toSeq
            .map(t => t.getTableName -> t))
      val chunks = names.grouped(256).toSeq
      val byName: Map[String, HmsTable] =
        if (chunks.sizeIs <= 1) chunks.headOption.map(fetch).getOrElse(Nil).toMap
        else {
          val exec = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(poolSize, chunks.size))
          try chunks.map(c =>
              exec.submit(new java.util.concurrent.Callable[Seq[(String, HmsTable)]] {
                override def call(): Seq[(String, HmsTable)] = fetch(c)
              })).flatMap { f =>
            try f.get()
            catch { case e: java.util.concurrent.ExecutionException =>
              throw e.getCause }
          }.toMap
          finally exec.shutdown()
        }
      grouped.flatMap { id =>
        byName.get(id.name.toLowerCase).flatMap { t =>
          // Skip exactly what the listing contract skips: non-lance tables
          // (validateLanceTable's InvalidInput) and tables that vanished or
          // carry no location (TableNotFound). Anything else — Internal,
          // ServiceUnavailable — propagates, so bulk listings and the
          // serial describeTable path cannot silently disagree on a table
          // whose metadata is genuinely broken.
          try Some(id -> toTableInfo(id, t, probeStorage = false))
          catch {
            case _: GraftError.InvalidInput | _: GraftError.TableNotFound => None
          }
        }
      }
    }.toMap
    // groupBy scrambles cross-namespace order — restore caller order
    // (the trait default preserves it; positional callers rely on that)
    ids.flatMap(byId.get)
  }

  override def declareTable(id: ObjectIdentifier, location: Option[String],
      properties: Map[String, String], schemaJson: Option[String]): TableInfo = {
    if (id.depth != 2)
      throw GraftError.InvalidInput(s"hive2 table ids are database.table, got $id")
    val d = db(id.parent)
    val name = id.name.toLowerCase
    withClient("declareTable") { client =>
      val database = getDatabaseOrNull(client, d)
      if (database == null) throw GraftError.NamespaceNotFound(id.parent)
      if (getTableOrNull(client, d, name) != null)
        throw GraftError.TableAlreadyExists(id)
      val loc = location.getOrElse {
        Option(database.getLocationUri).filter(_.nonEmpty)
          .map(u => s"${u.stripSuffix("/")}/$name.lance")
          .getOrElse(defaultTableLocation(root, id.lowered))
      }
      val t = new HmsTable()
      t.setDbName(d)
      t.setTableName(name)
      t.setTableType("EXTERNAL_TABLE")
      t.setPartitionKeys(new java.util.ArrayList())
      // HMS mkdirs the SD location on create — a single-FILE location
      // (registered external parquet) would fail, so point the SD at the
      // parent dir and keep the authoritative path in LocationParam
      val sdLoc = try {
        val p = new org.apache.hadoop.fs.Path(loc)
        val fs = p.getFileSystem(storageConf)
        if (fs.exists(p) && fs.getFileStatus(p).isFile) p.getParent.toString else loc
      } catch { case _: Exception => loc }
      val sd = new StorageDescriptor()
      sd.setLocation(sdLoc)
      // Catalog-native columns: the declared schema mapped to hive types
      // (placeholder when none — `hive2.py:490-498`), so non-graft HMS
      // readers see the real column list; exact fidelity (nullability,
      // ns timestamps, unsigned widening) still rides SchemaParam.
      val cols = new java.util.ArrayList[org.apache.hadoop.hive.metastore.api.FieldSchema]()
      graft.schema.CatalogColumns.columnsFor(schemaJson).foreach { case (n, t) =>
        cols.add(new org.apache.hadoop.hive.metastore.api.FieldSchema(n, t, null))
      }
      sd.setCols(cols)
      sd.setInputFormat("graft.mapred.GraftInputFormat")
      sd.setOutputFormat("graft.mapred.GraftOutputFormat")
      val serde = new SerDeInfo()
      serde.setSerializationLib("graft.mapred.GraftSerDe")
      sd.setSerdeInfo(serde)
      t.setSd(sd)
      val params = new java.util.HashMap[String, String]()
      TableUtil.mergeTableProperties(properties).foreach {
        case (k, v) => params.put(k, v)
      }
      // HMS convention: EXTERNAL=TRUE ensures the metastore itself never
      // treats the location as managed data it may delete
      params.put("EXTERNAL", "TRUE")
      params.put(LocationParam, loc)
      schemaJson.foreach(params.put(SchemaParam, _))
      t.setParameters(params)
      try client.createTable(t)
      catch { case _: AlreadyExistsException =>
        throw GraftError.TableAlreadyExists(id) }
      toTableInfo(id, client.getTable(d, name))
    }
  }

  override def dropTable(id: ObjectIdentifier, purge: Boolean): TableInfo = {
    if (id.depth != 2) throw GraftError.TableNotFound(id)
    val d = db(id.parent)
    val name = id.name.toLowerCase
    withClient("dropTable") { client =>
      val t = getTableOrNull(client, d, name)
      if (t == null) throw GraftError.TableNotFound(id)
      val info = toTableInfo(id, t)
      // deleteData=false always: data removal is the catalog layer's job
      // (it owns storage for purge=true), and EXTERNAL tables must never
      // lose data to a metadata-only deregister
      client.dropTable(d, name, false, true)
      info
    }
  }
}
