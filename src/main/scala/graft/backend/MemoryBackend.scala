package graft.backend

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import graft.core.{GraftError, ObjectIdentifier, TableUtil}

/** In-memory reference backend: the test/dev stand-in for HMS/Glue/REST,
  * playing the role the reference's Mockito-mocked clients played in its
  * suites (SURVEY.md §5). Also a legitimate single-JVM catalog for local
  * pipelines. Thread-safe; all state driver-side.
  *
  * Depth policy: arbitrary-depth namespaces (like the reference's Iceberg
  * backend, `IcebergNamespace.java:64-77`), so one backend exercises every
  * identifier shape the others restrict.
  */
class MemoryBackend extends MetadataBackend {
  private val namespaces = new ConcurrentHashMap[Seq[String], Map[String, String]]()
  private val tables = new ConcurrentHashMap[Seq[String], TableInfo]()
  @volatile private var conf: Map[String, String] = Map.empty

  override def initialize(props: Map[String, String]): Unit = { conf = props }
  override def backendId: String = s"memory(${conf.getOrElse("root", "")})"

  override def listNamespaces(parent: ObjectIdentifier): Seq[ObjectIdentifier] =
    namespaces.keySet.asScala.toSeq
      .filter(ns => ns.size == parent.depth + 1 && ns.startsWith(parent.levels))
      .map(ObjectIdentifier(_))
      .sortBy(_.toDelimited())

  override def createNamespace(id: ObjectIdentifier, properties: Map[String, String],
      mode: CreateMode): Map[String, String] = {
    if (id.isRoot) throw GraftError.InvalidInput("cannot create root namespace")
    if (id.depth > 1 && !namespaces.containsKey(id.parent.levels))
      throw GraftError.NamespaceNotFound(id.parent)
    mode match {
      case CreateMode.Create =>
        if (namespaces.putIfAbsent(id.levels, properties) != null)
          throw GraftError.NamespaceAlreadyExists(id)
      case CreateMode.ExistOk =>
        namespaces.putIfAbsent(id.levels, properties)
      case CreateMode.Overwrite =>
        // drop-then-create, same non-atomicity as Hive2Namespace.java:415-421
        namespaces.put(id.levels, properties)
    }
    namespaces.get(id.levels)
  }

  /** One atomic merge: concurrent alters of one namespace keep every key. */
  override def updateNamespaceProperties(id: ObjectIdentifier,
      updates: Map[String, String], removals: Set[String]): Map[String, String] =
    Option(namespaces.computeIfPresent(id.levels, (_, cur) => cur -- removals ++ updates))
      .getOrElse(throw GraftError.NamespaceNotFound(id))

  override def namespaceExists(id: ObjectIdentifier): Boolean =
    namespaces.containsKey(id.levels)

  override def describeNamespace(id: ObjectIdentifier): Map[String, String] =
    Option(namespaces.get(id.levels)).getOrElse(throw GraftError.NamespaceNotFound(id))

  override def dropNamespace(id: ObjectIdentifier, mode: DropMode): Map[String, String] = {
    if (!namespaces.containsKey(id.levels)) mode match {
      case DropMode.Fail => throw GraftError.NamespaceNotFound(id)
      case DropMode.Skip => return Map.empty
    }
    // Restrict-only: refuse when child namespaces or tables exist
    // (Hive2Namespace.java:606-669; cascade rejected by all 6 ref backends).
    val hasChildNs = namespaces.keySet.asScala
      .exists(ns => ns.size > id.depth && ns.startsWith(id.levels))
    val hasTables = tables.keySet.asScala
      .exists(t => t.size == id.depth + 1 && t.startsWith(id.levels))
    if (hasChildNs || hasTables)
      throw GraftError.InvalidInput(s"namespace $id is not empty (restrict drop)")
    Option(namespaces.remove(id.levels)).getOrElse(Map.empty)
  }

  override def listTables(ns: ObjectIdentifier): Seq[ObjectIdentifier] = {
    if (!namespaces.containsKey(ns.levels)) throw GraftError.NamespaceNotFound(ns)
    tables.asScala.collect {
      // table_type=lance predicate, as in GlueNamespace.java:577-582
      case (levels, info) if levels.size == ns.depth + 1 &&
        levels.startsWith(ns.levels) && TableUtil.isLanceTable(info.properties) =>
        ObjectIdentifier(levels)
    }.toSeq.sortBy(_.toDelimited())
  }

  override def tableExists(id: ObjectIdentifier): Boolean =
    tables.containsKey(id.levels)

  override def describeTable(id: ObjectIdentifier): TableInfo = {
    val info = Option(tables.get(id.levels)).getOrElse(throw GraftError.TableNotFound(id))
    TableUtil.validateLanceTable(id, info.properties)
    info
  }

  override def declareTable(id: ObjectIdentifier, location: Option[String],
      properties: Map[String, String], schemaJson: Option[String]): TableInfo = {
    if (id.depth < 2) throw GraftError.InvalidInput(s"table id needs a namespace: $id")
    if (!namespaces.containsKey(id.parent.levels))
      throw GraftError.NamespaceNotFound(id.parent)
    val root = conf.getOrElse("root", "/tmp/graft-warehouse")
    val (props, storageOpts) =
      TableUtil.splitStorageOptions(TableUtil.mergeTableProperties(properties))
    val info = TableInfo(id, location.getOrElse(defaultTableLocation(root, id)),
      props, storageOpts, schemaJson, isOnlyDeclared = true)
    if (tables.putIfAbsent(id.levels, info) != null)
      throw GraftError.TableAlreadyExists(id)
    info
  }

  override def dropTable(id: ObjectIdentifier, purge: Boolean): TableInfo =
    Option(tables.remove(id.levels)).getOrElse(throw GraftError.TableNotFound(id))

  // ---- persistence hooks for FileBackend ----
  /** Drop all in-memory state (FileBackend re-syncs from disk before each
    * CAS-guarded mutation). */
  protected def clearState(): Unit = { namespaces.clear(); tables.clear() }
  protected def snapshotNamespaces: Seq[(Seq[String], Map[String, String])] =
    namespaces.asScala.toSeq
  protected def snapshotTables: Seq[TableInfo] = tables.values.asScala.toSeq
  protected def restoreNamespace(levels: Seq[String], props: Map[String, String]): Unit =
    namespaces.put(levels, props)
  protected def restoreTable(info: TableInfo): Unit =
    tables.put(info.id.levels, info)
}
