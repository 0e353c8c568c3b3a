package graftbench

import java.util

import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, Table, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType

import graft.backend.{CreateMode, DropMode, MetadataBackend, Page, TableInfo}
import graft.core.ObjectIdentifier

/** A [[MetadataBackend]] that times every call into the wrapped backend
  * (layer `backend`) and, for mutations, the bytes the calling thread read
  * and wrote while the call ran. Installed with `MetadataBackend.register`
  * under a `timed-` short name; it only records while tracing is on. */
final class TimedBackend(inner: MetadataBackend) extends MetadataBackend {
  private def t[T](op: String)(f: => T): T = Trace.span("backend", op)(f)
  private def mut[T](op: String)(f: => T): T =
    if (!Trace.enabled) f
    else {
      val (r0, w0) = ThreadIo.readWrite()
      try t(op)(f)
      finally {
        val (r1, w1) = ThreadIo.readWrite()
        Trace.count("backend.mutations")
        Trace.count("backend.mutation_read_bytes", r1 - r0)
        Trace.count("backend.mutation_write_bytes", w1 - w0)
      }
    }

  override def initialize(props: Map[String, String]): Unit = inner.initialize(props)
  override def backendId: String = inner.backendId
  override def listNamespaces(parent: ObjectIdentifier): Seq[ObjectIdentifier] =
    t("listNamespaces")(inner.listNamespaces(parent))
  override def createNamespace(id: ObjectIdentifier, properties: Map[String, String],
      mode: CreateMode): Map[String, String] =
    mut("createNamespace")(inner.createNamespace(id, properties, mode))
  override def namespaceExists(id: ObjectIdentifier): Boolean =
    t("namespaceExists")(inner.namespaceExists(id))
  override def describeNamespace(id: ObjectIdentifier): Map[String, String] =
    t("describeNamespace")(inner.describeNamespace(id))
  override def dropNamespace(id: ObjectIdentifier, mode: DropMode): Map[String, String] =
    mut("dropNamespace")(inner.dropNamespace(id, mode))
  override def updateNamespaceProperties(id: ObjectIdentifier,
      updates: Map[String, String], removals: Set[String]): Map[String, String] =
    mut("updateNamespaceProperties")(inner.updateNamespaceProperties(id, updates, removals))
  override def listTables(ns: ObjectIdentifier): Seq[ObjectIdentifier] =
    t("listTables")(inner.listTables(ns))
  override def tableExists(id: ObjectIdentifier): Boolean =
    t("tableExists")(inner.tableExists(id))
  override def describeTable(id: ObjectIdentifier): TableInfo =
    t("describeTable")(inner.describeTable(id))
  override def describeTables(ids: Seq[ObjectIdentifier]): Seq[TableInfo] =
    t("describeTables")(inner.describeTables(ids))
  override def declareTable(id: ObjectIdentifier, location: Option[String],
      properties: Map[String, String], schemaJson: Option[String]): TableInfo =
    mut("declareTable")(inner.declareTable(id, location, properties, schemaJson))
  override def dropTable(id: ObjectIdentifier, purge: Boolean): TableInfo =
    mut("dropTable")(inner.dropTable(id, purge))
  override def defaultTableLocation(root: String, id: ObjectIdentifier): String =
    inner.defaultTableLocation(root, id)
  override def listNamespacesPaged(parent: ObjectIdentifier, pageToken: Option[String],
      limit: Option[Int]): Page[ObjectIdentifier] =
    t("listNamespacesPaged")(inner.listNamespacesPaged(parent, pageToken, limit))
  override def listTablesPaged(ns: ObjectIdentifier, pageToken: Option[String],
      limit: Option[Int]): Page[ObjectIdentifier] =
    t("listTablesPaged")(inner.listTablesPaged(ns, pageToken, limit))
}

object TimedBackend {
  /** Registers `timed-<name>` for each named backend. */
  def install(names: Seq[String]): Unit = names.foreach { n =>
    MetadataBackend.register(s"timed-$n", () => new TimedBackend(MetadataBackend.create(n)))
  }
}

/** The graft catalog with every DSv2 `TableCatalog`/`SupportsNamespaces`
  * call timed as layer `catalog`. The catalog_ops clients use it in traced
  * runs. */
class TimedCatalog extends graft.catalog.GraftCatalog {
  private def t[T](op: String)(f: => T): T = Trace.span("catalog", op)(f)
  override def listNamespaces(): Array[Array[String]] =
    t("listNamespaces")(super.listNamespaces())
  override def listNamespaces(parent: Array[String]): Array[Array[String]] =
    t("listNamespaces")(super.listNamespaces(parent))
  override def namespaceExists(namespace: Array[String]): Boolean =
    t("namespaceExists")(super.namespaceExists(namespace))
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    t("loadNamespaceMetadata")(super.loadNamespaceMetadata(namespace))
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    t("createNamespace")(super.createNamespace(namespace, metadata))
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    t("alterNamespace")(super.alterNamespace(namespace, changes: _*))
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    t("dropNamespace")(super.dropNamespace(namespace, cascade))
  override def listTables(namespace: Array[String]): Array[Identifier] =
    t("listTables")(super.listTables(namespace))
  override def tableExists(ident: Identifier): Boolean =
    t("tableExists")(super.tableExists(ident))
  override def loadTable(ident: Identifier): Table =
    t("loadTable")(super.loadTable(ident))
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    t("createTable")(super.createTable(ident, schema, partitions, properties))
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    t("alterTable")(super.alterTable(ident, changes: _*))
  override def dropTable(ident: Identifier): Boolean =
    t("dropTable")(super.dropTable(ident))
}
