package graft.backend

import graft.core.ObjectIdentifier

/** Create-namespace tri-modal behavior (`Hive2Namespace.java:406-450`). */
sealed trait CreateMode
object CreateMode {
  case object Create extends CreateMode     // fail if exists
  case object ExistOk extends CreateMode    // no-op if exists
  case object Overwrite extends CreateMode  // drop + recreate (non-atomic in ref)
  def parse(s: String): CreateMode = s.toLowerCase match {
    case "create" => Create
    case "exist_ok" => ExistOk
    case "overwrite" => Overwrite
    case other => throw graft.core.GraftError.InvalidInput(s"unknown create mode '$other'")
  }
}

/** Drop-namespace modes (`Hive2Namespace.java:209-226`): mode fail|skip;
  * behavior restrict-only — every reference backend rejects cascade. */
sealed trait DropMode
object DropMode {
  case object Fail extends DropMode  // throw if missing
  case object Skip extends DropMode  // no-op if missing
}

/** Resolved table metadata (the reference's `DescribeTableResponse`:
  * location + properties + stripped `storage.` options,
  * `Hive2Namespace.java:272-311`). `schemaJson` is our fidelity extension —
  * the reference stores only placeholder columns (SURVEY.md §1.2); we keep
  * the real schema as JSON Arrow so declared tables scan with a schema. */
final case class TableInfo(
    id: ObjectIdentifier,
    location: String,
    properties: Map[String, String],
    storageOptions: Map[String, String] = Map.empty,
    schemaJson: Option[String] = None,
    isOnlyDeclared: Boolean = false,
    /** The reference `DescribeTableResponse.managedVersioning` field:
      * `false` on every backend — the storage layer, not the catalog,
      * owns table versioning (see [[graft.core.TableUtil.ManagedVersioningKey]]).
      * Carried explicitly so a future catalog-versioned backend can flip
      * it per table; surfaced to queries via `GraftTable.properties`. */
    managedVersioning: Boolean = false)

/** The 13-operation namespace surface (SURVEY.md §2.1) in backend-neutral
  * form. One implementation per metadata catalog; the Spark `TableCatalog`
  * plugin drives whichever one `spark.sql.catalog.<name>.backend` selects.
  * All calls are driver-side only — executors never see a backend, just
  * serialized scan locations (SURVEY.md §3 entry point B).
  */
trait MetadataBackend {
  /** Op 1: bind config; build clients lazily. */
  def initialize(props: Map[String, String]): Unit
  /** Op 2: human-readable instance id. */
  def backendId: String

  /** Op 3: sorted child namespaces of parent. */
  def listNamespaces(parent: ObjectIdentifier): Seq[ObjectIdentifier]
  /** Op 4. */
  def createNamespace(id: ObjectIdentifier, properties: Map[String, String],
      mode: CreateMode): Map[String, String]
  /** Op 5. */
  def namespaceExists(id: ObjectIdentifier): Boolean
  /** Op 6: properties, or NamespaceNotFound. */
  def describeNamespace(id: ObjectIdentifier): Map[String, String]
  /** Op 7: restrict-only drop; returns final property snapshot. */
  def dropNamespace(id: ObjectIdentifier, mode: DropMode): Map[String, String]

  /** In-place property update (ALTER NAMESPACE SET/UNSET); returns the
    * properties after the update. Abstract so that every backend states its
    * own atomicity: a describe-then-overwrite merge loses keys when two
    * callers alter one namespace at once, and drop-and-recreate fails on
    * non-empty namespaces. Memory and file merge atomically. Hive and Glue
    * read, merge and write the whole map through their update RPC (last
    * writer wins per call); Iceberg REST, Unity and Polaris send only the
    * changed keys, so their atomicity is the server's. */
  def updateNamespaceProperties(id: ObjectIdentifier,
      updates: Map[String, String], removals: Set[String]): Map[String, String]

  /** Op 8: sorted Lance tables in a namespace (table_type filter applied). */
  def listTables(ns: ObjectIdentifier): Seq[ObjectIdentifier]
  /** Op 9. */
  def tableExists(id: ObjectIdentifier): Boolean
  /** Op 10. */
  def describeTable(id: ObjectIdentifier): TableInfo

  /** Op 10 with the request's `load_detailed_metadata` flag. Every
    * reference implementation uniformly rejects `true` with InvalidInput
    * (`Hive2Namespace.java:273-276`, `GlueNamespace.java:245-248`,
    * `IcebergNamespace.java:406-408`, `UnityNamespace.java:376-378`,
    * `PolarisNamespace.java:329-331`, `Hive3Namespace.java:290-292`) —
    * the flag is reserved for server-side namespaces that can inline
    * manifest data, which none of these metadata-only backends can.
    * Final so every backend shares the one rejection. */
  final def describeTable(id: ObjectIdentifier,
      loadDetailedMetadata: Boolean): TableInfo = {
    if (loadDetailedMetadata)
      throw graft.core.GraftError.InvalidInput(
        "load_detailed_metadata=true is not supported for this implementation")
    describeTable(id)
  }
  /** Batched op 10: describe many tables in as few RPCs as the backend
    * allows. Tables that vanished between list and describe are skipped,
    * not errors — a bulk caller (the `include_declared=false` listing
    * filter) must not abort on a concurrent drop. Default is the serial
    * loop; backends with a real batch RPC (hive2's
    * `getTableObjectsByName`) override it to one round trip.
    *
    * Contract note: this is a bulk METADATA read — implementations MAY
    * defer the per-table storage probe and leave `isOnlyDeclared` at its
    * default, because a caller that needs declared-detection over a bulk
    * listing should probe the returned `location`s itself, in parallel
    * (as `GraftCatalog.listTables(include_declared=false)` does). A
    * serial FS walk per table inside the batch would undo the RPC win. */
  def describeTables(ids: Seq[ObjectIdentifier]): Seq[TableInfo] =
    ids.flatMap { id =>
      try Some(describeTable(id))
      catch { case _: graft.core.GraftError.TableNotFound => None }
    }

  /** Ops 11/12: register table metadata (schema optional = declare-only). */
  def declareTable(id: ObjectIdentifier, location: Option[String],
      properties: Map[String, String], schemaJson: Option[String]): TableInfo
  /** Op 13: purge=true → dropTable (data deleted by caller);
    * purge=false → deregister (keep data). Returns the removed entry. */
  def dropTable(id: ObjectIdentifier, purge: Boolean): TableInfo

  /** Default location when the caller supplies none
    * (`GlueNamespace.getDefaultTableLocation:602-617`). */
  def defaultTableLocation(root: String, id: ObjectIdentifier): String =
    (root.stripSuffix("/") +: id.levels).mkString("/") + ".lance"

  /** Paginated listings with the spec's offset-token contract
    * (`PageUtil.java:21-51`, default page 100). Backends with native
    * server-side tokens (Glue-style) may override; the default paginates the
    * full sorted listing client-side, exactly like the reference's
    * Hive adapters. */
  def listNamespacesPaged(parent: ObjectIdentifier, pageToken: Option[String],
      limit: Option[Int]): Page[ObjectIdentifier] = {
    val (items, next) = graft.core.TableUtil.page(listNamespaces(parent), pageToken, limit)
    Page(items, next)
  }

  def listTablesPaged(ns: ObjectIdentifier, pageToken: Option[String],
      limit: Option[Int]): Page[ObjectIdentifier] = {
    val (items, next) = graft.core.TableUtil.page(listTables(ns), pageToken, limit)
    Page(items, next)
  }
}

/** One page of a listing + continuation token (spec pagination shape). */
final case class Page[T](items: Seq[T], nextToken: Option[String])

/** Backend registry, the analog of the reference's
  * `register_namespace_impl` shortname registry
  * (`python/src/lance_namespace_impls/__init__.py:40-45`). */
object MetadataBackend {
  private val shortNames = scala.collection.concurrent.TrieMap[String, () => MetadataBackend](
    "memory" -> (() => new MemoryBackend),
    "file" -> (() => new FileBackend),
    "iceberg" -> (() => new graft.backend.rest.IcebergRestBackend),
    "unity" -> (() => new graft.backend.rest.UnityBackend),
    "polaris" -> (() => new graft.backend.rest.PolarisBackend),
    "hive2" -> (() => new graft.backend.hive.Hive2Backend),
    "hive3" -> (() => new graft.backend.hive.Hive3Backend),
    "glue" -> (() => new graft.backend.glue.GlueRestBackend))

  /** Register a shortname → factory, like `register_namespace_impl`. */
  def register(shortName: String, factory: () => MetadataBackend): Unit =
    shortNames.put(shortName, factory)

  def create(shortNameOrClass: String): MetadataBackend = shortNameOrClass match {
    case short if shortNames.contains(short) => shortNames(short)()
    case fqcn =>
      val cls = Class.forName(fqcn)
      if (!classOf[MetadataBackend].isAssignableFrom(cls))
        throw graft.core.GraftError.InvalidInput(
          s"$fqcn does not implement MetadataBackend")
      cls.getDeclaredConstructor().newInstance().asInstanceOf[MetadataBackend]
  }
}
