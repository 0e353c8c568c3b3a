package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Lance-table conventions shared by every backend.
  *
  * Ports the semantics of the reference's core util
  * (`java/lance-namespace-impls-core/.../util/LanceTableUtil.java:28-60`,
  * `python/src/lance_namespace_impls/table_utils.py:8-45`):
  * a catalog entry is a Lance table iff `table_type == "lance"`
  * (case-insensitive), required markers win over caller properties, and
  * materialization ("declared" vs real data) is detected by a storage probe.
  */
object TableUtil {
  val TableTypeKey = "table_type"
  val TableTypeValue = "lance"
  val ManagedByKey = "managed_by"
  val ManagedByValue = "storage"
  /** `DescribeTableResponse.managedVersioning` surfaced as a table
    * property: every reference backend answers `false` — versioning is
    * managed by the storage layer, not the catalog (e.g.
    * `GlueNamespace.java:263`, `Hive2Namespace.java:306`,
    * `IcebergNamespace.java:390` all `setManagedVersioning(false)`). */
  val ManagedVersioningKey = "managed_versioning"
  /** Identity partition columns of a catalog table, comma-joined in
    * declaration order — the reference's metadata model has no
    * partition concept (its tables are location pointers,
    * `Hive2Namespace.java:491-502` registers placeholder schemas), so
    * the layout rides an ordinary table property and the DATA plane
    * (hive-style `col=value/` dirs under the location) stays plain
    * parquet any engine can read. */
  val PartitionColumnsKey = "graft.partition.columns"
  /** `storage.`-prefixed options are stripped off table properties and passed
    * to the data layer (`GlueNamespaceConfig.java:83-84,116-125`). */
  val StorageOptionPrefix = "storage."

  /** Caller properties merged with the required Lance markers; required
    * markers win (`LanceTableUtil.mergeTableProperties:28-38`). */
  def mergeTableProperties(caller: Map[String, String]): Map[String, String] =
    caller ++ Map(TableTypeKey -> TableTypeValue, ManagedByKey -> ManagedByValue)

  def isLanceTable(props: Map[String, String]): Boolean =
    props.get(TableTypeKey).exists(_.equalsIgnoreCase(TableTypeValue))

  def validateLanceTable(id: ObjectIdentifier, props: Map[String, String]): Unit =
    if (!isLanceTable(props))
      throw GraftError.InvalidInput(
        s"table $id is not a Lance table (missing $TableTypeKey=$TableTypeValue)")

  def splitStorageOptions(props: Map[String, String]): (Map[String, String], Map[String, String]) = {
    val (storage, rest) = props.partition(_._1.startsWith(StorageOptionPrefix))
    (rest, storage.map { case (k, v) => k.stripPrefix(StorageOptionPrefix) -> v })
  }

  /** Storage-existence probe: does the location hold any data files?
    * Equivalent of the reference's `Dataset.open(location)` try/catch
    * (`LanceTableUtil.hasStorageComponents:48-60`), answered by a
    * [[TableSnapshot.hasData]] walk (one `listStatus` per directory, up to
    * the first data file) instead of a dataset open. Still an FS round
    * trip per directory, not free: the bulk listing caches and fans it out.
    * Swallows failures → false, like the reference.
    */
  def hasStorageComponents(location: String, hadoopConf: Configuration): Boolean =
    try {
      val p = new Path(location)
      TableSnapshot.hasData(p.getFileSystem(hadoopConf), p)
    } catch { case _: Exception => false }

  /** Offset-encoded client-side pagination (`hive2/PageUtil.java:21-51`):
    * token = integer start index into the sorted listing, default page 100. */
  def page[T](sorted: Seq[T], pageToken: Option[String], limit: Option[Int]): (Seq[T], Option[String]) = {
    val start = pageToken.map(t =>
      try t.toInt catch {
        case _: NumberFormatException =>
          throw GraftError.InvalidInput(s"malformed page token '$t'")
      }).getOrElse(0)
    val size = limit.getOrElse(100)
    val slice = sorted.slice(start, start + size)
    val next = if (start + size < sorted.size) Some((start + size).toString) else None
    (slice, next)
  }
}
