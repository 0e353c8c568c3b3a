package graft.catalog

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType

import graft.core.TableSnapshot
import graft.schema.JsonArrowSchema

/** A catalog's bounded map of table location → the schema resolved from the
  * files there, with the [[TableSnapshot]] it was resolved at. Every lookup
  * walks the location again, so freshness stays per call; the schema is
  * reused only while the snapshot and the declared schema are unchanged,
  * and `resolve` (the caller's `ParquetTable(...).schema`) runs otherwise.
  * Later loads share its one `StructType`, as they share each declared
  * schema parsed once. Past `capacity` entries an arbitrary one is dropped. */
final class TableSnapshotCache(capacity: Int = 1024) {
  import TableSnapshotCache.Entry
  private val entries = new ConcurrentHashMap[String, Entry]()
  private val declaredSchemas = new ConcurrentHashMap[String, StructType]()

  /** Times `resolve` ran: one per (location, snapshot, declared schema). */
  private[graft] val resolutions = new AtomicLong(0)
  private[graft] def size: Int = entries.size

  /** The schema of the data at `location`; None when it holds none (or the
    * walk fails). Has-data-only questions ask
    * `TableUtil.hasStorageComponents`, whose walk stops at the first file. */
  def schema(location: String, hconf: Configuration, declared: Option[StructType])(
      resolve: => StructType): Option[StructType] = {
    val snap =
      try { val p = new Path(location); TableSnapshot.take(p.getFileSystem(hconf), p) }
      catch { case _: Exception => TableSnapshot.Missing }
    val hit = entries.get(location)
    if (!snap.hasData) None
    else if (hit != null && hit.snapshot == snap && hit.declared == declared) Some(hit.schema)
    else {
      resolutions.incrementAndGet()
      val e = Entry(snap, declared, resolve)
      if (entries.size >= capacity && !entries.containsKey(location))
        entries.keys().asScala.take(1).foreach(entries.remove)
      entries.put(location, e)
      Some(e.schema)
    }
  }

  /** The declared schema `json` describes, parsed once per distinct text. */
  def declared(json: String): StructType = {
    if (declaredSchemas.size >= capacity) declaredSchemas.clear()
    declaredSchemas.computeIfAbsent(json, JsonArrowSchema.fromJson)
  }

  def evict(location: String): Unit = { entries.remove(location); () }
}

object TableSnapshotCache {
  private final case class Entry(snapshot: TableSnapshot, declared: Option[StructType],
      schema: StructType)
}
