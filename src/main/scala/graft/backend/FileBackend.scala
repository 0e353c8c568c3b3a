package graft.backend

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.core.{GraftError, ObjectIdentifier}

/** Durable single-node catalog: [[MemoryBackend]] semantics persisted to one
  * JSON file with atomic tmp-file + rename writes. The local-filesystem
  * stand-in for a metastore service — catalogs survive across Spark
  * sessions, which the pure memory backend cannot offer. Driver-side only,
  * like every backend (SURVEY.md §3).
  *
  * Concurrent writers (two sessions, two processes, same catalog file) are
  * handled with a CAS discipline the reference's drop-then-create overwrite
  * (`Hive2Namespace.java:415-421`) lacks: every mutation (a) takes an OS
  * file lock on `<path>.lock` (plus a JVM-level monitor, since POSIX locks
  * are per-process), (b) re-syncs in-memory state from disk when the
  * version stamp moved — i.e. another writer committed since we last
  * looked, (c) applies the mutation to that fresh state, and (d) publishes
  * version N+1 by atomic tmp-file rename. Atomic, each as one such commit:
  * namespace create and drop, table declare and drop, and a namespace
  * property update, whose describe, merge and publish all run inside the
  * one commit against that fresh state. So concurrent writers lose no
  * update (FileBackendSpec's race test pins two writers' declares both
  * surviving, ConcurrentAlterSpec every key of concurrent alters). Not
  * atomic: anything spanning two calls, such as a caller's own
  * describe-then-update.
  *
  * READS still serve from the last-synced snapshot — a reader only
  * re-syncs on its next mutation. That matches metastore-client semantics
  * (HMS caches too) and keeps list/describe RPC-free.
  *
  * The service backends cannot offer this: HMS `alter`/drop-then-create
  * and the REST backends' create-overwrite are multi-RPC and non-atomic
  * on their wire protocols — documented loudly on each
  * (`MetadataBackend.updateNamespaceProperties`, the hive/REST conformance
  * notes). This backend is the strongest consistency tier of the family.
  */
class FileBackend extends MemoryBackend {
  private var path: Path = _
  /** Version of the on-disk doc this instance last loaded or wrote. */
  private var syncedVersion: Long = 0L

  override def initialize(props: Map[String, String]): Unit = {
    super.initialize(props)
    path = Paths.get(props.getOrElse("path",
      throw GraftError.InvalidInput("file backend needs 'path' (catalog JSON file)")))
    if (Files.exists(path)) load()
  }

  override def backendId: String = s"file($path)"

  /** CAS-guarded mutation: file-lock → re-sync if stale → apply → publish
    * version+1 atomically. */
  private def casMutate[T](f: => T): T = {
    val monitor = FileBackend.jvmLock(path)
    monitor.synchronized {
      Files.createDirectories(path.toAbsolutePath.getParent)
      val lockPath = path.resolveSibling(path.getFileName.toString + ".lock")
      val ch = java.nio.channels.FileChannel.open(lockPath,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val fl = ch.lock()
        try {
          // another writer committed since our last sync → rebuild from disk
          if (Files.exists(path) && diskVersion() != syncedVersion) {
            clearState(); load()
          }
          val r = f
          save()
          r
        } finally fl.release()
      } finally ch.close()
    }
  }

  // persist after every mutation, under the CAS guard
  override def createNamespace(id: ObjectIdentifier, properties: Map[String, String],
      mode: CreateMode): Map[String, String] =
    casMutate(super.createNamespace(id, properties, mode))
  override def dropNamespace(id: ObjectIdentifier, mode: DropMode): Map[String, String] =
    casMutate(super.dropNamespace(id, mode))
  override def updateNamespaceProperties(id: ObjectIdentifier,
      updates: Map[String, String], removals: Set[String]): Map[String, String] =
    casMutate(super.updateNamespaceProperties(id, updates, removals))
  override def declareTable(id: ObjectIdentifier, location: Option[String],
      properties: Map[String, String], schemaJson: Option[String]): TableInfo =
    casMutate(super.declareTable(id, location, properties, schemaJson))
  override def dropTable(id: ObjectIdentifier, purge: Boolean): TableInfo =
    casMutate(super.dropTable(id, purge))

  private def jmap(m: Map[String, String]): JObject =
    JObject(m.toList.map { case (k, v) => k -> (JString(v): JValue) })
  private def smap(jv: JValue): Map[String, String] = jv match {
    case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
    case _ => Map.empty
  }

  /** Version stamp of the on-disk doc (0 when absent/unstamped). */
  private def diskVersion(): Long =
    if (!Files.exists(path)) 0L
    else JsonMethods.parse(
      new String(Files.readAllBytes(path), StandardCharsets.UTF_8)) \ "version" match {
      case JInt(v) => v.toLong
      case _ => 0L
    }

  private def save(): Unit = synchronized {
    syncedVersion += 1
    val doc = JObject(
      "version" -> JInt(syncedVersion),
      "namespaces" -> JArray(snapshotNamespaces.map { case (levels, props) =>
        JObject("levels" -> JArray(levels.map(JString(_)).toList), "properties" -> jmap(props))
      }.toList),
      "tables" -> JArray(snapshotTables.map { info =>
        JObject(
          "levels" -> JArray(info.id.levels.map(JString(_)).toList),
          "location" -> JString(info.location),
          "properties" -> jmap(info.properties),
          "storageOptions" -> jmap(info.storageOptions),
          "schemaJson" -> info.schemaJson.map(JString(_)).getOrElse(JNull),
          "isOnlyDeclared" -> JBool(info.isOnlyDeclared))
      }.toList))
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.write(tmp, JsonMethods.compact(JsonMethods.render(doc))
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def load(): Unit = synchronized {
    val doc = JsonMethods.parse(new String(Files.readAllBytes(path), StandardCharsets.UTF_8))
    syncedVersion = (doc \ "version") match {
      case JInt(v) => v.toLong
      case _ => 0L
    }
    (doc \ "namespaces") match {
      case JArray(items) => items.foreach { ns =>
        val levels = (ns \ "levels").asInstanceOf[JArray].arr.collect { case JString(s) => s }
        restoreNamespace(levels, smap(ns \ "properties"))
      }
      case _ => ()
    }
    (doc \ "tables") match {
      case JArray(items) => items.foreach { t =>
        val levels = (t \ "levels").asInstanceOf[JArray].arr.collect { case JString(s) => s }
        val schema = (t \ "schemaJson") match { case JString(s) => Some(s); case _ => None }
        restoreTable(TableInfo(
          ObjectIdentifier(levels),
          (t \ "location").asInstanceOf[JString].s,
          smap(t \ "properties"), smap(t \ "storageOptions"), schema,
          (t \ "isOnlyDeclared") match { case JBool(b) => b; case _ => false }))
      }
      case _ => ()
    }
  }
}

object FileBackend {
  /** POSIX file locks are per-PROCESS (a second lock attempt from the same
    * JVM throws OverlappingFileLockException instead of waiting), so
    * in-JVM writers on the same catalog file serialize on this monitor
    * first and only then take the OS lock against OTHER processes. */
  private val jvmLocks = new ConcurrentHashMap[String, Object]()
  private def jvmLock(p: Path): Object =
    jvmLocks.computeIfAbsent(p.toAbsolutePath.toString, _ => new Object)
}
