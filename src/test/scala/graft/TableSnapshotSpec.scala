package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.{GraftCatalog, GraftTable, TableSnapshotCache}

/** The catalog's per-location [[TableSnapshotCache]]: a table's schema is
  * resolved once per fingerprint of its files and then shared, every
  * out-of-band change is seen by the next call, and the map stays bounded. */
class TableSnapshotSpec extends SparkSpec {
  private val ns = Array("ns")

  private def freshCatalog(): GraftCatalog = {
    spark // the catalog resolves its tables through the active session
    val c = new GraftCatalog
    c.initialize("snap", new CaseInsensitiveStringMap(Map("backend" -> "memory",
      "root" -> Files.createTempDirectory("graft-snap-wh").toString).asJava))
    c.createNamespace(ns, Map.empty[String, String].asJava)
    c
  }

  private def declare(c: GraftCatalog, name: String, location: String,
      schema: StructType = new StructType(), props: Map[String, String] = Map.empty,
      partitions: Seq[String] = Nil): Identifier = {
    val ident = Identifier.of(ns, name)
    c.createTable(ident, schema,
      partitions.map(p => org.apache.spark.sql.connector.expressions.Expressions.identity(p))
        .toArray[org.apache.spark.sql.connector.expressions.Transform],
      (props + ("location" -> location)).asJava)
    ident
  }

  private def load(c: GraftCatalog, ident: Identifier): GraftTable =
    c.loadTable(ident).asInstanceOf[GraftTable]

  /** Writes `sql`'s rows as parquet files straight into `dir` (no `.crc`
    * sidecars, no `_SUCCESS`), the way another engine's writer would. */
  private def writeFiles(sql: String, dir: Path, prefix: String): Seq[Path] = {
    val staging = Files.createTempDirectory("graft-snap-stage").resolve("out")
    spark.sql(sql).coalesce(1).write.parquet(staging.toString)
    Files.createDirectories(dir)
    Files.list(staging).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .zipWithIndex.map { case (f, i) =>
        Files.move(f, dir.resolve(s"$prefix-$i.parquet"))
      }
  }

  private def parquetTableSchema(location: String, declared: Option[StructType]): StructType =
    ParquetTable("check", spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      CaseInsensitiveStringMap.empty(), Seq(location), declared,
      classOf[ParquetFileFormat]).schema

  test("N loads resolve the schema once per fingerprint and share one StructType") {
    val c = freshCatalog()
    val dir = Files.createTempDirectory("graft-snap-n").resolve("t")
    writeFiles("SELECT id, id * 2 AS twice FROM range(10)", dir, "a")
    val ident = declare(c, "t", dir.toString)
    val r0 = c.snapshots.resolutions.get()
    val schemas = (1 to 20).map(_ => load(c, ident).schema())
    assert(c.snapshots.resolutions.get() - r0 == 1)
    assert(schemas.forall(_ eq schemas.head), "every load returns the shared instance")
    assert(schemas.head.fieldNames.toSeq == Seq("id", "twice"))
    writeFiles("SELECT id, id * 2 AS twice FROM range(5)", dir, "b")
    (1 to 5).foreach(_ => load(c, ident).schema())
    assert(c.snapshots.resolutions.get() - r0 == 2, "one more per new fingerprint")

    val declared = declare(c, "d", s"$dir-none", StructType.fromDDL("id INT, name STRING"))
    val declaredSchemas = (1 to 5).map(_ => load(c, declared).schema())
    assert(declaredSchemas.forall(_ eq declaredSchemas.head),
      "a declared table's schema is parsed once and shared too")
    assert(declaredSchemas.head.fieldNames.toSeq == Seq("id", "name"))
  }

  test("the schema path builds no file index once the fingerprint is known") {
    val c = freshCatalog()
    val dir = Files.createTempDirectory("graft-snap-idx").resolve("t")
    writeFiles("SELECT id FROM range(10)", dir, "a")
    val ident = declare(c, "t", dir.toString)
    load(c, ident).schema()
    val discovered = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val cacheHits = HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount
    (1 to 20).foreach { _ =>
      val t = load(c, ident)
      t.schema(); t.routablePath
    }
    assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount == discovered &&
      HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount == cacheHits,
      "an InMemoryFileIndex listed files on the schema path")
  }

  test("out-of-band changes are seen by the next schema(), routablePath and isOnlyDeclared") {
    val c = freshCatalog()
    val dir = Files.createTempDirectory("graft-snap-oob").resolve("t")
    val ident = declare(c, "t", dir.toString, props = Map("storage.mergeSchema" -> "true"))
    def state = { val t = load(c, ident); (t.schema().fieldNames.toSeq, t.routablePath, c.isOnlyDeclared(ident)) }
    assert(state == ((Nil, None, true)))

    // a new file
    val first = writeFiles("SELECT id, 'x' AS s1 FROM range(3)", dir, "a")
    assert(state == ((Seq("id", "s1"), Some(dir.toString), false)))
    val second = writeFiles("SELECT id, 'y' AS s2 FROM range(3)", dir, "b")
    assert(state._1.toSet == Set("id", "s1", "s2"))

    // an in-place rewrite that keeps the size but changes the mtime
    val rewrite = writeFiles("SELECT id, 'y' AS s3 FROM range(3)",
      Files.createTempDirectory("graft-snap-rw"), "r").head
    assert(Files.size(rewrite) == Files.size(second.head), "the rewrite keeps the size")
    val mtime = Files.getLastModifiedTime(second.head).toMillis
    Files.copy(rewrite, second.head, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(second.head,
      java.nio.file.attribute.FileTime.fromMillis(mtime + 5000))
    assert(state._1.toSet == Set("id", "s1", "s3"))

    // removing the last data file makes the table declared again
    (first ++ second).foreach(Files.delete)
    assert(state == ((Nil, None, true)))
  }

  test("a new partition directory is seen by the next schema()") {
    val c = freshCatalog()
    val dir = Files.createTempDirectory("graft-snap-part").resolve("t")
    writeFiles("SELECT id FROM range(3)", dir.resolve("p=1"), "a")
    writeFiles("SELECT id FROM range(3)", dir.resolve("p=2"), "a")
    val ident = declare(c, "t", dir.toString)
    assert(load(c, ident).schema()("p").dataType == org.apache.spark.sql.types.IntegerType)
    writeFiles("SELECT id FROM range(3)", dir.resolve("p=x"), "a")
    assert(load(c, ident).schema()("p").dataType == org.apache.spark.sql.types.StringType,
      "a non-integer partition value widens the inferred partition column")
  }

  test("CREATE TABLE … LOCATION with no columns, and a partitioned table, give ParquetTable's schema") {
    val c = freshCatalog()
    val flat = Files.createTempDirectory("graft-snap-eq").resolve("flat")
    writeFiles("SELECT id, CAST(id AS DOUBLE) AS v, 'k' AS s FROM range(4)", flat, "a")
    val f = declare(c, "flat", flat.toString)
    assert(load(c, f).schema() == parquetTableSchema(flat.toString, None))

    val part = Files.createTempDirectory("graft-snap-eq").resolve("part")
    writeFiles("SELECT id, 1.5 AS amount FROM range(4)", part.resolve("region=eu"), "a")
    writeFiles("SELECT id, 2.5 AS amount FROM range(4)", part.resolve("region=us"), "a")
    val declared = StructType.fromDDL("id BIGINT, amount DECIMAL(2,1), region STRING")
    val p = declare(c, "part", part.toString, declared, partitions = Seq("region"))
    assert(load(c, p).schema() == parquetTableSchema(part.toString, Some(declared)))
    val inferred = declare(c, "part_inferred", part.toString)
    assert(load(c, inferred).schema() == parquetTableSchema(part.toString, None))
    assert(load(c, inferred).schema().fieldNames.last == "region")
  }

  test("purge then redeclare at a reused location does not inherit the old snapshot") {
    val loc = Files.createTempDirectory("graft-snap-purge").resolve("t").toString
    spark.conf.set("spark.sql.catalog.gsnap", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsnap.backend", "memory")
    spark.conf.set("spark.sql.catalog.gsnap.root", loc + "-wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsnap.ns")
    val cat = spark.sessionState.catalogManager.catalog("gsnap").asInstanceOf[GraftCatalog]
    spark.sql(s"CREATE TABLE gsnap.ns.t (id BIGINT) LOCATION '$loc'")
    spark.sql("INSERT INTO gsnap.ns.t VALUES (1)")
    val ident = Identifier.of(ns, "t")
    assert(load(cat, ident).schema().fieldNames.toSeq == Seq("id"))
    assert(cat.snapshots.size == 1)
    assert(cat.purgeTable(ident))
    assert(cat.snapshots.size == 0, "purge evicts the location")
    spark.sql(s"CREATE TABLE gsnap.ns.t (name STRING) LOCATION '$loc'")
    assert(load(cat, ident).schema().fieldNames.toSeq == Seq("name"))
    assert(cat.isOnlyDeclared(ident))
    spark.sql("INSERT INTO gsnap.ns.t VALUES ('a')")
    assert(load(cat, ident).schema().fieldNames.toSeq == Seq("name"))
    assert(spark.table("gsnap.ns.t").collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("the map stays bounded under 10k create/drop cycles") {
    val c = freshCatalog()
    val base = Files.createTempDirectory("graft-snap-churn")
    val dirs = (0 until 8).map { i =>
      val d = base.resolve(s"d$i"); writeFiles(s"SELECT id FROM range($i + 1)", d, "a"); d.toString
    }
    val schema = new StructType().add(StructField("id", LongType))
    var peak = 0
    (0 until 10000).foreach { i =>
      val ident = declare(c, s"t$i", if (i % 2 == 0) dirs(i % 8) else s"$base/none$i", schema)
      load(c, ident).schema()
      peak = math.max(peak, c.snapshots.size)
      assert(c.dropTable(ident))
    }
    assert(peak <= dirs.size && c.snapshots.size <= dirs.size)

    // past its capacity the cache drops entries instead of growing
    val small = new TableSnapshotCache(capacity = 4)
    val hconf = spark.sessionState.newHadoopConf()
    dirs.foreach(d => small.schema(d, hconf, None)(schema))
    assert(small.size == 4)
  }
}
