package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its own run directory, the
  * read-only fixture and the run's parameters. */
final case class Ctx(spark: SparkSession, runDir: String, fixture: String, indexes: String,
    seed: Long, seconds: Double, cores: Int, plantWrong: Boolean)

/** The end-to-end result of one measured pass of a workload. Every
  * workload fills the same five contract metrics: throughput, the mix
  * median, the `tailPct` percentile of the `ops` latencies, median set-up
  * time and live heap. `details` carries the workload's own named figures.
  *
  * The mix median is the mean of each operation kind's median latency,
  * weighted by the kind's share of `ops`. The median of all latencies
  * pooled is not used: the kinds' latencies lie apart (on a 4-core x86 VM a
  * catalog existence probe takes about 15 us and a loadTable with its
  * storage probe about 9 ms), so the pooled median falls in a gap between
  * two kinds and jumps across it when their shares move by a percent. Each kind's median lies inside one kind's
  * spread and moves only when that kind gets faster or slower. */
final case class Pass(setupS: Seq[Double], ops: Samples, kinds: Map[String, Samples],
    opsPerS: Double, wallS: Double, tailPct: Double, liveHeapMb: Double,
    details: Seq[(String, Double)], gcMs: Double) {
  def mixP50: Double = {
    val n = kinds.values.map(_.count).sum
    kinds.values.map(s => s.count.toDouble / n * s.pct(50)).sum
  }
}

/** Entry point. Usage:
  * {{{
  *   graftbench.Main fixture <dir>
  *   graftbench.Main indexes <fixtureDir> <dir>
  *   graftbench.Main run <workload> <seed> <seconds> <trace 0|1> <runDir> <fixtureDir> <indexDir> <cores> <reportFile> [plant-wrong]
  *   graftbench.Main selftest
  * }}}
  */
object Main {
  val Workloads: Seq[String] = Seq("catalog_ops", "index_serving")

  def session(runDir: String, cores: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.catalog.graft", classOf[graft.catalog.GraftCatalog].getName)
      // the route layer discovers indexes only through catalogs of class
      // GraftCatalog, so the session catalog is not the timed subclass;
      // its backend is timed (a no-op unless tracing)
      .config("spark.sql.catalog.graft.backend", "timed-file")
      .config("spark.sql.catalog.graft.path", s"$runDir/graft-catalog.json")
      .config("spark.sql.catalog.graft.root", s"$runDir/graft-root")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  /** Heap in use after a full collection. Spark's context cleaner frees
    * broadcasts and shuffle state only after a collection has cleared their
    * weak references, so the second collection waits for it. */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(300); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val code = args.toList match {
      case "fixture" :: dir :: Nil =>
        val spark = session(dir + "-tmp", 4)
        val manifest = Fixture.build(spark, dir)
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/manifest.json"),
          manifest.getBytes("UTF-8"))
        spark.stop(); 0
      case "indexes" :: fixture :: dir :: Nil =>
        val spark = session(dir + "-tmp", 4)
        val built = new IndexSet(spark, s"$fixture/x10", dir).build()
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/builds.json"),
          Json.obj(built.map { case (f, ms) => f -> Json.num(ms) }).getBytes("UTF-8"))
        spark.stop(); 0
      case "selftest" :: Nil => SelfTest.run()
      case "run" :: workload :: seed :: seconds :: trace :: runDir :: fixture :: indexes :: cores ::
          report :: rest =>
        Runner.run(workload, seed.toLong, seconds.toDouble, trace == "1", runDir, fixture, indexes,
          cores.toInt, report, rest.contains("plant-wrong"))
      case _ =>
        System.err.println("usage: graftbench.Main fixture <dir> | run ... | selftest"); 2
    }
    System.exit(code)
  }
}
