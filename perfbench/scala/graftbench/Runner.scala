package graftbench

import java.nio.file.{Files, Paths}

/** Runs one workload and writes its report. A traced run first makes the
  * same untraced pass the end-to-end metrics come from, then a traced pass
  * in a fresh directory, so the tracing overhead is the difference. */
object Runner {
  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, runDir: String,
      fixture: String, indexes: String, cores: Int, report: String, plantWrong: Boolean): Int = {
    require(Main.Workloads.contains(workload), s"unknown workload $workload")
    TimedBackend.install(Seq("file", "hive2"))
    val spark = Main.session(runDir, cores)
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    def pass(n: Int, traced: Boolean): (Pass, Failures, Seq[(String, Double)]) = {
      val ctx = Ctx(spark, s"$runDir/pass$n", fixture, indexes, seed, seconds, cores, plantWrong)
      Files.createDirectories(Paths.get(ctx.runDir))
      val fails = new Failures(workload)
      val layers = new Layers(listener)
      Trace.enabled = traced
      val p = try workload match {
        case "catalog_ops" => new CatalogWorkload(ctx, layers).pass(traced, fails)
        case "index_serving" => new ServingWorkload(ctx, layers).pass(traced, fails)
      } finally Trace.enabled = false
      (p, fails, if (traced) layers.metrics(p) else Nil)
    }
    val (plain, fails, _) = pass(0, traced = false)
    val traced = if (trace) Some(pass(1, traced = true)) else None
    val env = Env.stamp(spark, seed, cores, fixture, indexes)
    spark.stop()

    val metrics = Seq(
      ("setup_s", Samples.median(plain.setupS), "s"),
      ("ops_per_s", plain.opsPerS, "1/s"),
      ("mix_p50_ms", plain.mixP50, "ms"),
      ("tail_ms", plain.ops.pct(plain.tailPct), "ms"),
      ("live_heap_mb", plain.liveHeapMb, "MB"))
    val allFails = fails.all ++ traced.toSeq.flatMap(_._2.all)
    val attempted = fails.attempted.get + traced.map(_._2.attempted.get).getOrElse(0L)
    def metricJson(m: Seq[(String, Double, String)]): String =
      Json.obj(m.map { case (k, v, u) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val layerJson = traced.map { case (tp, _, lm) =>
      val overhead = Seq(
        ("trace.overhead_mix_p50_frac", tp.mixP50 / plain.mixP50 - 1, "ratio"),
        ("trace.overhead_ops_per_s_frac", tp.opsPerS / plain.opsPerS - 1, "ratio"))
      metricJson(lm.map { case (k, v) => (k, v, Layers.unit(k)) } ++ overhead)
    }.getOrElse("{}")
    val details = plain.details ++ Seq("samples" -> plain.ops.count.toDouble,
      "tail_pct" -> plain.tailPct, "wall_s" -> plain.wallS, "gc_ms" -> plain.gcMs)
    val out = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> attempted.toString,
      "failed" -> allFails.size.toString,
      "failures" -> Json.arr(allFails.map(_.json)),
      "metrics" -> metricJson(metrics),
      "layers" -> layerJson,
      "details" -> Json.obj(details.map { case (k, v) => k -> Json.num(v) }),
      "setup_samples_s" -> Json.arr(plain.setupS.map(Json.num)),
      "env" -> env))
    Files.write(Paths.get(report), out.getBytes("UTF-8"))
    0
  }
}

/** The environment every result is stamped with. */
object Env {
  def stamp(spark: org.apache.spark.sql.SparkSession, seed: Long, cores: Int,
      fixture: String, indexes: String): String = {
    val rt = Runtime.getRuntime
    val manifest = Paths.get(s"$fixture/manifest.json")
    val builds = Paths.get(s"$indexes/builds.json")
    Json.obj(Seq(
      "nproc" -> rt.availableProcessors().toString,
      "spark_cores" -> cores.toString,
      "xmx_mb" -> (rt.maxMemory / 1048576).toString,
      "java" -> Json.str(System.getProperty("java.version")),
      "scala" -> Json.str(scala.util.Properties.versionNumberString),
      "spark" -> Json.str(spark.version),
      "seed" -> seed.toString,
      "fixture" -> (if (Files.exists(manifest)) new String(Files.readAllBytes(manifest), "UTF-8") else "null"),
      "index_build_ms" -> (if (Files.exists(builds)) new String(Files.readAllBytes(builds), "UTF-8") else "null")))
  }
}
