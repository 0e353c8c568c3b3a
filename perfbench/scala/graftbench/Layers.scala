package graftbench

/** Per-layer figures of one traced pass. `begin` and `end` bracket the
  * timed region; counters that belong to set-up (index builds) are filled
  * by the workload directly. Every per-layer metric is reported on every
  * workload: a layer the workload does not exercise reads 0. */
final class Layers(listener: BenchListener) {
  var buildMs = 0.0
  var indexFiles = 0L
  var docBytes = 0L
  var routable = 0L
  var routeServed = 0L
  var rowsReturned = 0L
  private var t0 = 0L
  private var wallNs = 0L
  private var threads = 1
  private var gc0 = 0.0
  private var gcMs = 0.0

  def begin(): Unit = {
    Trace.reset(); listener.reset()
    gc0 = Main.gcMs(); t0 = System.nanoTime()
  }

  private var captured: Seq[(String, Double)] = Nil

  /** Closes the timed region and captures the spans and Spark counters,
    * so work done afterwards (checks) is not attributed to any layer. */
  def end(clientThreads: Int): Unit = {
    wallNs = System.nanoTime() - t0
    threads = clientThreads
    gcMs = Main.gcMs() - gc0
    captured = spans()
  }

  private def busyMs(prefix: String): Double =
    Trace.keys.filter(_.startsWith(prefix)).map(k => Trace.acc(k).busyNs.sum).sum / 1e6
  private def calls(prefix: String): Double =
    Trace.keys.filter(_.startsWith(prefix)).map(k => Trace.acc(k).calls.sum).sum.toDouble
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Every per-layer metric, in a fixed order. */
  def metrics(p: Pass): Seq[(String, Double)] = {
    val late = Map(
      "backend.doc_bytes" -> docBytes.toDouble,
      "plans.route_served_frac" -> ratio(routeServed, routable),
      "plans.route_declined" -> (routable - routeServed).toDouble,
      "ops.build_ms" -> buildMs,
      "ops.index_files" -> indexFiles.toDouble,
      "exec.rows_read_per_row_returned" -> ratio(listenerRecordsRead, rowsReturned))
    captured.map { case (k, v) => k -> late.getOrElse(k, v) }
  }

  private var listenerRecordsRead = 0L

  private def spans(): Seq[(String, Double)] = {
    val keys = Trace.keys.toSet
    listenerRecordsRead = listener.get("exec.records_read")
    val catalogOps = Layers.CatalogOps.flatMap { op =>
      val k = s"catalog.$op"
      val (n, s50, s99) =
        if (keys(k)) { val a = Trace.acc(k); (a.calls.sum.toDouble, a.samples.pct(50), a.samples.pct(99)) }
        else (0.0, 0.0, 0.0)
      Seq(s"$k.calls" -> n, s"$k.p50_ms" -> s50, s"$k.p99_ms" -> s99)
    }
    val backendOps = Layers.BackendOps.flatMap { op =>
      val k = s"backend.$op"
      val (n, busy) = if (keys(k)) { val a = Trace.acc(k); (a.calls.sum.toDouble, a.busyNs.sum / 1e6) } else (0.0, 0.0)
      Seq(s"$k.calls" -> n, s"$k.busy_ms" -> busy)
    }
    val mutations = Trace.counter("backend.mutations").toDouble
    val backendErrors = Trace.keys.filter(_.startsWith("backend."))
      .map(k => Trace.acc(k).errors.sum).sum.toDouble
    val l = listener
    val selfMs = Layers.SelfLayers.map(x => x -> Trace.selfNs(x) / 1e6)
    val layerSelf = selfMs.map(_._2).sum
    val threadWallMs = wallNs / 1e6 * threads
    catalogOps ++ Seq("catalog.self_ms" -> Trace.selfNs("catalog") / 1e6) ++
      backendOps ++ Seq(
      "backend.calls_per_catalog_call" -> ratio(calls("backend."), calls("catalog.")),
      "backend.errors" -> backendErrors,
      "backend.read_bytes_per_mutation" -> ratio(Trace.counter("backend.mutation_read_bytes"), mutations),
      "backend.write_bytes_per_mutation" -> ratio(Trace.counter("backend.mutation_write_bytes"), mutations),
      "backend.doc_bytes" -> docBytes.toDouble,
      "plans.analysis_ms" -> Trace.counter("plans.analysis_us") / 1e3,
      "plans.optimization_ms" -> Trace.counter("plans.optimization_us") / 1e3,
      "plans.physical_ms" -> Trace.counter("plans.physical_us") / 1e3,
      "plans.graft_rules_ms" -> Trace.counter("plans.graft_rules_ns") / 1e6,
      "plans.graft_rules_effective_frac" -> ratio(Trace.counter("plans.graft_rule_effective"),
        Trace.counter("plans.graft_rule_invocations")),
      "plans.route_served_frac" -> ratio(routeServed, routable),
      "plans.route_declined" -> (routable - routeServed).toDouble,
      "ops.construct_ms" -> busyMs("ops.construct."),
      "ops.construct_jobs" -> l.get("construct.jobs").toDouble,
      "ops.build_ms" -> buildMs,
      "ops.index_files" -> indexFiles.toDouble,
      "exec.ms" -> busyMs("exec."),
      "exec.jobs" -> l.get("exec.jobs").toDouble,
      "exec.tasks" -> l.get("exec.tasks").toDouble,
      "exec.task_cpu_ms" -> l.get("exec.task_cpu_ns") / 1e6,
      "exec.scheduler_delay_ms" -> l.get("exec.scheduler_delay_ms").toDouble,
      "exec.input_bytes" -> l.get("exec.input_bytes").toDouble,
      "exec.rows_read_per_row_returned" -> ratio(l.get("exec.records_read"), rowsReturned),
      "exec.shuffle_write_bytes" -> l.get("exec.shuffle_write_bytes").toDouble,
      "exec.shuffle_read_bytes" -> l.get("exec.shuffle_read_bytes").toDouble,
      "exec.spill_bytes" -> l.get("exec.spill_bytes").toDouble,
      "jvm.gc_ms" -> gcMs) ++
      selfMs.map { case (x, v) => s"self.${x}_ms" -> v } ++ Seq(
      "trace.client_wall_ms" -> threadWallMs,
      "trace.layer_self_ms" -> layerSelf,
      "trace.reconcile_frac" -> ratio(layerSelf, threadWallMs))
  }
}

object Layers {
  val CatalogOps: Seq[String] = Seq("loadTable", "tableExists", "listTables",
    "loadNamespaceMetadata", "namespaceExists", "createTable", "dropTable",
    "alterNamespace", "listNamespaces")
  val BackendOps: Seq[String] = Seq("describeTable", "tableExists", "listTables",
    "describeNamespace", "namespaceExists", "declareTable", "dropTable",
    "updateNamespaceProperties", "listNamespaces")
  val SelfLayers: Seq[String] = Seq("catalog", "backend", "plans", "ops", "exec")

  def unit(name: String): String =
    if (name.endsWith("_ms") || name.endsWith(".ms")) "ms"
    else if (name.endsWith("_bytes") || name.endsWith("bytes_per_mutation")) "bytes"
    else if (name.endsWith("_frac") || name.endsWith("per_row_returned") ||
      name.endsWith("per_catalog_call")) "ratio"
    else "count"
}
