package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // events.ts normalization casts TIMESTAMP_NTZ through the session tz;
      // pin UTC here like Verify does so a run outside the sbt fork (which
      // passes -Duser.timezone=UTC) can't shift epoch values on a non-UTC
      // host (ADVICE r8).
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen/scan machinery once so the first timed query
    // isn't charged for one-time JIT + filesystem initialization.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").queryExecution.toRdd.count()

    // Execute each query's plan AS WRITTEN and stream all result rows.
    // (df.count() would let Catalyst prune every column and skip the
    // projection work — toRdd runs the already-optimized plan unrewritten.)
    // Each query runs twice and reports the min: a single-shot timing on a
    // shared machine conflates the plan's cost with transient CPU/IO
    // contention (round-2 measured 4–13× swings on identical plans);
    // min-of-2 measures the plan, which is what the baseline targets bound.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // SPARK_GRAFT_RUNS=1 halves giant-scale audit sweeps (100×) where
    // min-of-2 would double an hour-long run; the canonical per-round
    // sweeps keep the default 2.
    val runsPer = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    // In-round iteration knob: run only queries numbered >= the given one
    // (e.g. SPARK_GRAFT_SINCE=q146 sweeps just the newest tail). Numeric
    // compare, not lexicographic — "q99" must NOT follow "q160". The
    // canonical round-close artifact is always the full sweep.
    val since = sys.env.get("SPARK_GRAFT_SINCE")
    // Scale-audit knob: drop the named queries from the sweep. The 100×
    // audit excludes the sample-scoped exact-all-pairs AUDIT queries
    // (q98/q100/q171/q177-q179) whose quadratic arms are their documented
    // design, not a scale defect — the exclusion is labeled in the JSON so
    // a filtered sweep can't pass as a full one.
    val exclude = sys.env.get("SPARK_GRAFT_EXCLUDE").map(_.split(",").toSet)
      .getOrElse(Set.empty[String])
    def qnum(n: String): Int =
      "q(\\d+)".r.findFirstMatchIn(n).map(_.group(1).toInt).getOrElse(0)

    // The exception of a failed run is kept for the JSON line and printed
    // only after the clock stops, so reporting it costs no timed time.
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Option[Throwable], Double) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).queryExecution.toRdd.count(); None }
        catch { case e: Throwable => Some(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      err.foreach {
        case e: OutOfMemoryError =>
          // local[32] runbook (BASELINE.md r14 postmortem): the 100×
          // sweep's sketch builds want a 48g driver heap from the
          // start — per-query plans are linear; this is JVM sizing
          System.err.println(s"[bench] $name: $e\n" +
            "[bench] DRIVER OOM — single-JVM local mode holds " +
            "executors AND driver in one heap; re-run with " +
            "SPARK_DRIVER_MEM=48g (see README 'Scale sweeps')")
        case e => System.err.println(s"[bench] $name: $e")
      }
      (err, sec)
    }

    // Host-noise instrumentation: a fixed q01-shape control query runs
    // before the sweep, after every CONTROL_EVERY queries, and at the end,
    // and its full trace lands in the artifact. Three rounds in a row a
    // sustained co-tenant contention window made unchanged queries read
    // 10–30× slow (r6 q99, r7 q79/q80) and cost a judge adjudication each
    // time — with the control series, a window shows up IN the artifact as
    // a control spike adjacent to the slow queries, so a reader can
    // discount them without a rerun. Both raw runs per query are recorded
    // for the same reason: min-of-2 absorbs a one-run blip, but a
    // [42.1, 41.8] pair distinguishes "genuinely slow plan" from a
    // [0.6, 41.8] scheduling artifact.
    val controlName = SparkEntry.queries.keys.toSeq.sorted
      .find(_.startsWith("q01")).getOrElse(SparkEntry.queries.keys.min)
    val controlFn = SparkEntry.queries(controlName)
    val ControlEvery = 10
    val control = Seq.newBuilder[(String, Double)]
    def runControl(after: String): Unit =
      control += (after -> timeOnce(s"control:$controlName", controlFn)._2)

    runControl("")
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .filter { case (name, _) => since.forall(s => qnum(name) >= qnum(s)) }
      .filterNot { case (name, _) => exclude.contains(name) }
    val results = ordered.zipWithIndex.map { case ((name, fn), i) =>
      val runs = (1 to runsPer).map(_ => timeOnce(name, fn))
      if ((i + 1) % ControlEvery == 0) runControl(name)
      // A query that threw must not report its time-to-exception as a
      // (possibly fastest) run: any failed run poisons the query to the -1
      // sentinel so failure is visible in the JSON, not only on stderr.
      val agg = if (runs.forall(_._1.isEmpty)) runs.map(_._2).min else -1.0
      (name, agg, runs.map(_._2), runs.flatMap(_._1).headOption)
    }
    runControl("end")

    def f(v: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, v)
    val byName = results.map(r => r._1 -> r._2).toMap
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val runsJson = results.map { case (k, _, rs, _) =>
      s"\"" + k + "\":[" + rs.map(f).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val controlJson = control.result().map { case (after, sec) =>
      s"""{"after":"$after","sec":${f(sec)}}"""
    }.mkString("[", ",", "]")
    val failed = byName.filter(_._2 < 0).keys.toSeq.sorted
    // each failed query's first exception: class and (clipped) message
    def jsonStr(v: String): String = v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }.mkString("\"", "", "\"")
    val errorsJson = results.collect { case (k, _, _, Some(e)) =>
      val msg = Option(e.getMessage).getOrElse("").take(300)
      s"${jsonStr(k)}:{\"class\":${jsonStr(e.getClass.getName)}," +
        s"\"message\":${jsonStr(msg)}}"
    }.mkString(""","errors":{""", ",", "}")
    val failures =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]") +
        errorsJson
    val total = byName.values.filter(_ >= 0).sum
    // a filtered run is labeled so it can't be mistaken for (or overwrite)
    // a full benchmark result
    val onlyJson = only
      .map(_.toSeq.sorted.map("\"" + _ + "\"").mkString(""","only":[""", ",", "]"))
      .getOrElse("") +
      since.map(s => s""","since":"$s"""").getOrElse("") +
      (if (exclude.isEmpty) ""
       else exclude.toSeq.sorted.map("\"" + _ + "\"")
         .mkString(""","exclude":[""", ",", "]"))
    val line = s"""{"metric":"total","value":${f(total)},"unit":"sec","runs_per_query":$runsPer,"agg":"min","control_query":"$controlName","control":$controlJson$onlyJson$failures,"queries":$qs,"runs":$runsJson,"sf":"$sfDir"}"""
    println(line)
    // The driver's BENCH_r*.json capture keeps only a TAIL of stdout, so
    // the full line above loses its head at ~176 queries and the round's
    // record ends up "parsed": null. Emit a compact line LAST — total,
    // count, slowest-10 as the "queries" map, control min/max — sized to
    // survive any plausible tail cut, so the driver always parses
    // something. The complete per-query map still lands in the full-map
    // artifact below.
    val slow10 = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v, _, _) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val ctrl = control.result().map(_._2)
    val compact = s"""{"metric":"total","value":${f(total)},"unit":"sec","n_queries":${results.size},"runs_per_query":$runsPer,"agg":"min","queries_are":"slowest10","control_min":${f(ctrl.min)},"control_max":${f(ctrl.max)}$onlyJson$failures,"queries":$slow10,"sf":"$sfDir"}"""
    // The driver's BENCH_r*.json capture truncates the stdout tail (round 6
    // kept 61 of 121 queries), so a FULL run also persists the complete
    // per-query map itself — round-over-round comparison needs every query,
    // not a sample. Filtered (SPARK_GRAFT_ONLY) runs don't write: a partial
    // map must never overwrite the complete artifact. The default target is
    // a fixed SCRATCH name (documented ephemeral, overwritten every full
    // run) that can never collide with a committed round artifact — round-
    // named copies (bench_full_r{N}.json) are made explicitly at round
    // close. r7 lost an artifact to a hardcoded round tag being rerun by
    // the driver; r8 lost one to opt-in-only writing — this is the middle.
    // a SINCE-filtered tail run is just as partial as an ONLY run
    // Neither the artifact write nor spark.stop may swallow the compact
    // line: a bad SPARK_GRAFT_BENCH_OUT path or a stop-time exception would
    // otherwise lose the whole round's benchmark record (ADVICE r12).
    if (only.isEmpty && since.isEmpty && exclude.isEmpty) {
      try {
        val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
          "bench_full_latest.json")
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          (line + "\n").getBytes("UTF-8"))
        System.err.println(s"[bench] full artifact -> $out")
      } catch {
        case e: Throwable => System.err.println(s"[bench] artifact write failed: $e")
      }
      System.err.flush()
    }
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark.stop: $e") }
    // The compact line must be the FINAL line this process prints — and
    // sys.exit fires JVM shutdown hooks (Spark's ShutdownHookManager,
    // temp-dir sweepers) that can still log AFTER it in a combined
    // stdout+stderr capture. Turn logging fully off first so nothing can
    // print below this point (ADVICE r12).
    try org.apache.logging.log4j.core.config.Configurator
      .setRootLevel(org.apache.logging.log4j.Level.OFF)
    catch { case _: Throwable => () }
    println(compact)
    System.out.flush()
    // same as Verify: q122's embedded metastore must not pin the JVM
    sys.exit(0)
  }
}
