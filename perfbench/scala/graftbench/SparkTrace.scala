package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Spark-side counters for the traced run. Jobs started while a request
  * builds its DataFrame run under job group `construct`; jobs of the final
  * plan run under `exec`. Task metrics are summed per group. */
final class BenchListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val sums = new ConcurrentHashMap[String, LongAdder]()
  private def add(k: String, v: Long): Unit =
    if (v != 0) sums.computeIfAbsent(k, _ => new LongAdder).add(v)
  def get(k: String): Long = Option(sums.get(k)).map(_.sum).getOrElse(0L)
  def reset(): Unit = sums.clear()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("other")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    add(s"$g.jobs", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("other")
    val m = e.taskMetrics
    add(s"$g.tasks", 1)
    if (m != null) {
      add(s"$g.task_cpu_ns", m.executorCpuTime)
      val info = e.taskInfo
      if (info != null) {
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        add(s"$g.scheduler_delay_ms", math.max(0L, delay))
      }
      add(s"$g.input_bytes", m.inputMetrics.bytesRead)
      add(s"$g.records_read", m.inputMetrics.recordsRead)
      add(s"$g.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(s"$g.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add(s"$g.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Runs one request against Spark: build the DataFrame (layer `ops`,
  * including any eager jobs the op runs), then execute its final plan and
  * collect the rows (layer `exec`). The planner's own phase clock splits
  * analysis, optimization and physical planning out as layer `plans`, and
  * the graft optimizer rules' time comes from the same tracker. */
object SparkReq {

  final case class Out(rows: Array[Row], df: DataFrame)

  def run(spark: SparkSession, op: String)(build: => DataFrame): Out = {
    var rows: Array[Row] = null
    val df = timed(spark, op, build, d => rows = d.collect())
    Out(rows, df)
  }

  private def timed(spark: SparkSession, op: String, build: => DataFrame,
      exec: DataFrame => Unit): DataFrame = {
    val sc = spark.sparkContext
    if (!Trace.enabled) {
      val df = build
      exec(df)
      df
    } else {
      val k0 = Trace.counter("metadata.top_ns")
      sc.setJobGroup("construct", op)
      val df = try Trace.span("ops", s"construct.$op")(build) finally sc.clearJobGroup()
      val catalogNs = Trace.counter("metadata.top_ns") - k0
      val qe = df.queryExecution
      sc.setJobGroup("exec", op)
      try Trace.span("exec", op)(exec(df)) finally sc.clearJobGroup()
      recordPlanning(qe, catalogNs)
      df
    }
  }

  /** Folds the tracker's phase times into layer `plans` (analysis ran while
    * the op built the DataFrame; optimization and planning ran inside the
    * collect) and the graft rules' time and effectiveness into counters. */
  private def recordPlanning(qe: org.apache.spark.sql.execution.QueryExecution,
      catalogNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val (a, o, p) = (ms("analysis"), ms("optimization"), ms("planning"))
    Trace.count("plans.analysis_us", a * 1000)
    Trace.count("plans.optimization_us", o * 1000)
    Trace.count("plans.physical_us", p * 1000)
    // analysis sits inside the construct span, optimization and planning
    // inside the exec span: move them out of those layers' self time. The
    // catalog calls made while the DataFrame was built ran inside analysis
    // and were already taken out of the construct span's self time.
    val analysisSelf = math.max(0L, a * 1000000L - catalogNs)
    Trace.addSelf("ops", -analysisSelf)
    Trace.addSelf("exec", -(o + p) * 1000000L)
    Trace.addSelf("plans", analysisSelf + (o + p) * 1000000L)
    qe.tracker.rules.foreach { case (name, r) =>
      if (name.startsWith("graft.")) {
        Trace.count("plans.graft_rules_ns", r.totalTimeNs)
        Trace.count("plans.graft_rule_invocations", r.numInvocations)
        Trace.count("plans.graft_rule_effective", r.numEffectiveInvocations)
      }
    }
  }
}
