package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans of one benchmark run: workload → op → job → stage, kept in
  * memory and written out once at the end.
  *
  * An op span is opened and closed by the benchmark around its call
  * into the program, and every Spark job it causes carries the job
  * group `bench-<op>#<n>`, which ties jobs and their stages to the op.
  * Planning time comes from the `QueryPlanningTracker` of every SQL
  * execution that starts inside the op's interval, plus that of the
  * consuming query, which runs outside the execution listeners.
  */
final class Trace extends SparkListener with QueryExecutionListener {

  final case class Job(id: Int, group: String, start: Long, var end: Long)
  final case class Stage(id: Int, job: Int, tasks: Int, start: Long, end: Long,
      cpuNs: Long, inputBytes: Long, outputBytes: Long, shuffleWrite: Long,
      spill: Long)
  final case class Plan(start: Long, ms: Long)

  val ops = new ConcurrentLinkedQueue[Workloads.OpRec]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val plans = new ConcurrentLinkedQueue[Plan]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, Job(e.jobId, group, e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(Stage(i.stageId, stageJob.getOrDefault(i.stageId, -1), i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled))
  }

  private def planned(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty)
      plans.add(Plan(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)

  def jobsOf(op: Workloads.OpRec): Seq[Job] =
    jobs.values.asScala.filter(_.group == op.group).toSeq

  /** True once every job seen so far has ended (the listener bus is
    * asynchronous). */
  def settled: Boolean = jobs.values.asScala.forall(_.end >= 0)

  /** Length of the union of the given intervals, in seconds. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 >= p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  /** Per-op layer record: the figures the per-layer metrics sum. */
  final case class Layers(wall: Double, planS: Double, jobs: Int, busy: Double,
      cpuS: Double, singleTaskStages: Int, shuffleWrite: Long, spill: Long,
      inputBytes: Long, outputBytes: Long, stages: Seq[Stage])

  def layers(op: Workloads.OpRec): Layers = {
    val js = jobsOf(op)
    val ids = js.map(_.id).toSet
    val st = stages.asScala.filter(s => ids.contains(s.job)).toSeq
    val wall = (op.end - op.start) / 1000.0
    val busy = math.min(wall,
      union(js.map(j => (j.start, if (j.end < 0) op.end else j.end))))
    val planMs = plans.asScala
      .filter(p => p.start >= op.start && p.start <= op.end).map(_.ms).sum
    Layers(wall, planMs / 1000.0, js.size, busy, st.map(_.cpuNs).sum / 1e9,
      st.count(_.tasks == 1), st.map(_.shuffleWrite).sum, st.map(_.spill).sum,
      st.map(_.inputBytes).sum, st.map(_.outputBytes).sum, st)
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One JSON object per line: the workload span, then per op its span
    * with its jobs and stages as children. */
  def write(path: String, workload: String, start: Long, end: Long): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println(s"""{"span":"workload","name":${q(workload)},"start_ms":$start,"end_ms":$end}""")
      ops.asScala.foreach { op =>
        w.println(s"""{"span":"op","id":${op.id},"parent":"workload","name":${q(op.name)},"module":${q(op.module)},"phase":${q(op.phase)},"start_ms":${op.start},"end_ms":${op.end},"outcome":${q(op.outcome)},"rows":${op.rows}}""")
        jobsOf(op).sortBy(_.id).foreach { j =>
          w.println(s"""{"span":"job","id":${j.id},"parent_op":${op.id},"start_ms":${j.start},"end_ms":${j.end}}""")
          stages.asScala.filter(_.job == j.id).foreach { s =>
            w.println(s"""{"span":"stage","id":${s.id},"parent_job":${j.id},"start_ms":${s.start},"end_ms":${s.end},"tasks":${s.tasks},"cpu_ns":${s.cpuNs},"input_bytes":${s.inputBytes},"output_bytes":${s.outputBytes},"shuffle_write_bytes":${s.shuffleWrite},"spill_bytes":${s.spill}}""")
          }
        }
      }
    } finally w.close()
  }
}
