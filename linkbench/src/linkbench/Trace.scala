package linkbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Span tracer for the traced run, kept entirely in the benchmark.
  *
  * The benchmark opens one span around each call it makes into a layer
  * (a warm step, a Pipeline table, a curation query, an arrival batch).
  * A Spark job belongs to the innermost span whose interval holds the
  * job's submission time. Attribution is by time, not by thread-local
  * job tags, so jobs that the program submits from its own pooled
  * futures land in the right span too. The benchmark calls layers one at
  * a time, so at most one leaf span is open at any instant.
  *
  * Everything is held in memory and summarised once, after the run.
  */
final class Trace(spark: SparkSession) {

  final case class Span(id: Int, name: String, layer: String, parent: Int,
      start: Long, var end: Long = -1L)
  private final case class Task(stage: Int, launch: Long, finish: Long,
      runMs: Long, shuffleWrite: Long, spill: Long, failed: Boolean)
  private final case class Plan(start: Long, ms: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val jobTimes = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val plans = mutable.ArrayBuffer.empty[Plan]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobTimes(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      val t = Task(e.stageId, i.launchTime, i.finishTime,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.diskBytesSpilled + m.memoryBytesSpilled,
        i.failed || i.killed)
      Trace.this.synchronized { tasks += t }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val p = Plan(phases.map(_.startTimeMs).min,
          phases.map(ph => ph.endTimeMs - ph.startTimeMs).sum)
        Trace.this.synchronized { plans += p }
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Runs `body` inside a span named `name` that belongs to `layer`. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val s = synchronized {
      val s = Span(spans.size, name, layer, open.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis())
      spans += s; open.push(s); s
    }
    try body
    finally synchronized { s.end = System.currentTimeMillis(); open.pop() }
  }

  /** Detaches the listeners and waits for the listener bus to drain, so
    * every task of the traced calls has been recorded.
    */
  def stop(): Unit = {
    org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext, 60000L)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Innermost span whose interval holds time `t`. */
  private def spanAt(t: Long): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).maxByOption(_.id)

  final case class LayerStats(wall: Double, idle: Double, plan: Double,
      jobs: Int, tasks: Int, taskSec: Double, shuffleMb: Double,
      spillMb: Double, failedTasks: Int)

  /** Per-layer totals over the leaf spans of each layer. */
  def layerStats: Map[String, LayerStats] = synchronized {
    val jobSpan: Map[Int, Span] =
      jobTimes.toMap.flatMap { case (j, t) => spanAt(t).map(j -> _) }
    val taskSpan = tasks.flatMap(t =>
      stageJob.get(t.stage).flatMap(jobSpan.get).map(_ -> t))
    val planSpan = plans.flatMap(p => spanAt(p.start).map(_ -> p))
    val leaves = spans.filter(s => !spans.exists(_.parent == s.id))
    leaves.groupBy(_.layer).map { case (layer, ss) =>
      val ids = ss.map(_.id).toSet
      val ts = taskSpan.filter(x => ids(x._1.id))
      val wall = ss.map(s => (s.end - s.start) / 1e3).sum
      val busy = ss.map { s =>
        unionMs(ts.filter(_._1.id == s.id).map { case (_, t) =>
          (math.max(t.launch, s.start), math.min(t.finish, s.end)) }) / 1e3
      }.sum
      layer -> LayerStats(
        wall = wall,
        idle = wall - busy,
        plan = planSpan.filter(x => ids(x._1.id)).map(_._2.ms).sum / 1e3,
        jobs = jobSpan.values.count(s => ids(s.id)),
        tasks = ts.size,
        taskSec = ts.map(_._2.runMs).sum / 1e3,
        shuffleMb = ts.map(_._2.shuffleWrite).sum / 1048576.0,
        spillMb = ts.map(_._2.spill).sum / 1048576.0,
        failedTasks = ts.count(_._2.failed))
    }
  }

  /** Rows out of the blocking joins in the SQL executions submitted while a
    * span of `layer` was open: the candidate pairs blocking produced.
    * A blocking join is the inner equi-join `LinkageCascade.pairs` builds,
    * `l_k = r_k` for every block key `k` (plus an optional salt); joins on
    * other keys (truth joins on `l_pik = r_rec_id`, block-key counts,
    * bridges) are not counted.
    */
  def blockingPairs(layer: String): Long = {
    val store = spark.sharedState.statusStore
    val inLayer = synchronized {
      store.executionsList().filter(e =>
        spanAt(e.submissionTime).exists(_.layer == layer)).map(_.executionId)
    }
    inLayer.map { id =>
      val values = store.executionMetrics(id)
      store.planGraph(id).allNodes.filter(n =>
        Set("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")(n.name) &&
          Trace.isBlockingJoin(n.desc))
        .flatMap(_.metrics.filter(_.name == "number of output rows"))
        .flatMap(m => values.get(m.accumulatorId))
        .map(v => v.filter(_.isDigit) match { case "" => 0L; case d => d.toLong })
        .sum
    }.sum
  }

  /** Spans as JSON lines: id, name, layer, parent, start and end (ms). */
  def spansJson: Seq[String] = synchronized {
    spans.toSeq.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""parent":${s.parent},"start_ms":${s.start},"end_ms":${s.end}}""")
  }

  private def unionMs(iv: collection.Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Trace {
  private val KeyList = """\[([^\[\]]*)\]""".r

  /** True for an inner equi-join whose left keys are `l_k…` and right keys
    * `r_k…` over the same block keys, as in a plan node's description
    * (`SortMergeJoin [l_a#1, l_b#2], [r_a#7, r_b#8], Inner`).
    */
  def isBlockingJoin(desc: String): Boolean = {
    val keys = KeyList.findAllMatchIn(desc).take(2).map(_.group(1)
      .split(",").map(_.trim.replaceAll("#\\d+L?$", "")).filter(_ != "salt").toSeq).toSeq
    desc.split("[\\s,]+").contains("Inner") && keys.size == 2 && keys.head.nonEmpty &&
      keys.head.forall(_.startsWith("l_")) && keys(1).forall(_.startsWith("r_")) &&
      keys.head.map(_.drop(2)) == keys(1).map(_.drop(2))
  }
}
