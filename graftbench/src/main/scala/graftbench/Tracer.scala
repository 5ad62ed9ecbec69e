package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing from outside the program, through Spark's public
  * listener APIs only: a `SparkListener` (jobs, stages, task metrics), a
  * `QueryExecutionListener` (Catalyst phase times from each
  * `QueryExecution.tracker`, final-plan shape) and a
  * `StreamingQueryListener` (per-trigger progress). Listeners are
  * registered for the timed passes of a traced run only.
  *
  * Events are kept in memory. Jobs are attributed to the query that
  * submitted them through a local property set around each query, with
  * the query's time window as fallback; executions and stream triggers
  * are attributed by time window and by the query running when the
  * stream started. `report` turns the events into per-layer metrics and
  * writes the span file.
  */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  import Tracer._
  private val sc = spark.sparkContext
  private val QueryKey = "graftbench.query"

  private val queries = mutable.ArrayBuffer.empty[QueryRec]
  private val passWall = mutable.Map.empty[Int, Double]
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val execs = new ConcurrentLinkedQueue[ExecRec]()
  private val streamQuery = new ConcurrentHashMap[java.util.UUID, String]()
  private val streamStartUs = new ConcurrentHashMap[java.util.UUID, Long]()
  private val streamEndUs = new ConcurrentHashMap[java.util.UUID, Long]()
  private val triggers = new ConcurrentHashMap[java.util.UUID, ConcurrentLinkedQueue[TriggerRec]]()
  @volatile private var current: String = ""
  @volatile private var drainLatch = new CountDownLatch(1)
  @volatile private var drainJob = -1

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(_.getProperty("graftbench.drain") != null)) drainJob = e.jobId
      else jobs.add(JobRec(e.jobId, props.flatMap(p => Option(p.getProperty(QueryKey))),
        e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == drainJob) drainLatch.countDown()
      else jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.duration,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    }
  }

  private val execListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val plan = qe.executedPlan
      val nodes = collectWithSubqueries(plan) { case p => p }
      execs.add(ExecRec(System.currentTimeMillis(),
        qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) },
        nodes.count(_.nodeName.contains("Exchange")), nodes.size,
        nodes.flatMap(_.metrics.get("numFiles")).map(_.value).sum))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (streamStartUs.putIfAbsent(e.runId, Clock.nowUs()) == null)
        streamQuery.put(e.runId, current)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      triggers.computeIfAbsent(p.runId, _ => new ConcurrentLinkedQueue[TriggerRec]())
        .add(TriggerRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.commitTimeMs).sum))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamEndUs.put(e.runId, Clock.nowUs())
  }

  def start(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
  }

  def enter(pass: Int, q: String): Unit = {
    current = s"$pass:$q"
    sc.setLocalProperty(QueryKey, current)
  }

  def leave(pass: Int, q: String, marks: Seq[Long]): Unit = {
    sc.setLocalProperty(QueryKey, null)
    current = ""
    queries += QueryRec(pass, q, marks)
  }

  def passDone(pass: Int, wallS: Double): Unit = passWall(pass) = wallS

  /** Waits until the listeners have seen every event, then unregisters
    * them. A marker job drains the shared listener queue, which also
    * carries the QueryExecutionListener callbacks; stream events are
    * awaited until every started stream has terminated. */
  def stop(): Unit = {
    drainLatch = new CountDownLatch(1)
    sc.setLocalProperty("graftbench.drain", "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("graftbench.drain", null)
    drainLatch.await(60, TimeUnit.SECONDS)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (streamStartUs.keySet.asScala.exists(!streamEndUs.containsKey(_)) &&
        System.nanoTime() < deadline) Thread.sleep(10)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(execListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- attribution, spans and metrics --------------------------------

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-layer metrics of the traced passes, and a summary of the spans
    * (self time per span name, counts per pass). Counts are those of the
    * last pass, when one-time work (first reads, lazily built state) is
    * done; they must repeat exactly from run to run. Times, bytes and
    * rows are means per pass. Writes every span as one JSON line to
    * `spansPath` when given. */
  def report(spansPath: Option[String], cores: Int)
      : (Map[String, Double], Map[String, Any]) = {
    val byId = queries.map(q => q.id -> q).toMap
    def windowOf(ms: Long): Option[QueryRec] =
      queries.find(q => q.startUs <= ms * 1000 && ms * 1000 <= q.endUs)
    val jobQuery: Map[Int, QueryRec] = jobs.asScala.toSeq.flatMap { j =>
      j.query.flatMap(byId.get).orElse(windowOf(j.submitMs)).map(j.id -> _)
    }.toMap
    val jobById = jobs.asScala.map(j => j.id -> j).toMap
    val stageJob: Map[Int, Int] = jobs.asScala.toSeq.sortBy(_.id).reverse
      .flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    val stageQuery: Map[Int, QueryRec] =
      stageJob.flatMap { case (s, j) => jobQuery.get(j).map(s -> _) }
    val execQuery: Seq[(ExecRec, QueryRec)] = execs.asScala.toSeq.flatMap { e =>
      val start = if (e.phases.isEmpty) e.seenMs else e.phases.values.map(_._1).min
      windowOf(start).map(e -> _)
    }
    val streamRuns: Seq[(java.util.UUID, QueryRec)] =
      streamQuery.asScala.toSeq.flatMap { case (r, q) => byId.get(q).map(r -> _) }

    // spans
    val spans = mutable.ArrayBuffer.empty[Span]
    def add(parent: Int, name: String, q: QueryRec, a: Long, b: Long): Int = {
      spans += Span(spans.size, parent, name, q.id, a, b)
      spans.size - 1
    }
    val roots = mutable.Map.empty[String, (Int, Int, Int)]
    queries.foreach { q =>
      val m = q.marks
      val root = add(-1, "query", q, m(0), m(3))
      val build = add(root, "ops.build", q, m(0), m(1))
      val action = add(root, "action", q, m(1), m(2))
      add(root, "scratch.release", q, m(2), m(3))
      roots(q.id) = (root, build, action)
    }
    def parentAt(q: QueryRec, us: Long): Int = {
      val (root, build, action) = roots(q.id)
      if (us <= q.marks(1)) build else if (us <= q.marks(2)) action else root
    }
    execQuery.foreach { case (e, q) =>
      e.phases.toSeq.sortBy(_._2._1).foreach { case (phase, (a, b)) =>
        add(parentAt(q, a * 1000), s"catalyst.$phase", q, a * 1000, b * 1000)
      }
    }
    val jobSpan = mutable.Map.empty[Int, Int]
    jobQuery.toSeq.sortBy(_._1).foreach { case (j, q) =>
      val a = jobById(j).submitMs * 1000
      val b = Option(jobEnds.get(j)).map(_ * 1000).getOrElse(a)
      jobSpan(j) = add(parentAt(q, a), "job", q, a, b)
    }
    val stageRecs = stages.asScala.toSeq.filter(s => stageQuery.contains(s.id))
    stageRecs.foreach { s =>
      add(jobSpan(stageJob(s.id)), "stage", stageQuery(s.id), s.submitMs * 1000,
        s.endMs * 1000)
    }
    streamRuns.foreach { case (r, q) =>
      Option(triggers.get(r)).map(_.asScala.toSeq).getOrElse(Nil).foreach { t =>
        val a = t.startMs * 1000
        add(parentAt(q, a), "stream.trigger", q, a,
          a + t.durations.getOrElse("triggerExecution", 0L) * 1000)
      }
    }
    val children = spans.groupBy(_.parent)
    val selfUs: Map[Int, Long] = spans.map { s =>
      s.id -> (s.dur - covered(children.getOrElse(s.id, Nil).toSeq
        .map(c => (c.startUs, c.endUs)), s.startUs, s.endUs))
    }.toMap
    spansPath.foreach { p =>
      val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(p))
      try spans.foreach { s =>
        w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "query" -> s.query, "start_us" -> s.startUs, "end_us" -> s.endUs,
          "self_us" -> selfUs(s.id))))
        w.newLine()
      } finally w.close()
    }

    // metrics per pass
    val tracedPasses = queries.map(_.pass).distinct.sorted.toSeq
    def perPass(pass: Int): Map[String, Double] = {
      val qs = queries.filter(_.pass == pass)
      val ids = qs.map(_.id).toSet
      val pj = jobQuery.filter(kv => ids(kv._2.id))
      val ps = stageRecs.filter(s => ids(stageQuery(s.id).id))
      val pStageIds = ps.map(_.id).toSet
      val pt = tasks.asScala.toSeq.filter(t => pStageIds(t.stage))
      val pe = execQuery.filter(kv => ids(kv._2.id)).map(_._1)
      val pr = streamRuns.filter(kv => ids(kv._2.id)).map(_._1)
      val pTrig = pr.flatMap(r => Option(triggers.get(r)).map(_.asScala.toSeq)
        .getOrElse(Nil))
      def dur(k: String) = pTrig.map(_.durations.getOrElse(k, 0L)).sum / 1e3
      def phase(k: String) = pe.flatMap(_.phases.get(k)).map(p => p._2 - p._1).sum / 1e3
      def mb(b: Long) = b / 1048576.0
      val eager = pj.count { case (j, q) =>
        jobById(j).submitMs * 1000 <= q.marks(1) }
      val idleUs = qs.map { q =>
        val ivs = ps.filter(s => stageQuery(s.id).id == q.id)
          .map(s => (s.submitMs * 1000, s.endMs * 1000))
        (q.endUs - q.startUs) - covered(ivs, q.startUs, q.endUs)
      }.sum
      val skew = pt.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
        val d = ts.map(_.durationMs.toDouble)
        d.max / math.max(median(d), 1.0)
      }.foldLeft(1.0)(math.max)
      val streamS = pr.map(r => (Option(streamEndUs.get(r)).map(_.longValue)
        .getOrElse(streamStartUs.get(r)) - streamStartUs.get(r)) / 1e6).sum
      val unattributed = spans.filter(s => ids(s.query) &&
        Set("query", "ops.build", "action", "job")(s.name)).map(s => selfUs(s.id)).sum
      val wall = passWall(pass)
      val runS = pt.map(_.runMs).sum / 1e3
      Map(
        "ops.build_s" -> qs.map(q => q.marks(1) - q.marks(0)).sum / 1e6,
        "ops.eager_jobs" -> eager.toDouble,
        "catalyst.analysis_s" -> phase("analysis"),
        "catalyst.optimization_s" -> phase("optimization"),
        "catalyst.planning_s" -> phase("planning"),
        "catalyst.executions" -> pe.size.toDouble,
        "catalyst.exchanges" -> pe.map(_.exchanges).sum.toDouble,
        "catalyst.plan_nodes" -> pe.map(_.nodes).sum.toDouble,
        "driver.jobs" -> pj.size.toDouble,
        "driver.stages" -> ps.size.toDouble,
        "driver.tasks" -> pt.size.toDouble,
        "driver.idle_s" -> idleUs / 1e6,
        "driver.unattributed_s" -> unattributed / 1e6,
        "exec.run_s" -> runS,
        "exec.cpu_s" -> pt.map(_.cpuNs).sum / 1e9,
        "exec.gc_s" -> pt.map(_.gcMs).sum / 1e3,
        "exec.util" -> runS / (wall * cores),
        "exec.skew" -> skew,
        "shuffle.write_mb" -> mb(pt.map(_.shWrite).sum),
        "shuffle.read_mb" -> mb(pt.map(_.shRead).sum),
        "shuffle.write_s" -> pt.map(_.shWriteNs).sum / 1e9,
        "shuffle.fetch_wait_s" -> pt.map(_.fetchWaitMs).sum / 1e3,
        "shuffle.spill_mb" -> mb(pt.map(_.spill).sum),
        "sources.read_mb" -> mb(pt.map(_.inBytes).sum),
        "sources.read_rows" -> pt.map(_.inRows).sum.toDouble,
        "sources.written_mb" -> mb(pt.map(_.outBytes).sum),
        "sources.written_rows" -> pt.map(_.outRows).sum.toDouble,
        "sources.files_created" -> pe.map(_.files).sum.toDouble,
        "stream.queries" -> pr.size.toDouble,
        "stream.batches" -> pTrig.size.toDouble,
        "stream.trigger_s" -> dur("triggerExecution"),
        "stream.add_batch_s" -> dur("addBatch"),
        "stream.wal_commit_s" -> dur("walCommit"),
        "stream.commit_offsets_s" -> dur("commitOffsets"),
        "stream.query_planning_s" -> dur("queryPlanning"),
        "stream.state_commit_s" -> pTrig.map(_.stateCommitMs).sum / 1e3,
        "stream.floor_s" -> math.max(0.0, streamS - dur("triggerExecution")),
        "scratch.release_s" -> qs.map(q => q.marks(3) - q.marks(2)).sum / 1e6)
    }
    val per = tracedPasses.map(perPass)
    val counts = Seq("ops.eager_jobs", "catalyst.executions", "catalyst.exchanges",
      "catalyst.plan_nodes", "driver.jobs", "driver.stages", "driver.tasks",
      "sources.files_created", "stream.queries", "stream.batches")
    val out = per.head.keys.map { k =>
      k -> (if (counts.contains(k)) per.last(k) else per.map(_(k)).sum / per.size)
    }.toMap
    val selfByName = spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => selfUs(s.id)).sum / 1e6 / per.size }
    (out, Map(
      "passes" -> per.size,
      "self_s_per_pass" -> selfByName,
      "unattributed_s_per_pass" -> out("driver.unattributed_s"),
      "counts_per_pass" -> counts.map(k => k -> per.map(_(k))).toMap,
      "spans" -> spans.size))
  }
}

object Tracer {
  private[graftbench] final case class QueryRec(pass: Int, q: String, marks: Seq[Long]) {
    def id = s"$pass:$q"
    def startUs = marks.head
    def endUs = marks.last
  }
  private[graftbench] final case class JobRec(id: Int, query: Option[String], submitMs: Long,
      stageIds: Seq[Int])
  private[graftbench] final case class StageRec(id: Int, submitMs: Long, endMs: Long)
  private[graftbench] final case class TaskRec(stage: Int, durationMs: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shWrite: Long, shWriteNs: Long, shRead: Long,
      fetchWaitMs: Long, spill: Long, inBytes: Long, inRows: Long,
      outBytes: Long, outRows: Long)
  private[graftbench] final case class ExecRec(seenMs: Long, phases: Map[String, (Long, Long)],
      exchanges: Int, nodes: Int, files: Long)
  private[graftbench] final case class TriggerRec(startMs: Long, durations: Map[String, Long],
      stateCommitMs: Long)

  private[graftbench] final case class Span(id: Int, parent: Int, name: String, query: String,
      startUs: Long, endUs: Long) {
    def dur: Long = math.max(0L, endUs - startUs)
  }

}
