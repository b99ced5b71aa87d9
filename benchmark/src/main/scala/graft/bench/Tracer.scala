package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counts for the traced run.
  *
  * The benchmark opens spans around its calls into each layer (workload,
  * query, build, execute, stream query) and sets the open span's id as a
  * Spark local property, so the listener can hang every job it sees under
  * the span that started it: workload → query → {build, execute} → job →
  * stage, and stream query → micro-batch. Counts from task metrics are
  * added to the stage span and to run-wide totals at the same
  * boundaries. Spans stay in memory until the run ends and writes
  * [[spanRecords]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val totals = mutable.Map.empty[String, Double]
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageParent = new ConcurrentHashMap[Int, Span]()
  private val scanStage = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val skippedStages = ConcurrentHashMap.newKeySet[Int]()
  private val pendingPlans = new ConcurrentHashMap[QueryExecution, Span]()
  private val plans = new ConcurrentHashMap[Long, Seq[String]]()

  private def nowMs: Double = System.currentTimeMillis().toDouble

  def add(k: String, v: Double): Unit = totals.synchronized {
    totals(k) = totals.getOrElse(k, 0.0) + v
  }
  def max(k: String, v: Double): Unit = totals.synchronized {
    totals(k) = math.max(totals.getOrElse(k, 0.0), v)
  }

  def open(kind: String, name: String, parent: Long): Span = {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, nowMs)
    spans.put(s.id, s)
    s
  }
  def close(s: Span): Unit = s.endMs = nowMs

  /** Record a span whose bounds are known already (micro-batches). */
  def record(kind: String, name: String, parent: Long, startMs: Double, endMs: Double,
             counts: Map[String, Double]): Span = {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, startMs)
    s.endMs = endMs
    counts.foreach { case (k, v) => s.add(k, v) }
    spans.put(s.id, s)
    s
  }

  /** Run `body` inside a new span; jobs it starts become the span's children. */
  def within[T](kind: String, name: String, parent: Long)(body: Span => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    val s = open(kind, name, parent)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body(s)
    finally {
      close(s)
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Ties the next successful fingerprint action of `qe` to `span`. */
  def expectPlan(qe: QueryExecution, span: Span): Unit = pendingPlans.put(qe, span)
  /** Operator class names of the final executed plan of `span`'s query. */
  def planOf(span: Span): Seq[String] = plans.getOrDefault(span.id, Nil)

  /** Block until the listener bus has delivered every queued event. */
  def drain(): Unit =
    try org.apache.spark.GraftSparkShim.waitListenerBusEmpty(spark.sparkContext, 30000L)
    catch { case _: java.util.concurrent.TimeoutException => () }

  private def parentOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = parentOf(e.properties)
      val parentKind = Option(spans.get(parent)).map(_.kind)
      if (parentKind.contains("check")) {
        // the benchmark's own output checks are not part of the workload
        e.stageIds.foreach(id => skippedStages.add(id))
        return
      }
      val s = new Span(ids.incrementAndGet(), parent, "job", s"job ${e.jobId}", e.time.toDouble)
      spans.put(s.id, s)
      jobSpan.put(e.jobId, s)
      e.stageIds.foreach(id => stageParent.put(id, s))
      add("scheduler.jobs", 1)
      if (parentKind.contains("build")) add("prims.pin_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach(_.endMs = e.time.toDouble)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      if (skippedStages.contains(info.stageId)) return
      val parent = Option(stageParent.get(info.stageId)).map(_.id).getOrElse(0L)
      val start = info.submissionTime.map(_.toDouble).getOrElse(nowMs)
      val s = new Span(ids.incrementAndGet(), parent, "stage", s"stage ${info.stageId}", start)
      spans.put(s.id, s)
      stageSpan.put(info.stageId, s)
      scanStage.put(info.stageId, info.rddInfos.exists(_.name.contains("FileScanRDD")))
      add("scheduler.stages", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.endMs = e.stageInfo.completionTime.map(_.toDouble).getOrElse(nowMs)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!skippedStages.contains(e.stageId)) Option(e.taskMetrics).foreach { m =>
      val stage = Option(stageSpan.get(e.stageId))
      def both(k: String, v: Double): Unit = { add(k, v); stage.foreach(_.add(k, v)) }
      val run = m.executorRunTime / 1000.0
      val in = m.inputMetrics
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      both("scheduler.tasks", 1)
      if (in.recordsRead == 0 && sr.recordsRead == 0) both("scheduler.tasks_empty", 1)
      both("scheduler.task_overhead_s",
        math.max(0L, e.taskInfo.duration - m.executorRunTime) / 1000.0)
      both("scheduler.run_s", run)
      // input of other stages is reads of cached or checkpointed blocks
      if (Option(scanStage.get(e.stageId)).exists(_.booleanValue)) {
        both("tables.scan_bytes", in.bytesRead.toDouble)
        both("tables.scan_tasks", 1)
        if (in.recordsRead == 0) both("tables.scan_tasks_empty", 1)
        both("tables.scan_task_s", run)
      }
      both("exchange.write_bytes", sw.bytesWritten.toDouble)
      both("exchange.read_bytes", sr.totalBytesRead.toDouble)
      both("exchange.write_s", sw.writeTime / 1e9)
      both("exchange.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(pendingPlans.remove(qe)).foreach { span =>
        val nodes = planNodes(qe.executedPlan)
        plans.put(span.id, nodes.map(_.nodeName).distinct.sorted)
        val m = opMetrics(nodes)
        m.foreach { case (k, v) => span.add(k, v); if (k != "ops.peak_exec_mem_bytes") add(k, v) }
        max("ops.peak_exec_mem_bytes", m.getOrElse("ops.peak_exec_mem_bytes", 0.0))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      pendingPlans.remove(qe)
  }

  /** Micro-batch spans go under the stream query span `currentStream`. */
  @volatile var currentStream: Long = 0L
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
      record("batch", s"batch ${p.batchId}", currentStream, start, start + dur,
        Map("rows" -> p.numInputRows.toDouble))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def totalsSnapshot: Map[String, Double] = totals.synchronized(totals.toMap)

  /** All spans as JSON-ready maps, with self time: a span's duration minus
    * the part of it that its children cover. */
  def spanRecords: Seq[Map[String, Any]] = {
    val all = spans.values().asScala.toSeq.sortBy(_.id)
    val children = all.groupBy(_.parent)
    all.map { s =>
      val end = if (s.endMs.isNaN) s.startMs else s.endMs
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(if (c.endMs.isNaN) c.startMs else c.endMs, end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0.0, Double.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
        }._1
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> end, "self_ms" -> (end - s.startMs - covered),
        "counts" -> s.counts.synchronized(s.counts.toMap),
        "plan" -> plans.getOrDefault(s.id, Nil))
    }
  }
}

object Tracer {
  val SpanKey = "graft.bench.span"

  /** One traced interval, in wall-clock milliseconds, with the counts
    * recorded inside it. */
  final class Span(val id: Long, val parent: Long, val kind: String, val name: String,
                   val startMs: Double) {
    @volatile var endMs: Double = Double.NaN
    val counts: mutable.Map[String, Double] = mutable.Map.empty
    def add(k: String, v: Double): Unit = counts.synchronized {
      counts(k) = counts.getOrElse(k, 0.0) + v
    }
  }

  /** Every node of a final executed plan, looking through adaptive
    * wrappers and query stages; reused exchanges count once. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** Summed operator SQL metrics of one executed plan, in seconds and bytes. */
  def opMetrics(nodes: Seq[SparkPlan]): Map[String, Double] = {
    def seconds(node: SparkPlan, metric: String): Double =
      node.metrics.get(metric).map { m =>
        m.metricType match {
          case "nsTiming" => m.value / 1e9
          case _ => m.value / 1e3
        }
      }.getOrElse(0.0)
    def isAgg(n: SparkPlan) = n.nodeName.endsWith("Aggregate")
    def isSort(n: SparkPlan) = n.nodeName == "Sort"
    def isJoinBuild(n: SparkPlan) =
      n.nodeName.contains("Join") || n.nodeName == "BroadcastExchange"
    Map(
      "ops.agg_s" -> nodes.filter(isAgg).map(seconds(_, "aggTime")).sum,
      "ops.sort_s" -> nodes.filter(isSort).map(seconds(_, "sortTime")).sum,
      "ops.join_build_s" -> nodes.filter(isJoinBuild).map(seconds(_, "buildTime")).sum,
      "ops.peak_exec_mem_bytes" ->
        nodes.flatMap(_.metrics.get("peakMemory")).map(_.value.toDouble).sum)
  }
}
