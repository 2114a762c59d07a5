package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is the id of the span that caused it
  * (-1 for a request's root), `req` the request it belongs to. */
final case class Span(id: Int, name: String, layer: String, startNs: Long, endNs: Long,
    parent: Int, req: Int)

/** In-memory spans and counters for the traced run. Spans are opened by
  * the benchmark around calls into graft's public entry points; job
  * spans and counters come from Spark's public listeners. Everything
  * stays in memory until the run writes it out at the end. When
  * disabled every method is a no-op, so the untraced run pays nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  @volatile private var req: Int = -1
  private var reqRoot = -1

  /** counters of the request in flight, keyed by metric name */
  private val cur = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** counters summed over every traced request */
  val total = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  def add(metric: String, v: Double): Unit = if (enabled) synchronized { cur(metric) += v }

  /** plan nodes already counted in the request in flight: a command and
    * the query it runs can report the same executed nodes */
  private val seen = mutable.Set.empty[Int]
  def firstSeen(n: AnyRef): Boolean = synchronized(seen.add(System.identityHashCode(n)))

  /** Runs `f` as a span; its duration is also added to `counter`, if given. */
  def span[T](name: String, layer: String, counter: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try f
      finally {
        open = open.tail
        val t1 = System.nanoTime()
        synchronized { spans += Span(id, name, layer, t0, t1, parent, req) }
        if (counter.nonEmpty) add(counter, (t1 - t0) / 1e9)
      }
    }

  def record(name: String, layer: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized {
      nextId += 1
      spans += Span(nextId, name, layer, startNs, endNs, reqRoot, req)
    }

  /** Runs one request as a root span, then waits for the listener bus so
    * every event of the request is counted before the next one starts.
    * Returns the request's counters. */
  def request[T](spark: SparkSession, id: Int, name: String)(f: => T): (T, Map[String, Double]) = {
    if (!enabled) return (f, Map.empty)
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    req = id
    synchronized { cur.clear(); seen.clear() }
    reqRoot = nextId + 1
    val (ck0, st0) = (checkpoints(spark), persisted(spark))
    val out = span(name, "bench")(f)
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    val written = checkpoints(spark) -- ck0.keySet
    add("materialize.checkpoint_writes", written.size)
    add("materialize.checkpoint_mb", written.values.sum / (1024.0 * 1024.0))
    add("materialize.persist_mb", math.max(0.0, persisted(spark) - st0) / (1024.0 * 1024.0))
    val c = synchronized { cur.toMap }
    synchronized { c.foreach { case (k, v) => total(k) += v } }
    req = -1
    (out, c)
  }

  /** entries of the session's checkpoint dir (rung checkpoints and
    * snapshots) and their bytes */
  private def checkpoints(spark: SparkSession): Map[String, Double] =
    spark.sparkContext.getCheckpointDir.toSeq.flatMap { d =>
      Option(new java.io.File(new java.net.URI(d).getPath).listFiles).toSeq.flatten
        .map(f => f.getName -> Disk.bytes(f.getPath))
    }.toMap

  /** bytes of every persisted block the session holds */
  private def persisted(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.diskSize + r.memSize).sum.toDouble

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover. Jobs arrive from the listener bus, so a job's
    * parent is the innermost benchmark span of its request that was open
    * when it started; concurrent jobs count once, as the union of their
    * intervals. */
  def selfTimes: Map[String, Double] = {
    val (jobs, own) = spans.partition(_.layer == "operators")
    val byReq = own.groupBy(_.req)
    val reparented = jobs.map { j =>
      val holder = byReq.get(j.req).toSeq.flatten
        .filter(s => s.startNs <= j.startNs && j.startNs <= s.endNs)
        .sortBy(s => s.endNs - s.startNs).headOption
      j.copy(parent = holder.map(_.id).getOrElse(j.parent))
    }
    val kids = (own ++ reparented).groupBy(_.parent)
    def union(iv: Seq[(Long, Long)]): Long = {
      var covered = 0L
      var end = Long.MinValue
      iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val lo = math.max(a, end)
        if (b > lo) covered += b - lo
        end = math.max(end, b)
      }
      covered
    }
    val selfOwn = own.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val iv = kids.get(s.id).toSeq.flatten
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        (s.endNs - s.startNs - union(iv)) / 1e9
      }.sum
    }
    selfOwn + ("operators" -> reparented.groupBy(_.parent).values
      .map(js => union(js.toSeq.map(j => (j.startNs, j.endNs))) / 1e9).sum)
  }

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":"${s.layer}","start_ns":${s.startNs - baseNs},"end_ns":${s.endNs - baseNs},"parent":${s.parent},"req":${s.req}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Scheduler-side counters (jobs, stages, tasks, task metrics) from the
  * public SparkListener API. */
final class OperatorListener(t: Tracer) extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    t.add("operators.jobs", 1)
    jobStart.synchronized { jobStart(e.jobId) = e.time }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.synchronized(jobStart.remove(e.jobId)).foreach { s =>
      t.record(s"job ${e.jobId}", "operators", t.msToNs(s), t.msToNs(e.time))
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    t.add("operators.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    t.add("operators.tasks", 1)
    if (!e.taskInfo.successful) t.add("operators.tasks_failed", 1)
    val m = e.taskMetrics
    if (m == null) return
    val mb = 1024.0 * 1024.0
    t.add("operators.task_busy_s", m.executorRunTime / 1e3)
    t.add("operators.task_cpu_s", m.executorCpuTime / 1e9)
    t.add("operators.gc_s", m.jvmGCTime / 1e3)
    t.add("operators.sched_wait_s", math.max(0L, e.taskInfo.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime) / 1e3)
    t.add("operators.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
    t.add("operators.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
    t.add("operators.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
    t.add("operators.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
    t.add("sources.bytes_read_mb", m.inputMetrics.bytesRead / mb)
    t.add("sources.rows_read", m.inputMetrics.recordsRead.toDouble)
  }
}

/** Plan-side counters from the public QueryExecutionListener: planning
  * phases, the AQE-final physical plan's exchanges and joins, and what
  * each file scan read. */
final class PlanListener(t: Tracer, sinkRoot: String) extends QueryExecutionListener {
  import PlanListener._

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit = {
    t.add("plans.queries", 1)
    t.add("plans.planning_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
    val ns = nodes(qe.executedPlan).filter(t.firstSeen)
    def count(names: String*) = ns.count(n => names.contains(n.getClass.getSimpleName)).toDouble
    t.add("plans.exchanges", count("ShuffleExchangeExec"))
    t.add("plans.broadcast_exchanges", count("BroadcastExchangeExec"))
    t.add("plans.smj", count("SortMergeJoinExec"))
    t.add("plans.bhj", count("BroadcastHashJoinExec"))
    t.add("plans.windows", count("WindowExec", "WindowGroupLimitExec"))
    ns.collect { case s: FileSourceScanExec => s }.foreach { s =>
      def metric(k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      t.add("sources.files_read", metric("numFiles"))
      // one file per partition in the ingest lake, so files stand for partitions
      if (s.relation.partitionSchema.nonEmpty && s.relation.fileFormat.isInstanceOf[ParquetFileFormat])
        t.add("sources.partitions_read", metric("numFiles"))
      if (s.dataFilters.exists(_.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.StartsWith])) ||
          s.metadata.get("PushedFilters").exists(_.contains("StringStartsWith")))
        t.add("plans.scans_with_prefix", 1)
    }
    // writes by graft count as source writes; the benchmark's own
    // result sink does not
    ns.collect { case w: DataWritingCommandExec => w }.foreach { w =>
      val toSink = w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toUri.getPath.startsWith(sinkRoot)
        case _ => false
      }
      def metric(k: String) = w.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      if (!toSink) {
        t.add("sources.files_written", metric("numFiles"))
        t.add("sources.bytes_written", metric("numOutputBytes"))
      }
    }
    ns.find(_.metrics.contains("numOutputRows"))
      .foreach(n => t.add("sources.rows_out", n.metrics("numOutputRows").value.toDouble))
  }
  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = t.add("plans.failed_queries", 1)
}

object PlanListener {
  /** Every node of a physical plan, looking through AQE wrappers and
    * query stages into the final plan, and into subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children ++ p.subqueries ++
        p.innerChildren.collect { case s: SparkPlan => s }
    }
    p +: kids.distinct.flatMap(nodes)
  }
}

/** Micro-batch counters of the streaming twins from the public
  * StreamingQueryListener. */
final class StreamListener(t: Tracer) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows == 0) return
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
    t.add("streaming.batches", 1)
    t.add("streaming.batch_s", d.getOrElse("triggerExecution", 0.0))
    t.add("streaming.add_batch_s", d.getOrElse("addBatch", 0.0))
    t.add("streaming.wal_commit_s", d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
    t.add("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
    t.add("streaming.input_rows", p.numInputRows.toDouble)
  }
}
