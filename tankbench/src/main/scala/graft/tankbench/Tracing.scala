package graft.tankbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of a traced run. `layer` names the repo module the
  * call enters; `op` is the entry or request id it belongs to.
  */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      op: String, start: Long, end: Long)

/** A Spark job seen by the listener, attached to the span that was open on
  * the thread that started it (through a job-local property, which Spark
  * copies onto its broadcast threads).
  */
final case class JobRec(id: Int, start: Long, var end: Long, span: Int,
                        desc: String, tags: String, callSite: String,
                        execId: Long, stageIds: Seq[Int]) {
  /** Spark tags the jobs of a broadcast build `broadcast exchange (runId …)`. */
  def isBroadcast: Boolean =
    desc.startsWith("broadcast exchange") || tags.contains("broadcast exchange")
}

/** A SQL execution: its call site, its wall in ms from its start event
  * (physical planning) to its end event (the action's result is on the
  * driver), and the rows and files its file scans read.
  */
final class ExecRec {
  @volatile var site = ""
  @volatile var startMs = 0L
  @volatile var ms = 0.0
  @volatile var scanRows = 0L
  @volatile var scanFiles = 0L
}

final case class StageRec(tasks: Int, runMs: Long, gcMs: Long,
                          shuffleBytes: Long, inputBytes: Long, spillBytes: Long)

/** In-memory span recorder plus the Spark, SQL and streaming listeners of
  * a traced run. While not attached, every `span` call is a plain call.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanProp = "tankbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[(Int, String)]] { override def initialValue() = Nil }
  private var nextId = 0

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val execs = new ConcurrentHashMap[Long, ExecRec]()
  // a file scan's row-count accumulator -> the execution whose plan holds it
  private val scanAccs = new ConcurrentHashMap[Long, java.lang.Long]()
  private def exec(id: Long) = execs.computeIfAbsent(id, _ => new ExecRec)
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Map[String, java.lang.Long]]()
  @volatile var failedExecutions = 0

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.put(e.jobId, JobRec(e.jobId, System.nanoTime(), -1L,
        prop(SpanProp).map(_.toInt).getOrElse(-1),
        prop("spark.job.description").getOrElse(""),
        prop("spark.job.tags").getOrElse(""),
        e.stageInfos.headOption.map(_.details).getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = System.nanoTime())
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.put(i.stageId, StageRec(i.numTasks, m.executorRunTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val x = exec(s.executionId)
        x.site = s.details
        x.startMs = s.time
        def walk(p: SparkPlanInfo): Unit = {
          if (p.nodeName.startsWith("Scan")) p.metrics.filter(_.name == "number of output rows")
            .foreach(m => scanAccs.put(m.accumulatorId, s.executionId))
          p.children.foreach(walk)
        }
        walk(s.sparkPlanInfo)
      case s: SparkListenerSQLExecutionEnd =>
        val x = exec(s.executionId)
        x.ms = (s.time - x.startMs).toDouble
      case _ =>
    }
  }

  private object queryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // the scan's accumulators tie this callback to its execution's id
      Tracer.scans(qe.executedPlan).foreach { sc =>
        for (rows <- sc.metrics.get("numOutputRows"); id <- Option(scanAccs.get(rows.id))) {
          val x = exec(id.longValue)
          x.scanRows += rows.value
          x.scanFiles += sc.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      failedExecutions += 1
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress.durationMs)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  @volatile private var on = false

  /** Starts recording: listeners attached, spans kept. No-op untraced. */
  def attach(): Unit = if (enabled && !on) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stops recording until the next [[attach]]. */
  def pause(): Unit = if (on) {
    settle()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  /** Gives the asynchronous listener bus time to deliver the finished
    * work's events.
    */
  def settle(): Unit = if (on) Thread.sleep(300)

  def span[T](name: String, layer: String, op: String = "")(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val (id, parent) = synchronized { nextId += 1; (nextId, stack.get.headOption.map(_._1).getOrElse(0)) }
      val opId = if (op.nonEmpty) op else stack.get.headOption.map(_._2).getOrElse("")
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.set((id, opId) :: stack.get)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProp, prevProp)
        synchronized { spans += Span(id, name, layer, parent, opId, t0, t1) }
      }
    }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  private lazy val spanById: Map[Int, Span] = allSpans.map(s => s.id -> s).toMap

  /** The span's id and every ancestor's. */
  private def lineage(id: Int): List[Int] =
    if (id <= 0) Nil else id :: spanById.get(id).map(s => lineage(s.parent)).getOrElse(Nil)

  /** Finished jobs started under `span` or any of its descendants. */
  def jobsUnder(span: Int): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.end > 0 && lineage(j.span).contains(span)).toSeq

  /** The SQL executions whose jobs ran under `span` or its descendants
    * (a job carries its execution's id).
    */
  def execsUnder(span: Int): Seq[ExecRec] =
    jobsUnder(span).map(_.execId).distinct.flatMap(id => Option(execs.get(id)))

  /** Length of the union of [start, end] intervals, in nanoseconds. */
  private def unionNanos(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    intervals.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total
  }

  /** Length of the union of the jobs' intervals, in seconds. */
  def unionSeconds(js: Seq[JobRec]): Double = unionNanos(js.map(j => (j.start, j.end))) / 1e9

  /** Each span's self time: its duration minus the union of its child
    * spans and of the Spark jobs directly under it. A job belongs to the
    * innermost span, among the one it was tagged with and that span's
    * descendants, whose interval contains the job's start (stream threads
    * keep the tag of the span open when their query started).
    */
  lazy val selfNanos: Map[Int, Long] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    def innermost(s: Span, at: Long): Span =
      kids.getOrElse(s.id, Nil).find(c => c.start <= at && at <= c.end)
        .map(innermost(_, at)).getOrElse(s)
    val direct = jobs.values.asScala.filter(_.end > 0).toSeq
      .flatMap(j => spanById.get(j.span).map(s => innermost(s, j.start).id -> j))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)) ++
        direct.getOrElse(s.id, Nil).map(j => (j.start, j.end))
      s.id -> math.max(0L, (s.end - s.start) - unionNanos(iv))
    }.toMap
  }

  /** Self time summed per layer, in seconds. */
  def selfByLayer: Seq[(String, Double)] =
    allSpans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => selfNanos(s.id)).sum / 1e9 }
      .toSeq.sortBy(_._1)

  /** The repo module a job belongs to: the first program frame (`graft.`,
    * outside this package) of its call site, or of its SQL execution's call
    * site when the job started on a Spark broadcast thread; a job started
    * from the benchmark itself goes to the layer of the span it ran under.
    */
  def moduleOf(j: JobRec): String = {
    def firstGraft(site: String): Option[String] =
      site.linesIterator.map(_.trim)
        .find(f => f.startsWith("graft.") && !f.startsWith("graft.tankbench.")).map { f =>
        val parts = f.takeWhile(c => c != '(').split('.')
        if (parts.length > 2 && parts(1).headOption.exists(_.isLower)) parts(1) else "graft"
      }
    firstGraft(j.callSite)
      .orElse(Option(execs.get(j.execId)).flatMap(x => firstGraft(x.site)))
      .getOrElse(spanById.get(j.span).map(_.layer).getOrElse("other"))
  }

  /** Writes every span and job, one JSON object per line. */
  def dump(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path)
    try {
      def obj = Json.mapper.createObjectNode()
      allSpans.sortBy(_.start).foreach { s =>
        w.println(obj.put("span", s.id).put("name", s.name).put("layer", s.layer)
          .put("parent", s.parent).put("op", s.op).put("start_ns", s.start).put("end_ns", s.end)
          .put("self_ns", selfNanos(s.id)))
      }
      jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        w.println(obj.put("job", j.id).put("span", j.span).put("module", moduleOf(j))
          .put("desc", j.desc.take(120)).put("broadcast", j.isBroadcast)
          .put("start_ns", j.start).put("end_ns", j.end))
      }
    } finally w.close()
  }
}

object Tracer {
  /** The file scans of an executed plan, through adaptive stages and subqueries. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case x: AdaptiveSparkPlanExec => scans(x.executedPlan)
    case x: QueryStageExec => scans(x.plan)
    case x => x.children.flatMap(scans) ++ x.subqueries.flatMap(scans)
  }
}

/** Derives the per-layer metrics of a traced run from its spans and jobs. */
object Layers {
  val Modules = Seq("util", "sources", "operators", "queries", "streaming", "tiles", "server")

  val StoreNames = Seq("hash_history", "gram_history", "phash_history",
    "landmark_history", "frame_history", "minhash_history", "bm25", "bpe")

  /** Every per-layer metric name with its unit, in report order. */
  val All: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.driver_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_s" -> "s", "spark.bcast_jobs" -> "count", "spark.shuffle_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.core_util" -> "ratio", "spark.gc_ms" -> "ms",
    "spark.failed_executions" -> "count") ++
    Modules.flatMap(m => Seq(s"jobs.$m" -> "count", s"job_s.$m" -> "s")) ++
    StoreNames.map(s => s"sources.store_build_s.$s" -> "s") ++
    StoreNames.filter(_ != "bpe").map(s => s"sources.store_bytes.$s" -> "bytes") ++ Seq(
    "sources.read_ms" -> "ms", "sources.files" -> "count",
    "sources.scan_rows_per_result" -> "ratio", "sources.files_read" -> "count",
    "sources.append_ms" -> "ms", "sources.rewrite_ms" -> "ms", "sources.lookup_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "tiles.tile_query_ms" -> "ms", "tiles.tile_encode_ms" -> "ms",
    "tiles.heatmap_query_ms" -> "ms", "tiles.heatmap_encode_ms" -> "ms",
    "tiles.mvt_bytes" -> "bytes", "tiles.cache_hit_ratio" -> "ratio",
    "tiles.invalidated_per_write" -> "count", "tiles.invalidate_ms" -> "ms",
    "core.cover_ranges" -> "count", "core.cover_us" -> "us",
    "server.floor_ms" -> "ms", "server.wait_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MiB", "jvm.codecache_mb" -> "MiB",
    "trace.overhead_pct" -> "%")

  /** Fills the Spark-engine, per-module, `queries` and JVM rows from the
    * jobs recorded under the measured spans (`roots`).
    */
  def fill(r: Report, t: Tracer, roots: Seq[Span], entrySpans: Seq[Span],
           buildSpans: Seq[Span]): Unit = {
    val js = roots.flatMap(s => t.jobsUnder(s.id)).distinctBy(_.id)
    val st = js.flatMap(_.stageIds).distinct.flatMap(i => Option(t.stages.get(i)))
    val jobS = js.map(j => (j.end - j.start) / 1e9).sum
    val l = r.layers
    l("spark.jobs") = (js.size.toDouble, "count")
    l("spark.stages") = (st.size.toDouble, "count")
    l("spark.tasks") = (st.map(_.tasks).sum.toDouble, "count")
    l("spark.job_s") = (jobS, "s")
    l("spark.bcast_jobs") = (js.count(_.isBroadcast).toDouble, "count")
    l("spark.shuffle_bytes") = (st.map(_.shuffleBytes).sum.toDouble, "bytes")
    l("spark.input_bytes") = (st.map(_.inputBytes).sum.toDouble, "bytes")
    l("spark.spill_bytes") = (st.map(_.spillBytes).sum.toDouble, "bytes")
    l("spark.core_util") = (if (jobS > 0) st.map(_.runMs).sum / 1000.0 / (jobS * Env.Cpus) else 0.0, "ratio")
    l("spark.gc_ms") = (st.map(_.gcMs).sum.toDouble, "ms")
    // SQL executions that threw, even where the program caught the error
    // and carried on (a derived fallback), while the tracer was attached
    l("spark.failed_executions") = (t.failedExecutions.toDouble, "count")
    val byMod = js.groupBy(t.moduleOf)
    Modules.foreach { m =>
      val mj = byMod.getOrElse(m, Nil)
      l(s"jobs.$m") = (mj.size.toDouble, "count")
      l(s"job_s.$m") = (mj.map(j => (j.end - j.start) / 1e9).sum, "s")
    }
    l("queries.build_s") = (buildSpans.map(s => (s.end - s.start) / 1e9).sum, "s")
    l("queries.driver_s") = (entrySpans.map { s =>
      (s.end - s.start) / 1e9 - t.unionSeconds(t.jobsUnder(s.id))
    }.sum, "s")
    l("jvm.gc_ms") = (Jvm.gcMs, "ms")
    l("jvm.heap_peak_mb") = (Jvm.heapPeakMb, "MiB")
    l("jvm.codecache_mb") = (Jvm.codeCacheMb, "MiB")
  }

  /** Puts the layer rows in report order, with 0 for every layer the
    * workload did not touch.
    */
  def complete(r: Report): Unit = {
    val l = r.layers
    val rows = All.map { case (k, u) => k -> l.getOrElse(k, (0.0, u)) }
    l.clear()
    l ++= rows
  }
}
