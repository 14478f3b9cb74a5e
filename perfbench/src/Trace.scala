package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `call` is the id all
  * spans of one key call share, and `parent` is the id of the enclosing
  * span (-1 for a call's root). */
final case class Span(id: Int, call: Int, name: String, start: Double,
    end: Double, parent: Int)

/** The traced run's recorder: Spark listeners (scheduler, Catalyst, Structured
  * Streaming) plus the spans `Driver` opens around each key call. Every
  * event is kept in memory; `finish` attributes events to calls by job tag
  * or, for untagged work, by time, and returns the layer totals. */
final class Tracer {
  private final case class Job(id: Int, start: Long, var end: Long, tags: Set[String])
  private final case class Call(id: Int, key: String, module: String,
      start: Double, buildEnd: Double, end: Double)
  private final case class Phases(start: Double, spans: Seq[(String, Double, Double)])
  private final case class Batch(run: String, start: Double, end: Double,
      durations: Map[String, Long], stateRows: Long, stateBytes: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val phases = mutable.ArrayBuffer.empty[Phases]
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val calls = mutable.ArrayBuffer.empty[Call]
  private val counts = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private var streamQueries = 0
  private def add(k: String, v: Double): Unit = counts(k) = counts(k) + v

  // the context's events count only while a session is attached, so the
  // set-ups between pipeline_cold passes are not part of the pass totals
  @volatile private var recording = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) synchronized {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSet).getOrElse(Set.empty)
      jobs(e.jobId) = Job(e.jobId, e.time, e.time, tags)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) synchronized {
      add("scheduler.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) synchronized {
      add("scheduler.tasks", 1)
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        add("tasks.run_ms", m.executorRunTime.toDouble)
        add("tasks.cpu_ms", m.executorCpuTime / 1e6)
        add("tasks.gc_ms", m.jvmGCTime.toDouble)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill.mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        add("io.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("io.output_mb", m.outputMetrics.bytesWritten / 1048576.0)
        if (i != null && i.finishTime > 0)
          add("scheduler.delay_ms", math.max(0L, i.finishTime - i.launchTime -
            m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime).toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = synchronized {
      val ps = qe.tracker.phases.toSeq.map { case (n, p) =>
        (n, p.startTimeMs.toDouble, p.endTimeMs.toDouble) }.sortBy(_._2)
      if (ps.nonEmpty) phases += Phases(ps.head._2, ps)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized { streamQueries += 1 }
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      batches += Batch(p.runId.toString, start, start + d.getOrElse("triggerExecution", 0L), d,
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private var context: Option[org.apache.spark.SparkContext] = None
  // the session whose queries and streams are being recorded; Spark's
  // listener buses do not de-duplicate, so each is registered only once
  private var session: Option[SparkSession] = None

  /** Start recording `spark`'s queries and streams and its context's jobs
    * and tasks, from the events posted after this call. A no-op for the
    * session already attached. */
  def attach(spark: SparkSession): Unit = if (!session.contains(spark)) {
    session.foreach(detach)
    if (context.isEmpty) {
      spark.sparkContext.addSparkListener(sparkListener)
      context = Some(spark.sparkContext)
    }
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    session = Some(spark)
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    recording = true
  }

  /** Stop recording, after every event posted so far has been delivered. */
  def detach(spark: SparkSession): Unit = if (session.contains(spark)) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    session = None
    recording = false
  }

  /** Tag every job the current thread starts with the key and the call id. */
  def tagCall(spark: SparkSession, id: Int, key: String): Unit = {
    spark.sparkContext.addJobTag(s"bench:$key")
    spark.sparkContext.addJobTag(s"bench-call:$id")
  }

  def untagCall(spark: SparkSession): Unit = spark.sparkContext.clearJobTags()

  def endCall(id: Int, key: String, module: String, start: Double,
      buildEnd: Double, end: Double): Unit = synchronized {
    calls += Call(id, key, module, start, buildEnd, end)
  }

  /** Layer totals over everything recorded, and the spans. Catalyst phases,
    * jobs and streaming batches are attributed to the call whose interval
    * holds their start (jobs by their call tag when they carry one).
    * `driver.residual_ms` is the part of each call that no build, Catalyst,
    * job or batch span covers: the call span's self time. */
  def finish(): (Map[String, Double], Seq[Span]) = {
    session.foreach(detach)
    context.foreach { sc =>
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(sparkListener)
    }
    synchronized(collect())
  }

  private def collect(): (Map[String, Double], Seq[Span]) = {
    val spans = mutable.ArrayBuffer.empty[Span]
    var nextId = 0
    def span(call: Int, name: String, s: Double, e: Double, parent: Int): Int = {
      spans += Span(nextId, call, name, s, e, parent); nextId += 1; nextId - 1
    }
    def callAt(t: Double): Option[Call] = calls.find(c => t >= c.start && t <= c.end)
    val totals = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def tot(k: String, v: Double): Unit = totals(k) = totals(k) + v
    counts.foreach { case (k, v) => tot(k, v) }
    // per call: its root span, its build and action spans, and the
    // intervals the root's descendants cover
    val ids = mutable.HashMap.empty[Int, (Int, Int, Int)]
    val children = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Double, Double)]]
    calls.foreach { c =>
      val root = span(c.id, s"call:${c.key}", c.start, c.end, -1)
      ids(c.id) = (root, span(c.id, "build", c.start, c.buildEnd, root),
        span(c.id, "action", c.buildEnd, c.end, root))
      children(root) = mutable.ArrayBuffer((c.start, c.buildEnd))
      tot(s"${c.module}.wall_ms", c.end - c.start)
      tot(s"${c.module}.build_ms", c.buildEnd - c.start)
      tot(s"${c.module}.calls", 1)
    }
    def rootOf(c: Call): Int = ids(c.id)._1
    def parentOf(c: Call, t: Double): Int =
      if (t < c.buildEnd) ids(c.id)._2 else ids(c.id)._3
    phases.foreach { p =>
      p.spans.foreach { case (n, s, e) => tot(s"catalyst.${n}_ms", e - s) }
      callAt(p.start).foreach { c =>
        val par = parentOf(c, p.start)
        p.spans.foreach { case (n, s, e) =>
          span(c.id, s"catalyst.$n", s, e, par)
          children(rootOf(c)) += ((s, e))
        }
      }
    }
    val callByTag = calls.map(c => s"bench-call:${c.id}" -> c).toMap
    jobs.values.foreach { j =>
      tot("scheduler.jobs", 1)
      j.tags.collectFirst(callByTag).orElse(callAt(j.start.toDouble)).foreach { c =>
        span(c.id, s"job:${j.id}", j.start, j.end, parentOf(c, j.start.toDouble))
        children(rootOf(c)) += ((j.start.toDouble, j.end.toDouble))
      }
    }
    tot("jobs.wall_ms", union(jobs.values.map(j => (j.start.toDouble, j.end.toDouble)).toSeq))
    tot("stream.queries", streamQueries)
    batches.foreach { b =>
      tot("stream.batches", 1)
      tot("stream.trigger_ms", b.durations.getOrElse("triggerExecution", 0L).toDouble)
      tot("stream.add_batch_ms", b.durations.getOrElse("addBatch", 0L).toDouble)
      tot("stream.commit_ms", (b.durations.getOrElse("walCommit", 0L) +
        b.durations.getOrElse("commitOffsets", 0L)).toDouble)
      callAt(b.start).foreach { c =>
        span(c.id, "stream.batch", b.start, b.end, parentOf(c, b.start))
        children(rootOf(c)) += ((b.start, b.end))
      }
    }
    // state size per stream run is its peak over the run's batches
    batches.groupBy(_.run).values.foreach { bs =>
      tot("stream.state_rows", bs.map(_.stateRows).max.toDouble)
      tot("stream.state_mb", bs.map(_.stateBytes).max / 1048576.0)
    }
    calls.foreach { c =>
      val covered = union(children.getOrElse(rootOf(c), Nil).toSeq
        .map { case (s, e) => (math.max(s, c.start), math.min(e, c.end)) })
      tot("driver.residual_ms", (c.end - c.start) - covered)
    }
    (totals.toMap, spans.toSeq)
  }

  /** Self time of each span name: duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(s => Tracer.layerOf(s.name)).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cov = union(kids.getOrElse(s.id, Nil).map(k =>
          (math.max(k.start, s.start), math.min(k.end, s.end))))
        (s.end - s.start) - cov
      }.sum
    }
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

object Tracer {
  /** Layer of a span name: `call:<key>` -> call, `job:<id>` -> job. */
  def layerOf(name: String): String = name.takeWhile(_ != ':')

  /** Every layer total `finish` can produce, besides the per-module ones. */
  val layerNames: Seq[String] = Seq(
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.delay_ms",
    "jobs.wall_ms", "driver.residual_ms", "tasks.run_ms", "tasks.cpu_ms",
    "tasks.gc_ms", "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_ms",
    "spill.mb", "io.input_mb", "io.output_mb", "stream.queries", "stream.batches",
    "stream.trigger_ms", "stream.add_batch_ms", "stream.commit_ms",
    "stream.state_rows", "stream.state_mb")
}
