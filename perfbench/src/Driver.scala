package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Graft
import graft.queries.Q

/** The benchmark's JVM side. It calls only the engine's public surface
  * (`Registry.declared`, the module `qs` lists, `Q.build`, `Graft` set-up
  * and cache calls, `Memo.entryCount`) and observes the Spark layers below
  * through listeners (see `Tracer`).
  *
  * Usage: Driver run <workload> <seed> <seconds> <trace 0|1> <fixtures> <record.json> [spans.jsonl]
  *        Driver digest <fixtures> <out.json>    (rows and digest of every workload key)
  *
  * One client thread, closed loop: a key starts only after the previous
  * one has fully materialized through Spark's `noop` sink. */
object Driver {
  private val rt = ManagementFactory.getRuntimeMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
  private def nowMs: Double = System.nanoTime() / 1e6
  // epoch-ms clock for spans, aligned with the listener event times
  private val epochBase = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def epochMs: Double = epochBase + System.nanoTime() / 1e6

  def main(args: Array[String]): Unit = {
    Workloads.selfCheck()
    args.headOption match {
      case Some("digest") => digestAll(args(1), args(2))
      case Some("run") => run(args(1), args(2).toLong, args(3).toDouble,
        args(4) == "1", args(5), args(6), args.lift(7))
      case _ => throw new IllegalArgumentException(
        "usage: Driver run|digest ...")
    }
  }

  // ---- session set-up -------------------------------------------------

  /** Builds the session with the engine's bench configuration and warms it:
    * session creation (a new session on the running context when `parent`
    * is given), streaming bring-up, fixture-table warm-up and SF-sized
    * shuffle partitions. Returns the session and each phase's ms. */
  def setup(fixtures: String, parent: Option[SparkSession])
      : (SparkSession, Seq[(String, Double)]) = {
    val cpus = Runtime.getRuntime.availableProcessors
    val t0 = nowMs
    val spark = parent.map(_.newSession()).getOrElse(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(16).count()
    val t1 = nowMs
    Graft.streamingBringUp(spark)
    val t2 = nowMs
    Graft.tableNames.foreach { t =>
      (if (t == "events") graft.util.Tables.events(spark, fixtures)
       else graft.util.Tables(spark, fixtures, t)).count()
    }
    val t3 = nowMs
    Graft.sizeShufflePartitions(spark, fixtures)
    val t4 = nowMs
    (spark, Seq("setup.session_ms" -> (t1 - t0), "setup.bringup_ms" -> (t2 - t1),
      "setup.tables_ms" -> (t3 - t2), "setup.sizing_ms" -> (t4 - t3)))
  }

  private def teardown(spark: SparkSession): Unit = {
    Graft.freeCaches(spark)
    spark.stop()
  }

  // ---- one timed call -------------------------------------------------

  final case class CallRec(key: String, module: String, pass: Int,
      wallMs: Double, buildMs: Double, error: Option[String])

  private def timedCall(spark: SparkSession, fixtures: String, q: Q, pass: Int,
      id: Int, tracer: Option[Tracer]): CallRec = {
    tracer.foreach(_.tagCall(spark, id, q.name))
    val e0 = epochMs
    val t0 = nowMs
    var t1 = t0
    val err = try {
      val df = q.build(spark, fixtures)
      t1 = nowMs
      df.write.format("noop").mode("overwrite").save()
      None
    } catch {
      case scala.util.control.NonFatal(e) =>
        Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}")
    } finally tracer.foreach(_.untagCall(spark))
    val t2 = nowMs
    if (t1 == t0) t1 = t2
    tracer.foreach(_.endCall(id, q.name, Workloads.moduleOf(q.name), e0,
      e0 + (t1 - t0), e0 + (t2 - t0)))
    CallRec(q.name, Workloads.moduleOf(q.name), pass, t2 - t0, t1 - t0, err)
  }

  // ---- the run --------------------------------------------------------

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
      fixtures: String, recordPath: String, spansPath: Option[String]): Unit = {
    val loadStart = os.getSystemLoadAverage
    val keys = Workloads.keys(workload)
    // setup_s: from JVM start until the session is ready
    val jvmMs = (System.currentTimeMillis() - rt.getStartTime).toDouble
    val (spark0, phases0) = setup(fixtures, None)
    val setupS = (System.currentTimeMillis() - rt.getStartTime) / 1e3
    val setupPhases = ("setup.jvm_ms" -> jvmMs) +: phases0
    var spark = spark0
    val tReady = nowMs
    val resetupS = mutable.ArrayBuffer.empty[Double]
    val tracer = if (traced) Some(new Tracer) else None
    // a fresh session on the running context: empty Memo and scan cache,
    // the previous session's cached blocks released
    def resetup(): Unit = {
      tracer.foreach(_.detach(spark))
      Graft.freeCaches(spark)
      val t0 = nowMs
      spark = setup(fixtures, Some(spark))._1
      resetupS += (nowMs - t0) / 1e3
    }
    val cold = workload == "pipeline_cold"
    // The untimed pass: every key runs once through the same noop sink as the
    // timed calls, with its row count and digest observed on the way (the
    // output check), which also lets the JIT compile the keys' code paths.
    // suite_warm runs one more untimed pass, because the JIT is still
    // speeding its keys up after the first (see NOTES.md), then times passes
    // that read what these passes filled (Memo, the scan cache, the codegen
    // cache). pipeline_cold times every pass on a fresh session, whose empty
    // Memo makes the pass rebuild every Memo entry and rerun every stream
    // from an empty checkpoint.
    val checks = Workloads.order(keys, seed, 0).map { q =>
      q.name -> (try Right(materializeChecked(q.build(spark, fixtures)))
                 catch { case scala.util.control.NonFatal(e) => Left(e.toString) })
    }
    if (!cold) Workloads.order(keys, seed, 0).foreach { q =>
      try q.build(spark, fixtures).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    val warmupS = (nowMs - tReady) / 1e3

    var heapMb = 0.0
    val calls = mutable.ArrayBuffer.empty[CallRec]
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val steal0 = stealSeconds
    val gc0 = gcMillis
    val cg0 = codegen
    System.gc() // every timed pass starts after a full collection, as the later ones do
    val tStart = nowMs
    var pass = 1
    while (pass == 1 || nowMs - tStart < seconds * 1000) {
      if (cold) resetup()
      tracer.foreach(_.attach(spark))
      val memo0 = graft.util.Memo.entryCount(spark)
      val cpu0 = cpuMs
      val p0 = nowMs
      Workloads.order(keys, seed, pass).foreach { q =>
        calls += timedCall(spark, fixtures, q, pass, calls.size, tracer)
      }
      passes += Map("wall_s" -> (nowMs - p0) / 1e3, "cpu_s" -> (cpuMs - cpu0) / 1e3,
        "memo_built" -> (graft.util.Memo.entryCount(spark) - memo0).toDouble)
      heapMb = math.max(heapMb, retainedHeapMb)
      pass += 1
    }
    val timedS = (nowMs - tStart) / 1e3
    val steal = stealSeconds - steal0
    val gc = gcMillis - gc0
    val cg1 = codegen
    val (layerTotals, spans) = tracer.map(_.finish()).getOrElse((Map.empty[String, Double], Nil))
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

    val checksS = (nowMs - tStart) / 1e3 - timedS
    teardown(spark)

    val nPass = passes.size.toDouble
    val walls = calls.map(_.wallMs).toSeq
    val e2e = Map(
      "setup_s" -> setupS,
      "pass_s" -> median(passes.map(_("wall_s")).toSeq),
      "query_p50_ms" -> median(walls),
      "cpu_s" -> median(passes.map(_("cpu_s")).toSeq),
      "peak_heap_mb" -> heapMb)
    val p90 = if (walls.size * 0.1 >= 10) Some(quantile(walls, 0.9)) else None

    val layers: Map[String, Double] = if (!traced) Map.empty else {
      val perPass = layerTotals.map { case (k, v) => k -> v / nPass }
      val modules = Workloads.modules.map(_._1).filterNot(_ == "Sinks")
      val zeroModules = modules.flatMap(m => Seq(s"$m.wall_ms", s"$m.build_ms", s"$m.calls"))
        .map(_ -> 0.0).toMap
      Tracer.layerNames.map(_ -> 0.0).toMap ++ zeroModules ++ perPass ++ setupPhases ++ Map(
        "Memo.entries_built" -> passes.map(_("memo_built")).sum / nPass,
        "Memo.cached_mb" -> cachedMb,
        "codegen.compile_ms" -> (cg1._1 - cg0._1) / nPass,
        "codegen.compiles" -> (cg1._2 - cg0._2) / nPass,
        "jvm.gc_ms" -> gc / nPass,
        "host.steal_s" -> steal,
        "host.load_1m_start" -> loadStart,
        "host.nproc" -> Runtime.getRuntime.availableProcessors.toDouble,
        "trace.pass_s" -> e2e("pass_s"))
    }
    val selfTimes = tracer.map(_.selfTimes(spans)).getOrElse(Map.empty)
      .map { case (k, v) => k -> v / nPass }
    spansPath.filter(_ => traced).foreach { p =>
      val w = new java.io.PrintWriter(p, "UTF-8")
      try spans.foreach(s => w.println(Json(Map("id" -> s.id, "call" -> s.call,
        "name" -> s.name, "start" -> s.start, "end" -> s.end, "parent" -> s.parent))))
      finally w.close()
    }

    val record = Map(
      "schema" -> 1, "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "keys" -> keys.map(_.name),
      "host" -> Map("nproc" -> Runtime.getRuntime.availableProcessors,
        "load_1m_start" -> loadStart, "steal_s" -> steal),
      "setup_s" -> setupS, "setup_phases_ms" -> setupPhases.toMap,
      "resetup_s" -> resetupS.toSeq,
      "phase_s" -> Map("before_timed" -> warmupS, "timed" -> timedS, "after_timed" -> checksS),
      "passes" -> passes.toSeq,
      "query_count" -> walls.size, "query_p90_ms" -> p90,
      "calls" -> calls.map(c => Map("key" -> c.key, "module" -> c.module,
        "pass" -> c.pass, "wall_ms" -> c.wallMs, "build_ms" -> c.buildMs,
        "error" -> c.error)).toSeq,
      "metrics" -> e2e, "layers" -> layers, "self_ms" -> selfTimes,
      "checks" -> checks.map { case (k, r) => k -> (r match {
        case Right((rows, dig)) => Map("rows" -> rows, "digest" -> dig)
        case Left(e) => Map("error" -> e)
      }) }.toMap)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(recordPath), Json(record))
  }

  // ---- correctness digests --------------------------------------------

  /** Materializes `df` through the noop sink and returns its row count and
    * the sum of `xxhash64` over all its columns, observed during that same
    * execution. Doubles are rounded to 6 decimals first, so a last-bit
    * difference from a changed summation order does not change the digest. */
  def materializeChecked(df: DataFrame): (Long, String) = {
    df.sparkSession.conf.set("spark.sql.legacy.allowHashOnMapType", "true")
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
      case _: VariantType => c.cast(StringType)
      case _ => c
    }
    val cols = pos.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val obs = org.apache.spark.sql.Observation("check")
    pos.observe(obs, count(lit(1)).as("rows"), sum(h.cast(DecimalType(38, 0))).as("digest"))
      .write.format("noop").mode("overwrite").save()
    val r = obs.get
    (r("rows").asInstanceOf[Long],
      Option(r("digest").asInstanceOf[java.math.BigDecimal]).map(_.toPlainString).getOrElse("0"))
  }

  /** Digests of every workload key on one session, in declared order. */
  def digestAll(fixtures: String, out: String): Unit = {
    val (spark, _) = setup(fixtures, None)
    val keys = Workloads.names.flatMap(Workloads.keys).distinct
    val res = keys.map { q =>
      val (rows, dig) = materializeChecked(q.build(spark, fixtures))
      q.name -> Map("rows" -> rows, "digest" -> dig)
    }.toMap
    teardown(spark)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Json(res))
  }

  // ---- process and host probes ----------------------------------------

  private def cpuMs: Double = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e6
    case _ => 0.0
  }
  private def gcMillis: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
  private def codegen: (Double, Double) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
  /** Host steal seconds so far (/proc/stat, USER_HZ = 100); 0 off Linux. */
  private def stealSeconds: Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").lift(8).map(_.toDouble / 100).getOrElse(0.0)
    finally src.close()
  } catch { case scala.util.control.NonFatal(_) => 0.0 }

  /** Heap in use after a full collection: what the workload keeps live
    * (memoized frames, cached blocks, stream state). Measured at the end of
    * each timed pass, outside its time; the largest is `peak_heap_mb`. The
    * heap after the young collections during a pass depends on when they
    * happen to run, and spread twice as much across seeds. */
  private def retainedHeapMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** Minimal JSON writer for the record (maps, sequences, numbers, strings). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
