package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

/** Engine side of the benchmark: one JVM per run.
  *
  * Set-up (session, table loads, one checked warm execution of every
  * operation), then whole passes over the workload's operations until
  * `--seconds` have elapsed, then a full GC and the retained heap. Every
  * raw sample goes to `--out` as JSON; `perfbench/run.py` turns them into
  * metrics and checks the dumped results against DuckDB.
  *
  * Only public entry points of the program are called: `ptx.QueryRegistry`
  * query functions, `QueryExecution`, `ptx.Caching.releaseAll`,
  * `ptx.Tables` and `ptx.stream.Pipelines`. Micro-batch phases come from
  * `StreamingQuery.recentProgress` once a replay has ended. With
  * `--trace 1` a `SparkListener` is registered, and each query's
  * `QueryPlanningTracker` and final plan are read; neither happens
  * untraced.
  */
object Harness {
  private val OpKey = "perfbench.op"
  private val BatchIdKey = "streaming.sql.batchId"

  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def jitMs(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq
      .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val workload = a("workload")
    val cpus = a("cpus").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val out = new Json.Obj
    out("workload") = workload
    out("cpus") = cpus

    val t0Session = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // the session conf of graft.Bench
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      // keep every file the engine writes inside the run's scratch dir
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val setup = new Json.Obj
    setup("session_ms") = (System.nanoTime() - t0Session) / 1e6

    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, a, traced, tracer, out, setup)
    try {
      if (workload.startsWith("batch_")) new BatchWorkload(ctx).run(seconds)
      else if (workload == "stream_events") new StreamWorkload(ctx).run(seconds)
      else throw new IllegalArgumentException(s"unknown workload $workload")
      out("setup") = setup
      tracer.foreach { t =>
        ctx.drain()
        out("trace") = t.toJson
      }
      Files.writeString(Paths.get(a("out")), out.render)
    } finally spark.stop()
  }

  /** Shared run state. */
  final class Ctx(val spark: SparkSession, val a: Map[String, String], val traced: Boolean,
                  val tracer: Option[Tracer], val out: Json.Obj, val setup: Json.Obj) {
    val cpus: Int = a("cpus").toInt
    val seed: Long = a("seed").toLong
    val work: String = a("work")
    val data: String = a("data")
    val gcSleepMs: Long = 100
    val errors = new ArrayBuffer[String]
    private var drains = 0

    /** graft.Bench's GC tick: a full GC hands dead broadcasts and shuffles
      * to the ContextCleaner, and the sleep lets it drain outside the
      * timed window (100 ms here, 250 ms in graft.Bench: run time is
      * budgeted). */
    def gcTick(): Unit = { System.gc(); Thread.sleep(gcSleepMs) }

    /** Table loads through `ptx.Tables`: the first call per table lists
      * the path and reads its footer; the second is served by the memo. */
    def loadTables(names: Seq[String]): Unit = {
      val tables = new Json.Obj
      names.foreach { n =>
        val t0 = System.nanoTime()
        ptx.Tables.t(spark, data, n)
        val t1 = System.nanoTime()
        ptx.Tables.t(spark, data, n)
        val t2 = System.nanoTime()
        val o = new Json.Obj
        o("cold_ms") = (t1 - t0) / 1e6
        o("memo_ms") = (t2 - t1) / 1e6
        tables(n) = o
      }
      setup("tables") = tables
    }

    /** Waits until the listener has seen every event posted so far: a
      * marker job's end is delivered after all earlier events. */
    def drain(): Unit = tracer.foreach { t =>
      drains += 1
      val tag = s"drain-$drains"
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(OpKey)
      sc.setLocalProperty(OpKey, tag)
      sc.parallelize(Seq(1), 1).count()
      sc.setLocalProperty(OpKey, prev)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!t.endedJobs.contains(tag) && System.nanoTime() < deadline) Thread.sleep(5)
      require(t.endedJobs.contains(tag), "listener bus did not drain within 60 s")
    }

    def jvmCounters(): (Long, Long, Long) = (gcMs(), jitMs(), cpuNs())

    /** Live heap after a full GC, in MB. */
    def retainedHeapMb(): Double = {
      System.gc(); Thread.sleep(200); System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
  }

  /** Batch workloads: each operation is one query execution, timed the
    * way graft.Bench times it (query-function call through
    * `queryExecution.toRdd.count()`), followed by an untimed
    * `Caching.releaseAll()` and GC tick. */
  final class BatchWorkload(c: Ctx) {
    import c._
    private val names = a("queries").split(",").toSeq.filter(_.nonEmpty)
    private val fns = names.map(n => n -> ptx.QueryRegistry.all(n)).toMap

    def run(seconds: Double): Unit = {
      val t0 = System.nanoTime()
      loadTables(Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"))
      // warm-up: each query's checked execution, Verify's dump discipline
      val oracle = new Json.Obj
      val dumps = new Json.Obj
      val warmMs = new Json.Obj
      names.sorted.foreach { n =>
        ptx.QueryRegistry.oracleSql.get(n).foreach(sql => oracle(n) = sql)
        val path = s"$work/results/$n"
        val w0 = System.nanoTime()
        try {
          fns(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(path)
          dumps(n) = spark.read.parquet(path).count()
        } catch { case NonFatal(e) => errors += s"$n: checked run failed: $e" }
        warmMs(n) = (System.nanoTime() - w0) / 1e6
        ptx.Caching.releaseAll()
        gcTick()
      }
      setup("warm_ms") = (System.nanoTime() - t0) / 1e6
      setup("warm_query_ms") = warmMs
      out("dumps") = dumps
      out("oracle_sql") = oracle

      val expected = dumps.fields.toMap
      val ops = new Json.Arr
      val rnd = new scala.util.Random(seed)
      val (gc0, jit0) = (gcMs(), jitMs())
      val start = System.nanoTime()
      out("first_op_us") = nowUs()
      var pass = 0
      var opId = 0
      while (pass == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
        rnd.shuffle(names).foreach { n =>
          opId += 1
          ops += runOp(opId, n, pass, expected.get(n).map(_.asInstanceOf[Long]))
        }
        pass += 1
      }
      val end = System.nanoTime()
      val timed = new Json.Obj
      timed("passes") = pass
      timed("wall_ms") = (end - start) / 1e6
      timed("gc_ms") = gcMs() - gc0
      timed("jit_ms") = jitMs() - jit0
      out("timed") = timed
      out("ops") = ops
      ptx.Caching.releaseAll()
      out("heap_retained_mb") = retainedHeapMb()
      out("errors") = Json.Arr(errors.toSeq: _*)
    }

    private def runOp(id: Int, name: String, pass: Int, expectRows: Option[Long]): Json.Obj = {
      val sc = spark.sparkContext
      val o = new Json.Obj
      o("id") = id; o("name") = name; o("pass") = pass
      if (traced) sc.setLocalProperty(OpKey, id.toString)
      val (gc0, jit0, cpu0) = jvmCounters()
      o("start_us") = nowUs()
      val t0 = System.nanoTime()
      var tBuild = t0
      var df: DataFrame = null
      try {
        df = fns(name)(spark, data)
        tBuild = System.nanoTime()
        val rows = df.queryExecution.toRdd.count()
        val t2 = System.nanoTime()
        o("wall_ms") = (t2 - t0) / 1e6
        o("cpu_ms") = (cpuNs() - cpu0) / 1e6
        o("build_ms") = (tBuild - t0) / 1e6
        o("end_us") = nowUs()
        o("rows") = rows
        o("ok") = expectRows.contains(rows)
        if (!expectRows.contains(rows)) o("error") = s"rows $rows, expected ${expectRows.getOrElse("a checked warm run")}"
      } catch {
        case NonFatal(e) =>
          o("wall_ms") = (System.nanoTime() - t0) / 1e6
          o("end_us") = nowUs()
          o("ok") = false
          o("error") = e.toString
      }
      o("gc_ms") = gcMs() - gc0
      o("jit_ms") = jitMs() - jit0
      if (traced && df != null) {
        val qe = df.queryExecution
        val phases = new Json.Obj
        qe.tracker.phases.foreach { case (k, p) => phases(k) = Json.Arr(p.startTimeMs, p.endTimeMs) }
        o("phases") = phases
        o("exchanges") = Harness.exchanges(qe.executedPlan)
        o("persisted_rdds") = sc.getPersistentRDDs.size
      }
      val r0 = System.nanoTime()
      ptx.Caching.releaseAll()
      o("release_ms") = (System.nanoTime() - r0) / 1e6
      if (traced) sc.setLocalProperty(OpKey, null)
      gcTick()
      o
    }
  }

  private val planHelper = new AdaptiveSparkPlanHelper {}

  /** Shuffle exchanges in the final physical plan (AQE stages included). */
  def exchanges(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    planHelper.collect(plan) { case e: ShuffleExchangeLike => e }.size

  /** The event-replay workload: the events table as event-time-ordered
    * files, one file per micro-batch under `Trigger.AvailableNow`, through
    * four `ptx.stream.Pipelines` into memory sinks. An operation is one
    * micro-batch; a pass replays every pipeline once. */
  final class StreamWorkload(c: Ctx) {
    import c._
    private val pipelines = a("pipelines").split(",").toSeq
    private val src = a("stream-src")
    private val files = new java.io.File(src).list().count(_.endsWith(".parquet"))
    private val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    private def build(p: String, in: DataFrame): (DataFrame, String) = {
      import in.sparkSession.implicits._
      val ev = in.as[ptx.stream.Event]
      p match {
        case "tumbling" => (ptx.stream.Pipelines.tumbling(in), "update")
        case "sessions" => (ptx.stream.Pipelines.sessions(in), "append")
        case "ewma" => (ptx.stream.Pipelines.ewma(ev).toDF(), "append")
        case "funnel" => (ptx.stream.Pipelines.funnel(ev).toDF(), "append")
      }
    }

    // window state on the HDFS-backed store; transformWithState needs RocksDB
    private def provider(p: String): String =
      if (p == "ewma" || p == "funnel")
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      else "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

    private var replays = 0

    /** One full replay of `p`; returns the replay record and the sink name. */
    private def replay(p: String, pass: Int, from: String): (Json.Obj, String) = {
      replays += 1
      val id = s"r$replays"
      val name = s"pb_${p}_$replays"
      val ckpt = s"$work/ckpt/$name"
      val o = new Json.Obj
      o("id") = id; o("name") = p; o("pass") = pass
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider(p))
      val sc = spark.sparkContext
      if (traced) sc.setLocalProperty(OpKey, id)
      val (gc0, jit0, cpu0) = jvmCounters()
      o("start_us") = nowUs()
      val t0 = System.nanoTime()
      try {
        val in = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(from)
        val (df, mode) = build(p, in)
        o("build_ms") = (System.nanoTime() - t0) / 1e6
        val q = df.writeStream.format("memory").queryName(name).outputMode(mode)
          .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val t1 = System.nanoTime()
        o("wall_ms") = (t1 - t0) / 1e6
        o("cpu_ms") = (cpuNs() - cpu0) / 1e6
        o("end_us") = nowUs()
        val progress = q.recentProgress.toSeq
        o("batches") = Json.Arr(progress.map(batchJson): _*)
        o("first_batch_us") = progress.headOption.map(prog => isoUs(prog.timestamp)).getOrElse(0L)
        o("watermark_us") = progress.lastOption
          .flatMap(prog => Option(prog.eventTime.get("watermark"))).map(isoUs).getOrElse(0L)
        o("out_rows") = spark.table(name).count()
        o("ok") = q.exception.isEmpty && progress.map(_.numInputRows).sum > 0
        q.exception.foreach(e => o("error") = e.toString)
      } catch {
        case NonFatal(e) =>
          o("wall_ms") = (System.nanoTime() - t0) / 1e6
          o("end_us") = nowUs()
          o("ok") = false
          o("error") = e.toString
      }
      o("gc_ms") = gcMs() - gc0
      o("jit_ms") = jitMs() - jit0
      if (traced) sc.setLocalProperty(OpKey, null)
      (o, name)
    }

    private def isoUs(s: String): Long = {
      val i = java.time.Instant.parse(s)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    }

    private def batchJson(prog: StreamingQueryProgress): Json.Obj = {
      val b = new Json.Obj
      b("batch_id") = prog.batchId
      b("start_us") = isoUs(prog.timestamp)
      b("rows") = prog.numInputRows
      val d = new Json.Obj
      prog.durationMs.asScala.foreach { case (k, v) => d(k) = v.longValue }
      b("duration_ms") = d
      val st = prog.stateOperators.toSeq
      b("state_rows_total") = st.map(_.numRowsTotal).sum
      b("state_rows_updated") = st.map(_.numRowsUpdated).sum
      b("state_memory_bytes") = st.map(_.memoryUsedBytes).sum
      b("state_commit_ms") = st.map(_.commitTimeMs).sum
      b("state_dropped_late") = st.map(_.numRowsDroppedByWatermark).sum
      b
    }

    /** The file source admits files oldest first; the replay relies on
      * that order being event-time order. Reads the admitted file of each
      * batch from the checkpoint's source log. */
    private def admittedFiles(ckpt: String): Seq[Seq[String]] = {
      val dir = new java.io.File(s"$ckpt/sources/0")
      val logs = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
      logs.toSeq.map { f =>
        Files.readAllLines(f.toPath).asScala.toSeq.drop(1).map { line =>
          val m = "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(line)
          m.map(x => x.group(1).split('/').last).getOrElse("?")
        }
      }
    }

    private def dropSink(name: String): Unit = {
      spark.catalog.dropTempView(name)
      deleteTree(Paths.get(s"$work/ckpt/$name"))
    }

    /** Writes the sink of `p`'s replay `name` for the DuckDB check, with
      * the files each batch admitted. */
    private def dump(p: String, name: String, r: Json.Obj, dumps: Json.Obj, admission: Json.Obj): Unit =
      try {
        val path = s"$work/results/stream_$p"
        val sink = spark.table(name)
        val result = if (p == "tumbling") lastPerKey(sink, Seq("hour", "event_type")) else sink
        result.coalesce(1).write.mode("overwrite").parquet(path)
        val d = new Json.Obj
        d("rows") = r("out_rows")
        d("watermark_us") = r("watermark_us")
        dumps(p) = d
        admission(p) = Json.Arr(admittedFiles(s"$work/ckpt/$name").map(fs => Json.Arr(fs: _*)): _*)
      } catch { case NonFatal(e) => errors += s"$p: dump failed: $e" }

    def run(seconds: Double): Unit = {
      val t0 = System.nanoTime()
      loadTables(Seq("events"))
      setup("source_files") = files
      setup("source_rows") = spark.read.schema(schema).parquet(src).count()
      // warm-up: every pipeline replays the first files once
      val warm = new Json.Arr
      pipelines.foreach { p =>
        val (r, name) = replay(p, -1, a("warm-src"))
        warm += r
        if (r("ok") != true) errors += s"$p: warm replay failed: ${r.fields.toMap.getOrElse("error", "no input")}"
        dropSink(name)
        gcTick()
      }
      setup("warm_ms") = (System.nanoTime() - t0) / 1e6
      out("warm_replays") = warm
      val oracle = new Json.Obj
      Seq("pt_ewma", "pt_tumbling_1h", "pt_session_native", "pt_funnel").foreach { k =>
        oracle(k) = ptx.QueryRegistry.oracleSql(k)
      }
      out("oracle_sql") = oracle

      // the first timed replay of each pipeline is the checked one; later
      // replays must leave as many rows in the sink
      val dumps = new Json.Obj
      val admission = new Json.Obj
      val ops = new Json.Arr
      val rnd = new scala.util.Random(seed)
      val (gc0, jit0) = (gcMs(), jitMs())
      val start = System.nanoTime()
      out("first_op_us") = nowUs()
      var pass = 0
      while (pass == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
        rnd.shuffle(pipelines).foreach { p =>
          val (r, name) = replay(p, pass, src)
          if (r("ok") == true) dumps.fields.toMap.get(p) match {
            case None => dump(p, name, r, dumps, admission)
            case Some(d: Json.Obj) if d("rows") != r("out_rows") =>
              r("ok") = false
              r("error") = s"sink rows ${r("out_rows")}, first replay ${d("rows")}"
            case _ =>
          }
          ops += r
          dropSink(name)
          gcTick()
        }
        pass += 1
      }
      val end = System.nanoTime()
      val timed = new Json.Obj
      timed("passes") = pass
      timed("wall_ms") = (end - start) / 1e6
      timed("gc_ms") = gcMs() - gc0
      timed("jit_ms") = jitMs() - jit0
      out("timed") = timed
      out("replays") = ops
      out("dumps") = dumps
      out("admission") = admission
      out("heap_retained_mb") = retainedHeapMb()
      out("errors") = Json.Arr(errors.toSeq: _*)
    }

    /** Update-mode output holds every revision of a window; the last one
      * (sink order is batch order) is the window's final value. */
    private def lastPerKey(sink: DataFrame, keys: Seq[String]): DataFrame = {
      val rows = sink.collect()
      val idx = keys.map(sink.schema.fieldIndex)
      val last = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Row]
      rows.foreach(r => last(idx.map(r.get)) = r)
      spark.createDataFrame(java.util.Arrays.asList(last.values.toSeq: _*), sink.schema)
    }
  }

  /** Per-operation scheduler and task counters from the listener bus.
    * Jobs are matched to operations by the `perfbench.op` local property,
    * which stream execution threads inherit from the thread that starts
    * the query. */
  final class Tracer extends SparkListener {
    final class JobRec(val op: String, val batch: String, val start: Long) {
      @volatile var end: Long = -1L
    }
    final class StageRec(val op: String, val batch: String) {
      @volatile var submit: Long = -1L
      @volatile var firstLaunch: Long = Long.MaxValue
    }
    final class TaskAgg {
      var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var inputRows = 0L
      var shWrite = 0L; var shRead = 0L; var spill = 0L
    }
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stages = new ConcurrentHashMap[Int, StageRec]()
    val tasks = new ConcurrentHashMap[(String, String), TaskAgg]()
    val endedJobs: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
      val batch = props.flatMap(p => Option(p.getProperty(BatchIdKey))).getOrElse("")
      jobs.put(e.jobId, new JobRec(op, batch, e.time))
      e.stageIds.foreach(s => stages.putIfAbsent(s, new StageRec(op, batch)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      if (j.op.startsWith("drain-")) endedJobs.add(j.op)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach { s =>
        s.submit = e.stageInfo.submissionTime.getOrElse(-1L)
      }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      Option(stages.get(e.stageId)).foreach { s =>
        s.synchronized { s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(stages.get(e.stageId)).foreach { s =>
      val agg = tasks.computeIfAbsent((s.op, s.batch), _ => new TaskAgg)
      val m = e.taskMetrics
      agg.synchronized {
        agg.tasks += 1
        if (m != null) {
          agg.runMs += m.executorRunTime
          agg.cpuNs += m.executorCpuTime
          agg.gcMs += m.jvmGCTime
          agg.inputRows += m.inputMetrics.recordsRead
          agg.shWrite += m.shuffleWriteMetrics.bytesWritten
          agg.shRead += m.shuffleReadMetrics.totalBytesRead
          agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    def toJson: Json.Obj = {
      val o = new Json.Obj
      o("jobs") = Json.Arr(jobs.asScala.toSeq.sortBy(_._1).collect {
        case (id, j) if !j.op.startsWith("drain-") =>
          val r = new Json.Obj
          r("id") = id; r("op") = j.op; r("batch") = j.batch
          r("start_ms") = j.start; r("end_ms") = j.end
          r
      }: _*)
      o("stages") = Json.Arr(stages.asScala.toSeq.sortBy(_._1).collect {
        case (id, s) if !s.op.startsWith("drain-") && s.submit >= 0 =>
          val r = new Json.Obj
          r("id") = id; r("op") = s.op; r("batch") = s.batch
          r("submit_ms") = s.submit
          r("first_launch_ms") = if (s.firstLaunch == Long.MaxValue) s.submit else s.firstLaunch
          r
      }: _*)
      o("tasks") = Json.Arr(tasks.asScala.toSeq.collect {
        case ((op, batch), t) if !op.startsWith("drain-") =>
          val r = new Json.Obj
          r("op") = op; r("batch") = batch
          r("tasks") = t.tasks; r("run_ms") = t.runMs; r("cpu_ms") = t.cpuNs / 1e6
          r("gc_ms") = t.gcMs; r("input_rows") = t.inputRows
          r("shuffle_write_bytes") = t.shWrite; r("shuffle_read_bytes") = t.shRead
          r("spill_bytes") = t.spill
          r
      }: _*)
      o
    }
  }
}

/** Just enough JSON to write the run record (no library on the classpath
  * is stable across Spark versions). */
object Json {
  final class Obj {
    private val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    def update(k: String, v: Any): Unit = m(k) = v
    def apply(k: String): Any = m(k)
    def fields: Seq[(String, Any)] = m.toSeq
    def render: String = m.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  }
  final class Arr {
    private val b = ArrayBuffer.empty[Any]
    def +=(v: Any): Unit = b += v
    def items: Seq[Any] = b.toSeq
    def render: String = b.map(value).mkString("[", ",", "]")
  }
  object Arr {
    def apply(vs: Any*): Arr = { val a = new Arr; vs.foreach(a += _); a }
  }
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case o: Obj => o.render
    case a: Arr => a.render
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case other => str(other.toString)
  }
}
