package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.QueryDef
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run in a fresh JVM: session set-up, one cold pass over
  * the workload's registry rows, a fixed number of warm passes, then an
  * untimed check pass that writes every row's output as parquet for the
  * oracle comparison. Rows run in a closed loop with one client: a row
  * starts only after the previous row's noop write has finished.
  *
  * Every run records spans (run, pass, row, modelling stage) in memory and
  * writes them to `--out` as JSON when it ends. With `--trace 1` the run
  * also registers the listeners below and takes their counters at every
  * span boundary; without it the spans carry only memo counts and CPU
  * time, so the untraced figures pay for no listener.
  *
  * Arguments: --cpus N --sf DIR --rows a,b,c --warm N --trace 0|1
  * --stages 0|1 --out FILE --check DIR. Prints `perfbench: ready` on
  * stdout once the session is ready (warm-up scan and noop write done).
  */
object PerfBench {

  /** Modules whose `defs` the workloads draw rows from. */
  val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "MlQueries" -> graft.ml.MlQueries.defs,
    "EnrichOps" -> graft.operators.EnrichOps.defs,
    "DedupOps" -> graft.operators.DedupOps.defs,
    "EmbeddingOps" -> graft.operators.EmbeddingOps.defs,
    "EventStreams" -> graft.streaming.EventStreams.defs,
    "SourceOps" -> graft.operators.SourceOps.defs,
    "Relational" -> graft.operators.Relational.defs,
    "TemporalOps" -> graft.operators.TemporalOps.defs,
    "SkewOps" -> graft.operators.SkewOps.defs)

  /** Cumulative counters of the Spark runtime, sources, plans and
    * streaming layers. Spans store differences of snapshots. */
  final class Probe extends SparkListener with QueryExecutionListener {
    private val names = Seq(
      "jobs", "one_task_jobs", "tasks", "task_ms", "task_cpu_ns", "gc_ms",
      "sched_delay_ms", "shuffle_read_b", "shuffle_write_b", "spill_b",
      "read_b", "read_rows", "write_b", "write_rows",
      "plan_execs", "analysis_ns", "optimization_ns", "planning_ns",
      "stream_drains", "stream_batches", "stream_input_rows",
      "stream_state_rows", "trigger_ms", "add_batch_ms", "wal_commit_ms",
      "commit_offsets_ms", "latest_offset_ms", "query_planning_ms",
      "get_batch_ms")
    private val c = names.map(_ -> new AtomicLong()).toMap
    private def add(k: String, v: Long): Unit = { c(k).addAndGet(v); () }
    /** Job intervals as (start ms, end ms, tasks), epoch clock. */
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    private val stateRows = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Long]()

    def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tasks = e.stageInfos.map(_.numTasks).sum
      jobStart.put(e.jobId, (e.time, tasks))
      add("jobs", 1)
      if (tasks == 1) add("one_task_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, n) =>
        jobs.add((t0, e.time, n)); ()
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      add("tasks", 1)
      if (m != null) {
        val i = e.taskInfo
        add("task_ms", m.executorRunTime)
        add("task_cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("sched_delay_ms", math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)))
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("spill_b", m.diskBytesSpilled)
        add("read_b", m.inputMetrics.bytesRead)
        add("read_rows", m.inputMetrics.recordsRead)
        add("write_b", m.outputMetrics.bytesWritten)
        add("write_rows", m.outputMetrics.recordsWritten)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: StreamingQueryListener.QueryStartedEvent => add("stream_drains", 1)
      case p: StreamingQueryListener.QueryProgressEvent =>
        val g = p.progress
        add("stream_batches", 1)
        add("stream_input_rows", g.numInputRows)
        val d = g.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        add("trigger_ms", ms("triggerExecution"))
        add("add_batch_ms", ms("addBatch"))
        add("wal_commit_ms", ms("walCommit"))
        add("commit_offsets_ms", ms("commitOffsets"))
        add("latest_offset_ms", ms("latestOffset"))
        add("query_planning_ms", ms("queryPlanning"))
        add("get_batch_ms", ms("getBatch"))
        // state rows held at the end of each drain: add each batch's
        // change so the counter tracks the sum of the latest totals
        val total = g.stateOperators.map(_.numRowsTotal).sum
        val prev = Option(stateRows.put(g.id, total)).getOrElse(0L)
        add("stream_state_rows", total - prev)
      case _ => ()
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      add("plan_execs", 1)
      val ph = qe.tracker.phases
      def phase(k: String): Long =
        ph.get(k).map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).getOrElse(0L)
      add("analysis_ns", phase("analysis"))
      add("optimization_ns", phase("optimization"))
      add("planning_ns", phase("planning"))
    }
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit =
      add("plan_execs", 1)
  }

  /** Wall time and counter differences over one interval. */
  final class Span(val id: Int, val parent: Int, val kind: String,
      val name: String, start: Map[String, Long]) {
    val startMs: Long = System.currentTimeMillis()
    private val startNs = System.nanoTime()
    var durS = 0.0
    var counters: Map[String, Long] = Map.empty
    var attrs: Map[String, Any] = Map.empty
    def finish(endNs: Long, end: Map[String, Long]): Unit = {
      durS = (endNs - startNs) / 1e9
      counters = end.map { case (k, v) => k -> (v - start.getOrElse(k, 0L)) }
    }
  }

  /** The spans of one run, kept in memory until it ends. Counters are
    * read outside each span's interval, so draining the listener bus is
    * not billed to the span. */
  final class Spans(counters: () => Map[String, Long]) {
    private val all = ArrayBuffer.empty[Span]
    def open(parent: Int, kind: String, name: String): Span = {
      val s = new Span(all.size, parent, kind, name, counters())
      all += s
      s
    }
    def close(s: Span): Unit = s.finish(System.nanoTime(), counters())
    def json: Seq[Map[String, Any]] = all.toSeq.map { s =>
      val childS = all.filter(_.parent == s.id).map(_.durS).sum
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ms" -> s.startMs, "dur_s" -> s.durS,
        "self_s" -> (s.durS - childS), "counters" -> s.counters,
        "attrs" -> s.attrs)
    }
  }

  def main(args: Array[String]): Unit = {
    def opt(k: String): String = args(args.indexOf(k) + 1)
    val sf = opt("--sf")
    val cpus = opt("--cpus").toInt
    val spark = graft.Sessions.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("perfbench"),
      cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sf/nation.parquet").write.mode("overwrite")
      .format("noop").save()
    println("perfbench: ready")
    Console.out.flush()
    try run(spark, sf, opt("--rows").split(",").toSeq, opt("--warm").toInt,
      opt("--trace") == "1", opt("--stages") == "1", opt("--out"),
      opt("--check"), cpus)
    finally spark.stop()
  }

  private def run(spark: SparkSession, sf: String, rowNames: Seq[String],
      warmPasses: Int, trace: Boolean, stages: Boolean, out: String,
      checkDir: String, cpus: Int): Unit = {
    val byName = modules.flatMap { case (m, defs) => defs.map(d => d.name -> (m, d)) }.toMap
    val rows = rowNames.map(n => byName.getOrElse(n, sys.error(s"unknown row $n")))
    val probe = if (trace) Some(new Probe) else None
    probe.foreach { p =>
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
    }
    val drainBus: () => Unit = {
      val attempt = scala.util.Try {
        val bus = spark.sparkContext.getClass.getMethod("listenerBus")
          .invoke(spark.sparkContext)
        val m = bus.getClass.getMethods
          .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
          .get
        () => { scala.util.Try(m.invoke(bus)); () }
      }
      attempt.getOrElse(() => ())
    }
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def counters(): Map[String, Long] = {
      val (hits, misses) = graft.api.Intermediates.stats()
      val base = Map("memo_hits" -> hits, "memo_misses" -> misses,
        "cpu_ns" -> osBean.getProcessCpuTime)
      probe.fold(base) { p =>
        drainBus()
        base ++ p.snapshot() ++ Map(
          "codegen_classes" -> org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME.getCount,
          "codegen_ns" -> org.apache.spark.sql.catalyst.expressions.codegen
            .CodeGenerator.compileTime)
      }
    }
    val spans = new Spans(() => counters())
    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    // the same scratch release graft.Bench does between rows: drop
    // per-row checkpoints, keep the memo's pinned materializations
    def releaseScratch(): Unit = {
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => graft.api.Intermediates.isPinned(spark, id) }
        .values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
    def pinnedMb(): Double =
      spark.sparkContext.getRDDStorageInfo
        .filter(i => graft.api.Intermediates.isPinned(spark, i.id))
        .map(i => i.memSize + i.diskSize).sum / 1048576.0

    val root = spans.open(-1, "run", "run")
    var liveHeapMb = 0.0
    (0 to warmPasses).foreach { p =>
      val pass = spans.open(root.id, "pass", if (p == 0) "cold" else s"warm$p")
      rows.foreach { case (module, q) =>
        val row = spans.open(pass.id, "row", q.name)
        val err = try { noop(q.fn(spark, sf)); None }
          catch { case NonFatal(e) => Some(e.toString) }
        spans.close(row)
        row.attrs = Map("module" -> module, "ok" -> err.isEmpty) ++
          err.map("error" -> _)
        err.foreach(e => System.err.println(s"[perfbench] ${q.name} failed: $e"))
        releaseScratch()
      }
      spans.close(pass)
      if (trace) pass.attrs = Map("pinned_mb" -> pinnedMb())
      if (p == 0) {
        // two collections: the second also frees what the first queued
        // for finalization or cleaner threads
        System.gc()
        Thread.sleep(200)
        System.gc()
        val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
        liveHeapMb = heap.getUsed / 1048576.0
      }
    }
    if (trace && stages) stagePass(spark, sf, spans, root.id)
    spans.close(root)
    root.attrs = Map("live_heap_mb" -> liveHeapMb, "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version)

    // untimed check pass: every row's output as one parquet file
    val check = spans.open(-1, "check", "check")
    val checks: Seq[(String, Option[String])] = rows.map { case (_, q) =>
      try {
        q.fn(spark, sf).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/${q.name}")
        q.name -> None
      } catch { case NonFatal(e) => q.name -> Some(e.toString) }
      finally releaseScratch()
    }
    spans.close(check)
    val oracle = rows.map { case (_, q) => q.name -> q.oracle.getOrElse("") }
    val jobs = probe.map(_.jobs.toArray.toSeq).getOrElse(Seq.empty)
    Files.write(Paths.get(out), Json.render(Map(
      "spans" -> spans.json,
      "jobs" -> jobs.map { case (a, b, n) => Seq(a, b, n) },
      "check_errors" -> checks.collect { case (n, Some(e)) => n -> e }.toMap,
      "oracle_sql" -> oracle.toMap)).getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** One uncached pass through ModelPipeline's public non-memo stage
    * functions with the parameters the memoized accessors use, one span
    * per stage. */
  private def stagePass(spark: SparkSession, sf: String, spans: Spans,
      parent: Int): Unit = {
    import graft.api.ModelPipeline
    import graft.features.Featurize
    def stage[T](name: String)(f: => T): T = {
      val s = spans.open(parent, "stage", name)
      try f finally spans.close(s)
    }
    val docs = graft.sources.Tables.documents(spark, sf)
    val (counts, weights) = stage("features.build") {
      val c = Featurize.termCounts(Featurize.docTerms(docs)).localCheckpoint()
      (c, Featurize.tfidf(c, docs).localCheckpoint())
    }
    val fm = stage("cluster.fit") {
      ModelPipeline.fit(docs, precomputedCounts = Some(counts),
        precomputedWeights = Some(weights))
    }
    stage("coherence.score") { ModelPipeline.coherence(fm).collect() }
    val split = stage("refine.split") {
      ModelPipeline.split(fm, graft.refine.LdaSplitter.Params())
    }
    stage("refine.merge") {
      graft.refine.ModelRefresh.stats(ModelPipeline.merge(split)).collect()
    }
    ()
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
