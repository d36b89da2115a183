package perfbench

import java.io.File
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.DeserializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.StructType

import graft.engine.{EngineSession, Tables}
import graft.functions.{Alter, Constraints, Copy, Dml}

/** JVM half of the benchmark: treats the engine as a library.
  *
  * Reads a plan written by `run.py` (the seeded operations), builds the
  * session `setups` times, then runs a closed loop of one client: the
  * next operation starts only after the previous one returned its rows.
  * Every operation is timed from the outside. The plan fixes every pass:
  * a check pass (query workloads), warm-up passes, then timed passes. With
  * `trace` on, each kind of operation is traced in alternate timed passes:
  * a traced operation records spans around each call into a layer, and a
  * SparkListener, attached only around it, counts its jobs, stages and
  * tasks; the other passes run it with neither.
  *
  *   Client <plan.json> <out_dir>
  *
  * Writes `<out_dir>/run.json` (set-ups, passes, one record per operation,
  * heap; with trace on also the spans and per-operation counts), and the
  * check-pass results as parquet under `<out_dir>/results/`.
  */
object Client {

  final case class Op(seq: Int, kind: String, name: String, sql: String,
      after: Seq[String], readback: String)
  final case class Conf(workload: String, data: String, cores: Int, trace: Boolean,
      setups: Int, pool: Boolean, warehouse: String, localDir: String)
  final case class Plan(conf: Conf, prep: Seq[String], check: Seq[Op],
      warm: Seq[Seq[Op]], timed: Seq[Seq[Op]])

  final case class Rec(seq: Int, kind: String, name: String, phase: String, pass: Int,
      startNs: Long, endNs: Long, ok: Boolean, err: String, rows: Long, fp: String,
      stmtMs: Double, cells: Seq[Seq[String]], cols: Seq[String])
  final case class Setup(totalS: Double, sessionS: Double, warmS: Double)
  final case class Pass(phase: String, idx: Int, ms: Double, ops: Int)

  val json: JsonMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(com.fasterxml.jackson.databind.PropertyNamingStrategies.SNAKE_CASE)
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)
    .build()

  // -- clock: epoch nanoseconds, so tracker phase times (epoch ms) line up
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  def main(args: Array[String]): Unit = {
    if (args(0) == "--catalog") {
      // the engine's DuckDB oracle SQL by query name
      json.writeValue(new File(args(1)), Map("oracle" -> graft.SparkEntry.oracleSql.toMap))
      return
    }
    val plan = json.readValue(new File(args(0)), classOf[Plan])
    val out = new File(args(1)); out.mkdirs()
    val c = plan.conf
    val tracer = new Tracer
    tracer.on = c.trace // set-ups are traced; timed operations in alternate passes

    // -- set-up: session, configure, data-sized tuning, warmed tables --
    val setups = mutable.ArrayBuffer[Setup]()
    var spark: SparkSession = null
    for (_ <- 0 until c.setups) {
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val t0 = now()
      spark = tracer.span("setup", "engine", "setup.session") {
        EngineSession.builder(s"local[${c.cores}]", shufflePartitions = c.cores)
          .config("spark.sql.warehouse.dir", c.warehouse)
          .config("spark.local.dir", c.localDir)
          .getOrCreate()
      }
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = now()
      tracer.span("setup", "engine", "setup.configure") {
        EngineSession.configure(spark)
        EngineSession.tuneForScale(spark, EngineSession.dirBytes(c.data))
      }
      val t2 = now()
      tracer.span("setup", "engine", "setup.warm") {
        if (c.pool) Tables.warm(spark, c.data)
        Tables.registerAll(spark, c.data)
      }
      val t3 = now()
      setups += Setup((t3 - t0) / 1e9, (t1 - t0) / 1e9, (t3 - t2) / 1e9)
    }
    tracer.on = false
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    val session = spark
    val queries = graft.SparkEntry.queries
    val timeline = mutable.LinkedHashMap("setup" -> now())
    val prep = plan.prep.map { sql =>
      val t0 = now(); runStatement(session, sql); Map("sql" -> sql, "ms" -> (now() - t0) / 1e6)
    }
    timeline("prep") = now()

    val recs = mutable.ArrayBuffer[Rec]()
    val passes = mutable.ArrayBuffer[Pass]()
    val verified = mutable.Map[String, (Long, String)]()
    val counts = new Counts()
    var tracing = false

    // check-pass results, written after the pass
    val pending = mutable.ArrayBuffer[(Array[Row], StructType, File)]()

    def runOp(op: Op, phase: String, pass: Int, keep: File): Rec = {
      val tag = s"$phase:${op.seq}"
      if (tracing) session.sparkContext.setLocalProperty(Counts.Key, tag)
      val t0 = now()
      var stmtMs = 0.0
      val res: Either[Throwable, (Array[Row], DataFrame)] = try {
        tracer.span(tag, "client", "op") {
          val df: DataFrame = if (op.kind == "query") {
            val d = tracer.span(tag, "queries", "query.build") {
              queries(op.name)(session, c.data)
            }
            tracer.phases(tag, d)
            d
          } else {
            if (tracing) session.sparkContext.setLocalProperty(Counts.Key, tag + ":stmt")
            val s0 = now()
            tracer.span(tag, "functions", "functions." + op.kind) {
              runStatement(session, op.sql)
            }
            stmtMs = (now() - s0) / 1e6
            // statements that make the statement's effect visible to the read-back
            if (op.after.nonEmpty) tracer.span(tag, "functions", "functions.after") {
              op.after.foreach(runStatement(session, _))
            }
            if (tracing) session.sparkContext.setLocalProperty(Counts.Key, tag)
            val d = tracer.span(tag, "queries", "query.readback") {
              session.sql(graft.functions.Macros.expandAll(session, op.readback))
            }
            tracer.phases(tag, d)
            d
          }
          val rows = tracer.span(tag, "exec", "exec.collect") { df.collect() }
          tracer.execPhases(tag, df)
          if (tracing) counts.plan(tag, df, rows.length)
          Right((rows, df))
        }
      } catch { case e: Throwable => Left(e) }
      val t1 = now()
      if (tracing) session.sparkContext.setLocalProperty(Counts.Key, null)
      val rec = res match {
        case Left(e) =>
          Rec(op.seq, op.kind, op.name, phase, pass, t0, t1, ok = false,
            String.valueOf(e.getMessage).take(300), 0, "", stmtMs, Nil, Nil)
        case Right((rows, df)) =>
          if (keep != null) pending += ((rows, df.schema, keep))
          val cells = if (op.kind == "query") Nil else rows.toSeq.map(r => r.toSeq.map(cell))
          Rec(op.seq, op.kind, op.name, phase, pass, t0, t1, ok = true, "",
            rows.length.toLong, fingerprint(rows), stmtMs, cells, df.schema.fieldNames.toSeq)
      }
      recs += rec
      rec
    }

    // an operation's kind: its query, or its statement kind
    def kindOf(op: Op): String = if (op.kind == "query") op.name else op.kind

    def runPass(ops: Seq[Op], phase: String, idx: Int): Unit = {
      val kinds = ops.map(kindOf).distinct.sorted
      val t0 = now()
      ops.foreach { op =>
        // with trace on, half the kinds are traced in even timed passes and
        // the other half in odd ones; the listener is attached only around
        // a traced operation, and drained and removed outside its timing
        tracing = c.trace && phase == "timed" && (kinds.indexOf(kindOf(op)) + idx) % 2 == 1
        if (tracing) session.sparkContext.addSparkListener(counts)
        tracer.on = tracing
        runOp(op, if (tracing) "traced" else phase, idx, keep = null)
        tracer.on = false
        if (tracing) {
          org.apache.spark.PerfbenchBus.drain(session.sparkContext)
          session.sparkContext.removeSparkListener(counts)
        }
        tracing = false
      }
      passes += Pass(phase, idx, (now() - t0) / 1e6, ops.size)
    }

    // -- check pass: every distinct query once, results kept for the oracle
    val results = new File(out, "results")
    if (plan.check.nonEmpty) {
      val t0 = now()
      plan.check.foreach { op =>
        val r = runOp(op, "check", 0, keep = new File(results, op.name))
        if (r.ok) verified(op.name) = (r.rows, r.fp)
      }
      passes += Pass("check", 0, (now() - t0) / 1e6, plan.check.size)
      // the writes are independent jobs: run them side by side
      val pool = java.util.concurrent.Executors.newFixedThreadPool(c.cores)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      Await.result(Future.sequence(pending.toSeq.map { case (rows, schema, dir) =>
        Future(writeResult(session, rows, schema, dir))
      }), Duration.Inf)
      pool.shutdown()
    }
    timeline("check") = now()

    // -- warm-up passes, then a collection so the window starts clean
    plan.warm.zipWithIndex.foreach { case (p, i) => runPass(p, "warm", i) }
    System.gc(); Thread.sleep(200)
    timeline("warm") = now()

    // -- timed window: the plan's passes, all of them, so every run times
    // the same operations
    val start = now()
    plan.timed.zipWithIndex.foreach { case (p, i) => runPass(p, "timed", i) }
    val windowS = (now() - start) / 1e9
    timeline("timed") = now()
    // the listener bus first: queued events, and what the status store
    // keeps of them, are part of the heap
    org.apache.spark.PerfbenchBus.drain(session.sparkContext)
    val heapMb = liveHeapMb()

    // timed ops of a query workload must reproduce the oracle-checked rows
    val checked = recs.map { r =>
      if (!r.ok || r.kind != "query" || r.phase == "check") r
      else verified.get(r.name) match {
        case Some((n, fp)) if n == r.rows && fp == r.fp => r
        case Some(_) => r.copy(ok = false, err = "result differs from the oracle-checked result")
        case None => r.copy(ok = false, err = "no oracle-checked result")
      }
    }

    json.writeValue(new File(out, "run.json"), Map(
      "workload" -> c.workload, "cores" -> c.cores, "window_s" -> windowS,
      "heap_mb" -> heapMb, "cached_mb" -> cachedMb,
      "timeline_s" -> timeline.map { case (k, v) => k -> (v - baseEpochNs) / 1e9 },
      "setups" -> setups, "prep" -> prep, "passes" -> passes, "ops" -> checked,
      "spans" -> tracer.spans, "counts" -> counts.rows))
    // nothing is left to clean up outside the run directory: skip the
    // engine's shutdown, which only adds to every run's wall time
    Runtime.getRuntime.halt(0)
  }

  /** Heap in use after a full collection; the least of three, a moment
    apart: the context cleaner drops the cached blocks and broadcasts that
    a collection finds unreachable only after it, and what other threads
    allocate right after a collection does not count. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      val mb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
      Thread.sleep(300)
      mb
    }.min
  }

  /** Order-independent digest of a result: sorted row renderings. */
  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach { s => md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(10.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def cell(v: Any): String = v match {
    case null => "NULL"
    case x => x.toString
  }

  /** The rows the client received, as parquet for the DuckDB compare. */
  def writeResult(spark: SparkSession, rows: Array[Row], schema: StructType, dir: File): Unit =
    spark.createDataFrame(rows.toList.asJava, schema)
      .coalesce(1).write.mode("overwrite").parquet(dir.getPath)

  /** One statement through the engine's statement surface. */
  def runStatement(spark: SparkSession, sql: String): Unit = {
    if (Alter.matches(sql)) Alter.execute(spark, sql)
    else if (Copy.matches(sql)) Copy.execute(spark, sql)
    else if (Constraints.matchesDdl(sql)) Constraints.executeDdl(spark, sql)
    else if (Dml.matches(spark, sql)) Dml.execute(spark, sql)
    else spark.sql(sql).collect()
    ()
  }
}

/** In-memory spans around each call the benchmark makes into a layer. */
final class Tracer {
  import Tracer.Span
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  var on = false

  def span[T](op: String, layer: String, name: String)(body: => T): T = {
    if (!on) return body
    val id = nextId; nextId += 1
    val parent = if (stack.isEmpty) -1 else stack.top
    stack.push(id)
    val t0 = Client.now()
    try body
    finally {
      stack.pop()
      spans += Span(id, parent, op, layer, name, t0, Client.now())
    }
  }

  private def tracked(op: String, parentName: String,
      df: DataFrame, names: Seq[String]): Unit = if (on) {
    val parent = spans.reverseIterator.find(s => s.op == op && s.name == parentName)
    val phases = df.queryExecution.tracker.phases
    for (p <- names; ph <- phases.get(p); par <- parent) {
      val id = nextId; nextId += 1
      spans += Span(id, par.id, op, "plans", "plans." + p,
        ph.startTimeMs * 1000000L, ph.endTimeMs * 1000000L)
    }
  }

  /** Parsing and analysis run eagerly while the query is built. */
  def phases(op: String, df: DataFrame): Unit = {
    val parentName = spans.reverseIterator.find(_.op == op).map(_.name).getOrElse("")
    tracked(op, parentName, df, Seq("parsing", "analysis"))
  }

  /** Optimization and physical planning run lazily inside the action. */
  def execPhases(op: String, df: DataFrame): Unit =
    tracked(op, "exec.collect", df, Seq("optimization", "planning"))
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: String, layer: String,
      name: String, start: Long, end: Long)
}

object Counts { val Key = "perfbench.op" }

/** Per-operation scheduler, task and plan counters, attributed through a
  * local property set on the client thread before each call. */
final class Counts extends org.apache.spark.scheduler.SparkListener with AdaptiveSparkPlanHelper {
  import org.apache.spark.scheduler._

  final class C {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
    var bytesWritten = 0L; var recordsWritten = 0L; var schedWaitMs = 0L
    var rowsOut = 0L; var leafRows = 0L; var leaves = 0L; var memLeaves = 0L; var nodes = 0L
    var graftRuleNs = 0L

    def toMap(op: String): Map[String, Any] = Map("op" -> op, "jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
      "bytes_written" -> bytesWritten, "records_written" -> recordsWritten,
      "sched_wait_ms" -> schedWaitMs, "rows_out" -> rowsOut, "leaf_rows" -> leafRows,
      "leaves" -> leaves, "mem_leaves" -> memLeaves, "nodes" -> nodes,
      "graft_rule_ns" -> graftRuleNs)
  }
  private val byOp = mutable.LinkedHashMap[String, C]()
  private val stageOp = mutable.Map[Int, String]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val stageFirstLaunch = mutable.Map[Int, Long]()

  private def of(op: String): C = synchronized(byOp.getOrElseUpdate(op, new C))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Counts.Key))).orNull
    if (op != null) {
      of(op).jobs += 1
      e.stageIds.foreach(s => stageOp(s) = op)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageOp.get(id).foreach { op =>
      of(op).stages += 1
      stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = of(op)
      c.tasks += 1
      val launch = e.taskInfo.launchTime
      if (!stageFirstLaunch.get(e.stageId).exists(_ <= launch)) stageFirstLaunch(e.stageId) = launch
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    for (op <- stageOp.get(id); s <- stageSubmit.get(id); l <- stageFirstLaunch.get(id))
      of(op).schedWaitMs += math.max(0L, l - s)
  }

  /** Plan-shape counters of the operation's final query. Rows read are the
    * output rows of its leaf scans, which in-memory scans report too. */
  def plan(op: String, df: DataFrame, rows: Int): Unit = {
    val p: SparkPlan = df.queryExecution.executedPlan
    val leaves = collectLeaves(p)
    val ruleNs = df.queryExecution.tracker.rules.collect {
      case (name, r) if name.startsWith("graft.plans.") => r.totalTimeNs
    }.sum
    val c = of(op)
    synchronized {
      c.rowsOut += rows
      c.leafRows += leaves.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
      c.leaves += leaves.size
      c.memLeaves += leaves.count(_.nodeName == "InMemoryTableScan")
      c.nodes += collect(p) { case n => n }.size
      c.graftRuleNs += ruleNs
    }
  }

  def rows: Seq[Map[String, Any]] = synchronized(byOp.map { case (op, c) => c.toMap(op) }.toSeq)
}
