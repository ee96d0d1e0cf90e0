package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * The benchmark's JVM side. It drives the program only through its public
 * entry points (`graft.GraftSession`, `graft.Tables`, `graft.SparkEntry`)
 * and observes it only through Spark's public listener interfaces; the
 * program itself carries no tracing.
 *
 * Usage (arguments are `--key value` pairs):
 *   --mode setup   build a session, register the tables, write the set-up
 *                  timings to `--out` and exit;
 *   --mode run     also run `--queries` (comma-separated, in that order) as
 *                  closed-loop passes: a cold pass, a warm-up pass that
 *                  writes each query's result under `--dump` for the
 *                  oracle check, and measured passes for `--seconds`.
 * With `--trace 1` some measured passes are traced: they record spans and
 * listener events (see `run`).
 */
object Harness {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  /** A span around one of the harness's own calls; `parent` indexes the
    * span list, -1 for a query's root span. Listener events become spans
    * later, in layers.py. */
  final case class Span(name: String, layer: String, start: Double,
                        end: Double, parent: Int, query: String, pass: Int) {
    def json(id: Int): String = obj("id" -> id.toString, "name" -> q(name),
      "layer" -> q(layer), "start" -> num(start), "end" -> num(end),
      "parent" -> parent.toString, "query" -> q(query), "pass" -> pass.toString)
  }

  /** Listener-side record; everything is collected on the listener bus
    * thread and read only after the bus is drained. */
  final class Recorder extends SparkListener with QueryExecutionListener {
    val events = new ConcurrentLinkedQueue[String]()
    private val stageSubmit = scala.collection.concurrent.TrieMap.empty[Int, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sq = Option(e.properties).flatMap(p =>
        Option(p.getProperty("sql.streaming.queryId"))).getOrElse("")
      events.add(obj("kind" -> q("job_start"), "job" -> e.jobId.toString,
        "t" -> e.time.toString, "stream" -> q(sq),
        "stages" -> arr(e.stageIds.map(_.toString))))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      events.add(obj("kind" -> q("job_end"), "job" -> e.jobId.toString,
        "t" -> e.time.toString,
        "ok" -> (e.jobResult == JobSucceeded).toString))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      events.add(obj("kind" -> q("stage"), "stage" -> si.stageId.toString,
        "start" -> si.submissionTime.getOrElse(0L).toString,
        "end" -> si.completionTime.getOrElse(0L).toString,
        "tasks" -> si.numTasks.toString))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      val m = e.taskMetrics
      val sub = stageSubmit.getOrElse(e.stageId, ti.launchTime)
      val base = Seq("kind" -> q("task"), "stage" -> e.stageId.toString,
        "launch" -> ti.launchTime.toString, "finish" -> ti.finishTime.toString,
        "wait" -> math.max(0L, ti.launchTime - sub).toString,
        "failed" -> ti.failed.toString)
      val metrics = if (m == null) Nil else Seq(
        "run" -> m.executorRunTime.toString,
        "cpu" -> (m.executorCpuTime / 1000000L).toString,
        "gc" -> m.jvmGCTime.toString,
        "shw" -> m.shuffleWriteMetrics.bytesWritten.toString,
        "shr" -> m.shuffleReadMetrics.totalBytesRead.toString,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toString,
        "input" -> m.inputMetrics.bytesRead.toString)
      events.add(obj(base ++ metrics: _*))
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val phases = qe.tracker.phases.toSeq.map { case (k, p) =>
        obj("phase" -> q(k), "start" -> p.startTimeMs.toString,
          "end" -> p.endTimeMs.toString)
      }
      val nodes = planNodes(qe.executedPlan)
      events.add(obj("kind" -> q("qe"), "func" -> q(funcName),
        "t" -> System.currentTimeMillis().toString,
        "phases" -> arr(phases),
        "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toString,
        "broadcast_joins" -> nodes.count(n =>
          n.isInstanceOf[BroadcastHashJoinExec] ||
            n.isInstanceOf[BroadcastNestedLoopJoinExec]).toString,
        "wscg" -> nodes.count(_.isInstanceOf[WholeStageCodegenExec]).toString))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** Every node of an executed plan, looking through adaptive wrappers,
    * query stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  final class StreamRecorder extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[String]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      events.add(obj("kind" -> q("stream_start"), "id" -> q(e.id.toString),
        "t" -> num(now())))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => q(k) + ":" + v }
        .mkString("{", ",", "}")
      val st = p.stateOperators.map(s => obj(
        "rows_total" -> s.numRowsTotal.toString,
        "rows_updated" -> s.numRowsUpdated.toString,
        "rows_removed" -> s.numRowsRemoved.toString,
        "memory_bytes" -> s.memoryUsedBytes.toString,
        "commit_ms" -> s.commitTimeMs.toString,
        "dropped" -> s.numRowsDroppedByWatermark.toString))
      events.add(obj("kind" -> q("batch"), "id" -> q(p.id.toString),
        "batch" -> p.batchId.toString, "t" -> t.toString,
        "rows" -> p.numInputRows.toString, "durations" -> d,
        "state" -> arr(st)))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      events.add(obj("kind" -> q("stream_stop"), "id" -> q(e.id.toString),
        "t" -> num(now())))
  }

  /** Files under java.io.tmpdir (where the streaming gates keep their
    * sinks and checkpoints) written since `since`, grouped as checkpoint,
    * staged input or sink output: `{"kind", "files", "bytes"}`. */
  def outputFiles(since: Double): Seq[String] = {
    val root = Paths.get(System.getProperty("java.io.tmpdir"))
    if (!Files.isDirectory(root)) return Nil
    val stream = Files.walk(root)
    try {
      stream.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          Files.getLastModifiedTime(p).toMillis >= since.toLong)
        .toSeq
        .groupBy { p =>
          val rel = root.relativize(p).toString
          if (rel.contains("/ck/") || rel.contains("checkpoint")) "ckpt"
          else if (rel.contains("/in/")) "staged"
          else "sink"
        }
        .map { case (k, ps) =>
          obj("kind" -> q(k), "files" -> ps.size.toString,
            "bytes" -> ps.map(Files.size).sum.toString)
        }.toSeq
    } finally stream.close()
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Peak heap in use right after a garbage collection since the last
    * `reset`: the high-water mark of live data, which unlike the raw heap
    * peak does not depend on when the collector happened to run. */
  final class HeapAfterGc extends javax.management.NotificationListener {
    @volatile var peak = 0L
    def reset(): Unit = peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }
    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak = math.max(peak, used)
      }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = opts("cores").toInt
    val work = opts("work")
    val heap = new HeapAfterGc
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val tBuild0 = now()
    val spark = graft.GraftSession.tune(
        SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    val tInit0 = now()
    graft.GraftSession.init(spark)
    val tTables0 = now()
    graft.Tables.registerAll(spark, opts("data"))
    spark.table("region").count()
    val tReady = now()
    val setup = Seq(
      "setup_s" -> num((tReady - jvmStart) / 1000),
      "jvm_to_build_ms" -> num(tBuild0 - jvmStart),
      "build_ms" -> num(tInit0 - tBuild0),
      "init_ms" -> num(tTables0 - tInit0),
      "tables_ms" -> num(tReady - tTables0))
    val out = ArrayBuffer[(String, String)]("setup" -> obj(setup: _*))
    if (opts("mode") == "run") out ++= run(spark, opts, heap)
    Files.writeString(Paths.get(opts("out")), obj(out.toSeq: _*))
    spark.stop()
  }

  def run(spark: SparkSession, opts: Map[String, String],
          heap: HeapAfterGc): Seq[(String, String)] = {
    val names = opts("queries").split(",").toSeq
    val data = opts("data")
    val trace = opts("trace") == "1"
    val seconds = opts("seconds").toDouble
    val entry = graft.SparkEntry.queries
    val missing = names.filterNot(entry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val sc = spark.sparkContext

    // session.reinit_ms: the repeated init SparkEntry.queries runs per query
    val reinit = if (trace) (1 to 21).map { _ =>
      val t = now(); graft.GraftSession.init(spark); now() - t
    } else Nil

    val rec = new Recorder
    val srec = new StreamRecorder
    def tracing(on: Boolean): Unit =
      if (on) {
        sc.addSparkListener(rec)
        spark.listenerManager.register(rec); spark.streams.addListener(srec)
      } else {
        sc.removeSparkListener(rec)
        spark.listenerManager.unregister(rec); spark.streams.removeListener(srec)
      }

    val spans = ArrayBuffer.empty[Span]
    val passes = ArrayBuffer.empty[String]
    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    // query -> whether its result was written for the oracle check
    val dumped = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    /** One pass over the workload's queries. `kind` is "cold" (the first
      * pass), "warmup" (untimed: JIT compilation is still settling) or
      * "measured". With `dump` each result is written to parquet under
      * `--dump` for the oracle check instead of drained to `noop`. */
    def runPass(pass: Int, kind: String, traced: Boolean = false,
                dump: Boolean = false): Unit = {
      // untimed: each pass starts from a collected heap, so no pass pays
      // for the garbage of the one before it
      System.gc()
      heap.reset()
      if (traced) tracing(on = true)
      val gc0 = gcMs(); val jit0 = jitMs()
      val p0 = now()
      val rows = names.map { name =>
        attempted += 1
        val q0 = now()
        var qb = q0
        val ok = try {
          val df: DataFrame = entry(name)(spark, data)
          qb = now()
          if (dump) df.coalesce(1).write.mode("overwrite").parquet(s"${opts("dump")}/$name")
          else df.write.mode("overwrite").format("noop").save()
          true
        } catch { case e: Throwable =>
          failures += s"$name: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
          false
        }
        if (dump) dumped(name) = ok
        val q1 = now()
        spark.catalog.clearCache()
        if (traced) {
          val id = spans.size
          spans += Span(name, "query", q0, q1, -1, name, pass)
          spans += Span("build", "build", q0, qb, id, name, pass)
          spans += Span("drain", "drain", qb, q1, id, name, pass)
        }
        obj("name" -> q(name), "wall_s" -> num((q1 - q0) / 1000),
          "start" -> num(q0), "end" -> num(q1), "ok" -> ok.toString)
      }
      val p1 = now()
      if (traced) tracing(on = false)
      val files = if (traced) outputFiles(p0) else Nil
      passes += obj("pass" -> pass.toString, "kind" -> q(kind),
        "traced" -> traced.toString, "files" -> arr(files),
        "wall_s" -> num((p1 - p0) / 1000), "start" -> num(p0), "end" -> num(p1),
        "gc_ms" -> (gcMs() - gc0).toString, "jit_ms" -> (jitMs() - jit0).toString,
        "peak_heap_mb" -> num(heap.peak / 1048576.0),
        "queries" -> arr(rows))
    }

    runPass(0, "cold", traced = trace)
    // One untimed warm-up pass: JIT compilation runs hottest in the first
    // warm pass (more compiler time than the pass's own wall time) and its
    // time varied most between runs. It writes every result for the oracle
    // check; a streaming gate's frame reads back the sink its replay wrote,
    // so the check covers the gate's own output.
    runPass(1, "warmup", dump = true)
    // Measured passes for `seconds`, at least four: with ten queries that
    // is 40 samples, so the tail rule settles on p75 instead of switching
    // between p50 and p75 with the host's speed. A traced run alternates
    // untraced and traced passes in ABBA order (U T T U U T T U ...), so
    // that any remaining trend loads neither side of the overhead ratio.
    val m0 = now()
    var measured = 0
    while (measured < 4 || now() - m0 < seconds * 1000) {
      runPass(2 + measured, "measured",
        traced = trace && (measured % 4 == 1 || measured % 4 == 2))
      measured += 1
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    PerfbenchBus.drain(sc)

    val listenerEvents = rec.events.asScala.toSeq ++ srec.events.asScala.toSeq
    Seq(
      "attempted" -> attempted.toString,
      "failures" -> arr(failures.map(q)),
      "passes" -> arr(passes),
      "dumped" -> dumped.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}"),
      "oracle_sql" -> oracle.map { case (k, v) => q(k) + ":" + q(v) }.mkString("{", ",", "}"),
      "reinit_ms" -> arr(reinit.map(num)),
      "spans" -> arr(spans.zipWithIndex.map { case (s, i) => s.json(i) }),
      "events" -> arr(listenerEvents))
  }
}
