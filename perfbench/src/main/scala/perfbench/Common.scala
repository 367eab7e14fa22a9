package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Command line of one benchmark run (see run.py, which builds and calls it). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, dataDir: Path)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m.getOrElse("data", m("work"))))
  }
}

/** A run's result: named metrics with units, plus correctness counts. The
  * `moves` tag names the end-to-end metric a per-layer metric should move. */
final class Report(val workload: String) {
  final case class M(value: Double, unit: String, moves: String)
  val metrics = mutable.LinkedHashMap.empty[String, M]
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val failures = new ConcurrentLinkedQueue[String]()
  val info = mutable.LinkedHashMap.empty[String, String] // raw JSON values

  def put(name: String, value: Double, unit: String, moves: String = ""): Unit =
    metrics(name) = M(value, unit, moves)

  /** One checked operation; a false `ok` counts as failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) { failed.incrementAndGet(); if (failures.size < 50) failures.add(what) }
  }

  def toJson: String = {
    val ms = metrics.map { case (k, m) =>
      s"${Json.q(k)}:{${"\"value\""}:${Json.num(m.value)},${"\"unit\""}:${Json.q(m.unit)}" +
        (if (m.moves.nonEmpty) s""","moves":${Json.q(m.moves)}""" else "") + "}"
    }.mkString("{", ",", "}")
    val fs = failures.asScala.map(Json.q).mkString("[", ",", "]")
    val inf = info.map { case (k, v) => s"${Json.q(k)}:$v" }.mkString("{", ",", "}")
    s"""{"workload":${Json.q(workload)},"attempted":${attempted.get},""" +
      s""""failed":${failed.get},"failures":$fs,"metrics":$ms,"info":$inf}"""
  }
}

object Json {
  def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 1] (numpy's default rule). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

/** Where and under what conditions a run took place, so figures from
  * different sittings can be told apart. */
object Stamp {
  def loadavg(): String = try {
    val p = new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
      StandardCharsets.US_ASCII).trim.split(" ")
    s"[${p(0)},${p(1)},${p(2)}]"
  } catch { case _: Throwable => "null" }

  def sparkConfs(spark: SparkSession): String = {
    val keys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled", "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.session.timeZone", "spark.local.dir")
    Json.obj(keys.map(k => k -> spark.conf.getOption(k).map(Json.q).getOrElse("null")): _*)
  }

  def fill(r: Report, spark: SparkSession, loadStart: String): Unit = {
    r.info("nproc") = Runtime.getRuntime.availableProcessors().toString
    r.info("loadavg_start") = loadStart
    r.info("loadavg_end") = loadavg()
    r.info("heap_max_mb") = (Runtime.getRuntime.maxMemory() / (1024 * 1024)).toString
    r.info("spark_confs") = sparkConfs(spark)
    r.info("spark_version") = Json.q(spark.version)
  }
}

/** Spark scheduler totals through the public listener API (jobs, stages,
  * tasks, job durations and the task metrics the per-layer view reports),
  * plus the JVM's collection time. Observation from outside the engine;
  * nothing in the engine is instrumented. */
final class SchedulerTotals extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val runNs = new AtomicLong
  val shuffleWrite, shuffleRead = new AtomicLong
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobMs = new ConcurrentLinkedQueue[java.lang.Long]() // in job-end order

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t => jobMs.add(e.time - t))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runNs.addAndGet(m.executorRunTime * 1000000L)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  final case class Snap(jobs: Long, stages: Long, tasks: Long, runNs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, jobsEnded: Int)
  def snap(spark: SparkSession): Snap = {
    // the listener bus is asynchronous: drain it so a snapshot taken right
    // after an action includes that action's task ends
    org.apache.spark.perfbench.BusSync.drain(spark.sparkContext)
    // every collector of the JVM, which in local mode runs the scheduler
    // and the tasks alike: a task's own GC time misses the pauses between
    // tasks
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    Snap(jobs.get, stages.get, tasks.get, runNs.get, gcMs,
      shuffleWrite.get, shuffleRead.get, jobMs.size)
  }

  /** The totals between two snapshots, over `wallS` seconds of wall time;
    * `moves(metric)`: the end-to-end metric each total should move. */
  def report(r: Report, a: Snap, b: Snap, wallS: Double, moves: String => String): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    def put(n: String, v: Double, u: String): Unit = r.put(n, v, u, moves(n))
    val ms = jobMs.asScala.slice(a.jobsEnded, b.jobsEnded).map(_.doubleValue).toSeq
    put("spark.jobs", b.jobs - a.jobs, "count")
    put("spark.stages", b.stages - a.stages, "count")
    put("spark.tasks", b.tasks - a.tasks, "count")
    put("spark.job_mean_ms", if (ms.isEmpty) 0.0 else ms.sum / ms.size, "ms")
    put("spark.task_busy_s", (b.runNs - a.runNs) / 1e9, "s")
    put("spark.cpu_busy_ratio", (b.runNs - a.runNs) / 1e9 / (wallS * cores), "ratio")
    put("jvm.gc_s", (b.gcMs - a.gcMs) / 1e3, "s")
    put("spark.shuffle_write_bytes", b.shuffleWrite - a.shuffleWrite, "bytes")
    put("spark.shuffle_read_bytes", b.shuffleRead - a.shuffleRead, "bytes")
  }
}

/** Physical-operator time totals from the final (post-AQE) plans of every
  * SQL execution, and the rows each `noop` write consumed (the write's
  * commit progress), captured by a QueryExecutionListener. The operator
  * totals are only gathered while `detail` is on. */
final class PlanTotals extends QueryExecutionListener {
  val sums = TrieMap.empty[String, Double]
  val rows = new AtomicLong
  @volatile var detail = false
  private def add(k: String, v: Double): Unit = sums.updateWith(k)(o => Some(o.getOrElse(0.0) + v))

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case _: ReusedExchangeExec => Nil // counted where it was built
    case o => o +: (o.children.flatMap(nodes) ++ o.subqueries.flatMap(nodes))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qe.executedPlan.collectFirst { case w: V2TableWriteExec => w }
      .flatMap(_.commitProgress).foreach(p => rows.addAndGet(p.numOutputRows))
    if (detail) nodes(qe.executedPlan).foreach { n =>
      def m(k: String): Double = n.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      n.nodeName match {
        case s if s.startsWith("Scan") || s.contains("FileScan") || s.startsWith("BatchScan") =>
          add("plan.scan_s", m("scanTime") / 1e3)
        case s if s.contains("Aggregate") => add("plan.agg_build_s", m("aggTime") / 1e3)
        case "Sort" => add("plan.sort_s", m("sortTime") / 1e3)
        case "BroadcastExchange" => add("plan.broadcast_build_s", m("buildTime") / 1e3)
        case "Exchange" => add("plan.shuffle_write_s", m("shuffleWriteTime") / 1e9)
        case s if s.startsWith("WholeStageCodegen") => add("plan.codegen_s", m("pipelineTime") / 1e3)
        case _ => ()
      }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Every operator total, `moves(metric)` tagging each. */
  def report(r: Report, moves: String => String): Unit =
    Seq("plan.scan_s", "plan.agg_build_s", "plan.sort_s", "plan.broadcast_build_s",
      "plan.shuffle_write_s", "plan.codegen_s").foreach { k =>
      r.put(k, sums.getOrElse(k, 0.0), "s", moves(k))
    }
}

/** Samples used heap while a run is live. */
final class HeapPeak extends Thread("perfbench-heap") {
  setDaemon(true)
  @volatile var running = true
  @volatile var peak = 0L
  override def run(): Unit = while (running) {
    val rt = Runtime.getRuntime
    peak = math.max(peak, rt.totalMemory() - rt.freeMemory())
    Thread.sleep(50)
  }
  def peakMb: Double = peak / 1048576.0
}

/** Spans recorded by the traced run: (name, start, end, parent, request
  * id), kept in memory and written once when the run ends. Disabled, a
  * span is a plain call. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, name: String, start: Long, end: Long,
      parent: Long, req: Long)
  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, t0, System.nanoTime(), parent, req))
        stack.set(stack.get.tail)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq

  /** Self time per span name: its duration minus its children's. */
  def selfNs: Map[String, Long] = {
    val all = spans
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.end - s.start).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.end - s.start) - childNs.getOrElse(s.id, 0L)).sum
    }
  }
  def totalNs(name: String): Long = spans.filter(_.name == name).map(s => s.end - s.start).sum
  def selfSecondsJson: String =
    Json.obj(selfNs.toSeq.sortBy(_._1).map { case (n, ns) => n -> Json.num(ns / 1e9) }: _*)

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":${Json.q(s.name)},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"req":${s.req}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Measured cost of one recorded span (enter + exit + record), seconds. */
  def spanCostS(): Double = {
    val t = new Tracer(true)
    val n = 200000
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { t.span("cost")(i); i += 1 }
    Stats.secs(t0) / n
  }
}

object Session {
  /** The product's session factory, sized to the box. */
  def start(): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.local(threads = n, shufflePartitions = n)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
