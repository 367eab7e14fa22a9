package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{QueryEntry, SharedCache, SparkEntry, Tables}

/** `catalog`: every declared query runs to completion with its whole output
  * consumed by the `noop` sink, one closed-loop client, in an order the seed
  * permutes. The output check (an untimed second pass that writes each
  * result to parquet for run.py's DuckDB comparison) follows the timed pass. */
object Catalog {

  val modules: Map[String, String] = SparkEntry.modules.flatMap { m =>
    val mod = m.getClass.getSimpleName.stripSuffix("$")
    m.entries.map(_.name -> mod)
  }.toMap

  /** One query's DataFrame, forced through the full-output sink. */
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  final case class Pass(wallS: Double, perQuery: Seq[(String, Double)], rows: Map[String, Long])

  /** The measured slice: every twelfth query of each module (15 of 109,
    * every module represented). A full-catalog pass takes about a minute on
    * a 4-core box, more than one benchmark run can spend. */
  val slice: Seq[QueryEntry] =
    SparkEntry.modules.flatMap(_.entries.zipWithIndex.collect { case (e, i) if i % 12 == 0 => e })

  def run(a: Args, r: Report): Unit = {
    val loadStart = Stamp.loadavg()
    val dir = a.dataDir.toString
    // every pass runs the slice in its own order, drawn from the seed, so
    // what a query gains or loses from the queries run before it evens out
    // over a run's passes
    val orders = new scala.util.Random(a.seed)
    val order = orders.shuffle(slice)
    val heap = new HeapPeak
    heap.start()

    // set-up: product session + table registration, three times (median),
    // then one untimed warmup pass over the slice, so the timed passes
    // measure compiled, steady-state queries (as standing queries run)
    var spark: SparkSession = null
    val tStarts = System.nanoTime()
    val starts = (1 to 3).map { _ =>
      if (spark != null) { SharedCache.clear(spark); spark.stop(); Tables.invalidate() }
      val t0 = System.nanoTime()
      spark = Session.start()
      val t = Tables(spark, dir)
      Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders, t.lineitem, t.events,
        t.documents, t.embeddings)
      Stats.secs(t0)
    }
    val startsS = Stats.secs(tStarts)
    val w0 = System.nanoTime()
    order.foreach { e =>
      noop(e.run(spark, dir)); SharedCache.unpersistScratch(spark)
    }
    val warmS = Stats.secs(w0)
    r.put("setup_s", Stats.median(starts) + warmS, "s")

    val sched = new SchedulerTotals
    spark.sparkContext.addSparkListener(sched)
    val plans = new PlanTotals
    spark.listenerManager.register(plans)

    def pass(tracer: Tracer): Pass = {
      SharedCache.clear(spark)
      val rowsWritten = TrieMap.empty[String, Long]
      val t0 = System.nanoTime()
      val times = orders.shuffle(slice).map { e =>
        val before = plans.rows.get
        val q0 = System.nanoTime()
        tracer.span("queries." + modules(e.name)) { noop(e.run(spark, dir)) }
        val dt = Stats.secs(q0)
        SharedCache.unpersistScratch(spark)
        org.apache.spark.perfbench.BusSync.drain(spark.sparkContext)
        rowsWritten(e.name) = plans.rows.get - before
        e.name -> dt
      }
      Pass(Stats.secs(t0), times, rowsWritten.toMap)
    }

    // the timed passes: at least three, more while the next fits in the
    // measuring time. batch_s sums each query's best pass (interference only
    // ever slows a query down); the latency percentiles are over every timed
    // execution, 45 or more, where a median of the 15 best times would be
    // one query's, and which query that is changes from run to run
    val untraced = new Tracer(false)
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val tAll = System.nanoTime()
    do passes += pass(untraced)
    while (passes.size < 3 || Stats.secs(tAll) + passes.last.wallS <= a.seconds)
    val best = order.map(e => e.name -> passes.map(_.perQuery.toMap.apply(e.name)).min)
    val runs = passes.flatMap(_.perQuery.map(_._2)).toSeq
    r.put("batch_s", best.map(_._2).sum, "s")
    r.put("latency_p50_ms", Stats.median(runs) * 1e3, "ms")
    r.put("latency_p90_ms", Stats.pct(runs, 0.9) * 1e3, "ms")
    val passesS = Stats.secs(tAll)
    r.info("pass_wall_s") = passes.map(p => Json.num(p.wallS)).mkString("[", ",", "]")
    r.info("query_s") = Json.obj(best.map { case (n, t) => n -> Json.num(t) }: _*)
    // every pass must have consumed the same rows; run.py checks them
    // against the oracle
    passes.tail.foreach(p => r.check(p.rows == passes.head.rows, "row counts differ between passes"))
    r.info("output_rows") = Json.obj(passes.head.rows.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }: _*)

    if (a.trace) traced(a, r, spark, order, sched, plans, pass, passes.last.wallS, heap)
    heap.running = false

    // untimed output check: each result to parquet for the oracle compare
    val tCheck = System.nanoTime()
    val out = a.work.resolve("out")
    Files.createDirectories(out)
    Files.write(out.resolve("oracle_sql.json"), SparkEntry.oracleSql
      .map { case (k, v) => Json.q(k) + ":" + Json.q(v) }.mkString("{", ",", "}")
      .getBytes(StandardCharsets.UTF_8))
    // content is checked on a sixth of the slice per run, rotating with the
    // seed (six consecutive seeds cover every query); the row count of every
    // query's noop write is checked in every run
    SharedCache.clear(spark)
    val checked = order.map(_.name).sorted.zipWithIndex.collect {
      case (n, i) if (i + a.seed) % 6 == 0 => n }.toSet
    order.filter(e => checked(e.name)).foreach { e =>
      try e.run(spark, dir).coalesce(1).write.mode("overwrite").parquet(out.resolve(e.name).toString)
      catch { case ex: Throwable =>
        r.check(false, s"${e.name}: ${Option(ex.getMessage).getOrElse(ex.toString).take(200)}")
      }
      SharedCache.unpersistScratch(spark)
    }
    r.info("phase_s") = Json.obj("session_starts" -> Json.num(startsS), "warmup" -> Json.num(warmS),
      "passes" -> Json.num(passesS), "checks" -> Json.num(Stats.secs(tCheck)))
    r.info("passes") = passes.size.toString
    Stamp.fill(r, spark, loadStart)
    spark.stop()
  }

  /** Traced run: the same pass again with listeners and spans, the old
    * `.count()` pass for the BENCH_r01..r21 bridge, and the tracing
    * overhead (the traced pass minus the last untraced one). */
  private def traced(a: Args, r: Report, spark: SparkSession, order: Seq[QueryEntry],
      sched: SchedulerTotals, plans: PlanTotals, pass: Tracer => Pass, untracedS: Double,
      heap: HeapPeak): Unit = {
    val tracer = new Tracer(true)
    plans.detail = true
    val s0 = sched.snap(spark)
    val p = pass(tracer)
    val s1 = sched.snap(spark)
    plans.detail = false

    SparkEntry.modules.map(_.getClass.getSimpleName.stripSuffix("$")).foreach { m =>
      r.put(s"queries.$m.s", tracer.totalNs("queries." + m) / 1e9, "s", "batch_s,latency_p90_ms")
    }
    sched.report(r, s0, s1, p.wallS, Map(
      "spark.jobs" -> "latency_p50_ms", "spark.stages" -> "latency_p50_ms",
      "spark.tasks" -> "latency_p50_ms", "spark.job_mean_ms" -> "latency_p50_ms")
      .withDefaultValue("batch_s"))
    plans.report(r, _ => "batch_s")
    r.put("plan.output_rows", p.rows.values.sum.toDouble, "rows", "batch_s")
    r.put("jvm.heap_peak_mb", heap.peakMb, "MB", "batch_s")
    r.put("trace.overhead_s", p.wallS - untracedS, "s", "batch_s")

    // bridge: the count()-timed pass BENCH_r01..r21 measured
    SharedCache.clear(spark)
    val t0 = System.nanoTime()
    order.foreach { e =>
      e.run(spark, a.dataDir.toString).count()
      SharedCache.unpersistScratch(spark)
    }
    r.put("bridge.count_pass_s", Stats.secs(t0), "s", "batch_s")
    r.info("span_self_s") = tracer.selfSecondsJson
    tracer.write(a.work.resolve("spans.jsonl"))
  }
}
