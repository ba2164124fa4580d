package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark runner: one client thread issues one operation
  * at a time against a `local[cores]` session.
  *
  * A run sets up once (session + inputs) and runs one untimed warm
  * pass; `setup_s` is the time from JVM start to the end of that warm
  * pass. It then issues ceil(seconds / nominal pass time) whole
  * passes in the workload's pass order. With `--trace 1` it then runs
  * one traced pass (Spark job group = operation id, spans collected by
  * [[Trace]]), one more untraced pass and the layer probes of
  * [[Layers]]. The last stdout line is the result object; `--report` also writes every metric as median, quartiles
  * and sample count, with the per-operation table.
  *
  * Other modes: `--record` writes the query workloads' reference
  * outputs, `--phases N` prints the phase table over N repetitions. */
object Main {
  final case class Sample(op: String, group: Option[String], wallS: Double, r: OpResult,
      startMs: Long, endMs: Long)

  val EndToEnd: Set[String] = Set("setup_s", "pass_s", "live_heap_mb")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir = a("data")
    val workDir = a("work")
    val cores = a.getOrElse("cores", "4").toInt
    Files.createDirectories(Paths.get(workDir))
    a.get("phases") match {
      case Some(reps) => phaseTable(reps.toInt, cores, dataDir, workDir)
      case None =>
        new Main(a("workload"), a("seed").toLong, a("seconds").toDouble,
          a.getOrElse("trace", "0") == "1", cores, dataDir, workDir,
          Paths.get(a("reference")), a.get("record").contains("1"), a.get("report")).run()
    }
  }

  /** Heap in use right after a full collection (`System.gc()` is a
    * full stop-the-world collection under the default collector): the
    * live set the run retains at that point, free of when young and
    * old collections happened to run. The least of three collections,
    * a moment apart, so that objects the listener bus and the context
    * cleaner still hold from the last operation are released. */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (Files.exists(status))
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    else Runtime.getRuntime.totalMemory() / 1048576.0
  }

  /** Runs `f` with the Spark job group set to `group`. */
  def inGroup[A](spark: SparkSession, group: String)(f: => A): A = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try f finally spark.sparkContext.clearJobGroup()
  }

  /** The per-phase table for pl16, pl21, pl23, pl18, m5 and m9 (and the
    * job-cadence floor): each phase's median wall time with quartiles
    * and its Spark job count, over `reps` repetitions after one warm
    * repetition. */
  def phaseTable(reps: Int, cores: Int, dataDir: String, workDir: String): Unit = {
    val spark = Session.build(cores, workDir)
    val trace = new Trace
    spark.sparkContext.addSparkListener(trace)
    val times = mutable.LinkedHashMap[(String, String), mutable.ArrayBuffer[Double]]()
    val jobs = mutable.Map[(String, String), Int]()
    (0 to reps).foreach { rep =>
      Layers.foreachPhase(spark, Layers.phases(spark, dataDir, s"$workDir/phases-$rep")) { p =>
        val group = s"phase.$rep.${p.label}"
        val t0 = System.nanoTime()
        inGroup(spark, group)(p.run())
        val dt = (System.nanoTime() - t0) / 1e9
        if (rep > 0) times.getOrElseUpdate((p.table, p.label), mutable.ArrayBuffer()) += dt
        trace.drain()
        jobs((p.table, p.label)) = trace.jobsOf(group).size
      }
    }
    println(f"${"table"}%-22s ${"phase"}%-54s ${"n"}%3s ${"p25_s"}%8s ${"p50_s"}%8s ${"p75_s"}%8s ${"jobs"}%5s")
    times.foreach { case ((t, l), xs) =>
      val s = Stats.summary(xs.toSeq)
      println(f"$t%-22s $l%-54s ${s.n}%3d ${s.p25}%8.3f ${s.p50}%8.3f ${s.p75}%8.3f ${jobs((t, l))}%5d")
    }
    Session.stop(spark)
  }
}

final class Main(workloadName: String, seed: Long, seconds: Double, traced: Boolean,
    cores: Int, dataDir: String, workDir: String, referenceFile: java.nio.file.Path,
    recording: Boolean, reportFile: Option[String]) {
  import Main._

  private val rnd = new Random(seed)
  private val workload: Workload = Workloads.QueryLists.get(workloadName) match {
    case Some((qs, nominal)) => new QueryWorkload(workloadName, qs, nominal, dataDir,
      Workloads.readReference(referenceFile), recording)
    case None if workloadName == "agent_memory" => new AgentMemory(seed, dataDir, s"$workDir/agent")
    case None => throw new IllegalArgumentException(s"unknown workload $workloadName; " +
      s"known: ${Workloads.Names.mkString(", ")}")
  }
  private var attempted = 0L
  private var failed = 0L
  /** Traced jobs that no operation accounts for; a traced run with any
    * is not correct. */
  private var traceFaults = 0L
  private val report = mutable.ArrayBuffer[(String, String)]()

  /** Issues one operation; a thrown exception or a wrong output counts
    * as a failed operation and contributes no timing sample. */
  private def issue(spark: SparkSession, op: String, group: Option[String]): Option[Sample] = {
    attempted += 1
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r =
      try Some(group.fold(workload.run(spark, op))(g => inGroup(spark, g)(workload.run(spark, op))))
      catch { case e: Exception =>
        System.err.println(s"perfbench: $op threw ${e.toString.take(300)}")
        None
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    r match {
      case Some(res) if res.ok => Some(Sample(op, group, wall, res, startMs, endMs))
      case other =>
        other.foreach(res => System.err.println(s"perfbench: $op wrong output: ${res.output}"))
        failed += 1
        None
    }
  }

  /** `passes` whole passes, each in the workload's pass order. */
  private def window(spark: SparkSession, passes: Int, group: Int => Option[String]): Seq[Sample] = {
    val samples = mutable.ArrayBuffer[Sample]()
    var k = 0
    (1 to passes).foreach { _ =>
      workload.passOrder(rnd).foreach { op =>
        samples ++= issue(spark, op, group(k))
        k += 1
      }
    }
    samples.toSeq
  }

  /** Σ over the pass's operations of each operation's median time. */
  private def passSeconds(samples: Seq[Sample]): Double = {
    val med = samples.groupBy(_.op).map { case (op, ss) => op -> Stats.median(ss.map(_.wallS)) }
    workload.passOps.map(op => med.getOrElse(op, Double.NaN)).sum
  }

  private def opTable(samples: Seq[Sample]): String =
    Stats.obj(workload.passOps.distinct.map { op =>
      val ss = samples.filter(_.op == op)
      op -> Stats.obj(Seq(
        "wall_s" -> Stats.summary(ss.map(_.wallS)).json("s"),
        "build_s" -> Stats.summary(ss.map(_.r.buildS)).json("s"),
        "plan_s" -> Stats.summary(ss.map(_.r.planS)).json("s"),
        "exec_s" -> Stats.summary(ss.map(_.r.execS)).json("s"),
        "force" -> Stats.str(ss.map(_.r.forceKind).distinct.mkString("+")),
        "output" -> Stats.str(ss.map(_.r.output).distinct.mkString(" | "))))
    })

  def run(): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = Session.build(cores, s"$workDir/spark")
    workload.prepare(spark)
    val prepareS = (System.nanoTime() - t0) / 1e9
    val warmT0 = System.nanoTime()
    workload.passOrder(rnd).distinct.foreach(op => issue(spark, op, None))
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val passes = math.max(1, math.ceil(seconds / workload.nominalPassS).toInt)
    val samples = window(spark, passes, _ => None)
    // after the window: the store, caches and driver state it built up
    val liveHeap = liveHeapMb()
    val walls = samples.map(_.wallS)
    val passS = passSeconds(samples)
    val e2e = Seq(
      ("setup_s", "s", Stats.single(setupS)),
      ("pass_s", "s", Stats.single(passS)))
    report ++= Seq(
      "workload" -> Stats.str(workloadName), "seed" -> seed.toString,
      "cores" -> cores.toString, "seconds" -> Stats.num(seconds),
      "session_and_inputs_s" -> Stats.num(prepareS),
      "warm_pass_s" -> Stats.num(warmS), "passes" -> passes.toString,
      "op_samples" -> Stats.summary(walls).json("s"),
      "ops" -> opTable(samples))

    val layer = if (traced) tracedWindow(spark, passS, warmS) else Nil
    workload match {
      case q: QueryWorkload if recording => writeReference(q)
      case _ =>
    }
    report ++= workload.report
    val all = e2e ++ Seq(("live_heap_mb", "MB", Stats.single(liveHeap)),
      ("jvm.peak_rss_mb", "MB", Stats.single(peakRssMb))) ++ layer
    Session.stop(spark)

    val shown = all.filter(m => EndToEnd(m._1) != traced)
    report += "metrics" -> Stats.obj(all.map { case (n, u, s) => n -> s.json(u) })
    reportFile.foreach(f => Files.writeString(Paths.get(f), Stats.obj(report.toSeq) + "\n"))
    val metrics = Stats.obj(shown.map { case (n, u, s) =>
      n -> s"""{"value":${Stats.num(s.p50)},"unit":"$u"}""" })
    println(s"""{"correct":${failed == 0 && traceFaults == 0},"attempted":$attempted,"failed":$failed,"metrics":$metrics}""")
  }

  /** The traced window and the layer probes; returns per-layer metrics. */
  private def tracedWindow(spark: SparkSession, untracedPassS: Double,
      warmS: Double): Seq[(String, String, Stats.Summary)] = {
    val trace = new Trace
    spark.sparkContext.addSparkListener(trace)
    val samples = window(spark, 1, k => Some(s"op.$k"))
    trace.drain()
    spark.sparkContext.removeSparkListener(trace)
    // untraced again after the traced window, so JIT warm-up between the
    // windows does not read as negative overhead
    val untracedAfterS = passSeconds(window(spark, 1, _ => None))
    spark.sparkContext.addSparkListener(trace)
    val probes = mutable.ArrayBuffer[(String, String, Stats.Summary)]()
    def timedProbe(group: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      inGroup(spark, group)(f)
      (System.nanoTime() - t0) / 1e9
    }
    Layers.foreachPhase(spark, Layers.phases(spark, dataDir, s"$workDir/probes")
        .filter(_.metric.nonEmpty)) { p =>
      val m = p.metric.get
      probes += ((m, "s", Stats.single(timedProbe(s"probe.$m")(p.run()))))
    }
    inGroup(spark, "probe.plans")(Layers.kernelRates(spark, dataDir, reps = 2))
      .foreach { case (m, v) => probes += ((m, "rows/s", Stats.single(v))) }
    val store = new AgentMemory(seed, dataDir, s"$workDir/probe-agent")
    inGroup(spark, "probe.store.prepare")(store.prepare(spark))
    // a second ingest, so the index probe sees re-sent documents
    val storeTimes = (store.passOps :+ "index_ingest").zipWithIndex.map { case (op, i) =>
      op -> timedProbe(s"probe.store.$op.$i") {
        val r = store.run(spark, op)
        require(r.ok, s"store probe $op: wrong output ${r.output}")
      }
    }.groupBy(_._1).map { case (op, ts) => op -> Stats.summary(ts.map(_._2)) }
    trace.drain()
    spark.sparkContext.removeSparkListener(trace)

    val facts = store.facts
    val storeWritten = trace.workMatching(g => g.startsWith("probe.store.") &&
      !g.contains("index_ingest")).output.toDouble
    def ms(s: Stats.Summary) = s.copy(p25 = s.p25 * 1e3, p50 = s.p50 * 1e3, p75 = s.p75 * 1e3, p90 = s.p90 * 1e3)
    probes ++= Seq(
      ("api.quality.fit_jobs", "count", Stats.single(trace.jobsOf("probe.api.quality.fit_s").size)),
      ("api.store.remember_s", "s", storeTimes("remember")),
      ("api.store.recall_lexical_ms", "ms", ms(storeTimes("recall_lexical"))),
      ("api.store.recall_hybrid_ms", "ms", ms(storeTimes("recall_hybrid"))),
      ("api.store.forget_ms", "ms", ms(storeTimes("forget"))),
      ("api.store.verify_chains_s", "s", storeTimes("verify_chains")),
      ("api.store.files", "count", Stats.single(facts("files"))),
      ("api.store.bytes_per_row", "B", Stats.single(facts("bytes") / facts("rows"))),
      ("api.store.write_amp", "ratio", Stats.single(storeWritten / facts("content_bytes"))),
      ("api.dedup_index.ingest_s", "s", storeTimes("index_ingest")),
      ("api.dedup_index.state_bytes", "B", Stats.single(facts("index_bytes"))),
      ("api.dedup_index.dup_frac", "ratio", Stats.single(facts("dup_frac"))))

    // spans of the workload's own operations
    val perOp = samples.map { s =>
      val g = s.group.get
      val spans = trace.jobsOf(g).map(j => (j.startMs, j.endMs))
      val wallMs = s.endMs - s.startMs
      val selfMs = wallMs - Trace.unionMs(spans, s.startMs, s.endMs)
      val outside = spans.count { case (a, b) => a < s.startMs - 5 || b > s.endMs + 5 }
      (s, spans.size, trace.stagesOf(g), trace.workOf(g), selfMs / 1e3, outside)
    }
    val w = perOp.map(_._4).foldLeft(Trace.TaskWork.Zero)(_ + _)
    // self time is wall time minus the clipped union of job spans, which
    // accounts for the wall time only if every job belongs to exactly one
    // operation and lies inside it: check that rather than assume it
    val unattributed = trace.unattributedJobs
    val outsideOp = perOp.map(_._6).sum
    if (unattributed + outsideOp > 0) {
      System.err.println(s"perfbench: trace has $unattributed jobs without an operation and " +
        s"$outsideOp jobs outside their operation's interval")
      traceFaults += unattributed + outsideOp
    }
    val wallS = samples.map(_.wallS).sum
    def perPass(name: String, unit: String, total: Double) = (name, unit, Stats.single(total))
    report ++= Seq(
      "trace_unattributed_jobs" -> unattributed.toString,
      "trace_jobs_outside_op" -> outsideOp.toString,
      "traced_ops" -> Stats.obj(workload.passOps.distinct.map { op =>
        val xs = perOp.filter(_._1.op == op)
        op -> Stats.obj(Seq(
          "wall_s" -> Stats.summary(xs.map(_._1.wallS)).json("s"),
          "self_s" -> Stats.summary(xs.map(_._5)).json("s"),
          "jobs" -> Stats.summary(xs.map(_._2.toDouble)).json("count"),
          "stages" -> Stats.summary(xs.map(_._3.toDouble)).json("count"),
          "tasks" -> Stats.summary(xs.map(_._4.tasks.toDouble)).json("count")))
      }))
    Seq(
      perPass("queries.build_s", "s", samples.map(_.r.buildS).sum),
      perPass("queries.plan_s", "s", samples.map(_.r.planS).sum),
      perPass("queries.exec_s", "s", samples.map(_.r.execS).sum),
      perPass("queries.driver_self_s", "s", perOp.map(_._5).sum),
      ("queries.jobs_per_op", "count", Stats.single(perOp.map(_._2).sum.toDouble / samples.size)),
      ("queries.op_p50_s", "s", Stats.single(Stats.median(samples.map(_.wallS)))),
      perPass("spark.jobs", "count", perOp.map(_._2).sum),
      perPass("spark.stages", "count", perOp.map(_._3).sum),
      perPass("spark.tasks", "count", w.tasks),
      perPass("spark.sched_wait_s", "s", w.schedDelayMs / 1e3),
      ("spark.empty_task_frac", "ratio", Stats.single(if (w.tasks == 0) 0.0 else w.empty.toDouble / w.tasks)),
      perPass("spark.task_busy_s", "s", w.busyMs / 1e3),
      perPass("spark.task_cpu_s", "s", w.cpuNs / 1e9),
      ("spark.core_util", "ratio", Stats.single(w.busyMs / 1e3 / (wallS * cores))),
      perPass("spark.shuffle_write_bytes", "B", w.shuffleWrite),
      perPass("spark.shuffle_read_bytes", "B", w.shuffleRead),
      perPass("spark.spill_bytes", "B", w.spill),
      perPass("spark.input_bytes", "B", w.input),
      perPass("spark.gc_s", "s", w.gcMs / 1e3),
      ("spark.failed_tasks", "count", Stats.single(w.failed)),
      ("setup.warm_pass_s", "s", Stats.single(warmS)),
      ("trace_overhead_frac", "ratio",
        Stats.single(passSeconds(samples) / ((untracedPassS + untracedAfterS) / 2) - 1.0))) ++
      probes
  }

  private def writeReference(q: QueryWorkload): Unit = {
    val unstable = q.recorded.filter(_._2.size != 1)
    require(unstable.isEmpty, s"outputs differ between executions: $unstable")
    val listed = Workloads.QueryLists.values.flatMap(_._1).toSet
    val kept = Workloads.readReference(referenceFile).filter(r => listed(r._1)) -- q.recorded.keys
    val lines = (kept ++ q.recorded.map { case (op, v) => op -> v.head }).toSeq.sortBy(_._1)
      .map { case (op, v) => s"$op\t$v" }
    Files.write(referenceFile, lines.asJava)
  }
}
