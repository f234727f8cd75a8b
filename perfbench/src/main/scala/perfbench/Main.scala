package perfbench

import graft.job.JobRunner
import graft.sources.Readers
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed-loop benchmark: one client runs a workload's operations one
  * at a time, pass after pass, for a fixed time.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      [--scale <x>] [--expected <file>] [--record] [--inject-fail <op>]
  * }}}
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` (end-to-end metrics with `--trace 0`,
  * per-layer metrics with `--trace 1`). Exit code 0 only when every
  * operation ran and every output check passed. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, scale: Double, expected: String, record: Boolean,
                        injectFail: Option[String], results: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = argv.filter(_.startsWith("--")).map(_.drop(2)).toSet
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), kv.get("scale").map(_.toDouble).getOrElse(1.0),
      kv.getOrElse("expected", ""), flags("record"), kv.get("inject-fail"),
      kv.getOrElse("results", ""))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }


  val WarmupSeconds = 8.0

  def now(): Long = System.nanoTime()
  def secs(ns: Long): Double = ns / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def run(a: Args): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    // at most 8 cores: run time stays bounded and comparable on big hosts
    val cores = math.min(8, Runtime.getRuntime.availableProcessors())
    System.setProperty("derby.system.home", s"${a.work}/derby")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    try new Runner(spark, probe, a, cores, sessionS).run()
    finally spark.stop()
  }

  /** Linear-interpolation quantile of sorted values. */
  def quantile(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = p * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted.toIndexedSeq, 0.5)

  /** The highest percentile with at least ten samples beyond it. */
  def tailPercentile(n: Int): Double = if (n <= 20) 0.5 else 1.0 - 10.0 / n
}

/** Outcome of one operation run. */
final case class Sample(op: String, ok: Boolean, wallS: Double, output: OpOutput = OpOutput())

/** Per-layer record of one traced operation run. */
final case class OpTrace(op: String, wallS: Double, buildS: Double, planS: Double, execS: Double,
                         build: Counts, all: Counts, gcS: Double, heldMb: Double, heldRdds: Int,
                         output: OpOutput)

final class Runner(spark: SparkSession, probe: Probe, a: Main.Args, cores: Int, sessionS: Double) {
  import Main._

  private val workload = Workloads(spark, a.workload, a.work, a.seed, a.scale)
  private var attempted = 0L
  private var failed = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0
  private var nextOp = 0
  private val sc = spark.sparkContext

  private def say(s: String): Unit = println(s"# $s")

  def run(): Int = {
    say(s"workload=${a.workload} seed=${a.seed} cores=$cores seconds=${a.seconds} trace=${if (a.trace) 1 else 0} scale=${a.scale}")
    // ---- set-up: inputs, then one checked run of every operation
    val t0 = now()
    say(s"inputs ${workload.generate()}")
    val genS = secs(now() - t0)
    workload.prepare()
    val prepS = secs(now() - t0) - genS
    val order = workload.order(a.seed)
    say(s"order ${order.map(_.name).mkString(",")}")
    // output checks (fail closed): one run of every operation, which
    // also pays for every cache/index build
    val checkOk = check(order)
    if (a.record) return 0
    val checkS = secs(now() - t0) - genS - prepS
    // untimed warm-up passes, at least WarmupSeconds: the first passes
    // after a cold start run 10-25% slower while the JIT settles
    val warmEnd = now() + (WarmupSeconds * 1e9).toLong
    do order.foreach(runOp) while (now() < warmEnd)
    val setupS = sessionS + secs(now() - t0)
    say(f"setup_s=$setupS%.3f (session $sessionS%.3f, inputs $genS%.3f, prepare $prepS%.3f, " +
      f"checks $checkS%.3f, warm-up ${setupS - sessionS - genS - prepS - checkS}%.3f)")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) { val (passes, samples) = measure(order); endToEnd(passes, samples, setupS) }
      else perLayer(order)
    val correct = checkOk && failed == 0
    val body = metrics.map { case (k, v, u) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${body.mkString(",")}}}""")
    if (correct) 0 else 1
  }

  // ---------------------------------------------------------------- checks

  private def check(order: Seq[Op]): Boolean = {
    val expected = Expected.load(a.expected)
    val recorded = mutable.LinkedHashMap.empty[String, (Long, String)]
    var ok = true
    order.foreach { op =>
      attempted += 1
      val t = now()
      val verdict: Either[String, String] =
        try op match {
          case q: QueryOp =>
            val got = Workloads.fingerprint(q.build())
            spark.catalog.clearCache()
            recorded(q.name) = got
            if (a.record) Right(s"rows=${got._1} hash=${got._2}")
            else expected.get(q.expectKey, q.name) match {
              case None => Left(s"no expected output stored for ${q.expectKey}/${q.name}")
              case Some(e) if e == got => Right(s"rows=${got._1} hash ok")
              case Some(e) => Left(s"expected rows=${e._1} hash=${e._2}, got rows=${got._1} hash=${got._2}")
            }
          case j: JobOp =>
            val out = runJob(j, readBack = true)
            Right(s"written=${out.written} rejected=${out.rejected}, destination agrees")
        } catch { case e: Throwable => Left(s"threw $e") }
      val took = f"${secs(now() - t)}%.3f s"
      verdict match {
        case Right(m) => say(s"check ${op.name}: ok ($m) $took")
        case Left(m) => say(s"check ${op.name}: FAILED ($m) $took"); failed += 1; ok = false
      }
    }
    if (a.record) order.collectFirst { case q: QueryOp => q.expectKey }
      .foreach(Expected.store(a.expected, _, recorded.toSeq))
    ok
  }

  // ------------------------------------------------------------- operations

  /** Runs one ETL job; throws unless it completed with the exact
    * counts the generator predicts and, with `readBack` (always for
    * JDBC, where the read-back is part of the operation), unless the
    * destination holds exactly the rows written. */
  private def runJob(j: JobOp, readBack: Boolean = false): OpOutput = {
    val r = JobRunner.run(spark, j.cfg, Quiet)
    r.status match {
      case JobRunner.Failed(m) => throw new IllegalStateException(s"job ${j.name} failed: $m")
      case _ => ()
    }
    if (r.recordsWritten != j.truth.written || r.recordsFailed != j.truth.rejected)
      throw new IllegalStateException(s"job ${j.name}: written/rejected ${r.recordsWritten}/${r.recordsFailed}, " +
        s"expected ${j.truth.written}/${j.truth.rejected}")
    if (readBack || j.cfg.destination.exists(_.`type` == "JDBC")) {
      val back = Readers.forConfig(spark, j.readBack, Nil).count()
      if (back != r.recordsWritten)
        throw new IllegalStateException(s"job ${j.name}: destination holds $back rows, wrote ${r.recordsWritten}")
    }
    OpOutput(j.truth.sourceRows, r.recordsWritten, r.recordsFailed)
  }

  private def injected(op: Op): Unit =
    if (a.injectFail.contains(op.name))
      throw new IllegalStateException(s"injected failure in ${op.name}")

  /** Untraced run of one operation. */
  private def runOp(op: Op): Sample = {
    attempted += 1
    val t = now()
    try {
      injected(op)
      val out = op match {
        case q: QueryOp => Workloads.noop(q.build()); OpOutput()
        case j: JobOp => runJob(j)
      }
      val dt = secs(now() - t)
      spark.catalog.clearCache()
      Sample(op.name, ok = true, dt, output = out)
    } catch {
      case e: Throwable =>
        failed += 1
        spark.catalog.clearCache()
        say(s"op ${op.name} FAILED: $e")
        Sample(op.name, ok = false, secs(now() - t))
    }
  }

  /** Runs `f` as a child span of `parent`; returns its seconds. */
  private def span(parent: Int, opId: Int, name: String)(f: => Unit): Double = {
    val id = nextSpan; nextSpan += 1
    sc.setLocalProperty(Probe.SpanKey, s"$opId/$name")
    val t = now()
    try f finally sc.setLocalProperty(Probe.SpanKey, null)
    val e = now()
    spans += Span(id, parent, opId, name, t, e)
    secs(e - t)
  }

  private def heldStorage(): (Double, Int) = {
    val infos = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (infos.map(i => i.memSize + i.diskSize).sum / 1e6, infos.length)
  }

  /** Traced run of one operation: build, plan and exec child spans. */
  private def traceOp(op: Op): Option[OpTrace] = {
    attempted += 1
    val opId = nextOp; nextOp += 1
    val gc0 = gcSeconds()
    val opSpan = nextSpan; nextSpan += 1
    val t = now()
    var buildS, planS, execS = 0.0
    var out = OpOutput()
    try {
      injected(op)
      op match {
        case q: QueryOp =>
          var df: org.apache.spark.sql.DataFrame = null
          buildS = span(opSpan, opId, "build") { df = q.build() }
          planS = span(opSpan, opId, "plan")(df.queryExecution.executedPlan)
          execS = span(opSpan, opId, "exec")(Workloads.noop(df))
        case j: JobOp =>
          execS = span(opSpan, opId, "exec") { out = runJob(j) }
      }
      val wall = secs(now() - t)
      spans += Span(opSpan, -1, opId, op.name, t, now())
      spark.catalog.clearCache()
      org.apache.spark.ListenerBusDrain(sc)
      val build = probe.take(s"$opId/build")
      val all = new Counts += build += probe.take(s"$opId/plan") += probe.take(s"$opId/exec")
      val (held1, rdds1) = heldStorage()
      Some(OpTrace(op.name, wall, buildS, planS, execS, build, all, gcSeconds() - gc0,
        held1, rdds1, out))
    } catch {
      case e: Throwable =>
        failed += 1
        sc.setLocalProperty(Probe.SpanKey, null)
        spark.catalog.clearCache()
        say(s"op ${op.name} FAILED: $e")
        None
    }
  }

  /** Whole passes fit to the run's seconds: another pass starts only
    * while it would end at most half a pass late. */
  private def more(end: Long, passTimes: Seq[Double]): Boolean =
    now() + (median(passTimes) * 0.5e9).toLong < end

  /** Runs whole passes for the run's seconds (at least one). A pass
    * with a failed operation is not a pass sample. */
  private def measure(order: Seq[Op]): (Seq[Double], Seq[Sample]) = {
    val passes = mutable.ArrayBuffer.empty[Double]
    val samples = mutable.ArrayBuffer.empty[Sample]
    val end = now() + (a.seconds * 1e9).toLong
    val walls = mutable.ArrayBuffer.empty[Double]
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    probe.takeRecords() // count only the measured passes' input records
    do {
      val t = now()
      val ss = order.map(runOp)
      val dt = secs(now() - t)
      walls += dt
      samples ++= ss
      if (ss.forall(_.ok)) passes += dt
    } while (more(end, walls.toSeq))
    say(s"passes: ${passes.map(p => f"$p%.3f").mkString(" ")}")
    (passes.toSeq, samples.toSeq)
  }

  /** Traced passes: every operation runs once untraced and once
    * traced, alternating which goes first, so the tracing overhead is
    * a paired difference that warm-up drift does not skew. Returns
    * (untraced, traced) pass times and the traced records per pass. */
  private def measureTraced(order: Seq[Op]): (Seq[Double], Seq[Double], Seq[Seq[OpTrace]]) = {
    val plain, traced = mutable.ArrayBuffer.empty[Double]
    val records = mutable.ArrayBuffer.empty[Seq[OpTrace]]
    val end = now() + (a.seconds * 1e9).toLong
    val walls = mutable.ArrayBuffer.empty[Double]
    do {
      val t = now()
      val runs = order.zipWithIndex.map { case (op, i) =>
        def untracedRun() = runOp(op)
        def tracedRun() = { probe.detailed = true; try traceOp(op) finally probe.detailed = false }
        if (i % 2 == 0) { val u = untracedRun(); (u, tracedRun()) }
        else { val t = tracedRun(); (untracedRun(), t) }
      }
      if (runs.forall { case (u, t) => u.ok && t.isDefined }) {
        plain += runs.map(_._1.wallS).sum
        traced += runs.map(_._2.get.wallS).sum
        records += runs.map(_._2.get)
      }
      walls += secs(now() - t)
    } while (more(end, walls.toSeq))
    say(s"untraced passes: ${plain.map(p => f"$p%.3f").mkString(" ")}; traced: ${traced.map(p => f"$p%.3f").mkString(" ")}")
    (plain.toSeq, traced.toSeq, records.toSeq)
  }

  // ---------------------------------------------------------------- metrics

  private def endToEnd(passes: Seq[Double], samples: Seq[Sample], setupS: Double): Seq[(String, Double, String)] = {
    val okTimes = samples.filter(_.ok).map(_.wallS).sorted.toIndexedSeq
    val p = tailPercentile(okTimes.size)
    val tail = quantile(okTimes, p)
    val opWall = samples.filter(_.ok).map(_.wallS).sum
    val rows = workload match {
      case _: EtlJobs => samples.filter(_.ok).map(_.output.sourceRows).sum.toDouble
      case _ => org.apache.spark.ListenerBusDrain(spark.sparkContext); probe.takeRecords().toDouble
    }
    val opMedians = samples.groupBy(_.op).toSeq.sortBy(_._1).flatMap { case (op, ss) =>
      val ok = ss.filter(_.ok).map(_.wallS)
      say(f"op $op%-28s n=${ok.size}%d p50=${median(ok)}%.4f s failed=${ss.count(!_.ok)}%d")
      if (ok.nonEmpty) Some(median(ok)) else None
    }
    say(f"op_tail_s=$tail%.4f (p${p * 100}%.1f of n=${okTimes.size}%d samples)")
    say(f"peak_rss_mb=${vmHwmMb()}%.1f")
    say(f"fail_ratio=${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f ($failed of $attempted)")
    Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", median(passes), "s"),
      // median over operations of each one's median: a pooled median of
      // a few unlike operations falls into the gap between two of them
      // and jumps with their extreme samples
      ("op_p50_s", median(opMedians), "s"),
      ("rows_per_s", if (opWall > 0) rows / opWall else Double.NaN, "rows/s"))
  }

  private def perLayer(order: Seq[Op]): Seq[(String, Double, String)] = {
    val (untraced, traced, traces) = measureTraced(order)
    val ladders: Map[String, Seq[(String, Double)]] = workload match {
      case e: EtlJobs =>
        order.collect { case j: JobOp => j.name -> e.ladder(j.cfg) }.toMap
      case _ => Map.empty
    }
    writeSpans()
    val n = math.max(1, traces.size).toDouble
    val all = traces.flatten
    def sum(f: OpTrace => Double): Double = all.map(f).sum / n
    val c = new Counts
    all.foreach(t => c += t.all)
    // per-operation records, averaged over traced passes
    all.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, ts) =>
      val k = ts.size.toDouble
      val cc = new Counts; ts.foreach(t => cc += t.all)
      val amp = if (ts.head.output.sourceRows > 0) cc.recordsRead / k / ts.head.output.sourceRows else 0.0
      say(f"layer $op%-26s wall=${ts.map(_.wallS).sum / k}%.4f build=${ts.map(_.buildS).sum / k}%.4f/${ts.map(_.build.jobs).sum / k}%.1fjobs " +
        f"plan=${ts.map(_.planS).sum / k}%.4f exec=${ts.map(_.execS).sum / k}%.4f jobs=${cc.jobs / k}%.1f " +
        f"stages=${cc.stages / k}%.1f tasks=${cc.tasks / k}%.1f task_run=${cc.runMs / 1e3 / k}%.3f " +
        f"task_cpu=${cc.cpuNs / 1e9 / k}%.3f shuffle_w=${cc.shuffleWrite / 1e6 / k}%.2fMB " +
        f"shuffle_r=${cc.shuffleRead / 1e6 / k}%.2fMB spill=${cc.spill / 1e6 / k}%.2fMB gc=${ts.map(_.gcS).sum / k}%.3f " +
        f"held=${ts.map(_.heldMb).sum / k}%.2fMB/${ts.map(_.heldRdds).sum / k}%.1frdds read_amp=$amp%.2f")
    }
    ladders.toSeq.sortBy(_._1).foreach { case (op, rungs) =>
      say(s"ladder $op " + rungs.map { case (r, s) => f"$r=$s%.4f" }.mkString(" "))
    }
    def self(rung: String, below: String, ops: String => Boolean = _ => true): Double =
      ladders.filter(l => ops(l._1)).values.map { rs =>
        val m = rs.toMap; m(rung) - (if (below.isEmpty) 0.0 else m(below))
      }.sum
    val isMerge = (op: String) => op == "merge_keep_latest"
    val wall = sum(_.wallS)
    val sourceRows = sum(_.output.sourceRows.toDouble)
    val etlRecords = all.filter(_.output.sourceRows > 0).map(_.all.recordsRead).sum / n
    val overhead = median(traced) - median(untraced)
    say(f"trace.overhead_s=$overhead%.4f (traced pass ${median(traced)}%.3f vs untraced ${median(untraced)}%.3f)")
    Seq(
      ("query.build_s", sum(_.buildS), "s"),
      ("query.build_jobs", sum(_.build.jobs.toDouble), "count"),
      ("plan.s", sum(_.planS), "s"),
      ("exec.s", sum(_.execS), "s"),
      ("sched.jobs", c.jobs / n, "count"),
      ("sched.stages", c.stages / n, "count"),
      ("sched.tasks", c.tasks / n, "count"),
      ("sched.tasks_per_stage", if (c.stages > 0) c.tasks.toDouble / c.stages else 0.0, "count"),
      ("task.run_s", c.runMs / 1e3 / n, "s"),
      ("task.cpu_s", c.cpuNs / 1e9 / n, "s"),
      ("task.wait_s", (c.runMs / 1e3 - c.cpuNs / 1e9) / n, "s"),
      ("task.parallelism", if (wall > 0) c.runMs / 1e3 / n / wall else 0.0, "1"),
      ("shuffle.write_mb", c.shuffleWrite / 1e6 / n, "MB"),
      ("shuffle.read_mb", c.shuffleRead / 1e6 / n, "MB"),
      ("mem.spill_mb", c.spill / 1e6 / n, "MB"),
      ("mem.gc_s", sum(_.gcS), "s"),
      ("mem.held_mb", sum(_.heldMb) / math.max(1, order.size), "MB"),
      ("mem.held_rdds", sum(_.heldRdds.toDouble) / math.max(1, order.size), "count"),
      ("sources.scan_s", self("scan", ""), "s"),
      ("mapping.s", self("mapped", "scan"), "s"),
      ("errorpolicy.s", self("enforced", "mapped"), "s"),
      ("sinks.write_s", self("written", "enforced"), "s"),
      ("merge.s", self("job", "written", isMerge), "s"),
      ("job.overhead_s", self("job", "written", op => !isMerge(op)), "s"),
      ("sources.read_amplification", if (sourceRows > 0) etlRecords / sourceRows else 0.0, "1"),
      ("sinks.rows_written", sum(_.output.written.toDouble), "rows"),
      ("errorpolicy.rows_rejected", sum(_.output.rejected.toDouble), "rows"),
      ("job.spark_jobs", all.filter(_.output.sourceRows > 0).map(_.all.jobs).sum / n, "count"),
      ("trace.overhead_s", overhead, "s"),
      ("mem.peak_rss_mb", vmHwmMb(), "MB"))
  }

  private def writeSpans(): Unit = if (a.results.nonEmpty) {
    val f = new java.io.File(a.results, s"spans_${a.workload}.json")
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(spans.map(_.json).mkString("[\n", ",\n", "\n]")) finally w.close()
    say(s"spans: ${spans.size} written to ${f.getPath}")
  }
}
