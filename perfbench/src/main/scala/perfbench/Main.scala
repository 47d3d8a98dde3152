package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.commons.math3.special.Beta

import org.apache.spark.sql.SparkSession

/** Per-operation context: the live session and the span recorder. */
final class Ctx(val spark: SparkSession, val tr: Tracer)

/** One closed-loop operation; its latency is the wall time of `run`. */
abstract class Op(val name: String) {
  def run(c: Ctx): Unit
}

trait Workload {
  def ops: IndexedSeq[Op]
  /** Cold builds that precede the warm-up pass (the workload's fixtures). */
  def prepare(spark: SparkSession): Unit = ()
  /** Stops what `prepare` started, before its session stops. */
  def teardown(spark: SparkSession): Unit = ()
  /** Writes every operation's output, and what it must equal, under `out`. */
  def check(spark: SparkSession, out: String): Unit
  /** A read-only workload's outputs do not depend on the timed passes, so
    * it is checked before them, and the check doubles as a settling pass
    * for the JIT; a workload with state is checked after them. */
  def readOnly: Boolean = false
  /** Called after every timed pass (lake sizes, stream state). */
  def passEnd(c: Ctx): Unit = ()
  /** Per-layer metrics the workload measures itself, given each
    * operation's median latency over the timed passes. */
  def metrics(spark: SparkSession, opMedianS: Map[String, Double]): Map[String, Double] = Map.empty
}

/** Benchmark process: `Main --workload W --seed N --seconds S --trace 0|1
  * --cores C --input DIR --run-dir DIR --setups K`.
  *
  * It sets up K times (session build, the workload's cold fixture builds
  * and one untimed warm-up pass, each set-up on a fresh session), then runs
  * closed-loop passes over the workload's operations for S seconds, the
  * order permuted from the seed in every pass. Every operation's output is
  * written once for checking, before the timed passes for a read-only
  * workload and after them otherwise. The result goes to
  * `<run-dir>/harness.json`.
  * With `--trace 1`, even passes are traced and odd passes are not; the
  * ratio of their pass times is the tracing overhead. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val runDir = a("run-dir")
    val setups = a("setups").toInt
    val wl = Workloads(workload, a("input"), runDir, seed)

    val setupS = mutable.ArrayBuffer.empty[Double]
    val warmS = mutable.ArrayBuffer.empty[Double]
    val fixtureS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    val tr = new Tracer
    for (i <- 1 to setups) {
      val t0 =
        if (i == 1) ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L -
          (System.currentTimeMillis() * 1000000L - System.nanoTime())
        else System.nanoTime()
      if (spark != null) {
        wl.teardown(spark); spark.stop(); SparkSession.clearActiveSession()
      }
      spark = session(cores, s"$runDir/s$i")
      val f0 = System.nanoTime()
      wl.prepare(spark)
      fixtureS += (System.nanoTime() - f0) / 1e9
      val w0 = System.nanoTime()
      val c = new Ctx(spark, tr)
      wl.ops.foreach(o => o.run(c))
      warmS += (System.nanoTime() - w0) / 1e9
      setupS += (System.nanoTime() - t0) / 1e9
      phase(s"setup $i done")
    }

    val checkDir = s"$runDir/check"
    def checkOutputs(): Option[String] = {
      val err = try { wl.check(spark, checkDir); None }
        catch { case NonFatal(e) => Some(e.toString) }
      phase("check outputs written")
      err
    }
    val earlyCheck = if (wl.readOnly) Some(checkOutputs()) else None

    val sc = spark.sparkContext
    val counters = new EngineCounters
    val ctx = new Ctx(spark, tr)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val heapMb = mutable.ArrayBuffer.empty[Double]
    var attempted = 0L
    val failedOps = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var tracedOps = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val loop0 = System.nanoTime()
    var pass = 0
    while (pass < 2 || System.nanoTime() < deadline) {
      val traced = trace && pass % 2 == 0
      tr.on = traced
      if (traced) { sc.addSparkListener(counters); counters.sync(sc) }
      val order = new Random(seed * 1000003L + pass).shuffle(wl.ops)
      val opS = mutable.ArrayBuffer.empty[(String, Double)]
      val cpu0 = cpuJiffies()
      val p0 = System.nanoTime()
      order.foreach { op =>
        attempted += 1
        tr.beginOp()
        val o0 = System.nanoTime()
        try tr.span(s"op.${op.name}")(op.run(ctx))
        catch { case NonFatal(e) =>
          failedOps(op.name) += 1
          System.err.println(s"[perfbench] ${op.name} failed: $e")
        }
        opS += op.name -> (System.nanoTime() - o0) / 1e9
      }
      val ps = (System.nanoTime() - p0) / 1e9
      val cpu1 = cpuJiffies()
      passes += Pass(traced, ps, (cpu1._2 - cpu0._2).toDouble / (cpu1._1 - cpu0._1).max(1L), opS.toSeq)
      if (traced) {
        counters.sync(sc)
        sc.removeSparkListener(counters)
        tracedOps += order.size
        wl.passEnd(ctx)
        System.gc()
        heapMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }
      pass += 1
    }
    tr.on = false
    val loopS = (System.nanoTime() - loop0) / 1e9
    val peakRssMb = vmHwmMb()

    phase("timed passes done")
    // every operation's output, once, outside the timed region
    val checkErr = earlyCheck.getOrElse(checkOutputs())

    // Timings come from the untraced passes the host did not steal CPU
    // from; when fewer than two are clean, from all untraced passes.
    val untraced = passes.filterNot(_.traced).toSeq
    val clean = untraced.filter(_.steal <= MaxSteal)
    val timed = if (clean.size >= 2) clean else untraced
    val passS = timed.map(_.wallS)
    val tracedPassS = passes.filter(_.traced).map(_.wallS).toSeq
    val opWall = (if (timed.nonEmpty) timed else passes.toSeq).flatMap(_.ops)
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val lat = opWall.values.flatten.toSeq.sorted
    val out = mutable.LinkedHashMap.empty[String, String]
    def put(k: String, v: Double): Unit = out(k) = Json.num(v)
    put("setup_s", median(setupS.toSeq))
    put("pass_s", median(passS.toSeq))
    put("op_p50_s", quantile(lat.toSeq, 0.5))
    put("op_p90_s", quantile(lat.toSeq, 0.9))
    put("peak_rss_mb", peakRssMb)
    val e2e = Json.obj(out)

    val layer = mutable.LinkedHashMap.empty[String, String]
    if (trace) {
      val v = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val snap = counters.snapshot
      val nOps = tracedOps.toDouble.max(1)
      Seq("jobs", "stages", "tasks").foreach(k => v(s"spark.${k}_per_op") = snap(k) / nOps)
      v("spark.task_wait_s") = snap("wait_s") / nOps
      v("spark.task_run_s") = snap("run_s") / nOps
      v("spark.task_cpu_s") = snap("cpu_s") / nOps
      v("spark.core_busy_ratio") = snap("run_s") / (tracedPassS.sum * cores).max(1e-9)
      v("spark.gc_s") = snap("gc_s") / nOps
      Seq("shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb")
        .foreach(k => v(s"spark.$k") = snap(k) / nOps)
      // span totals per call of the layer function
      val sum = tr.summary
      for ((metric, span) <- Workloads.SpanMetrics) {
        val (tot, _, n) = sum.getOrElse(span, (0.0, 0.0, 0))
        v(metric) = if (n == 0) 0.0 else tot / n
      }
      // cold-minus-warm: what the warm-up pass of the last set-up paid
      // beyond a steady pass (shared-frame first touches, cold caches)
      val steady = opWall.values.map(w => median(w.toSeq)).sum
      v("Tables.shared_build_s") = (warmS.last - steady).max(0.0)
      v("Tables.fixture_build_s") = median(fixtureS.toSeq)
      v("Tables.cached_mb") = sc.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0
      v("jvm.heap_live_mb") = heapMb.lastOption.getOrElse(0.0)
      v("jvm.heap_growth_mb") = if (heapMb.size < 2) 0.0 else heapMb.last - heapMb.head
      v("trace.overhead_ratio") =
        if (passS.isEmpty) 0.0 else median(tracedPassS.toSeq) / median(passS.toSeq) - 1
      v("error_rate") = 0.0 // set by the checker, which sees the output checks
      wl.metrics(spark, opWall.map { case (k, w) => k -> median(w.toSeq) }.toMap).foreach { case (k, x) => v(k) = x }
      Workloads.PerLayer.foreach(k => layer(k) = Json.num(v(k)))
      tr.writeJsonl(s"$runDir/spans.jsonl")
      layer("_span_summary") = Json.obj(sum.toSeq.sortBy(_._1).map { case (k, (t, s, n)) =>
        k -> s"""{"total_s":${Json.num(t)},"self_s":${Json.num(s)},"calls":$n}""" })
    }
    val calls = passes.flatMap(_.ops).groupBy(_._1).map { case (k, v) => k -> v.size }
    val perOp = Json.obj(opWall.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> (s"""{"median_s":${Json.num(median(v.toSeq))},"calls":${calls(k)},""" +
        s""""failed":${failedOps(k)},"latencies_s":${v.map(Json.num).mkString("[", ",", "]")}}""") })
    val res = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> attempted.toString,
      "failed_ops" -> Json.obj(failedOps.toSeq.map { case (k, v) => k -> v.toString }),
      "samples" -> lat.size.toString,
      "passes" -> pass.toString,
      "loop_s" -> Json.num(loopS),
      "setups_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "passes_s" -> untraced.map(p => Json.num(p.wallS)).mkString("[", ",", "]"),
      "passes_steal" -> untraced.map(p => Json.num(p.steal)).mkString("[", ",", "]"),
      "passes_timed" -> passS.size.toString,
      "check_error" -> checkErr.map(Json.str).getOrElse("null"),
      "end_to_end" -> e2e,
      "per_layer" -> Json.obj(layer),
      "ops" -> perOp))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$runDir/harness.json"), res)
    wl.teardown(spark)
    spark.stop()
    phase("stopped")
  }

  private def phase(what: String): Unit =
    System.err.println(s"[perfbench] ${System.currentTimeMillis()} $what")

  def session(cores: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$dir/local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.checkpoint.dir", s"$dir/checkpoint")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One timed pass: wall time, the share of host CPU time stolen by the
    * hypervisor meanwhile (from /proc/stat), and each operation's latency. */
  final case class Pass(traced: Boolean, wallS: Double, steal: Double,
      ops: Seq[(String, Double)])

  /** A pass during which the host stole more CPU than this share measures
    * the neighbours, not the program. */
  val MaxSteal = 0.05

  /** (all, steal) CPU jiffies so far, summed over the host's CPUs. */
  private def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (f.sum, f(7))
    } finally src.close()
  }

  /** Nearest-rank median (the lower middle value of an even count). */
  def median(v: Seq[Double]): Double =
    if (v.isEmpty) 0.0 else v.sorted.apply((v.size - 1) / 2)

  /** Harrell-Davis estimate of the p-quantile of an ascending sequence of
    * latency samples: the mean of all order statistics weighted by the
    * Beta((n+1)p, (n+1)(1-p)) distribution. It draws on every sample near
    * the quantile rather than one, so it varies less from run to run than
    * the nearest-rank percentile of the same samples. */
  def quantile(sorted: Seq[Double], p: Double): Double = {
    val n = sorted.size
    if (n < 2) sorted.headOption.getOrElse(0.0)
    else {
      val (a, b) = ((n + 1) * p, (n + 1) * (1 - p))
      val cdf = (0 to n).map(i =>
        if (i == 0) 0.0 else if (i == n) 1.0 else Beta.regularizedBeta(i.toDouble / n, a, b))
      sorted.indices.map(i => (cdf(i + 1) - cdf(i)) * sorted(i)).sum
    }
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
