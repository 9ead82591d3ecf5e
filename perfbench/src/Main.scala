package perfbench

import graft.Engine
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Benchmark entry point: one workload, one seed, one measured window.
  *
  * {{{
  * perfbench.Main --workload retrieve|refresh --seed N --seconds S
  *                --trace 0|1 --work DIR [--digest-only]
  * }}}
  *
  * Prints a detail report line (`{"report": ...}`) and, last, the
  * result line `{"correct", "attempted", "failed", "metrics"}`.
  * `--digest-only` generates the inputs, prints their digests and
  * measured shares, and exits without starting Spark.
  */
object Main {

  private val t0 = System.nanoTime()
  /** Progress line on stderr, with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${Util.secondsSince(t0)}%7.2fs] $msg")

  final case class Args(
      workload: String = "",
      seed: Long = 1L,
      seconds: Double = 10.0,
      trace: Boolean = false,
      work: String = ".bench_work",
      digestOnly: Boolean = false)

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t     => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t  => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t    => parse(t, acc.copy(trace = v == "1"))
    case "--work" :: v :: t     => parse(t, acc.copy(work = v))
    case "--digest-only" :: t   => parse(t, acc.copy(digestOnly = true))
    case Nil                    => acc
    case x :: _                 => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "retrieve" => new Retrieve(ctx)
    case "refresh"  => new Refresh(ctx)
    case other      => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    val gen = new Gen(args.seed)
    if (args.digestOnly) {
      val w = workload(args.workload, Ctx(null, gen, new Tracer(false), args.work, args))
      w.generate()
      println(Util.json(Map("digests" -> w.digests, "shares" -> gen.shares)))
      return
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Engine.session("perfbench", s"local[$cores]", cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(args.trace)
    tracer.resume(spark)
    Util.deleteTree(args.work)
    Files.createDirectories(Paths.get(args.work))
    val ctx = Ctx(spark, gen, tracer, args.work, args)
    val w = workload(args.workload, ctx)
    val ok =
      try { run(w, ctx, sessionS, cores); true }
      catch { case e: Throwable => e.printStackTrace(); false }
      finally {
        spark.stop()
        Util.deleteTree(args.work)
        log("stopped")
      }
    // lingering non-daemon threads must not hold the process open
    System.out.flush()
    System.exit(if (ok) 0 else 1)
  }

  private def run(w: Workload, ctx: Ctx, sessionS: Double, cores: Int): Unit = {
    val args = ctx.args
    // ---- set-up: inputs, base artifacts, warm-up ----------------------
    def seconds(body: => Unit): Double = { val t = System.nanoTime(); body; Util.secondsSince(t) }
    val inputsS = seconds { w.generate(); w.writeInputs() }
    val buildCpu0 = Util.processCpuMs()
    val buildS = seconds(w.buildBase())
    val buildCpuS = (Util.processCpuMs() - buildCpu0) / 1000
    w.afterBase()
    val warmS = seconds(w.warmUp())
    val setupS = sessionS + inputsS + buildS + warmS
    log(s"set-up: inputs $inputsS s, base build $buildS s, warm-up $warmS s")

    // ---- measured window ---------------------------------------------
    // The window is a fixed number of whole blocks, a request-mix cycle
    // on retrieve and a day on refresh: two per 10 s of --seconds,
    // whatever the machine's speed, so a faster program measures the
    // same work (later blocks are warmer and, on refresh, carry more
    // history). A traced run opens with one untraced lead-in block that
    // absorbs the first block's extra warm-up, then alternates untraced
    // and traced blocks in the order U T T U, so drift over the window
    // falls on both sides alike. The tracing overhead is the traced
    // blocks' CPU per operation over the untraced ones'. Set-up stays
    // traced: the nightly build's layers are measured there.
    ctx.tracer.pause(ctx.spark)
    val windowBlocks = 2 * math.max(1, math.round(args.seconds / 10).toInt)
    val tracedIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var blocks = 0
    var leadIn = 0
    while (blocks < windowBlocks || (args.trace && (blocks < 5 || blocks % 4 != 1))) {
      if (args.trace && (blocks % 4 == 2 || blocks % 4 == 3)) {
        ctx.tracer.resume(ctx.spark)
        val from = System.currentTimeMillis()
        w.block()
        ctx.tracer.pause(ctx.spark)
        tracedIntervals += ((from, System.currentTimeMillis()))
      } else w.block()
      if (args.trace && blocks == 0) leadIn = w.samples.size
      blocks += 1
    }
    def part(traced: Boolean) = (leadIn until w.samples.size).filter(i => w.traced(i) == traced)
    val untraced = part(traced = false)
    val samples = untraced.map(w.samples)
    val cpu = untraced.map(w.cpuSamples)
    val kinds = untraced.map(w.kinds)
    log(s"window done: $blocks blocks, ${w.samples.size} ops")
    require(samples.nonEmpty, "no operation succeeded")

    // ---- output checks, outside the timed window -----------------------
    val checks = w.check()
    log(s"checks done: ${checks.size}")
    val failedChecks = checks.count(!_._2)
    val attempted = w.opsAttempted + checks.size
    val failed = w.opsFailed + failedChecks
    checks.filterNot(_._2).foreach { case (n, _) => System.err.println(s"[perfbench] check failed: $n") }

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "op_cpu_ms" -> (cpu.sum / cpu.size, "ms"),
      "stored_bytes_per_input_byte" -> (w.storedBytes.toDouble / w.inputBytes, "ratio"),
    )
    val layers: mutable.LinkedHashMap[String, (Double, String)] =
      if (!args.trace) mutable.LinkedHashMap.empty
      else {
        val traced = part(traced = true).map(w.cpuSamples)
        val l = Layers.metrics(w, ctx.tracer, traced.size, tracedIntervals.toSeq, cores)
        l("process.peak_rss_mb") = (Util.peakRssMb(), "MB")
        l("trace.overhead_pct") = (100.0 * ((traced.sum / traced.size) / (cpu.sum / cpu.size) - 1.0), "%")
        l("trace.spans") = (ctx.tracer.spanCount.toDouble, "count")
        val spansFile = Paths.get(args.work).resolveSibling(s"spans-${args.workload}-${args.seed}.jsonl")
        ctx.tracer.write(spansFile)
        System.err.println(s"[perfbench] spans written to $spansFile")
        l
      }

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "cores" -> cores, "master" -> ctx.spark.sparkContext.master,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "spark_version" -> ctx.spark.version,
      "spark_graft_extra_conf" -> sys.env.get("SPARK_GRAFT_EXTRA_CONF"),
      "spark_conf" -> ctx.spark.conf.getAll.filter { case (k, _) =>
        !k.contains("dir") && !k.contains("host") && !k.contains("port") && !k.contains("id")
      }.toSeq.sorted.toMap,
      "blocks" -> blocks,
      "ops" -> w.samples.size,
      "untraced_ops" -> samples.size,
      "build_s" -> buildS,
      "build_cpu_s" -> buildCpuS,
      "op_mean_ms" -> samples.sum / samples.size,
      "op_p50_ms" -> Util.mixMedian(kinds, samples),
      "latency_ms_by_kind" -> kinds.zip(samples).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) },
      "op_cpu_ms_by_kind" -> kinds.zip(cpu).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum / v.size },
      "set_up" -> Map("session_s" -> sessionS, "inputs_s" -> inputsS, "base_build_s" -> buildS, "warm_up_s" -> warmS),
      "input_bytes" -> w.inputBytes, "stored_bytes" -> w.storedBytes,
      "fail_frac" -> failed.toDouble / attempted,
      "digests" -> w.digests, "shares" -> ctx.gen.shares, "extra" -> w.extra,
      "checks" -> checks.map { case (n, ok) => n -> ok }.toMap)
    if (args.trace) report("self_ms") = ctx.tracer.selfTimesMs
    println(Util.json(Map("report" -> report)))
    val metrics = (if (args.trace) layers else e2e).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u)
    }
    println(Util.json(mutable.LinkedHashMap(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics)))
  }
}

final case class Ctx(spark: SparkSession, gen: Gen, tracer: Tracer, work: String, args: Main.Args) {
  def path(p: String): String = s"$work/$p"
}

/** One benchmark workload. `block` runs one unit of the window (a
  * request-mix cycle, a day); each timed operation in it appends its
  * latency (ms) to `samples`; failures are counted, not thrown.
  */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def tracer: Tracer = ctx.tracer
  val gen: Gen = ctx.gen

  val samples: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  /** Process CPU time of each sample, ms. */
  val cpuSamples: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  /** The kind of each sample (request kind; "day" on refresh). */
  val kinds: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Whether each sample ran traced. */
  val traced: mutable.ArrayBuffer[Boolean] = mutable.ArrayBuffer.empty
  var opsAttempted = 0L
  var opsFailed = 0L
  val extra: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  /** Rows the client received or wrote in the traced blocks. */
  var resultRows = 0L
  /** Workload-observed per-layer values (ratios, counts) of the window. */
  val layerExtra: mutable.Map[String, Double] = mutable.Map.empty

  def generate(): Unit
  def digests: Map[String, String]
  def writeInputs(): Unit
  def buildBase(): Unit
  /** Untimed hook after the base build (checks of the base artifacts). */
  def afterBase(): Unit = ()
  def warmUp(): Unit
  def block(): Unit
  def check(): Seq[(String, Boolean)]
  def inputBytes: Long
  def storedBytes: Long

  protected def countRows(n: Int): Unit = if (tracer.recording) resultRows += n

  /** Run `op`, timing it as one sample; an exception counts as failed. */
  protected def timed(kind: String)(op: => Unit): Unit = {
    opsAttempted += 1
    val t = System.nanoTime()
    val cpu = Util.processCpuMs()
    try {
      op
      samples += Util.msSince(t); cpuSamples += Util.processCpuMs() - cpu
      kinds += kind; traced += tracer.recording
    } catch {
      case e: Exception =>
        opsFailed += 1
        System.err.println(s"[perfbench] operation failed: $e")
    }
  }
}
