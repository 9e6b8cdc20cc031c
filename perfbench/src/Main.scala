package perfbench

import graft.Harness
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** What a workload hands back: operation counts for the correctness
  * gate, the contract's end-to-end values, the named figures of the
  * workload (printed on the detail line), and per-layer values.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    throughputPerS: Double,
    latencyP50S: Double,
    latencyTailS: Double,
    named: Seq[(String, Double, String)],
    layers: Map[String, Double])

/** Everything a workload may use. `work` is this run's private scratch
  * directory inside the checkout; it is deleted when the run ends.
  */
final class Ctx(val args: Args, var spark: SparkSession, val work: Path,
    val tracer: Tracer, val streams: StreamLog) {
  var layers: Option[SparkLayers] = None
  def cores: Int = spark.sparkContext.defaultParallelism
  def dir(name: String): Path = {
    val p = work.resolve(name)
    graft.queries.Scratch.deleteTree(p.toString)
    Files.createDirectories(p)
  }
  /** Spark scope (traced runs) + span around `f`. */
  def scoped[A](name: String, attrs: Map[String, String] = Map.empty)(f: => A): A =
    tracer.span(name, attrs) {
      layers match {
        case Some(l) => l.scope(name)(f)
        case None => f
      }
    }
}

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, root: Path)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1",
      Paths.get(m.getOrElse("root", ".")).toAbsolutePath.normalize)
  }
}

trait Workload {
  def name: String
  /** Inputs, warm-up to a plateau, everything before the timed window. */
  def setup(ctx: Ctx): Unit
  /** The timed window; `traced` marks the second window of a traced run. */
  def measure(ctx: Ctx, traced: Boolean): Outcome
  /** Extra per-layer figures only a traced run computes. */
  def traceExtras(ctx: Ctx): Map[String, Double] = Map.empty
}

object Main {
  val Workloads: Seq[Workload] =
    Seq(ChainCatchup, ChainTip)

  def session(ctx: Ctx, master: String): SparkSession = {
    val tmp = ctx.work.resolve("spark")
    Files.createDirectories(tmp)
    val s = Harness.tuned(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions",
        math.max(1, Runtime.getRuntime.availableProcessors).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", tmp.resolve("chk").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val t0Ms = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = Args.parse(argv)
    val wl = Workloads.find(_.name == args.workload).getOrElse {
      System.err.println(s"unknown workload ${args.workload}; " +
        s"known: ${Workloads.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val work = args.root.resolve(".bench_build").resolve("work")
      .resolve(s"${wl.name}-${ProcessHandle.current.pid}")
    Files.createDirectories(work)
    val code =
      try run(args, wl, work, t0Ms)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] ${wl.name} failed: $e")
        e.printStackTrace()
        1
      } finally graft.queries.Scratch.deleteTree(work.toString)
    System.out.flush()
    sys.exit(code)
  }

  private def run(args: Args, wl: Workload, work: Path, t0Ms: Long): Int = {
    val tracer = new Tracer(args.trace)
    val streams = new StreamLog
    val ctx = new Ctx(args, null, work, tracer, streams)
    ctx.spark = session(ctx, s"local[${Runtime.getRuntime.availableProcessors}]")
    ctx.spark.streams.addListener(streams)
    System.err.println(s"[perfbench] session ready at " +
      s"${(System.currentTimeMillis() - t0Ms) / 1e3}s")
    tracer.span(s"workload.${wl.name}.setup") { wl.setup(ctx) }
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3
    // host probes: traced runs bracket both timed windows with the
    // calibration and scheduler probes; untraced runs take one scheduler
    // probe after the window (the calibration task alone costs seconds)
    val before = if (args.trace) Seq(probe(ctx)) else Nil
    val out = tracer.span(s"workload.${wl.name}") { wl.measure(ctx, traced = false) }
    val after = probe(ctx)
    // traced run: a second timed window with the Spark listener and spans
    // on; the first (untraced) window's figures stay the end-to-end ones
    val (traceLayers, tracedFailed, closing) =
      if (!args.trace) (Map.empty[String, Double], 0L, Nil)
      else {
        val l = new SparkLayers(ctx.spark.sparkContext)
        ctx.spark.sparkContext.addSparkListener(l)
        ctx.layers = Some(l)
        val traced = tracer.span(s"workload.${wl.name}.traced") {
          l.scope("workload") { wl.measure(ctx, traced = true) }
        }
        val last = probe(ctx)
        val spark = l.report(ctx.cores).toSeq.flatMap { case (scope, m) =>
          val prefix = if (scope == "workload") "spark" else scope
          m.map { case (k, v) => s"$prefix.$k" -> v }
        }.toMap
        exportSparkSpans(ctx, l)
        (traced.layers ++ spark ++ wl.traceExtras(ctx) ++ Map(
          "trace.overhead_frac" -> (traced.latencyP50S / out.latencyP50S - 1.0)),
          traced.failed, Seq(last))
      }
    val probes = before ++ (after +: closing)
    val calib = if (args.trace) Stats.median(probes.map(_._1)) else Double.NaN
    val sched = Stats.median(probes.map(_._2))
    val hostLayers = Map("host.calib_s" -> calib, "host.sched_s_per_job" -> sched)
    if (args.trace) {
      tracer.writeJson(args.root.resolve(".bench_build").resolve("traces")
        .resolve(s"${wl.name}-seed${args.seed}.json"))
    }
    try ctx.spark.stop() catch { case _: Throwable => () }

    // detail line: the workload's own named figures, then the contract line
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    val named = (out.named :+ (("failed_frac",
      if (out.attempted == 0) 1.0 else (out.failed + tracedFailed).toDouble / out.attempted,
      "frac")) :+
      (("setup_s", setupS, "s"))) ++
      Seq(("host.calib_s", calib, "s"), ("host.sched_s_per_job", sched, "s"))
    println("perfbench-detail " + named.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}"))
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", setupS, "s"),
        ("throughput_per_s", out.throughputPerS, "1/s"),
        ("latency_p50_s", out.latencyP50S, "s"),
        ("latency_tail_s", out.latencyTailS, "s"))
      else {
        val all = out.layers ++ hostLayers ++ traceLayers
        Layers.Names.map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
      }
    val failed = out.failed + tracedFailed
    val correct = failed == 0 && out.attempted > 0 &&
      metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val body = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${out.attempted},""" +
      s""""failed":$failed,"metrics":$body}""")
    0
  }

  /** A scheduler probe, and in traced runs a calibration probe too
    * (Harness.schedOnce / Harness.calibOnce).
    */
  private def probe(ctx: Ctx): (Double, Double) = ctx.tracer.span("host.probe") {
    Harness.settle(ctx.spark)
    val c = if (ctx.args.trace) Harness.calibOnce(ctx.spark) else Double.NaN
    Harness.settle(ctx.spark)
    val s = Harness.schedOnce(ctx.spark)
    Harness.settle(ctx.spark)
    (c, s)
  }

  /** Spark jobs become spans under whatever span was open at submission. */
  private def exportSparkSpans(ctx: Ctx, l: SparkLayers): Unit = {
    val spans = ctx.tracer.all
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    l.allJobs.foreach { j =>
      val s = j.start * 1000000L + offsetNs
      val e = (if (j.end < 0) j.start else j.end) * 1000000L + offsetNs
      val parent = spans.filter(sp => sp.startNs <= s && sp.endNs >= s)
        .sortBy(sp => sp.endNs - sp.startNs).headOption.map(_.id).getOrElse(0L)
      ctx.tracer.record("spark.job", parent, s, e,
        Map("job" -> j.id.toString, "stages" -> j.stages.size.toString))
    }
  }
}
