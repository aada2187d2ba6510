package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, tiny: Boolean, ops: Option[Int],
                      work: Path, traceDir: Path, cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), m.get("tiny").contains("1"),
      m.get("ops").map(_.toInt), Paths.get(need("work")).toAbsolutePath,
      Paths.get(m.getOrElse("trace-dir", need("work"))).toAbsolutePath,
      m.get("cores").map(_.toInt).getOrElse(4))
  }
}

/** Shared handles for a workload. */
final class Ctx(val spark: SparkSession, val probe: Probe, val args: Args) {
  private var n = 0
  /** A fresh directory under the run's work dir. */
  def fresh(name: String): String = {
    n += 1
    val p = args.work.resolve(s"$name-$n")
    Files.createDirectories(p)
    p.toString
  }
  def sc = spark.sparkContext
}

/** What one timed phase measured. Latency samples are in ms, keyed by
  * op class ("read", "write", ...) and by op kind. */
final class Phase {
  val byClass = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val byKind = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val opWall = mutable.ArrayBuffer.empty[Double]
  val values = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  var wallMs = 0.0
  val problems = mutable.ArrayBuffer.empty[String]

  def sample(cls: String, kind: String, ms: Double): Unit = {
    byClass.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += ms
    byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    ()
  }
  def fail(what: String): Unit = {
    failed += 1
    if (problems.size < 20) problems += what
    ()
  }
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)
  def add(k: String, v: Double): Unit = values(k) = values.getOrElse(k, 0.0) + v
  def p(cls: String, q: Double): Double = Stats.pct(byClass.getOrElse(cls, Nil).toSeq, q)
  def n(cls: String): Int = byClass.get(cls).fold(0)(_.size)
  def kindP50(kind: String): Double = Stats.median(byKind.getOrElse(kind, Nil).toSeq)
}

/** A benchmark workload: seeded inputs, a closed single-client op loop,
  * and an output check. */
trait Workload {
  def name: String
  /** Make this workload's inputs from the seed (once per run). */
  def generate(ctx: Ctx): Unit
  /** Untimed work before each set-up, such as copying the inputs into a
    * fresh place: harness work that `setup_s` must not include. */
  def prepare(ctx: Ctx): Unit = ()
  /** Bring the program up on the generated inputs in fresh directories:
    * the set-up a user pays, repeated and timed as `setup_s`. */
  def setup(ctx: Ctx): Unit
  /** Exercise every op kind once so the timed phase sees steady state. */
  def warmup(ctx: Ctx): Unit
  /** Restore the post-setup state before a replayed phase. */
  def reset(ctx: Ctx): Unit
  /** Run op `i`; record its latency samples into `ph`. */
  def op(ctx: Ctx, ph: Phase, i: Int, r: Rng): Unit
  /** End-of-phase output checks. */
  def verify(ctx: Ctx, ph: Phase): Unit
  /** The samples behind op_p50_ms / op_p90_ms. */
  def opClass: String
  /** Ops in one rotation of the op schedule: a timed phase ends on a
    * whole rotation, so every run has the same mix of op kinds. */
  def cycle: Int
  /** Input sizes, stated against the engine's caches. */
  def sizes: Seq[(String, String)]
}

object Main {
  /** set-ups per run; `setup_s` is their median */
  private val Setups = 5

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val wl: Workload = args.workload match {
      case "orm_read" => new OrmRead(args)
      case "table_stream" => new TableStream(args)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val t0 = System.nanoTime()
    val spark = graft.api.Metastore.configure(SparkSession.builder()
      .master(s"local[${args.cores}]"))
      .withExtensions(new graft.plans.GraftSparkExtensions)
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation",
        args.work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the metastore client starts on a workload's first catalog call
    val sessionS = (System.nanoTime() - t0) / 1e9
    val probe = new Probe(spark, tracing = false)
    probe.install()
    val ctx = new Ctx(spark, probe, args)
    val out = try run(ctx, wl, sessionS)
    finally scala.util.Try(spark.stop())
    out.foreach(println)
    System.out.flush()
  }

  private def secs(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  /** Runs set-up, warm-up and the timed phase(s); returns the report
    * lines, the last of which is the result object. */
  private def run(ctx: Ctx, wl: Workload, sessionS: Double): Seq[String] = {
    val args = ctx.args
    val genS = secs(wl.generate(ctx))
    val setupS = (1 to Setups).map { _ => wl.prepare(ctx); secs(wl.setup(ctx)) }
    val warmS = secs(wl.warmup(ctx))
    val report = mutable.ArrayBuffer.empty[String]
    val setup = Map(
      "setup_s" -> Stats.median(setupS),
      "setup.session_s" -> sessionS,
      "setup.generate_s" -> genS,
      "setup.warmup_s" -> warmS)
    if (!args.trace) {
      val (ph, delta) = phase(ctx, wl, args.seconds, args.ops, keys = 0)
      val heap = heapLiveMb()
      val e2e = setup ++ Map(
        "op_p50_ms" -> ph.p(wl.opClass, 0.5),
        "op_p90_ms" -> ph.p(wl.opClass, 0.9),
        "heap_live_mb" -> heap)
      report ++= Metrics.workloadLines(wl, ph, delta)
      report ++= e2e.toSeq.sortBy(_._1).map { case (k, v) =>
        f"$k%-28s ${Json.fmt(v)} ${Metrics.unit(k)}" }
      report += Metrics.result(ph, e2e.filter { case (k, _) => Metrics.endToEnd.contains(k) })
    } else {
      // untraced then traced, each from the post-setup state: the
      // difference is the tracing overhead
      val (plain, _) = phase(ctx, wl, args.seconds / 2, args.ops, keys = 0)
      wl.reset(ctx)
      ctx.probe.tracing = true
      // same op kinds and count, fresh keys: replayed literals would hit
      // the codegen cache and hide the compile cost the run measures
      val (traced, delta) = phase(ctx, wl, Double.MaxValue, Some(plain.opWall.size), keys = 1)
      val spans = ctx.probe.allSpans
      Probe.writeSpans(args.traceDir.resolve(
        s"trace-${wl.name}-${args.seed}.jsonl"), spans)
      val layer = Metrics.perLayer(traced, delta, spans) ++
        setup.filter(_._1.startsWith("setup.")) ++ Map(
          "trace.overhead_frac" -> (traced.opWall.sum / plain.opWall.sum - 1))
      val all = Metrics.perLayerNames.map(k => k -> layer.getOrElse(k, 0.0))
      report ++= Metrics.workloadLines(wl, traced, delta)
      report ++= all.map { case (k, v) => f"$k%-32s ${Json.fmt(v)} ${Metrics.unit(k)}" }
      val merged = new Phase
      Seq(plain, traced).foreach { p =>
        merged.attempted += p.attempted; merged.failed += p.failed
        merged.problems ++= p.problems
      }
      report += Metrics.result(merged, all.toMap)
    }
    wl.sizes.map { case (k, v) => s"# input $k: $v" } ++: report.toSeq
  }

  /** One timed phase: ops until the time budget is used up and the
    * rotation in progress is complete (or until the op count), then the
    * workload's output checks. `keys` selects the stream of
    * keys and data the ops draw. Returns the counter delta over the op
    * loop. */
  private def phase(ctx: Ctx, wl: Workload, seconds: Double, ops: Option[Int],
                    keys: Int): (Phase, Map[String, Long]) = {
    val ph = new Phase
    val r = new Rng(ctx.args.seed * 0x9E3779B97F4A7C15L + 17 + keys)
    ctx.probe.drain()
    val before = ctx.probe.snapshot()
    val t0 = System.nanoTime()
    var i = 0
    def more = ops.fold((System.nanoTime() - t0) / 1e9 < seconds || i % wl.cycle != 0)(i < _)
    while (more) {
      ctx.probe.beginOp(i)
      val s = System.nanoTime()
      ph.attempted += 1
      try ctx.probe.span("bench", "op")(wl.op(ctx, ph, i, r))
      catch { case e: Exception => ph.fail(s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      ph.opWall += (System.nanoTime() - s) / 1e6
      if (ctx.probe.tracing) ctx.probe.drain()
      i += 1
    }
    ph.wallMs = (System.nanoTime() - t0) / 1e6
    ctx.probe.drain()
    val delta = Probe.delta(before, ctx.probe.snapshot())
    ctx.probe.beginOp(-1)
    wl.verify(ctx, ph)
    (ph, delta)
  }

  /** Retained heap after a forced full collection. */
  private def heapLiveMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory() - rt.freeMemory()) / 1e6
  }
}
