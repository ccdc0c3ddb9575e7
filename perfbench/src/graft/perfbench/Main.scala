package graft.perfbench

import java.nio.file.{Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its seed and a private
  * scratch directory inside the benchmark's checkout.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    cpus: Int, work: Path, benchDir: Path) {
  private val n = new AtomicInteger()

  /** A fresh, not yet existing path under the run's scratch directory. */
  def dir(name: String): Path = work.resolve(s"$name-${n.incrementAndGet()}")

  def deadline(): Long = System.nanoTime() + (seconds * 1e9).toLong
}

/** What one timed window produced: operations attempted and failed,
  * throughput, the typical latency of the workload's unit of work, and,
  * when traced, the per-layer metrics.
  */
final case class Window(ops: Long, failed: Long, opsPerS: Double,
    latencyMs: Double, layers: Map[String, Double] = Map.empty)

/** One workload: set-up (timed as `setup_s`; traced in a traced run), a
  * timed window that can run traced or untraced, and correctness checks
  * outside both.
  */
trait Workload {
  type State
  def setup(ctx: Ctx, tr: Tracer): State
  def window(ctx: Ctx, st: State, tr: Tracer): Window
  def check(ctx: Ctx, st: State): Seq[(String, Boolean)]
}

object Main {
  val Workloads: Map[String, Workload] = Map(
    "serve" -> Serve, "analytics" -> Analytics)

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    SelfTest.run()
    if (args.contains("--selftest")) { println("selftest ok"); return }
    val name = arg(args, "workload")
    val w = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val work = Paths.get(arg(args, "work")).toAbsolutePath
    val benchDir = Paths.get(arg(args, "bench-dir")).toAbsolutePath
    // median latency_ms of this checkout's untraced runs of the workload
    val baseline = Some(args.indexOf("--baseline-latency-ms")).filter(_ >= 0)
      .map(i => args(i + 1).toDouble)

    val before = Host.read()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder(cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = Ctx(spark, seed, seconds, cpus, work, benchDir)

    // a traced run traces set-up and its one window; an untraced run
    // attaches no listener and sets no job groups
    val tr = if (traced) new Tracer(spark, on = true) else Tracer.Off
    val t0 = System.nanoTime()
    val st = w.setup(ctx, tr)
    val setupS = (System.nanoTime() - t0) / 1e9
    val window = try w.window(ctx, st, tr) finally tr.close()
    if (traced) Tracer.write(tr, Paths.get(arg(args, "trace-out")))
    val checks = w.check(ctx, st)
    val after = Host.read()

    // the live session's shape, read back rather than assumed
    val echo = Json.obj(
      "workload" -> Json.Str(name), "seed" -> Json.Whole(seed),
      "cpus" -> Json.Whole(spark.sparkContext.defaultParallelism.toLong),
      "shuffle_partitions" -> Json.Str(spark.conf.get("spark.sql.shuffle.partitions")),
      "master" -> Json.Str(spark.sparkContext.master),
      "loadavg_1m_before" -> Json.Num(before.loadavg1m),
      "loadavg_1m_after" -> Json.Num(after.loadavg1m),
      "canary_ms_before" -> Json.Num(before.canaryMs),
      "canary_ms_after" -> Json.Num(after.canaryMs),
      "cpu_steal_pct" -> Json.Num(Host.stealPct(before, after)),
      "checks" -> Json.Obj(checks.map { case (c, ok) => c -> Json.Bool(ok) }))
    val gcS = Host.gcSeconds()
    val heapMb = Host.peakHeapMb()
    spark.stop()

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", window.opsPerS, "1/s"),
        ("latency_ms", window.latencyMs, "ms"))
      else {
        // tracing overhead: this run's latency against the untraced runs'
        val overhead = baseline.fold(0.0)(b => (window.latencyMs / b - 1) * 100)
        if (baseline.isEmpty)
          System.err.println("perfbench: no untraced run recorded; trace.overhead_pct is 0")
        val measured = window.layers ++ Map(
          "jvm.gc_s" -> gcS, "jvm.peak_heap_mb" -> heapMb,
          "host.loadavg_1m" -> math.max(before.loadavg1m, after.loadavg1m),
          "host.canary_ms" -> math.max(before.canaryMs, after.canaryMs),
          "trace.latency_ms" -> window.latencyMs, "trace.overhead_pct" -> overhead)
        val unknown = measured.keySet -- Layers.names.map(_._1)
        require(unknown.isEmpty, s"per-layer metrics not declared: $unknown")
        Layers.names.map { case (n, unit) => (n, measured.getOrElse(n, 0.0), unit) }
      }
    println(Json.render(Json.obj("host" -> echo)))
    println(Json.render(Json.obj(
      "correct" -> Json.Bool(checks.nonEmpty && checks.forall(_._2)),
      "attempted" -> Json.Whole(window.ops),
      "failed" -> Json.Whole(window.failed),
      "metrics" -> Json.Obj(metrics.map { case (n, v, unit) =>
        n -> Json.obj("value" -> Json.Num(v), "unit" -> Json.Str(unit))
      }))))
  }
}
