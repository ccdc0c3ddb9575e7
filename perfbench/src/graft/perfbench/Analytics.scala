package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.GraftQuery

/** The headline query suite over the benchmark's copy of the sf0.01
  * tables, each query fully materialized through `queryExecution.toRdd`,
  * passes in a seeded order. One untimed warm-up pass is set-up. One
  * operation is one query.
  */
object Analytics extends Workload {
  lazy val queries: Seq[GraftQuery] = graft.Registry.headline.sortBy(_.name)
  def names: Seq[String] = queries.map(_.name)

  /** A query's output: ordered row hash and row count. */
  final case class Out(hash: String, rows: Long)

  final case class State(dir: String, pinned: Map[String, (Long, Option[String])],
      outs: ArrayBuffer[(String, Out)])

  /** `name <TAB> rows <TAB> hash`; hash `-` marks a query whose row order
    * is not steady, which is checked by row count alone.
    */
  private def readPinned(ctx: Ctx): Map[String, (Long, Option[String])] = {
    val f = ctx.benchDir.resolve("expected/analytics_sf0.01.tsv")
    Files.readAllLines(f, UTF_8).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, rows, hash) = l.split("\t")
      n -> (rows.toLong, Some(hash).filter(_ != "-"))
    }.toMap
  }

  /** Execute every row of the plan and hash the rows in output order. */
  private def materialize(df: DataFrame): Out = {
    val parts = df.queryExecution.toRdd
      .mapPartitionsWithIndex((i, rows) => Iterator(i -> rows.map(_.hashCode).toArray))
      .collect().sortBy(_._1)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(4)
    parts.foreach(_._2.foreach { h => buf.clear(); md.update(buf.putInt(h).array()) })
    Out(md.digest().take(8).map(b => f"$b%02x").mkString, parts.map(_._2.length.toLong).sum)
  }

  /** Distinct executed file scans, deduplicated by metric accumulator. */
  private def scans(df: DataFrame): Int = {
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children.flatMap(flatten) ++ (p match {
        case q: QueryStageExec => flatten(q.plan)
        case r: ReusedExchangeExec => flatten(r.child)
        case _ => Nil
      }))
    flatten(root).collect { case f: FileSourceScanExec => f.metrics("numOutputRows").id }.distinct.size
  }

  final case class Ran(name: String, s: Double, buildS: Double, execS: Double,
      phasesMs: Map[String, Double], scans: Int)

  private def runOne(ctx: Ctx, st: State, q: GraftQuery, tr: Tracer, group: String): Ran =
    tr.op(s"queries.${q.name}", group) {
      val t0 = System.nanoTime()
      val df = tr.span("queries.build")(q.run(ctx.spark, st.dir))
      val t1 = System.nanoTime()
      tr.span("queries.plan")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      st.outs += q.name -> tr.span("queries.exec")(materialize(df))
      val t3 = System.nanoTime()
      val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      Ran(q.name, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t3 - t2) / 1e9, phases,
        if (tr.on) scans(df) else 0)
    }

  def setup(ctx: Ctx, tr: Tracer): State = {
    val st = State(ctx.benchDir.resolve("data/sf0.01").toString, readPinned(ctx), ArrayBuffer.empty)
    queries.foreach(q => runOne(ctx, st, q, Tracer.Off, ""))
    st
  }

  def window(ctx: Ctx, st: State, tr: Tracer): Window = {
    val ran = ArrayBuffer.empty[Ran]
    var failed = 0L
    var passes = 0
    val t0 = System.nanoTime()
    val end = ctx.deadline()
    // whole passes only, and none that the last one says would overrun:
    // every run then times the same work
    def fits = System.nanoTime() + (System.nanoTime() - t0) / passes <= end
    while (passes == 0 || fits) {
      val r = Rng.of(ctx.seed, 8, passes)
      val order = queries.map(q => (r.nextLong(), q)).sortBy(_._1).map(_._2)
      order.foreach { q =>
        try ran += runOne(ctx, st, q, tr, s"q-${tr.on}-$passes-${q.name}")
        catch { case e: Exception =>
          failed += 1
          System.err.println(s"perfbench: ${q.name} failed: $e")
        }
      }
      passes += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val perQuery = ran.groupBy(_.name).map { case (n, rs) => n -> Stats.median(rs.map(_.s)) }
    val base = Window(ran.size + failed, failed, ran.size / wall,
      Stats.geomean(perQuery.values.toSeq) * 1000)
    tr.jobs.fold(base) { log =>
      tr.settle()
      val agg = log.agg(_.group.startsWith(s"q-true-"))
      def perPass(f: Ran => Double) = ran.map(f).sum / passes
      def phase(k: String) = perPass(_.phasesMs.getOrElse(k, 0.0))
      base.copy(layers = perQuery.map { case (n, s) => s"queries.${n}_s" -> s } ++ Map(
        "queries.build_s" -> perPass(_.buildS),
        "queries.analysis_ms" -> phase("analysis"),
        "queries.optimization_ms" -> phase("optimization"),
        "queries.planning_ms" -> phase("planning"),
        "queries.jobs" -> agg.jobs.toDouble / passes,
        "queries.stages" -> agg.stages.toDouble / passes,
        "queries.tasks" -> agg.tasks.toDouble / passes,
        "queries.exec_s" -> perPass(_.execS),
        "queries.task_s_per_wall_s" -> agg.taskSeconds / ran.map(_.execS).sum,
        "queries.shuffle_write_mb" -> agg.shuffleWriteMb / passes,
        "queries.spill_mb" -> agg.spillMb / passes,
        "queries.scans" -> perPass(_.scans.toDouble),
        "queries.total_s" -> perPass(_.s),
        "queries.geomean_ms" -> base.latencyMs))
    }
  }

  /** Each query's output equals its pinned hash (or, where the row order
    * is not steady, its pinned row count) in the warm-up and every pass.
    */
  def check(ctx: Ctx, st: State): Seq[(String, Boolean)] =
    names.map { n =>
      val outs = st.outs.collect { case (`n`, o) => o }
      val ok = st.pinned.get(n) match {
        case Some((rows, Some(hash))) => outs.forall(o => o.rows == rows && o.hash == hash)
        case Some((rows, None)) => outs.forall(_.rows == rows)
        case None =>
          System.err.println(s"perfbench: no pinned output for $n: " +
            outs.map(o => s"${o.rows}\t${o.hash}").distinct.mkString(" | "))
          false
      }
      s"analytics.$n" -> (outs.nonEmpty && ok)
    }
}
