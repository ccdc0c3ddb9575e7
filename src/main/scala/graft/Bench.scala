package graft

import java.nio.file.{Files, Paths}

/** Benchmark main (driver contract): runs the headline query suite on
  * `SPARK_GRAFT_SF_DIR` at `local[N]` and prints exactly one COMPACT
  * JSON line `{"metric":…, "value":…, "unit":"sec", "queries":{name:
  * sec,…}, "min":{…}, "sf":…}` as the FINAL stdout line. The full
  * record (plus per-pass `samples` and `spread`) is written to
  * `SPARK_GRAFT_BENCH_OUT` (default `bench_last.json` in the working
  * directory) — stdout stays small because the driver captures only a
  * bounded tail of it.
  *
  * Timing protocol: one untimed warm-up pass of the whole suite (JIT +
  * codegen + parquet footer caches), then `SPARK_GRAFT_BENCH_PASSES`
  * (default 3) timed passes in stable name order; the reported
  * per-query number is the median across passes — single-pass timing
  * measured up to 12× run-to-run variance (GC pauses on a large heap).
  * The JSON also carries per-query `min`, `spread` (max−min) and the
  * raw per-pass `samples`, so a contended-host run is self-diagnosing
  * (median 85 s with spread 170 s over 3 passes = ≥2 contended passes;
  * the min is the honest number — the r03 driver bench hit exactly
  * this).
  * Queries are materialized through `queryExecution.toRdd.foreach`:
  * a bare `count()` lets Catalyst prune aggregate/projection
  * expressions and final sorts, under-timing map/agg-heavy queries.
  *
  * `SPARK_GRAFT_BENCH_ALL=1` benches every registered query instead of
  * the headline set; `SPARK_GRAFT_BENCH_COLD=1` skips the warm-up.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    val spark = GraftSession.get()
    val suite =
      (if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")) Registry.all
       else Registry.headline).sortBy(_.name)

    def runOnce(q: GraftQuery): Double = {
      val t0 = System.nanoTime()
      // full materialization: every expression, sort and limit executes
      try { q.run(spark, sfDir).queryExecution.toRdd.foreach(_ => ()) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    if (!sys.env.get("SPARK_GRAFT_BENCH_COLD").contains("1"))
      suite.foreach(runOnce)

    // q103's per-query seconds below are SERVE latency — its
    // cachedIndex build runs once in the warm-up pass and is reused by
    // every timed pass, exactly as a production index is built once
    // and served many times. The one-time build cost is measured
    // explicitly here (a cold build into a throwaway dir) and reported
    // as its own field so neither number hides inside the other.
    val bm25BuildSec = {
      val idx = Files.createTempDirectory("bench_bm25").toString
      val t0 = System.nanoTime()
      try graft.etl.SearchIndex.build(
        graft.sources.Tables.load(spark, sfDir, "documents"),
        "doc_id", "text", idx)
      finally org.apache.hadoop.fs.FileUtil
        .fullyDelete(new java.io.File(idx)): Unit
      (System.nanoTime() - t0) / 1e9
    }

    // pass-by-pass over the whole suite (not query-by-query) so one
    // query's GC debt doesn't land on its own later repetitions
    val samples: Seq[Seq[Double]] = (1 to passes).map(_ => suite.map(runOnce))
    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0)
      if (ok.isEmpty) -1.0
      else {
        val s = ok.sorted
        s((s.length - 1) / 2)
      }
    }
    val results = suite.map(_.name).zipWithIndex.map { case (n, i) =>
      n -> median(samples.map(_(i)))
    }
    // max-min across passes: run-to-run variance per query, so a noisy
    // median is visible in the recorded baseline
    val spreads = suite.map(_.name).zipWithIndex.map { case (n, i) =>
      val ok = samples.map(_(i)).filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.max - ok.min)
    }
    // per-query min: on a contended host the min is the honest number
    // (a 3-pass median with a huge spread means ≥2 contended passes);
    // raw per-pass samples make any contention self-diagnosing
    val mins = suite.map(_.name).zipWithIndex.map { case (n, i) =>
      val ok = samples.map(_(i)).filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    val perPass = suite.map(_.name).zipWithIndex.map { case (n, i) =>
      n -> samples.map(_(i))
    }

    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jmapArr(kvs: Seq[(String, Seq[Double])]): String =
      kvs.map { case (k, vs) => "\"" + k + "\":" + vs.mkString("[", ",", "]") }
        .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalMin = mins.map(_._2).filter(_ >= 0).sum
    // full record (per-pass samples + spread) goes to the file; stdout
    // gets a COMPACT line (medians + mins only). Round 5 proved the
    // driver captures a bounded tail of stdout: the samples blob pushed
    // the line's opening brace out of the capture window and the parse
    // came back null. The compact line fits any reasonable tail; the
    // samples stay available in the committed bench_last.json.
    // scaling-contract echo (r17, VERDICT r16 #2): the LIVE session's
    // core count and shuffle partitioning, read back from the running
    // SparkContext/conf — not from the env — so the record proves the
    // env was honored, not merely requested
    val cpusLive = spark.sparkContext.defaultParallelism
    // a number when the live value parses as one, else a quoted string
    // — a non-numeric conf value must never make the record unparseable
    val shufRaw = spark.conf.get("spark.sql.shuffle.partitions")
    val shufLive = shufRaw.trim.toLongOption.fold(Verify.jsonStr(shufRaw))(_.toString)
    val scaleEcho =
      s""""cpus":$cpusLive,"shuffle_partitions":$shufLive,"master":"${spark.sparkContext.master}""""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","total_min":$totalMin,"bm25_build_sec":$bm25BuildSec,$scaleEcho,"queries":${jmap(results)},"min":${jmap(mins)},"spread":${jmap(spreads)},"samples":${jmapArr(perPass)},"sf":"$sfDir"}"""
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","total_min":$totalMin,"bm25_build_sec":$bm25BuildSec,$scaleEcho,"queries":${jmap(results)},"min":${jmap(mins)},"sf":"$sfDir"}"""
    try Files.writeString(Paths.get(outPath), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
    // final stdout line, after spark.stop() so no stray executor logs
    // can land below it
    println(compact)
  }
}
