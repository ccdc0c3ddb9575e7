package graft

import org.apache.spark.sql.SparkSession

/** The one session factory, with the engine's scale-oriented defaults.
  *
  * Every session the engine runs under is built here: `Verify` (the
  * oracle dump), `Bench`, `ScaleBench`, the test suites (`SparkSpec`)
  * and perfbench. So the oracle gate and the tests
  * check the same configuration and extensions that the benchmarks time.
  * A caller varies only the core count.
  *
  * Local runs use `local[N]`; on a real cluster the same configs apply —
  * AQE handles runtime re-planning (coalescing post-shuffle partitions,
  * skew-join splitting), and the broadcast threshold keeps dimension
  * tables (region/nation/supplier/part at TPC-H-ish scale) out of
  * shuffles entirely.
  */
object GraftSession {
  private def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(cpus: String = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // Spark 4.1's union-partitioning propagation
      // (spark.sql.unionOutputPartitioning) claims the FIRST child's
      // HashPartitioning (numPartitions=N) for a union that actually
      // CONCATENATES children (2N partitions): a downstream
      // co-partitioned join then zips unequal RDDs ("Can't zip RDDs
      // with unequal numbers of partitions", reproduced by chaining
      // CdcMerge.applyBatch — BulkBodySpec pins the regression) or,
      // worse, a per-key window could crown two winners. Disabled:
      // unions report UnknownPartitioning and consumers exchange
      // properly, the pre-4.1 semantics.
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def get(cpus: String = defaultCpus): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
