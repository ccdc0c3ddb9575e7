package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over near-duplicate pairs — the step that
  * turns pairwise dedup output into an actionable keep-list (one
  * canonical representative per cluster, everything else dropped).
  *
  * Min-label propagation with the pointer jump folded into the push:
  * every node starts labeled with min(its own id, its neighbors' ids)
  * — the first identity-start push, folded into the init pass; each
  * round then pushes labels across the graph edges PLUS the current
  * label edges (label(X) → X) PLUS a self edge, and keeps the minimum.
  * The label edges are the pointer jump — X receives label(label(X))
  * in the same round that pushes neighbor labels — so remaining chain
  * depth still halves per
  * round (O(log diameter) convergence), and any fixed point of the
  * push is the true component labeling (at a fixed point labels are
  * constant across each edge, and every label is a component-member
  * id, hence the component min). Non-convergence at `maxIter` throws
  * rather than returning wrong representatives.
  *
  * The loop runs on the RDD API with one fixed `HashPartitioner` — the
  * deliberate exception to this engine's declare-everything rule, for
  * the same reason GraphX is RDD-based: an iterative algorithm re-plans
  * and re-shuffles under Catalyst every round (per-round optimizer +
  * AQE stage latency dominated wall time ~10× at bench scale), while a
  * fixed partitioner makes the edge join NARROW every round (edges and
  * labels stay co-partitioned by key; only the jump re-key and the
  * min-combine move data, both with map-side combining). Lineage grows
  * linearly (a DAG, not the exponential self-join tree of the
  * DataFrame form), so `maxIter ≤ 20` rounds need no checkpointing;
  * per-round frames persist MEMORY_AND_DISK and unpersist as soon as
  * their successor is materialized.
  */
object DedupClusters {

  /** (id, rep) for every node appearing in `pairs`; `rep` is the
    * minimum id in the node's component. One Spark job per round: the
    * convergence count materializes the round's labels through a
    * narrow co-partitioned join against the previous labels.
    */
  def components(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val pr = pairs
      .select(col(aCol).cast("long"), col(bCol).cast("long"))
      .as[(Long, Long)].rdd
    val part = new HashPartitioner(math.max(pr.getNumPartitions, 1))
    val e = pr.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // keys are co-located after partitionBy, so per-partition min is
    // global min — the SEED is the result of one identity-start push,
    // min(id, neighbors), computed narrowly with no join (r17 opt: the
    // r16 round-1 jump skip generalized — round 1's entire push+reduce
    // collapses into the init pass, one fewer shuffle+join round per
    // components() call; a fixed point of the push stays a fixed point
    // whatever round it is reached in)
    var labels = e.mapPartitions({ it =>
      val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      it.foreach { case (k, dst) =>
        val v = java.lang.Long.valueOf(math.min(k, dst))
        val cur = m.get(k)
        if (cur == null || v.longValue < cur.longValue) m.put(k, v)
      }
      import scala.jdk.CollectionConverters._
      m.entrySet().iterator().asScala
        .map(en => (en.getKey.longValue, en.getValue.longValue))
    }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // neighbor push: NARROW — e and labels share `part`
      val push = e.join(labels)
        .map { case (_, (dst, sl)) => (dst, sl) }
      // pointer jump: label(X) → X edges keyed by the label; the only
      // per-round re-key shuffle (the labels side stays narrow)
      val jump = labels.map { case (id, l) => (l, id) }
        .join(labels)
        .map { case (_, (id, ll)) => (id, ll) }
      val contrib = push.union(jump).union(labels)
      // self keeps the own label; min-combine runs map-side
      val next = contrib
        .reduceByKey(part, math.min(_: Long, _: Long))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // convergence: narrow join (both sides on `part`), one job that
      // also materializes `next`
      val changed = next.join(labels)
        .filter { case (_, (n, o)) => n != o }
        .count()
      labels.unpersist(false)
      labels = next
      converged = changed == 0L
      i += 1
    }
    e.unpersist(false)
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds — raise maxIter")
    labels.toDF("id", "rep")
  }

  /** Cluster assignment with component sizes: (doc_id, rep_id, csize),
    * one row per clustered document. Sizes via a window over the
    * component key — one shuffle, not a groupBy plus a join back.
    */
  def assignments(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    components(pairs, aCol, bCol)
      .withColumn("csize",
        count(lit(1)).over(Window.partitionBy(col("rep"))))
      .select(col("id").as("doc_id"), col("rep").as("rep_id"), col("csize"))
}
