package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge frames. The repo's other graph op —
  * connected components for dedup clustering — lives in
  * [[Dedup.connectedComponents]]; this object holds the rank/centrality
  * side.
  */
object Graph {

  /** PageRank by power iteration, simple form: uniform init = 1 over ALL
    * nodes (sources ∪ destinations), per-node teleport `1-damping`, no
    * dangling-mass redistribution (a node with no out-edges contributes
    * nothing; its own rank is still computed). Works on arbitrary
    * directed edge sets — a node with no in-edges holds the bare teleport
    * value and keeps feeding its out-edges every iteration. Returns
    * (node, pr) for every node of the graph.
    *
    * Determinism contract (what makes an iterative double algorithm
    * oracle-checkable at all): each node's incoming contributions are
    * summed by an in-order fold over the SORTED contribution list — same
    * trick as the LM scorer — so the result is independent of partitioning
    * and row arrival order, and any engine reproducing the formula
    * reproduces the doubles bit-for-bit. The teleport constant is computed
    * as `1.0 - damping` in IEEE doubles; mirror exactly that expression in
    * an oracle (not a rounded literal — `1 - 0.85` is NOT the double
    * nearest 0.15).
    *
    * It runs its jobs eagerly, when called (like the IVF index build
    * and connected components), not when the returned frame is read; it
    * has no SQL face. The edge/degree/node
    * frames are checkpointed once ([[Checkpoints.truncate]] — reliable
    * when the session has a checkpoint dir, executor-local otherwise) —
    * truncating whatever expensive lineage produced the edges (e.g. pair
    * mining) so no step re-runs it and the per-iteration plan stays
    * constant-size — and each iteration's rank frame checkpoints and
    * releases its predecessor's CACHED blocks (in reliable-checkpoint
    * mode the predecessor's files stay on the checkpoint filesystem for
    * the ContextCleaner — see [[Checkpoints]] on file lifetime).
    * All build frames are unpersisted before returning; the returned
    * frame owns only its own checkpoint blocks. Per iteration: one
    * equi-join of edges to ranks (shuffle on source) and one hash
    * aggregate on destination — there is NO per-iteration join back to
    * the node list: a zero contribution per node rides the aggregate's
    * union instead (same shuffle), which keeps in-edge-less nodes present
    * at strictly lower cost. Bit-identical to the joined formulation:
    * 0.0 sorts first in the sorted fold and `0.0 + x == x` exactly in
    * IEEE doubles (all contributions are positive), so every partial sum
    * is unchanged.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "pageRank requires at least one iteration")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .transform(Checkpoints.truncate)
    val deg = e.groupBy(col("__s")).agg(count(lit(1)).as("__dg"))
      .transform(Checkpoints.truncate)
    val nodes = e.select(col("__s").as("__v"))
      .union(e.select(col("__d").as("__v"))).distinct()
      .transform(Checkpoints.truncate)
    val withDeg = e.join(deg, "__s")
    val zeroContrib = nodes.select(col("__v").as("__d"), lit(0.0).as("__c"))
    var pr = nodes.select(col("__v"), lit(1.0).as("__pr"))
      .transform(Checkpoints.truncate)
    for (_ <- 1 to iters) {
      val next = withDeg.join(pr, col("__s") === col("__v"))
        .select(col("__d"), (col("__pr") / col("__dg")).as("__c"))
        .unionByName(zeroContrib)
        .groupBy(col("__d"))
        .agg((lit(1.0 - damping) + lit(damping) *
          Folds.sortedSum(col("__c"))).as("__pr"))
        .select(col("__d").as("__v"), col("__pr"))
        .transform(Checkpoints.truncate)
      Checkpoints.release(pr) // actually frees the checkpoint blocks
      pr = next
    }
    Checkpoints.release(e)
    Checkpoints.release(deg)
    Checkpoints.release(nodes)
    pr.select(col("__v").as("node"), col("__pr").as("pr"))
  }
}
