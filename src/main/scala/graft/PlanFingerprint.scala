package graft

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Stable structural fingerprints of a query's physical plan, for
  * plan-level regression gating.
  *
  * Wall-clock on a shared VM is noise-dominated (BASELINE.md records the
  * same trivial plan reading 0.3 s and 5.4 s across identical runs), so
  * performance regressions are gated on the PLAN, not the clock: a
  * changed fingerprint is an explicit, diffable event — "this query's
  * join strategy / pushed filters / shuffle structure changed" — where a
  * timing delta is a guess.
  *
  * Why a STRUCTURAL signature and not a hash of the plan string: two
  * runs of the same code can produce semantically identical plans that
  * differ textually — the optimizer assigns ids (RewriteDistinctAggregates
  * group ids, expression ids feeding Set iteration order) from a global
  * counter that background planning threads race on, so multi-distinct
  * aggregates legitimately permute between runs. The signature therefore
  * records only order-insensitive, name-based facts per node:
  *
  *  - scans: source class, output columns (sorted), pushed filters;
  *  - joins: algorithm (broadcast-hash / shuffled-hash / sort-merge /
  *    broadcast-NL), join type, build side;
  *  - exchanges: partitioning kind and key count — every shuffle is
  *    visible, added shuffles fail the gate;
  *  - aggregates: mode and the sorted multiset of function names;
  *  - everything else: node class name.
  *
  * What the signature pins: scan pushdowns and read schemas, join
  * strategies, the shuffle structure, aggregate shapes, Expand arity,
  * native-expression use, and each Project's OUTPUT NAMES — so renaming
  * a column (or changing a literal embedded in an un-aliased generated
  * name) is a visible, intentional snapshot diff, reviewed and
  * regenerated like any other plan change. What it ignores: literal
  * values elsewhere, expression ids, AQE's runtime re-plans (they
  * vary with input size by design — the signature is taken from the
  * statically-planned tree). Plans at different scale factors may still
  * legitimately differ (size statistics drive static broadcast
  * selection), so fingerprints only compare within one (SF, config)
  * environment — [[Bench]] emits hashes per bench run, and
  * PlanFingerprintSpec diffs full signatures against a committed
  * snapshot.
  */
object PlanFingerprint {

  /** One-line structural signature of a physical plan tree (pre-order,
    * children bracketed). Deterministic across JVMs and session history.
    *
    * PERSISTED LINEAGE IS FINGERPRINTED TOO: an InMemoryTableScan embeds
    * the signature of the cached BUILD plan. Several operators persist
    * their expensive stage (the MinHash band table, the LSH signature
    * table, ngramJaccard's pair frame) and return a frame whose executed
    * plan starts at the cache — hashing only the post-cache tail made
    * entirely different pipelines (q19's corpus LSH pass vs q80's
    * incremental index probe) collapse to one signature, hiding
    * regressions in exactly the stages the gate exists to protect.
    * Checkpoint-based lineage (`Scan ExistingRDD` from iterative
    * operators) stays opaque by nature — those builds run eagerly at
    * construction and their cost is visible as build jobs, not as a
    * lazily re-optimizable plan.
    *
    * Custom (graft-native) expressions are part of a node's signature:
    * two one-scan projections over `documents` are DIFFERENT plans when
    * one computes token counts and the other winnowing fingerprints,
    * and swapping a native expression for a slower equivalent must show
    * up as a diff. Likewise Expand carries its projection arity —
    * rollup (n+1 grouping sets) and cube (2^n) are different plans, not
    * both "Expand".
    */
  def structure(plan: SparkPlan): String = {
    val node = plan match {
      case a: AdaptiveSparkPlanExec =>
        return structure(a.inputPlan) // fingerprint the static tree
      case s: FileSourceScanExec =>
        // Attempt tokens in lake file names (v<ver>_<8-hex>_<i>.parquet,
        // r14's race-proof staging) are unique PER RUN by design; a
        // pushed In(file_name, ...) literal would otherwise make the
        // fingerprint nondeterministic. Normalize the token, keep the
        // structure (which version/part files the plan prunes to).
        val pushed = s.metadata.getOrElse("PushedFilters", "[]")
          .replaceAll("""v(\d+)_[0-9a-f]{8}_(\d+)\.parquet""",
            "v$1_<tok>_$2.parquet")
        val cols = s.output.map(_.name).sorted.mkString(",")
        s"ScanParquet(cols=[$cols],pushed=$pushed)"
      case i: InMemoryTableScanExec =>
        s"InMemoryScan[${structure(i.relation.cachedPlan)}]"
      case j: BroadcastHashJoinExec =>
        s"BroadcastHashJoin(${j.joinType},build=${j.buildSide})"
      case j: ShuffledHashJoinExec =>
        s"ShuffledHashJoin(${j.joinType},build=${j.buildSide})"
      case j: SortMergeJoinExec => s"SortMergeJoin(${j.joinType})"
      case j: BroadcastNestedLoopJoinExec =>
        s"BroadcastNLJoin(${j.joinType},build=${j.buildSide})"
      case e: ShuffleExchangeExec =>
        e.outputPartitioning match {
          case h: HashPartitioning => s"Exchange(hash,keys=${h.expressions.length})"
          case r: RangePartitioning => s"Exchange(range,keys=${r.ordering.length})"
          case SinglePartition => "Exchange(single)"
          case other => s"Exchange(${other.getClass.getSimpleName})"
        }
      case _: BroadcastExchangeExec => "BroadcastExchange"
      case e: ExpandExec => s"Expand(n=${e.projections.length})"
      case p: ProjectExec =>
        // output names (sorted — order-insensitive): two projections over
        // the same scan computing DIFFERENT things (token counts vs a
        // language id from one shared native struct) are different
        // queries; names are contract columns or deterministic generated
        // aliases, never exprIds, so this stays JVM-stable
        s"Project(out=[${p.output.map(_.name).sorted.mkString(",")}])"
      case a: BaseAggregateExec =>
        val fns = a.aggregateExpressions.map(_.aggregateFunction.prettyName)
          .sorted.mkString(",")
        val modes = a.aggregateExpressions.map(_.mode.toString).distinct
          .sorted.mkString("+")
        s"${a.nodeName.replaceAll("\\s", "")}(keys=${a.groupingExpressions.length},modes=$modes,fns=[$fns])"
      case other => other.nodeName.replaceAll("\\s", "")
    }
    // engine-native expression classes used anywhere in this node (sorted
    // multiset of distinct names — order-insensitive, id-free); a
    // graft.functions.Param is a literal value, ignored like any other
    val native = plan.expressions.flatMap(_.collect {
      case e if e.getClass.getName.startsWith("graft.") && !e.isInstanceOf[Literal] =>
        e.getClass.getSimpleName
    }).distinct.sorted
    val tagged =
      if (native.isEmpty) node else s"$node{${native.mkString(",")}}"
    val kids = plan.children.map(structure)
    val subs = plan.subqueries.map(structure).sorted // expression order is id-racy
    val inner = kids ++ subs.map(s => s"subq:$s")
    if (inner.isEmpty) tagged else s"$tagged[${inner.mkString(";")}]"
  }

  /** Structural signature of `df`'s statically-planned physical tree.
    * Does NOT execute the frame (construction-time build jobs inside an
    * operator, e.g. iterative label propagation, have already run by the
    * time the caller holds `df`).
    */
  def signature(df: DataFrame): String =
    structure(df.queryExecution.executedPlan)

  /** 16-hex-digit hash of [[signature]] — the compact form Bench emits. */
  def of(df: DataFrame): String = hash(signature(df))

  def hash(sig: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(sig.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  /** Fingerprint every query in `queries` against `sfDir`. Queries whose
    * construction throws map to "error:<class>" so a broken query reads
    * as an explicit diff, never a silent absence.
    *
    * The cache is cleared after EVERY query: several operators persist
    * frames at construction, and the cache manager substitutes matching
    * subtrees of LATER queries with InMemoryTableScan — one persisting
    * query would otherwise flip unrelated later queries' signatures
    * (and Bench, which also clears per query, would disagree).
    */
  def all(spark: org.apache.spark.sql.SparkSession, sfDir: String,
          queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame])
      : Map[String, String] =
    queries.map { case (name, fn) =>
      val sig =
        try signature(fn(spark, sfDir))
        catch { case e: Throwable => s"error:${e.getClass.getSimpleName}" }
      spark.sharedState.cacheManager.clearCache()
      name -> sig
    }
}
