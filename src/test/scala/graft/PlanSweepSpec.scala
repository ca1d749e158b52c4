package graft

import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/**
 * Automated plan-shape sweep over EVERY `SparkEntry.queries` entry: the
 * two scale-killers a 100 TB run cannot survive must not appear in any
 * served plan —
 *
 *  - an UNPARTITIONED window (one sort partition swallows the whole
 *    input), and
 *  - a SINGLE-PARTITION shuffle whose input is not already reduced: a
 *    `SinglePartition` exchange fed by a map-side PARTIAL aggregate (or a
 *    grouping-free global aggregate) carries at most one row per input
 *    partition — scale-safe by construction — while the same exchange
 *    over raw rows funnels the corpus through one task.
 *
 * Exemptions are EXPLICIT, per query, each with the documented gate that
 * bounds it (the `StoreBuild` u-rank window over the per-item stats
 * table, which the same plan broadcasts).
 *
 * AQE is disabled for the sweep so the prepared physical tree (with its
 * exchanges materialized) is walkable; the adaptive runtime only ever
 * REDUCES these shapes (it cannot introduce a window or a single-
 * partition exchange the static plan lacks).
 */
class PlanSweepSpec extends SparkSpec {

  private val SfDir = "/root/testdata/sf0.001"

  /** query → the documented construct that explains its flagged shapes AT
    * THIS FIXTURE SCALE. Every exempted query routes through the
    * `StoreBuild` closed-form build, whose u-rank is a deliberate
    * unpartitioned row_number (plus the single-partition exchange feeding
    * it) over the per-item stats table — a table the same plan
    * broadcasts, so its size class is already bounded (`StoreBuild.scala`
    * states the ceiling). */
  private val exemptions: Map[String, String] = Map(
    "q08_store_pipeline" -> "StoreBuild u-rank (sampled store pipeline)",
    "q13_db_stats" -> "StoreBuild u-rank (behind the sampled store stats)",
    "q14_moments" -> "StoreBuild u-rank (vectorMoments closed form)",
    "q38_store_all_items" -> "StoreBuild u-rank (all-items build)",
    // q46 routes through the same build but its RETURNED plan is the
    // parquet read-back of the written store — nothing to exempt there
    "q57_incremental_store" -> "StoreBuild u-rank (fed from the stats snapshot)",
    // q177 runs the SAME build twice (base store write + touched-only
    // refresh); its untouched branch is a parquet read-back + anti-join —
    // the exempted shapes all come from the two build passes
    "q177_store_refresh_touched" -> "StoreBuild u-rank (base build + touched refresh)",
    // The histogram-cumulative family: each flagged window (and the
    // single-partition exchange feeding it) runs over an aggregate whose
    // GROUPING KEY DOMAIN is a compile-time constant — ≤ bins/tiers rows
    // at any corpus size (the key is least(greatest(floor(score·B),0),B−1)
    // ∈ [0,B)) — so the shape is bounded BY CONSTRUCTION, not by a data
    // assumption; the corpus-sized exchanges in the same plans partition
    // on source/label as required
    "q219_score_calibration" -> "cumulative CDF over the ≤200-row score histogram (bounded key domain)",
    "q220_pareto_frontier" -> "suffix-max over the ≤100-row tier table (bounded key domain)",
    "q222_precision_gate" -> "descending cumulative over the ≤100-row bin histogram (bounded key domain)",
    // q230 runs strataRunningSum with ONE (constant) stratum: Catalyst
    // constant-folds the stratum out of the bucket-OFFSET window's
    // partition spec, leaving an unpartitioned window + single-partition
    // exchange over the bucket-sum table — ≤ 256·|strata| rows BY
    // CONSTRUCTION (the top-8-bit range bucketing), at any corpus size;
    // the corpus-sized window in the same plan stays partitioned by
    // bucket (256-way parallel), spec-gated in PipelineExtrasSpec
    "q230_heaps_fit" -> "two-phase running-sum bucket-offset window (≤ 256·|strata|-row table by construction)"
  )

  private def unwrapped(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => unwrapped(w.child)
    case i: InputAdapter => unwrapped(i.child)
    case pr: ProjectExec => unwrapped(pr.child)
    case other => other
  }

  /** A SinglePartition exchange is scale-safe iff what it shuffles is
    * already reduced: a partial-mode or grouping-free aggregate emits at
    * most one row per upstream partition. */
  private def reducedInput(p: SparkPlan): Boolean = unwrapped(p) match {
    case a: BaseAggregateExec =>
      a.groupingExpressions.isEmpty ||
        a.aggregateExpressions.forall(_.mode ==
          org.apache.spark.sql.catalyst.expressions.aggregate.Partial)
    case _ => false
  }

  /** Offending shapes in `plan`, INCLUDING inside cached subplans — the
    * engine's `cacheOnce` wraps shared subtrees in InMemoryRelations, and
    * a sweep over the outer tree alone would miss a window a query hides
    * behind a cache another query materialized. */
  private def offenders(plan: SparkPlan): Seq[String] = {
    val here = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        "unpartitioned Window"
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        "unpartitioned WindowGroupLimit"
      case e: ShuffleExchangeExec
        if e.outputPartitioning == SinglePartition && !reducedInput(e.child) =>
        s"single-partition Exchange over ${unwrapped(e.child).nodeName}"
      // A non-broadcast cartesian pairs two UNBOUNDED sides — the one
      // join shape with no scale story at all. (BroadcastNestedLoopJoin
      // is NOT flagged: it only plans when one side fits the broadcast
      // bound, which is exactly the documented bounded-panel pattern.)
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        "CartesianProduct (both sides unbounded)"
    }
    val nested = plan.collect {
      case imr: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        offenders(imr.relation.cachedPlan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        offenders(a.executedPlan)
    }.flatten
    here ++ nested
  }

  test("registry: every oracle names a query of its pack, and no query name is in two packs") {
    // `SparkEntry.queries` merges the packs with `toMap`, which would
    // silently keep only the last of two equal names
    for (pack <- SparkEntry.packs) {
      val orphans = pack.oracleSql.keySet -- pack.queries.keySet
      assert(orphans.isEmpty, s"${pack.getClass.getSimpleName}: oracle without a query: $orphans")
    }
    val twice = SparkEntry.packs.flatMap(_.queries.keys)
      .groupBy(identity).collect { case (name, seen) if seen.size > 1 => name }
    assert(twice.isEmpty, s"query names registered by two packs: $twice")
    SparkEntry.queries.size shouldBe SparkEntry.packs.map(_.queries.size).sum
  }

  test("no query plans an unpartitioned window or an unreduced single-partition exchange") {
    val saved = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val bad = scala.collection.mutable.ArrayBuffer.empty[String]
      val exemptionsHit = scala.collection.mutable.Set.empty[String]
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
        val found = offenders(fn(spark, SfDir).queryExecution.executedPlan)
        if (found.nonEmpty) {
          if (exemptions.contains(name)) exemptionsHit += name
          else bad ++= found.map(f => s"$name: $f")
        }
      }
      assert(bad.isEmpty, s"scale-killer plan shapes:\n  ${bad.mkString("\n  ")}")
      // every exemption must still be needed — a stale entry would mask a
      // future regression on that query
      val stale = exemptions.keySet -- exemptionsHit
      assert(stale.isEmpty, s"stale exemptions (plan no longer needs them): $stale")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }
}
