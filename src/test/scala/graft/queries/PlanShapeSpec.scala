package graft.queries

import graft.util.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the round's new queries — the
  * "would this survive 100×" properties are plan facts, so pin them:
  * a regression that silently re-plans into the wrong shape fails here
  * even while results stay correct.
  */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local("planshape-test", "4")
  val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q28 salted agg: two aggregation levels, salt key only in the first") {
    val p = plan(Relational.q28SkewAgg(spark, sf))
    // partial+final pairs for BOTH groupBys = 4 HashAggregates, and the
    // salt column is confined to the first (pre-combine) pair
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(aggs >= 4, s"expected two-phase x (partial,final) aggs:\n$p")
    assert(p.contains("_salt"), s"salt key missing from the plan:\n$p")
  }

  test("q29 salted join: replicated dim side stays broadcast at dim scale") {
    val p = plan(Relational.q29SkewJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"small replicated dim should broadcast, not shuffle:\n$p")
  }

  test("q30 tumbling window: plain hash agg with map-side partials, no Expand") {
    val p = plan(Relational.q30TumblingWindow(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final hash agg:\n$p")
    assert(!p.contains("Expand"), s"window agg must not expand rows:\n$p")
  }

  test("hard negatives: query side broadcast, single scan of the corpus") {
    val p = plan(Similarity.hardNegatives(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query set must broadcast:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"corpus+query scans only:\n$p")
  }

  /** Unpartitioned windows over UNBOUNDED input — the single-partition
    * funnel that kills a query at 100 TB (round-11 finding: curate_dsir
    * and curate_centrality both ranked the whole corpus through one
    * partition). A global window is legitimate only when its input is
    * structurally bounded: an Aggregate below it (sketch buckets, digit
    * histograms — cardinality fixed by the value domain, not the data)
    * or an explicit Limit (leaderboard frames). Returns the offending
    * window nodes, empty when clean.
    */
  private def globalWindowViolations(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, Window => LWindow}
    df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty &&
          !w.child.exists(n =>
            n.isInstanceOf[Aggregate] || n.isInstanceOf[GlobalLimit]) =>
        w.simpleString(120)
    }
  }

  test("no extension query plans a global window over unbounded input") {
    // round 13: the last curate_/stats_ exception (curate_curriculum's
    // global ntile) is gone. r17 (VERDICT #5): the guard now ALSO
    // covers the relational q* pack — every q* window is key-
    // partitioned or limit-bounded, so the allowlist stays empty.
    // Still excluded: lake_* only, because building their plans here
    // means building every lake fixture inside the unit-test budget;
    // lake windows are key-partitioned and pinned by the lake specs
    // (HistoryFeedSpec, Scd2Spec, ChangeFeedSpec).
    val allow = Set.empty[String]
    val names = graft.SparkEntry.queries.keys
      .filterNot(n => n.startsWith("lake_"))
      .filterNot(allow).toSeq.sorted
    val bad = names.flatMap { n =>
      globalWindowViolations(graft.SparkEntry.queries(n)(spark, sf))
        .map(v => s"$n: $v")
    }
    assert(bad.isEmpty,
      s"single-partition window funnels found:\n${bad.mkString("\n")}")
  }

  test("no gated query plans a cartesian product (non-broadcast cross join)") {
    // round 14: dedup_cosine_pairs' all-pairs crossJoin was the last
    // one — it now routes through the IVF candidate path, so the guard
    // holds with an EMPTY allowlist over EVERY query family.
    // BroadcastNestedLoopJoin is acceptable (one side is a bounded
    // broadcast: scalar totals, centroid tables, query rows);
    // CartesianProductExec shuffles |L|×|R| and dies at scale.
    val allow = Set.empty[String]
    val names = graft.SparkEntry.queries.keys.filterNot(allow).toSeq.sorted
    val bad = names.filter { n =>
      graft.SparkEntry.queries(n)(spark, sf)
        .queryExecution.executedPlan.toString.contains("CartesianProduct")
    }
    assert(bad.isEmpty,
      s"cartesian products found in: ${bad.mkString(", ")}")
  }

  test("lm score: count tables reduce before the scoring join (no raw-row join)") {
    val p = plan(TextAnalysis.lmScoreFor(Relational.t(spark, sf, "documents")))
    // the c2 count join input must be an aggregate, and the broadcast
    // total is a 1-row cross product, not a shuffle
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }
}
