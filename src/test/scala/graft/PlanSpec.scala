package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.{Final, Partial, WindowGroupLimitExec}
import graft.index.InvertedIndex
import graft.rank.BM25

/** Physical-plan invariants — the 100 TB design assertions (SURVEY.md §7.4
  * "100 TB design notes"). These lock in what .explain review established:
  * pushdown reaches the scan, small sides broadcast, top-k never global-sorts,
  * nothing falls back to a cartesian product.
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = QuerySurface.plan(dir, name)

  test("the queries that plan a window without PARTITION BY are pinned by name") {
    // such a window moves its whole input to one task; this list is the
    // surface's as it stands, so a new unpartitioned window fails here
    // (global ranks, running totals and whole-input shares)
    val pinned = Set("bm25_rrf_hybrid", "curate_apportion_budget",
      "curate_quality_curve", "ev_growth_accounting", "ev_hourly_anomaly",
      "ev_rfm_segments", "rel_skew_deciles", "rel_skyline", "sim_ndcg_eval",
      "text_classifier_auc", "text_percentile_calib", "text_textrank")
    val found = SparkEntry.queries.keys.toSeq.sorted
      .map(n => n -> QuerySurface.unpartitionedWindows(dir, n)).filter(_._2.nonEmpty)
    assert(found.map(_._1).toSet == pinned,
      found.map { case (n, w) => s"$n: ${w.mkString("; ")}" }.mkString("\n"))
  }

  test("filter+projection push into the parquet scan") {
    val p = plan("rel_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    // pruned read schema: 5 columns, never the full 11-column lineitem
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double,l_shipdate"))
  }

  test("global top-k plans as TakeOrderedAndProject, not sort+limit") {
    assert(plan("rel_topk").contains("TakeOrderedAndProject"))
    assert(plan("sim_cosine_topk").contains("TakeOrderedAndProject"))
    assert(plan("bm25_search").contains("TakeOrderedAndProject"))
  }

  test("dimension joins broadcast; no cartesian products anywhere") {
    val p = plan("rel_local_supplier_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    SparkEntry.queries.keys.foreach { name =>
      assert(!plan(name).contains("CartesianProduct"), s"$name has a cartesian")
    }
  }

  test("no UDFs anywhere: every declared query stays native/codegen") {
    // the "functions, not UDFs" rule as a hard invariant — custom logic is
    // either a built-in or a registered codegen Expression; the ONLY
    // object-space operator is the documented multimodal decode stub
    // (mapPartitions), which is not a UDF and is allowed to appear
    SparkEntry.queries.keys.foreach { name =>
      val p = plan(name)
      assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
        s"$name plans a UDF")
    }
  }

  test("aggregations are partial+final (map-side combine before shuffle)") {
    val p = plan("rel_pricing_summary")
    assert(p.contains("partial_sum"))
    assert(p.contains("HashAggregate"))
  }

  test("embedding near-dup pair generation is bucketed, never nested-loop") {
    // the round-2 defect was a BroadcastNestedLoopJoin over n^2/2 pairs as
    // the declared query; the banded generator must plan pure equi-joins
    val p = plan("dedup_embedding_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "banded LSH pair generation planned a nested-loop join")
  }

  test("IVF cell assignment is a shuffle-free fold: no Window in the plan") {
    // round-2 review: assignment via crossJoin + row_number shuffled
    // n×nCells rows for a per-row argmax. The fold form must plan with no
    // Window node at all (the probe is a TakeOrderedAndProject).
    val p = plan("sim_ann_ivf")
    assert(!p.contains("Window"), "sim_ann_ivf plans a Window exchange")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("BM25 query-term restriction is a broadcast join, not a driver loop") {
    val p = plan("bm25_search")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
  }

  test("global sort is range-partitioned, never a single-node sort") {
    val p = plan("rel_global_sort")
    assert(p.contains("rangepartitioning"),
      "total-order sort must sample range bounds and sort partitions independently")
    assert(!p.contains("CollectLimit"))
  }

  test("correlated EXISTS decorrelates to one semi-join, not a per-row probe") {
    val p = plan("rel_exists_subquery")
    assert(p.contains("LeftSemi"))
    assert(!p.contains("InSubquery") && !p.contains("exists#"),
      "EXISTS survived as an undecorrelated subquery")
  }

  test("typed UDAF aggregates partial+final like a built-in") {
    // the Chan-merge design only pays off if executors pre-fold locally:
    // pin the partial_ stage so a plan change can't silently shuffle rows
    val p = plan("rel_welford_stats")
    assert(p.contains("partial_momentsaggregator"))
    assert(p.contains("ObjectHashAggregate"))
  }

  test("edit-distance near-dup pairs join on the block key, never all-pairs") {
    val p = plan("dedup_edit_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // both the hot-block anti-join and the pair self-join are equi-joins
    assert(p.contains("LeftAnti"))
  }

  test("batch ANN joins the corpus once on bucket with a broadcast query side") {
    val p = plan("sim_ann_multi")
    assert(p.contains("BroadcastHashJoin"))
    // the corpus side must not shuffle for the join; the only hash
    // exchange is the per-query top-k window over the small candidate set
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("kmeans step assigns cells without a Window or per-row shuffle") {
    val p = plan("sim_kmeans_step")
    assert(!p.contains("Window"))
    // one exchange for the per-cell aggregate, one for the output sort
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("Q17 broadcasts the brand dim and never probes per row") {
    val p = plan("rel_small_qty_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("Q19's OR-of-ANDs pushes each side's disjunction to its scan") {
    // the whole predicate spans both tables, but Catalyst must still
    // derive and push the single-side unions: quantity ranges prune the
    // lineitem scan, brand/size clauses prune the part scan — the join
    // only sees rows that could satisfy SOME clause
    val p = plan("rel_disjunctive_join")
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), " +
      "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"), p)
    assert(p.contains("Or(Or(And(EqualTo(p_brand"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("Q20's window re-exchange moves only reduced per-(part,supp) rows") {
    // raw lineitems shuffle once (map-side combined on the composite
    // key); the per-part window total then re-exchanges the already
    // reduced frame on l_partkey — never the raw scan
    val p = plan("rel_excess_share")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin")) // part prefix dim + nation supplier dim
    // exactly three hash exchanges: composite-key agg (map-side combined),
    // partkey window over reduced rows, suppkey distinct — a fourth would
    // mean raw lineitems started crossing a second time
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 3, p)
  }

  test("windowed top-m limits each key partially before its exchange") {
    // skew safety of the per-key top-m: a hot key's rows are cut to m in
    // every map task, so the exchange on the window key carries <= m rows
    // per (task, key). A planner change that drops the partial limit
    // would ship a stopword's whole posting list to one task.
    val docs = table(spark, dir, "documents")
    val frames = Seq(
      "spellSuggest" -> BM25.spellSuggest(spark, docs, "spark joinn"),
      "searchPrefix" -> BM25.searchPrefix(spark, docs, "sp jo"),
      "championListsFromTf" ->
        InvertedIndex.championListsFromTf(InvertedIndex.termFrequency(docs), 10))
    frames.foreach { case (name, df) =>
      assert(df.collect().nonEmpty, name)
      val plan = df.queryExecution.executedPlan
      val finals = collect(plan) {
        case w: WindowGroupLimitExec if w.mode == Final => w }
      assert(finals.size == 1, s"$name: final limits $finals\n$plan")
      val limit = finals.head
      // the nearest exchange below the final limit hashes the window key,
      // and below it sits the partial limit on the same key
      val ex = find(limit.child)(_.isInstanceOf[ShuffleExchangeLike])
        .map(_.asInstanceOf[ShuffleExchangeLike])
      assert(ex.exists(_.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.map(_.canonicalized) ==
            limit.partitionSpec.map(_.canonicalized)
        case _ => false
      }), s"$name: no hash exchange on the window key below the final limit\n$plan")
      assert(find(ex.get.child) {
        case w: WindowGroupLimitExec => w.mode == Partial &&
          w.partitionSpec.map(_.canonicalized) ==
            limit.partitionSpec.map(_.canonicalized)
        case _ => false
      }.nonEmpty, s"$name: no partial limit below the exchange\n$plan")
    }
  }

  test("sim_sparse_topk computes its pair aggregate once: the mirror reuses its exchange") {
    // dots = half ∪ mirror(half): the mirrored branch must read the
    // pair aggregate's shuffle, not explode and shuffle the pairs again
    val df = SparkEntry.queries("sim_sparse_topk")(spark, dir)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan
    // the pair aggregate's exchange: fed by a partial sum over the four
    // pair keys (doc_id, neighbor_id, na, nb)
    def pairKeyed(s: ShuffleExchangeLike): Boolean = (s.child match {
      case w: WholeStageCodegenExec => w.child
      case c => c
    }) match {
      case a: HashAggregateExec => a.groupingExpressions.size == 4 &&
        a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[Sum])
      case _ => false
    }
    val pairShuffles = collect(plan) { case s: ShuffleExchangeLike if pairKeyed(s) => s }
    assert(pairShuffles.size == 1, s"pair-aggregate exchanges ${pairShuffles.size}\n$plan")
    val reused = collect(plan) {
      case r: ReusedExchangeExec if (r.child match {
        case s: ShuffleExchangeLike => pairKeyed(s)
        case _ => false
      }) => r
    }
    assert(reused.size == 1, s"the mirror does not reuse the pair exchange\n$plan")
  }
}
