package graft

/** Plan-regression gate: every query's physical plan is linted for the
  * scale-killers this project has already hunted down once —
  * SortAggregate creeping back in via a struct aggregation buffer,
  * unintended cartesian products, and non-broadcast nested-loop joins.
  * A query may appear in an allowlist ONLY with the reason its
  * occurrence is intentional.
  */
class PlanLintSpec extends SparkSpec {

  // intentional occurrences, with why
  private val sortAggAllowed = Set(
    "api_stream",          // one-row-per-key harness tail (max_by struct on
    "api_stream_commands", //   tiny post-stream output, judged harmless)
    "api_inv_stream",      //   same harness tail, second model (A11)
    "stream_fold", "stream_ewma", "es_live_store",
    "table_stats",  // min/max(string) buffers are immutable ⇒ sort-agg
                    //   by engine design; it runs over the bounded
                    //   value GRID (ndv rows), never the corpus —
                    //   Round13Spec caps it at the two string branches
    "table_stats_refresh", // same string min/max on the merged grid
                           //   (bounded rows), never the corpus
    "table_stats_refresh_events") // the second ANALYZE table (R34):
                           //   identical merged-grid shape — the sort-agg
                           //   runs over the bounded (column, value) grid
                           //   (event_type + the ~100-value props), never
                           //   the corpus
  private val bnljAllowed = Set(
    "ann_ivf",      // corpus × k-centroid broadcast (intentional, tiny side)
    "ann_ivfpq",    // same k-centroid broadcast feeding the composed index
    "cosine_topk",  // brute-force baseline: corpus × 5 broadcast queries
    "ann_two_tier", // tier-1 scoring: corpus × 5 broadcast queries (the
                    //   cosine_topk shape, scored in 16 projected lanes)
    "ann_two_tier_recall", // composes cosine_topk (truth) + ann_two_tier —
                           //   inherits exactly their allowlisted broadcasts
    "ann_lsh_two_tier_recall", // composes cosine_topk (truth) + the
                           //   bucket-pruned S18 — ONLY the truth side
                           //   nests (S18 itself joins equi on bucket)
    "knn_recall",   // S13 eval: exact truth = corpus × the broadcast
                    //   md5-sampled query set (the S1 shape); the graph
                    //   under test stays bucket-joined
    "ann_recall",   // composes cosine_topk (ground truth) + ann_ivf —
                    //   inherits exactly their allowlisted broadcasts
    "ann_probe_sweep", // the same composition per probe level — the
                       //   k-centroid broadcast ×3 probe settings
    "ann_lsh",      // queries broadcast against bucket-partitioned corpus
    "dedup_embedding", // truth-set style candidate re-attach, broadcast side
    "mm_embed_ann",
    "corpus_cluster",  // corpus × k-centroid broadcast (ann_ivf's shape)
    "vocab_bpe_merge", // vocab × the 1-ROW winning-merge broadcast: the
                       //   constant join key folds away and a 1-row
                       //   nested loop IS the optimal attach
    "signal_supervision") // fired signals × 3-row registration table:
                          //   non-equi regex join, broadcast side tiny

  test("no SortAggregate / cartesian / stray nested-loop join in any query plan") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // stream_* entries run whole Structured-Streaming queries inside
      // fn — skipped for runtime cost; every OTHER entry is linted, and
      // each allowlist exempts ONLY its own check
      if (!name.startsWith("stream_")) {
        val plan =
          try fn(spark, sf).queryExecution.executedPlan.toString
          catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
        if (plan.contains("SortAggregate") && !sortAggAllowed.contains(name))
          offenders += s"$name: SortAggregate"
        if (plan.contains("CartesianProduct"))
          offenders += s"$name: CartesianProduct"
        if (plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed.contains(name))
          offenders += s"$name: BroadcastNestedLoopJoin"
      }
    }
    assert(offenders.isEmpty, s"plan lint failures:\n${offenders.mkString("\n")}")
  }

  test("full-outer joins of pre-aggregated sides stay sort-free") {
    // the E19 shape: both inputs come out of hash-aggs already
    // partitioned by the join key, so SortMergeJoin would add two sorts
    // for no robustness gain — these must plan as ShuffledHashJoin
    for (name <- Seq("outer_join", "es_changelog")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        s"$name should plan its full-outer join sort-free:\n$plan")
      assert(plan.contains("ShuffledHashJoin"), s"$name lost its hash join")
    }
  }
}
