"""Physical-plan regression tests — the scale guarantees, asserted.

A correctness-green query can still be a scale regression (lost broadcast,
lost pushdown, lost partial aggregation).  These tests pin the plan
properties that matter at 100 TB, on the real catalog queries.
"""

import pytest

from pigpen_spark import catalog, catalog_ext  # noqa: F401


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    qs = catalog.queries()

    def get(name: str) -> str:
        df = qs[name](spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    return get


def test_q1_partial_aggregation(plans):
    # map-side combine: two HashAggregates (partial + final) around ONE exchange
    p = plans("q1_groupby_fold")
    assert p.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in p


def test_q1_filter_pushdown(plans):
    p = plans("q1_groupby_fold")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_q1_column_pruning(plans):
    # only the 6 referenced columns reach the scan, not all 11
    p = plans("q1_groupby_fold")
    assert "l_comment" not in p
    assert "l_orderkey" not in p  # unused by q1
    assert "l_quantity" in p


def test_q5_broadcasts_dimensions(plans):
    p = plans("q5_multi_join")
    assert p.count("BroadcastHashJoin") >= 3  # supplier/customer/nation/region sides


def test_q3_broadcast_join(plans):
    assert "BroadcastHashJoin" in plans("q3_join_agg")


def test_semi_join_broadcasts_keys(plans):
    assert "BroadcastHashJoin" in plans("q_semi_filter_by")


def test_sort_take_is_take_ordered(plans):
    # orderBy.limit must compile to TakeOrderedAndProject — never a total sort
    p = plans("q_sort_take")
    assert "TakeOrderedAndProject" in p


def test_map_py_single_arrow_crossing(plans):
    # the fused python chain crosses the Arrow boundary exactly once
    p = plans("q_map_py")
    assert p.count("MapInPandas") == 1


def test_events_window_partial_agg(plans):
    assert plans("q_events_window").count("HashAggregate") >= 2


def test_partitioned_store_prunes_partitions(spark, sf_dir, tmp_path):
    # hive-partitioned store → reads with a partition predicate must show
    # PartitionFilters at the scan (zero I/O for pruned partitions)
    from pigpen_spark.relation import load_parquet

    rel = load_parquet(spark, f"{sf_dir}/orders.parquet")
    rel.store_parquet(str(tmp_path / "part_orders"), partition_by=["o_orderstatus"])
    back = spark.read.parquet(str(tmp_path / "part_orders")).filter("o_orderstatus = 'F'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan


def test_embed_near_dup_is_lsh_blocked(spark, sf_dir):
    # the near-dup component must candidate-generate via the (table,
    # bucket) equi-join — an all-pairs regression shows up as a cartesian
    # or broadcast-nested-loop node
    qs = catalog.queries()
    p = qs["ext_embed_near_dup"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_pq_coding_is_shuffle_free(spark, sf_dir):
    # PQ coding must stay a pure per-row expression: the corpus is never
    # hash-partitioned (the codebook is driver-side literals)
    qs = catalog.queries()
    p = qs["ext_embed_pq"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in p
    assert "SortMergeJoin" not in p


def test_scalar_quantize_no_corpus_shuffle(spark, sf_dir):
    # SQ8's only exchange is the 1-row codebook agg (SinglePartition);
    # the corpus itself must never hash-partition
    qs = catalog.queries()
    p = qs["ext_embed_quantize"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in p


def test_tokenize_pack_vocab_join_broadcasts(spark, sf_dir):
    # the token-id mapping must be a broadcast join — shuffling the
    # exploded token stream on the token key would dwarf everything else
    qs = catalog.queries()
    p = qs["ext_tokenize_pack"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p


def test_semdedup_pairs_are_cell_equi_join(spark, sf_dir):
    # within-cell pairing must be an equi-join keyed on the cell id; the
    # only nested-loop allowed is the broadcast of the tiny centroid table
    qs = catalog.queries()
    p = qs["ext_semdedup"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_no_cartesian_products_anywhere(spark, sf_dir):
    # no catalog query may degrade to a cartesian/broadcast nested loop,
    # except the deliberate all-pairs extensions (brute-force similarity)
    allowed = {"ext_ann_brute", "q_sample"}
    qs = catalog.queries()
    offenders = []
    for name, fn in qs.items():
        if name in allowed:
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == []


def test_heavy_hitters_sketch_is_partial_agg_and_broadcast_probe(spark, sf_dir):
    # the sketch build must partial-aggregate map-side (executor partials
    # ARE local sketches) and the point estimates must probe a BROADCAST
    # sketch — shuffling terms against a shuffled sketch would defeat the
    # mergeable-summary design
    qs = catalog.queries()
    p = qs["ext_heavy_hitters"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert p.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_chunk_overlap_is_shuffle_free(spark, sf_dir):
    # overlapping chunking is a pure per-row HOF + explode: any exchange
    # is a regression
    qs = catalog.queries()
    p = qs["ext_chunk_overlap"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p


def test_near_dup_mp_stays_equi_join(spark, sf_dir):
    # multi-probe blocking must keep the (table, bucket) equi-join shape —
    # the probe explode must not degrade candidate generation to an
    # all-pairs nested loop
    qs = catalog.queries()
    p = qs["ext_embed_near_dup_mp"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_rr_pq_coding_is_shuffle_free(spark, sf_dir):
    # the signed-permutation rotation is a projection; rotated PQ coding
    # must stay per-row like the unrotated form
    qs = catalog.queries()
    p = qs["ext_embed_rr_pq"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in p
    assert "SortMergeJoin" not in p


def test_fuzzy_join_is_variant_equi_join(spark, sf_dir):
    # deletion-neighborhood blocking must surface as an EQUI-join on the
    # exploded variant key — never a nested-loop theta join (the cross
    # product is exactly what the operator exists to avoid)
    qs = catalog.queries()
    p = qs["ext_fuzzy_join"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_strip_markup_is_shuffle_free(spark, sf_dir):
    # regexp chain = pure per-row codegen; any Exchange is a regression
    qs = catalog.queries()
    p = qs["ext_strip_markup"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p


def test_ann_index_search_hashes_query_side_only(spark, sf_dir):
    # the stored-index contract: buckets on the index side come from the
    # index relation itself; serving is the cogrouped per-bucket scoring
    # kernel (similarity._cogroup_scored) — never a nested loop, and
    # both cogroup sides arrive via the AQE-exempt REPARTITION_BY_NUM pin
    qs = catalog.queries()
    p = qs["ext_ann_index_search"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "FlatMapCoGroupsInPandas" in p
    assert p.count("REPARTITION_BY_NUM") >= 2


def test_token_budget_has_no_single_partition_exchange(spark, sf_dir):
    # the operator's reason to exist: global ordered cumsum WITHOUT the
    # one-partition window (range repartition + per-partition offsets)
    qs = catalog.queries()
    p = qs["ext_token_budget"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in p
    assert "Window" in p  # the per-partition cumsum window remains


def test_boilerplate_ban_set_is_broadcast(spark, sf_dir):
    # corpus reassembly must be a broadcast crossJoin of the ONE-row ban
    # aggregate — the only SinglePartition allowed is that bounded
    # ban-set aggregate itself, and the corpus is never re-exploded
    qs = catalog.queries()
    p = qs["ext_boilerplate"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastExchange") >= 1
    assert p.count("SinglePartition") <= 1
    assert "CartesianProduct" not in p


def test_dedup_keep_best_winners_broadcast_back(spark, sf_dir):
    # cluster labels AND winner list broadcast onto the corpus — the
    # corpus side must not shuffle for either join
    qs = catalog.queries()
    p = qs["ext_dedup_keep_best"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in p
    assert p.count("BroadcastExchange") >= 2


def test_dsir_ratio_join_broadcasts(plans):
    # the 1024-row ratio table must broadcast to the scoring join — a
    # shuffled join here would hash-partition the whole feature stream
    p = plans("ext_dsir")
    assert "BroadcastHashJoin" in p


def test_kmv_global_sketch_is_take_ordered(plans):
    # the k-min must compile to TakeOrdered (distributed partial top-k),
    # never a global Sort + Limit over all distinct hashes
    p = plans("ext_kmv_overlap")
    assert "TakeOrderedAndProject" in p
    assert "GlobalLimit" not in p.replace("TakeOrderedAndProject", "")


def test_kmv_keyed_sketch_uses_window_group_limit(spark, sf_dir):
    from pigpen_spark.functions import sketch as K
    from pyspark.sql import functions as F

    docs = catalog.tables(spark, sf_dir)["documents"].df
    sk = K.kmv_sketch(docs.select("source", "text"), F.col("text"), 16,
                      key=["source"])
    plan = sk._jdf.queryExecution().executedPlan().toString()
    # rank<=k filter must push into the shuffle as WindowGroupLimit so
    # losers drop map-side, not after a full per-key sort
    assert "WindowGroupLimit" in plan


def test_winnow_hub_cut_precedes_self_join(plans):
    # the df<=max_df cut must exist as a count-aggregate + filter UNDER
    # the pair join (at sf0.01 AQE broadcasts the small sides; at scale
    # the same tree runs as a shuffled join — the cut's position is what
    # bounds the worst key at df²)
    p = plans("ext_winnow_overlap")
    assert "__df" in p and "<= 50" in p
    assert "CartesianProduct" not in p


def test_pagerank_edges_partitioned_once(plans):
    # rank iterations re-join edges on src; the edge side is MATERIALIZED
    # once — since r11 as an eager localCheckpoint (ExistingRDD), which
    # both stops per-iteration recompute and truncates the 2k-line
    # analyzed plan the persisted form still inlined per iteration — and
    # no CartesianProduct ever
    p = plans("ext_pagerank")
    assert "ExistingRDD" in p or "InMemoryTableScan" in p
    assert "CartesianProduct" not in p


def test_unigram_pack_no_global_window_over_tokens(plans):
    # the pack offsets are per-shard windows — a window without a
    # partition key over the TOKEN STREAM would funnel everything
    # through one task.  (The one legal global window ranks the
    # vocabulary — |distinct pieces| rows, identified by its token
    # ordering key.)
    p = plans("ext_unigram_pack")
    assert "Window" in p
    import re
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", p):
        spec = m.group(1)
        assert "__shard" in spec or "token#" in spec


def test_pii_profile_is_one_aggregate_pass(plans):
    # 12 counters, ONE corpus scan: a single partial/final aggregate
    # pair over the derived columns — no per-pattern scans, no joins
    p = plans("ext_pii_profile")
    assert p.count("Scan ") == 1
    assert "Join" not in p


def test_ann_index_update_hashes_delta_separately(plans):
    # append = union of the stored index and the delta batch: both
    # sides are scans + projections, NO join and NO aggregate — the
    # maintenance path must not touch corpus-wide state
    p = plans("ext_ann_index_update")
    assert "Union" in p
    assert "Join" not in p and "HashAggregate" not in p


def test_audio_profile_auto_single_python_crossing(plans):
    # fused synth->dispatch->profile: exactly one Arrow boundary
    p = plans("ext_audio_profile_auto")
    assert p.count("MapInPandas") == 1


def test_kcore_rounds_are_semi_joins(plans):
    # every peel filters the edge list with LeftSemi joins keyed on the
    # node id — no inner-join pair blowups, no cartesian.  Since r11 each
    # round is frozen by an eager localCheckpoint (the final plan reads
    # ExistingRDD; the 8-round lazy form compounded to a 14.6k-line
    # plan), so the semi-join shape is pinned on the PRE-checkpoint
    # plans, captured through a localCheckpoint spy.
    # patch the CLASSIC class: pyspark 4 instances override the base
    # pyspark.sql.DataFrame's localCheckpoint
    from pyspark.sql.classic.dataframe import DataFrame

    captured: list[str] = []
    orig = DataFrame.localCheckpoint

    def spy(self, *a, **kw):
        captured.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self, *a, **kw)

    DataFrame.localCheckpoint = spy
    try:
        p = plans("ext_kcore")
    finally:
        DataFrame.localCheckpoint = orig
    rounds = [c for c in captured if "LeftSemi" in c]
    assert rounds, "no peel round built LeftSemi joins"
    allp = p + "".join(captured)
    assert "ExistingRDD" in p
    assert "CartesianProduct" not in allp
    assert "BroadcastNestedLoopJoin" not in allp


def test_margin_mine_auto_is_bucket_equi_join(plans):
    # the production margin-mining path: candidates via bucket equi-join
    # (never a cartesian), one groupBy for the rank-ordered rest fold
    p = plans("ext_margin_mine_auto")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "HashAggregate" in p


def test_wordpiece_encode_single_python_crossing(plans):
    # the greedy encoder is ONE Arrow mapInPandas over the doc scan —
    # no shuffle, no second Python boundary
    p = plans("ext_wordpiece_encode")
    assert p.count("MapInPandas") == 1
    assert "Exchange" not in p


def test_hits_equi_joins_only(plans):
    # each level's normalization total arrives with the level's own
    # materialization job (an Observation), so no total is broadcast
    # into a nested-loop join; the score tables join the edge list as
    # hash/merge equi-joins, never a cartesian
    p = plans("ext_hits")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_lsh_candidate_scoring_parallelism_pinned(plans):
    # the 100x-run catch: AQE must NOT coalesce the bucket-join stage
    # (tiny shuffle input, exploding join output) — the explicit
    # repartition-by-num shows as REPARTITION_BY_NUM in the plan
    p = plans("ext_margin_mine_auto")
    assert "REPARTITION_BY_NUM" in p
