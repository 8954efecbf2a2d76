"""Physical-plan assertions: the optimizations we rely on at 100 TB must
actually appear in the plan — filters pushed to parquet, dimension joins
broadcast, global top-k as TakeOrderedAndProject, codegen in the hot path."""

from __future__ import annotations

import tectonic_spark.operators as ops
from tectonic_spark.plans import explain_str, physical_plan


def build(spark, sf_dir, name: str):
    return ops.REGISTRY[name].builder(spark, sf_dir)


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    plan = explain_str(build(spark, sf_dir, "b02_filter_pushdown"))
    assert "PushedFilters: [" in plan
    assert "PushedFilters: []" not in plan


def test_column_pruning(spark, sf_dir):
    plan = explain_str(build(spark, sf_dir, "b01_project_compute"))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "l_shipdate" not in read_schema[0]


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = physical_plan(build(spark, sf_dir, "b03_join_star"))
    assert "BroadcastHashJoin" in plan


def test_q02_dims_broadcast_no_smj(spark, sf_dir):
    """Q2-shape: supplier/nation/region/part all broadcast; the only
    shuffles are the ps aggregation and the per-partkey window min."""
    plan = physical_plan(build(spark, sf_dir, "q02_min_cost_supplier"))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q11_total_is_broadcast_not_cartesian(spark, sf_dir):
    """Q11-shape: the global-total scalar joins in as a broadcast 1-row
    crossJoin (BroadcastNestedLoopJoin), never a CartesianProduct."""
    plan = physical_plan(build(spark, sf_dir, "q11_important_stock"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = physical_plan(build(spark, sf_dir, "b08_topk"))
    assert "TakeOrderedAndProject" in plan


def test_agg_is_partial_then_final(spark, sf_dir):
    plan = physical_plan(build(spark, sf_dir, "b05_pricing_summary"))
    assert plan.count("HashAggregate") >= 2


def test_codegen_in_hot_path(spark, sf_dir):
    # Pre-execution AQE hides codegen subtrees; disable it for the check.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = explain_str(build(spark, sf_dir, "b05_pricing_summary"), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in plan
    assert "Found 0 WholeStageCodegen" not in plan


def test_range_join_is_hash_not_nested_loop(spark, sf_dir):
    # the equi key must carry the join; BETWEEN is a residual — a nested
    # loop or cartesian here would be quadratic at scale
    plan = physical_plan(build(spark, sf_dir, "b04_range_join"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q05_six_way_join_broadcasts_dims(spark, sf_dir):
    plan = physical_plan(build(spark, sf_dir, "q05_local_supplier_volume"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_minhash_sketch_has_no_explode_shuffle(spark, sf_dir):
    # sketching runs on array kernels inside the partition; the only
    # exchanges left are the repartition spread + LSH band join + verify
    plan = physical_plan(build(spark, sf_dir, "c01_minhash_lsh"))
    assert "explode(shingles" not in plan  # sketch never explodes shingles
    assert "array_min" in plan  # min over transform, inside the partition


def test_embedding_neardup_is_banded_not_allpairs(spark, sf_dir):
    # candidate generation joins on (band_idx, band_val) — a hash shuffle.
    # The round-1 all-pairs vec_a < vec_b cartesian is the O(n²) shape that
    # dies at 100 TB; it must never come back.
    plan = physical_plan(build(spark, sf_dir, "c01_embedding_neardup"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_neardup_late_dedup_emits_unique_pairs(spark, sf_dir):
    """r14: at sparse-bucket settings (bits >= 8) the pair dedup runs
    AFTER the similarity filter; a pair colliding in several bands must
    still appear exactly once in the output."""
    from pyspark.sql import functions as F

    from tectonic_spark.operators.dedup import embedding_neardup_df

    out = embedding_neardup_df(spark, sf_dir, n_bits=8, sketch="pandas")
    dup = out.groupBy("vec_a", "vec_b").count().filter(F.col("count") > 1)
    assert dup.isEmpty()


def test_triangle_closure_probe_key_is_packed_long(spark, sf_dir):
    """r14: the closing-edge join must probe on the single packed BIGINT
    (a*2^32 + c — LongHashedRelation fast path), never on the two-column
    (a, c) key whose generic hashed-relation probe dominated the query
    (12-15 s vs 2.4-3.1 s for the sf1 closure)."""
    df = build(spark, sf_dir, "c06_triangle_count")
    plan = physical_plan(df)
    assert "4294967296" in plan  # the packing multiplier
    # the old composite condition printed as ((a#… = a2#…) AND (c#… = c2#…))
    assert "a2#" not in plan and "c2#" not in plan

    def nodes(node):
        yield node
        if node.nodeName() == "AdaptiveSparkPlan":
            yield from nodes(node.executedPlan())
            return
        children = node.children()
        for i in range(children.size()):
            yield from nodes(children.apply(i))

    def keys(seq):
        return [seq.apply(i) for i in range(seq.size())]

    joins = [
        n
        for n in nodes(df._jdf.queryExecution().executedPlan())
        if n.nodeName() in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")
        and any(k.toString().startswith("ac#") for k in keys(n.leftKeys()))
    ]
    assert len(joins) == 1, [j.toString() for j in joins]
    for side in (joins[0].leftKeys(), joins[0].rightKeys()):
        (key,) = keys(side)
        assert key.dataType().typeName() == "long"


def test_q07_broadcasts_all_dims(spark, sf_dir):
    # supplier + both nation roles broadcast; the only hash exchange is the
    # final group-by — lineitem never shuffles for the joins
    plan = physical_plan(build(spark, sf_dir, "q07_volume_shipping"))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_q18_semi_join_broadcasts(spark, sf_dir):
    plan = physical_plan(build(spark, sf_dir, "q18_large_volume_customer"))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrdered" in plan  # top-100, never a global sort
    assert "CartesianProduct" not in plan


def test_exact_dedup_single_exchange(spark, sf_dir):
    plan = physical_plan(build(spark, sf_dir, "c01_dedup_exact"))
    # partial agg -> single hash exchange -> final agg
    assert plan.count("Exchange hashpartitioning") == 1


def test_partitioned_write_enables_partition_pruning(spark, sf_dir, tmp_path):
    # the a07 sink layout (partitionBy lang) must let a lang filter prune
    # entire directories: the scan's PartitionFilters carry the predicate
    from tectonic_spark.tables import table

    out = str(tmp_path / "docs_by_lang")
    table(spark, sf_dir, "documents").write.partitionBy("lang").mode(
        "overwrite"
    ).parquet(out)
    df = spark.read.parquet(out).filter("lang = 'en'").select("doc_id")
    plan = explain_str(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "lang" in pf[0]


def test_q08_two_nation_roles_broadcast(spark, sf_dir):
    # part/customer/nation(x2)/region/supplier all broadcast; facts
    # (lineitem, orders) meet in ONE shuffle join on orderkey at most
    plan = physical_plan(build(spark, sf_dir, "q08_market_share"))
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan


def test_q09_composite_self_join_shuffles_once(spark, sf_dir):
    # lineitem joins its own (partkey, suppkey) aggregate: both sides
    # hash-shuffle on the composite key; dims broadcast, no cartesian
    plan = physical_plan(build(spark, sf_dir, "q09_product_type_profit"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_q13_outer_join_keeps_condition_inside(spark, sf_dir):
    plan = physical_plan(build(spark, sf_dir, "q13_customer_distribution"))
    assert "CartesianProduct" not in plan
    # the priority exclusion must NOT filter customer rows (outer side)
    assert "LeftOuter" in plan or "BroadcastHashJoin" in plan


def test_q15_max_is_broadcast_scalar(spark, sf_dir):
    plan = physical_plan(build(spark, sf_dir, "q15_top_supplier"))
    assert "CartesianProduct" not in plan
    # the 1-row max either stays a broadcast nested loop or (better)
    # Catalyst rewrites crossJoin+equality-filter into a broadcast HASH
    # join keyed on the normalized double — assert it broadcast either way
    assert "BroadcastNestedLoopJoin" in plan or plan.count("BroadcastHashJoin") >= 2


def test_q17_decorrelated_avg_joins_on_partkey(spark, sf_dir):
    plan = physical_plan(build(spark, sf_dir, "q17_small_quantity_revenue"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q22_anti_join_not_nested_loop(spark, sf_dir):
    plan = physical_plan(build(spark, sf_dir, "q22_global_sales_opportunity"))
    assert "CartesianProduct" not in plan
    # NOT EXISTS must be a hash anti join (shuffle or broadcast), and the
    # scalar avg a broadcast nested loop — both may appear; the anti join
    # itself must not be the nested-loop one
    assert "LeftAnti, BuildRight" in plan or "LeftAnti" in plan


def test_c04_repetition_no_shuffle(spark, sf_dir):
    """Repetition signals are a pure per-row computation (r13: an Arrow
    kernel): no HASH exchange may appear. The only Exchange allowed is
    tables.spread_small_scan's keyless round-robin fan-out, which exists
    only when the local scan has fewer splits than cores (a no-op at real
    scale)."""
    plan = physical_plan(build(spark, sf_dir, "c04_repetition"))
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1  # at most the local fan-out
    assert "MapInPandas" in plan  # the per-row kernel


def test_c04_packing_windows_partitioned(spark, sf_dir):
    """Three-level exclusive scan: every window over data-proportional
    cardinality must be PARTITIONED by a real key (parallel). The
    superbucket prefix — which consumes the doubly aggregated relation of
    N/1024² rows (its aggregate is over ``sbn``) — runs on one partition
    via the constant ``bounded_key`` spec (non-foldable, so WindowExec
    never emits its no-partition warning and a REAL unbounded-window
    regression stands out; registry.bounded_key)."""
    plan = physical_plan(build(spark, sf_dir, "c04_sequence_packing"))
    windows = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    assert len(windows) == 3, plan
    # every spec prints partition cols BEFORE the sort col:
    #   windowspecdefinition(bucket#8L, doc_id#0L ASC ...;
    # a NO-partition spec would start directly with the sort col:
    #   windowspecdefinition(sb#33L ASC ...
    unpartitioned = [
        ln
        for ln in windows
        if "ASC" in ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
    ]
    assert not unpartitioned, windows
    # the superbucket prefix rides the bounded_key projection (_wN = sb&0)
    sbn = [ln for ln in windows if "sum(sbn" in ln]
    assert len(sbn) == 1 and "_w" in sbn[0].split("windowspecdefinition(", 1)[1].split(",", 1)[0], windows


def test_c04_mixture_sampling_no_shuffle_and_pruned(spark, sf_dir):
    """Hash-filter sampling: no Exchange, and the parquet scan reads only
    (doc_id, source) — not text."""
    plan = physical_plan(build(spark, sf_dir, "c04_mixture_sampling"))
    assert "Exchange" not in plan
    full = explain_str(ops.REGISTRY["c04_mixture_sampling"].builder(spark, sf_dir))
    read_schema = [ln for ln in full.splitlines() if "ReadSchema" in ln]
    assert read_schema and "text" not in read_schema[0]


def test_c04_packing_windows_are_bucket_partitioned(spark, sf_dir):
    """The two-level exclusive scan: the per-document running sum must be
    a window PARTITIONED by bucket (parallel), and the bucket-offset join
    must broadcast. Exactly one window in the plan may be global — the
    tiny N/1024-row bucket-totals prefix sum."""
    plan = physical_plan(build(spark, sf_dir, "c04_sequence_packing"))
    assert "BroadcastHashJoin" in plan
    # the per-doc window partitions by bucket
    import re as _re

    windows = [ln for ln in plan.splitlines() if "Window" in ln and "windowspecdefinition" in ln]
    partitioned = [w for w in windows if "bucket" in w]
    assert partitioned, windows


def test_q16_q20_dims_broadcast(spark, sf_dir):
    """q16/q20 shapes: every join side that is dimension-scale broadcasts;
    no SortMergeJoin, no CartesianProduct."""
    for name in ("q16_parts_supplier_relationship", "q20_potential_part_promotion"):
        plan = physical_plan(build(spark, sf_dir, name))
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name
        assert plan.count("BroadcastHashJoin") >= 2, name


def test_q21_decorrelated_aggregate_plan(spark, sf_dir):
    """q21's correlated EXISTS/NOT-EXISTS probes are decorrelated into
    per-orderkey aggregates (r13): the only fact-fact join left is the
    hinted lineitem⋈orders SMJ on the orderkey shuffle; the old
    lineitem-vs-lineitem LeftAnti probe with its suppkey<> residual is
    gone; both aggregates run map-side partials; supplier broadcasts.
    At sf1 the anti/semi probe plan was broadcast-building fact tables
    on the driver whenever a pruned estimate slipped under the
    threshold (the scale bug the old test named)."""
    plan = physical_plan(build(spark, sf_dir, "q21_suppliers_who_kept_orders_waiting"))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan  # the one fact-fact join, pinned
    assert "LeftAnti" not in plan  # the probe join is decorrelated away
    assert plan.count("BroadcastHashJoin") >= 1  # supplier
    assert "partial_min" in plan or "HashAggregate" in plan  # map-side partials


def test_kmeans_assignment_never_shuffles_corpus(spark, sf_dir):
    """Lloyd assignment is a map-side argmin: no hash exchange may ever
    carry vec_id (the corpus). The only data exchanges are the K x DIM
    centroid-update partials and the K-row centroid regroups — all
    independent of corpus size after partial agg. r13: the interpreted
    ``aggregate`` fold became a vectorized Arrow-batch kernel (same
    arithmetic bit-for-bit, see clustering._assign; only the K x DIM
    centroid matrix crosses the driver between iterations)."""
    plan = physical_plan(build(spark, sf_dir, "c02_kmeans"))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(vec_id" not in plan  # corpus never exchanged
    assert "ArrowEvalPython" in plan  # the vectorized assignment kernel
    assert "aggregate(" not in plan  # the interpreted fold is gone


def test_semantic_dedup_pairs_join_on_cluster_id(spark, sf_dir):
    """SemDeDup's pairwise stage must key on the cluster id (hash shuffle /
    broadcast), never regress to an all-pairs cartesian."""
    plan = physical_plan(build(spark, sf_dir, "c01_semantic_dedup"))
    assert "CartesianProduct" not in plan
    # the only nested-loop joins allowed are the 1-row centroid-array
    # broadcasts (one per self-join side); the pairwise join itself must
    # key on cid
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert ("BroadcastHashJoin [cid" in plan) or ("SortMergeJoin [cid" in plan)


def test_line_dedup_winner_is_partial_agg_not_window(spark, sf_dir):
    """Span-winner selection must be a map-side-combinable aggregation
    (partial_min over struct) with no Window operator and no cartesian —
    a row_number window would serialize each hot boilerplate span onto one
    task with no partial reduction."""
    plan = physical_plan(build(spark, sf_dir, "c01_line_dedup"))
    assert "partial_min" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_nb_langid_model_broadcasts(spark, sf_dir):
    """The NB model joins (class-token counts, class totals, priors,
    vocab scalar) all broadcast — the corpus-sized side never shuffles
    for scoring, only for its own aggregations."""
    plan = physical_plan(build(spark, sf_dir, "c03_nb_langid"))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan  # 1-row scalar cross joins
    assert "CartesianProduct" not in plan


def test_dsir_topk_is_take_ordered(spark, sf_dir):
    """DSIR's global top-K must be TakeOrderedAndProject (per-partition
    heaps), never a global Sort, and the log-ratio table must broadcast."""
    plan = physical_plan(build(spark, sf_dir, "c04_dsir"))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pq_adc_scan_side_is_broadcast_no_shuffle(spark, sf_dir):
    """PQ search: codebook + query tables broadcast; the code-table scan
    side reaches the final Q-bounded window without any join shuffle."""
    plan = physical_plan(build(spark, sf_dir, "c02_pq_adc"))
    assert "BroadcastNestedLoopJoin" in plan  # Q-row broadcast cross join
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_spread_small_scan_is_conditional(spark, sf_dir, tmp_path):
    """VERDICT r5 item 2: the CPU-spread repartition in front of shingling /
    PQ encoding must fire ONLY on under-split scans. On an input that
    already has >= defaultParallelism splits it must be the identity —
    no Exchange of the raw text enters the plan."""
    from tectonic_spark.tables import spread_small_scan, table

    par = spark.sparkContext.defaultParallelism

    # single-split input → spread to full parallelism
    one = table(spark, sf_dir, "documents").select("doc_id", "text").coalesce(1)
    spread = spread_small_scan(one, spark, "doc_id")
    assert spread.rdd.getNumPartitions() == par
    assert "Exchange hashpartitioning" in physical_plan(spread)

    # multi-split input (>= parallelism) → identity, zero Exchange
    path = str(tmp_path / "docs_multisplit")
    table(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        4 * par
    ).write.parquet(path)
    many = spark.read.parquet(path)
    assert many.rdd.getNumPartitions() >= par  # precondition: enough splits
    spread = spread_small_scan(many, spark, "doc_id")
    assert "Exchange" not in physical_plan(spread)


def test_exact_topk_partial_reduction_below_exchange(spark, sf_dir):
    """VERDICT r5 item 7: the exact-search family pre-reduces pairs with a
    map-side bounded top-k (MapInPandas) BEFORE the query_id exchange, so
    the window shuffle carries ~batches*Q*k rows instead of N*Q. The
    partial stage must sit below the Exchange in the plan."""
    for name in ("c02_cosine_topk", "c02_mips_topk", "c02_pq_adc"):
        plan = physical_plan(build(spark, sf_dir, name))
        lines = plan.splitlines()
        map_idx = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
        exch_idx = [
            i for i, ln in enumerate(lines) if "Exchange hashpartitioning(query_id" in ln
        ]
        assert map_idx and exch_idx, name
        # physical plans print root-first: below = larger line index
        assert min(map_idx) > min(exch_idx), (name, plan)


def test_bm25_no_corpus_shuffle(spark, sf_dir):
    """BM25 (r6): tf per query term is a per-row array kernel (no explode
    shuffle), corpus stats broadcast back as ONE scalar row, top-k is
    TakeOrdered — no Exchange ever carries corpus rows (the only
    hashpartitioning exchanges allowed are none; the stats reduce is a
    SinglePartition partial-agg exchange of one row per task)."""
    plan = physical_plan(build(spark, sf_dir, "c03_bm25_retrieval"))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats broadcast
    assert "explode" not in plan
    assert "Exchange hashpartitioning" not in plan
