"""Physical-plan shape assertions — the 100 TB design contract.

Correctness says the answer is right; these tests pin the *plan* so a
future edit can't silently regress scale behavior: broadcasts stay
broadcasts, pushed filters stay pushed, rewritten joins stay joins-free,
and nothing ever degenerates into a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _q(name):
    from fotmobdatapipeline_spark.plans.catalog import QUERIES, _load_all

    _load_all()
    return QUERIES[name].builder


def test_flagship_joins_are_broadcast(spark):
    """Dim tables are far below the broadcast threshold; the fact-side
    join must be a BroadcastHashJoin, never a shuffle join."""
    df = _q("flagship_revenue_topk")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_and_projection_reach_the_scan(spark):
    """Predicate pushdown + column pruning must reach the parquet reader:
    the scan advertises PushedFilters and reads only needed columns."""
    df = _q("filter_pushdown_scan")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    # Not the degenerate empty list.
    assert "PushedFilters: []" not in plan


def test_range_band_join_has_no_join(spark):
    """The uniform-band range join is rewritten to arithmetic banding —
    the physical plan must contain no join operator at all."""
    df = _q("join_range_banded")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "Join" not in plan, plan


def test_interval_join_is_equi_not_nested_loop(spark):
    """The time-bounded self-join must run as a hash/sort-merge equi-join
    on (user, bucket); a nested loop or cartesian product means the
    bucketing rewrite regressed."""
    df = _q("events_interval_join")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_ivf_never_cartesian(spark):
    """IVF probes an equi-joined cell; only the tiny centroid broadcast
    may be a nested loop. A CartesianProduct anywhere is a regression to
    brute force."""
    df = _q("sim_ivf_topk")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_hash_sample_is_map_side_only(spark):
    """Content-hash sampling adds no shuffle: the only Exchange in the
    aggregate query is the groupBy's own."""
    df = _q("sample_hash_agg")(spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("Exchange") <= 2  # partial/final agg pair at most
    assert "Join" not in plan


def test_salted_join_spreads_keys(spark):
    """The salted join must join on the composite (key, salt) so a hot
    key hashes to n_salts different partitions."""
    from fotmobdatapipeline_spark.operators.joins import salted_join
    from fotmobdatapipeline_spark.sources.registry import read_table

    li = read_table(spark, SF_ORACLE, "lineitem")
    orders = read_table(spark, SF_ORACLE, "orders").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    joined = salted_join(
        li, orders, "l_orderkey", probe_salt=F.col("l_linenumber") % 8, n_salts=8
    )
    assert "__salt" in _optimized(joined), "join key must include the salt"
    assert "__salt" not in joined.columns, "salt must not leak into the result"


def test_dedup_scan_prunes_columns(spark):
    """Exact dedup on `text` must not drag the other document columns
    through the shuffle — ReadSchema is pruned to what the query needs."""
    df = _q("dedup_exact")(spark, SF_ORACLE)
    plan = _plan(df)
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "source" not in scan and "lang" not in scan, scan


def test_minhash_has_map_side_partial_agg(spark):
    """MinHash signatures must use the partial/final HashAggregate pair —
    map-side combine is what shrinks the shuffle to one row per
    (doc, partition) at corpus scale."""
    df = _q("dedup_minhash_signatures")(spark, SF_ORACLE)
    plan = _plan(df)
    # String MINs use SortAggregate; the partial/final pair is what matters.
    assert plan.count("Aggregate(") >= 2
    assert "partial_min" in plan, plan[:2000]


def test_vocab_encode_has_no_global_window(spark):
    """The vocab build must never rank ALL distinct words through a
    partition-less window (single-partition sort at corpus scale); the
    top-K is a distributed TakeOrderedAndProject and only the K survivors
    are ranked.  The encode plan therefore contains no Window at all and
    joins the vocab by broadcast."""
    df = _q("text_vocab_encode")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan


def test_forecast_scan_is_joinless_and_pushed(spark):
    """Q6 shape is pure scan: no join operator, every predicate pushed,
    ReadSchema pruned to exactly the four columns the query touches."""
    df = _q("forecast_revenue_change")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "Join" not in plan
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"):
        assert col in scan, scan
    assert "l_orderkey" not in scan and "l_returnflag" not in scan, scan


def test_lateral_topk_decorrelates(spark):
    """The LATERAL correlated subquery must decorrelate into a ranked
    window join — never a per-outer-row nested loop or cartesian."""
    df = _q("lateral_topk_per_nation")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cms_build_shuffle_is_bounded(spark):
    """The count-min sketch build must carry the partial/final aggregate
    pair (map-side combine bounds the shuffle at depth*width rows per
    task) and probe via broadcast, never a shuffle join."""
    df = _q("cms_heavy_hitters")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_merge_upsert_prunes_untouched_partitions(spark, tmp_path):
    """The MERGE's target read must carry a partition filter — cost is
    O(touched partitions), never a full-table scan."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.sources.registry import read_table

    path = str(tmp_path / "t")
    orders = read_table(spark, SF_ORACLE, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    orders.write.partitionBy("order_month").parquet(path)
    target = spark.read.parquet(path).filter(F.col("order_month") == "1995-03")
    scan = _plan(target.groupBy().count())
    assert "PartitionFilters" in scan
    assert "1995-03" in scan


def test_dynamic_partition_pruning_on_fact_scan(spark, tmp_path):
    """At warehouse scale the fact table is partitioned and dim filters
    must prune fact PARTITIONS at runtime (DPP): joining a
    partition-keyed fact to a filtered dim must inject a dynamicpruning
    subquery into the fact scan instead of reading every partition."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.sources.registry import read_table

    path = str(tmp_path / "fact_part")
    orders = read_table(spark, SF_ORACLE, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    orders.write.partitionBy("order_month").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .filter(F.col("order_month") < "1995-06")
        .select("order_month")
        .distinct()
    )
    j = fact.join(dim.hint("broadcast"), "order_month").groupBy(
        "o_orderpriority"
    ).count()
    optimized = j._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in optimized.lower(), optimized[:2000]


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """At cluster scale, a selective filter on one shuffle-join side
    injects a bloom-filter semi-filter into the fact scan (rows that
    can't join die before the exchange).  Size thresholds keep it off
    for our tiny local data, so pin the behavior with thresholds
    overridden: the optimized plan must contain the bloom_filter_agg /
    might_contain pair."""
    from fotmobdatapipeline_spark.sources.registry import read_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = read_table(spark, SF_ORACLE, "lineitem")
        orders = read_table(spark, SF_ORACLE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _optimized(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def test_nested_struct_schema_pruning(spark, tmp_path):
    """The reference's S4/S5 surface is nested-struct navigation; at
    scale the scan must read ONLY the selected leaf fields
    (spark.sql.optimizer.nestedSchemaPruning, on by default).  Selecting
    general.homeTeam.name from a wide nested file must leave the shots
    array and every other leaf out of ReadSchema."""
    import json

    from pyspark.sql import functions as F

    payload = {
        "general": {
            "homeTeam": {"name": "A", "id": 1},
            "awayTeam": {"name": "B", "id": 2},
        },
        "content": {"shotmap": {"shots": [{"x": 1.0, "xG": 0.3}] * 5}},
    }
    src = str(tmp_path / "nested.jsonl")
    with open(src, "w") as fh:
        for _ in range(20):
            fh.write(json.dumps(payload) + "\n")
    out = str(tmp_path / "nested_parquet")
    spark.read.json(src).write.parquet(out)

    df = spark.read.parquet(out).select(
        F.col("general.homeTeam.name").alias("home_name")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schema, plan
    s = scan_schema[0]
    assert "homeTeam" in s and "name" in s
    assert "shots" not in s and "awayTeam" not in s and "id" not in s, s


def test_snapshot_diff_is_single_join_with_pushed_filters(spark):
    """The CDC diff must be exactly one join on the key, and the snapshot
    mod-filters must reach the parquet scans as pushed predicates — at
    scale this is the difference between diffing two scans and
    materializing either snapshot."""
    df = _q("cdc_snapshot_diff")(spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + plan.count(
        "ShuffledHashJoin"
    ) == 1, plan
    assert "FullOuter" in plan, plan
    assert "PushedFilters: [IsNotNull(o_orderkey)]" in plan or "PushedFilters: [" in plan


def test_winsorized_bounds_join_is_broadcast(spark):
    """The per-group clip bounds are 3 rows; shipping them back must be a
    broadcast join, never a shuffle of the full fact side."""
    df = _q("agg_winsorized")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_prefix_join_never_cartesian(spark):
    """The prefix-filtered Jaccard join must stay a posting-list pipeline
    plus equi-joins — no cartesian product or nested-loop join anywhere,
    no matter how Catalyst rewrites it."""
    df = _q("dedup_jaccard_prefix")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bm25_topk_is_take_ordered(spark):
    """Ranked retrieval must finish in a distributed TakeOrderedAndProject
    (per-partition top-k, k rows to the driver), never a global sort, and
    the per-term/df/corpus-scalar joins must not degenerate into a
    cartesian product."""
    df = _q("text_bm25_topk")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def _tree_subtrees(plan: str, node_substr: str) -> list[list[str]]:
    """Split a Spark plan tree string into the subtrees rooted at every
    node whose line contains ``node_substr``.  Depth is the character
    offset where the node name begins (past the ``:- ``/``+- ``/``:  ``
    tree-drawing prefix); a subtree is every following line strictly
    deeper than its root."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " :+-":
            i += 1
        return i

    out = []
    for i, line in enumerate(lines):
        if node_substr not in line:
            continue
        d = depth(line)
        sub = [line]
        for nxt in lines[i + 1 :]:
            if not nxt.strip():
                continue
            if depth(nxt) <= d:
                break
            sub.append(nxt)
        out.append(sub)
    return out


def test_rp_bucket_verify_never_broadcasts_the_corpus(spark):
    """Reduced-space ANN at 100 TB: the embeddings table is the BIG
    table, so no BroadcastExchange may sit directly over its parquet scan
    — every broadcast subtree that reads embeddings must first confine it
    to candidate ids via a join.  No cartesian/nested-loop fallback.  The
    verify joins are size-guarded: they carry no broadcast hint, so
    either a runtime broadcast (small candidate set) or a shuffled
    equi-join (hot-bucket skew) is acceptable — a MANDATORY broadcast of
    the candidate arrays is the failure mode this pin used to allow and
    now forbids by accepting both shapes."""
    df = _q("sim_rp_bucket_join")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # No MANDATORY broadcast anywhere in the pipeline: the logical plan
    # must be hint-free (on a near-dup-heavy corpus the candidate-id set
    # approaches corpus size, so a forced broadcast OOMs — AQE must be
    # the one deciding broadcast vs shuffle from runtime sizes).
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical, logical
    assert "UnresolvedHint" not in logical, logical
    broadcasts = _tree_subtrees(plan, "BroadcastExchange")
    for sub in broadcasts:
        text = "\n".join(sub)
        if "embeddings" in text and "Scan parquet" in text:
            assert "Join" in text, (
                "corpus-sized broadcast: BroadcastExchange directly over the "
                "embeddings scan with no candidate-confining join\n" + text
            )


def test_sentence_dedup_scans_corpus_once(spark):
    """The corpus scan+explode is the dominant cost at 100 TB, and the
    exploded (doc, seg_idx, sentence) frame has three consumers (the
    first-occurrence agg, the winner join, the per-doc sentence count).
    It must be localCheckpoint'ed so the scan executes exactly once: the
    downstream plan reads the checkpointed RDD everywhere — zero parquet
    scans of documents, zero Generate (explode) nodes outside it."""
    df = _q("text_sentence_dedup")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "Scan parquet" not in plan, plan
    assert "Generate" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_winnowing_df_cap_has_no_hot_key_window(spark):
    """Per-fingerprint document frequency must come from a map-side-
    combinable groupBy count, never a `count over partitionBy(fp)`
    window — a boilerplate fingerprint shared by half the corpus would
    otherwise shuffle+sort its entire posting into a single window
    task.  The helper is pinned directly because winnowing_copy_pairs
    checkpoints it (the subtree is invisible from the final plan)."""
    from fotmobdatapipeline_spark.operators.dedup import (
        _df_capped_fps,
        winnowing_fingerprints,
    )
    from fotmobdatapipeline_spark.sources.registry import read_table

    docs = read_table(spark, SF_ORACLE, "documents")
    fps = winnowing_fingerprints(docs)
    plan = _plan(_df_capped_fps(fps, 50))
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan or "SortAggregate" in plan, plan


def test_sentence_neardup_scans_corpus_once(spark):
    """Same one-corpus-scan contract as exact sentence dedup: the
    signed exploded frame is checkpointed for its three consumers."""
    df = _q("text_sentence_neardup")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "Scan parquet" not in plan, plan
    assert "Generate" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_semantic_dedup_pairs_confined_to_cells(spark):
    """SemDeDup candidate pairs must meet only inside a k-means cell via
    an equi-join on the cell key — never a global cartesian/nested-loop
    over the embedding table."""
    df = _q("dedup_semantic_clusters")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tfidf_pairs_never_cartesian(spark):
    """TF-IDF pairs meet only through shared df-capped terms — a
    term-keyed equi-join pipeline; no cartesian/nested-loop anywhere."""
    df = _q("sim_tfidf_pairs")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_duplicate_passages_scans_corpus_once(spark):
    """The gram explode is the dominant cost; the exploded
    (doc, n_words, pos, ghash) frame has two consumers (occurrence
    counts, join-back) plus the per-doc n_words aggregate — all must
    read the one checkpointed materialization: zero parquet scans,
    zero Generate nodes downstream, and the only Window partitions by
    doc (the islands row_number), never by gram."""
    df = _q("text_duplicate_passages")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan
    for sub in _tree_subtrees(plan, "Window"):
        assert "doc_id" in sub[0], sub[0]


def test_simhash_pairs_banded_equijoin_one_scan(spark):
    """Candidates must meet through the (band_id, band_key) equi-join —
    never cartesian — and the signature subtree must be checkpointed
    (one execution for both join sides): no parquet scan downstream."""
    df = _q("dedup_simhash_pairs")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_pq_encode_no_window_and_adc_broadcasts_luts(spark):
    """PQ encoding's per-(vector, sub) argmax must be an aggregate (a
    window would sort per key); ADC scoring must broadcast the |Q|-row
    LUT side, never shuffle the candidate codes for the join."""
    from fotmobdatapipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train_codebooks,
    )
    from fotmobdatapipeline_spark.sources.registry import read_table

    emb = read_table(spark, SF_ORACLE, "embeddings")
    cb = pq_train_codebooks(emb, dim=64, m=4, codes=4, iterations=1)
    enc = pq_encode(emb, cb, dim=64, m=4)
    enc_plan = _plan(enc)
    assert "Window" not in enc_plan, enc_plan
    top = pq_adc_topk(
        emb.filter(F.col("vec_id") < 10), cb, enc, dim=64, m=4, codes=4, k=5
    )
    plan = _plan(top)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ivfpq_candidates_cell_confined(spark):
    """IVF-PQ candidates must meet through the cell equi-join (LUT side
    broadcast); no cartesian product anywhere, and the candidate
    assignment subtree must be checkpointed (one execution for encoder
    and cell map: no parquet scan of embeddings downstream)."""
    df = _q("sim_ivfpq_topk")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_trim_passages_two_pruned_scans(spark):
    """The applied trim deliberately has TWO scans: the checkpointed
    gram pipeline (ExistingRDD downstream) and one column-pruned
    (doc_id, text) rebuild scan — carrying the word array through every
    gram row would multiply the checkpoint by document length.  Pin:
    exactly one parquet scan, and its ReadSchema carries only the two
    rebuild columns."""
    df = _q("text_trim_passages")(spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "ExistingRDD" in plan, plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}, cols


ROUND5_SWEEP = [
    # Entries without driver-side training loops (those have their own
    # pins; building their plans runs the trainers).
    "text_duplicate_passages",
    "text_passage_spans",
    "text_trim_passages",
    "dedup_passages_incremental",
    "dedup_simhash_pairs",
    "text_tfidf_topterms",
    "mixture_temperature_weights",
    "text_gopher_rules",
    "text_token_fertility",
    "decontaminate_semantic",
    "dedup_source_overlap",
    "events_windowed_topk",
    "events_type_transitions",
    "sample_quality_weighted",
    "text_token_gini",
    "corpus_source_dashboard",
    "text_lang_confusion",
    "dq_pk_uniqueness",
    "dedup_tier_funnel",
    "embedding_norm_outliers",
    "llm_prep_pipeline_v2",
    "sketch_hll_merge",
    "sketch_bloom_merge",
    "split_kfold",
    "events_anomaly_mad",
    "sketch_histogram_quantiles",
    "sketch_hll_daily_rollup",
    "text_hybrid_retrieval",
    "embedding_label_confusion",
    "basket_part_pairs",
    "fotmob_shot_grid",
    "agg_weighted_median",
    "dq_expectations_report",
    "dq_k_anonymity",
    "drift_event_type_shares",
    "drift_value_ks",
    # dedup_cluster_census / text_bpe_roundtrip: CC loop / BPE trainer
    # run at plan-build time — covered by the oracle parity suite.
    # fuzzy_entity_clusters / shards_cluster_aligned: iterative CC —
    # building the plan runs the label-propagation loop; covered by the
    # oracle parity suite instead.
]


def test_round5_entries_no_cartesian_no_python_udf(spark):
    """Blanket doctrine sweep over the round-5 additions: no
    CartesianProduct anywhere (broadcast nested-loop over tiny literal
    sides is the only allowed cross shape) and no row-at-a-time Python
    UDF node (BatchEvalPython / ArrowEvalPython) in any plan — all
    logic stays JVM-side."""
    bad = []
    for name in ROUND5_SWEEP:
        plan = _plan(_q(name)(spark, SF_ORACLE))
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            bad.append((name, "PythonUDF"))
    assert not bad, bad


def test_mad_outlier_entries_scan_source_once(spark):
    """The lower-median/MAD family (events_anomaly_mad,
    quality_length_outliers, embedding_norm_outliers) feeds one base
    projection/aggregate to three consumers (median window, deviation
    join, final aggregate) — it must be checkpointed so the raw source
    is scanned exactly once: zero parquet scans downstream, the plan
    reads the checkpointed RDD."""
    for name in (
        "events_anomaly_mad",
        "quality_length_outliers",
        "embedding_norm_outliers",
    ):
        plan = _plan(_q(name)(spark, SF_ORACLE))
        assert "Scan parquet" not in plan, (name, plan)
        assert "ExistingRDD" in plan, (name, plan)


def test_semantic_index_cell_layout_prunes_partitions(spark, tmp_path):
    """The semantic index's documented storage layout (one partition
    per cell — semantic_index docstring) must actually buy pruned
    probes: a single-cell read of the partitioned index shows the cell
    in PartitionFilters and scans only that directory, which is what
    makes per-row probes at 100 TB touch one cell's list instead of
    the corpus."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.similarity import kmeans_lloyd
    from fotmobdatapipeline_spark.sources.registry import read_table
    from fotmobdatapipeline_spark.streaming.similarity import semantic_index
    from tests.conftest import SF_ORACLE

    emb = read_table(spark, SF_ORACLE, "embeddings")
    cents = kmeans_lloyd(emb, k=4, iterations=2)
    out = str(tmp_path / "cell_index")
    semantic_index(emb, cents).write.partitionBy("cell").parquet(out)

    probe = spark.read.parquet(out).filter(F.col("cell") == 2)
    plan = _plan(probe)
    assert "PartitionFilters" in plan, plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    # And the filter is partition-level, not a post-scan row filter.
    assert probe.count() == semantic_index(emb, cents).filter(
        F.col("cell") == 2
    ).count()


ROUND6_SWEEP = [
    # Trainer-bearing entries excluded as in ROUND5_SWEEP (their plans
    # run the memoized trainers; they carry their own pins).
    "dedup_recall_report",
    "dedup_lsh_hotband_report",
    "dq_key_skew_report",
    "split_cluster_safe",
    "drift_embedding_centroid",
    "events_retention_cohorts",
    "text_containment_pairs",
    "text_bm25_wide",
]


def test_round6_entries_no_cartesian_no_python_udf(spark):
    """Blanket doctrine sweep over the round-6 additions: no
    CartesianProduct and no row-at-a-time Python UDF node anywhere —
    same contract as the round-5 sweep."""
    bad = []
    for name in ROUND6_SWEEP:
        plan = _plan(_q(name)(spark, SF_ORACLE))
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            bad.append((name, "PythonUDF"))
    assert not bad, bad


def test_pq_rerank_fetch_is_broadcast_probe(spark):
    """sim_pq_rerank_topk's exact-rerank stage must fetch the shortlist
    vectors via hash joins with the tiny sides broadcast (shortlist ids
    and query vectors) — never a cartesian product or a second
    full-corpus float scan shaped as a nested loop."""
    df = _q("sim_pq_rerank_topk")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ewm_single_window_pass_no_udf(spark):
    """events_ewm_value must be one exchange on user_id + one Window
    operator with a pruned 3-column scan — the fold is a native
    expression, never a Python UDF, and there is no partition-less
    global window."""
    df = _q("events_ewm_value")(spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(user_id" in plan
    assert plan.count("Window") == 1
    assert "ReadSchema: struct<event_id:bigint,user_id:bigint,value:double>" in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                "MapInPandas"):
        assert bad not in plan


ROUND7_SWEEP = (
    "events_ewm_value",
    "events_holt_forecast",
    "multimodal_wav_decode",
    "multimodal_video_frames",
    "multimodal_bmp_resize",
)


def test_round7_entries_no_cartesian_no_python_udf(spark):
    """Blanket doctrine sweep over the round-7 additions — same
    contract as the round-5/6 sweeps."""
    bad = []
    for name in ROUND7_SWEEP:
        plan = _plan(_q(name)(spark, SF_ORACLE))
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            bad.append((name, "PythonUDF"))
    assert not bad, bad


def test_multimodal_codec_entries_pruned_shuffle_free(spark):
    """Every real-codec entry must read ONLY (doc_id, text) from the
    parquet scan and run as chained Arrow map stages with zero
    exchanges — the shape that scales to a petabyte media corpus."""
    for name in ("multimodal_wav_decode", "multimodal_video_frames",
                 "multimodal_bmp_resize"):
        plan = _plan(_q(name)(spark, SF_ORACLE))
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, name
        assert "Exchange" not in plan, name
        assert plan.count("MapInPandas") >= 2, name  # encode + decode stages


ROUND8_SWEEP = (
    "url_canonicalize",
    "url_dedup_canonical",
    "url_domain_mixture",
    "dsir_importance_topk",
)


def test_round8_entries_no_cartesian_no_python_udf(spark):
    """Blanket doctrine sweep over the round-8 additions — same
    contract as the round-5/6/7 sweeps."""
    bad = []
    for name in ROUND8_SWEEP:
        plan = _plan(_q(name)(spark, SF_ORACLE))
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            bad.append((name, "PythonUDF"))
    assert not bad, bad


def test_url_canonicalize_is_map_only(spark):
    """URL canonicalization is pure per-row expression work — the plan
    must contain no Exchange at all (at 100 TB this stays a scan-speed
    map stage)."""
    plan = _plan(_q("url_canonicalize")(spark, SF_ORACLE))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_dsir_scoring_broadcasts_model_never_smj(spark):
    """DSIR scoring joins the B-row ratio table to the per-doc bucket
    table: the model side must be broadcast (never a shuffled
    SortMergeJoin of corpus-sized data against a 4096-row model), and
    the corpus must not appear in more than the model-build + scoring
    scans."""
    plan = _plan(_q("dsir_importance_topk")(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_decayed_popularity_is_two_bounded_aggs_no_window(spark):
    """Decayed popularity must collapse events to per-(type, day) counts
    with a partial/final aggregate pair (map-side combine — the shuffle
    carries types*days rows, not events), broadcast the one-row max-day
    side, and never rank anything through a window."""
    df = _q("events_decayed_popularity")(spark, SF_ORACLE)
    plan = _plan(df)
    assert "Window" not in plan, plan
    assert "partial_count" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_jaccard_family_has_no_mandatory_doc_broadcast(spark):
    """The per-document `sizes` relation (one row per doc) must never
    carry a broadcast hint: at 10^9+ docs a mandatory broadcast OOMs the
    driver and every executor.  The whole Jaccard/containment family
    must be hint-free in the logical plan — AQE picks broadcast from
    runtime sizes when the corpus is small and falls back to a shuffled
    equi-join when it isn't (the RP verify-pipeline treatment,
    test_rp_bucket_verify_never_broadcasts_the_corpus)."""
    for name in (
        "dedup_ngram_jaccard",
        "dedup_jaccard_capped",
        "text_containment_pairs",
        "dedup_jaccard_prefix",
    ):
        df = _q(name)(spark, SF_ORACLE)
        logical = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in logical, (name, logical)
        assert "UnresolvedHint" not in logical, (name, logical)


def test_lm_perplexity_broadcasts_model_never_smj(spark):
    """The CCNet-style scorer joins the corpus-cardinality per-doc
    bucket table to the two <=B-row LM model tables: both must be
    broadcast hash joins (never a shuffled SortMergeJoin of corpus data
    against a model), and nothing may go cartesian."""
    plan = _plan(_q("lm_perplexity_rank")(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_prep_v3_broadcasts_models_no_cartesian_no_python(spark):
    """The composed recipe must keep each tier's shape: blocklist and LM
    models ride broadcast joins, nothing degenerates to a cartesian or
    nested-loop product, and no stage leaves the JVM."""
    plan = _plan(_q("llm_prep_pipeline_v3")(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_preference_entries_shapes(spark):
    """Preference family doctrine (round 12): the battle derivation's
    per-lang successor comes from the prefix-scan rank + rank→rank+1
    equi-join (_docs_with_next), NOT a per-lang lead() window (3-5
    langs = 3-5 single-task data-scale sorts) — never a cartesian,
    never a row-wise Python UDF, never lead().

    The solvers' rounds iterate model-sized state, so they run in
    Python on purpose: exactly one grouped-map task
    (FlatMapGroupsInPandas) per solver, and it sits ABOVE the (m1, m2)
    matchup aggregate — the data-scale battles never reach Python, only
    the post-aggregate matrix of at most #models² rows does."""
    for name in ("pref_winrate", "pref_btl_ratings", "pref_rank_centrality"):
        plan = _plan(_q(name)(spark, SF_ORACLE))
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "lead(" not in plan, (name, plan)
        if name == "pref_winrate":
            assert "FlatMapGroupsInPandas" not in plan, (name, plan)
            continue
        assert plan.count("FlatMapGroupsInPandas") == 1, (name, plan)
        agg = plan.find("HashAggregate(keys=[m1#")
        assert 0 <= plan.index("FlatMapGroupsInPandas") < agg, (name, plan)


def _build_jobs(spark, name):
    """Spark jobs launched while BUILDING (not running) a catalog entry,
    counted through its job group by ``sc.statusTracker()``."""
    sc = spark.sparkContext
    group = f"build-jobs-{name}"
    sc.setJobGroup(group, name)
    try:
        _q(name)(spark, SF_ORACLE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_preference_solvers_add_no_build_jobs(spark):
    """The solver rounds are one lazy task, not eager per-round Spark
    jobs: building either solver entry launches no more jobs than
    building pref_winrate, which shares the battle derivation and runs
    no solver at all."""
    base = _build_jobs(spark, "pref_winrate")
    for name in ("pref_rank_centrality", "pref_btl_ratings"):
        assert _build_jobs(spark, name) <= base, name


def test_dpo_pairs_successor_join_not_lead_window(spark):
    """DPO pair export resolves both sides via the rank → rank+1
    successor equi-join (round 12; the ranked frame's prefix scan sits
    behind its checkpoint) — no lead() window over raw rows, no
    cartesian, no Python."""
    plan = _plan(_q("pref_dpo_pairs")(spark, SF_ORACLE))
    assert "lead(" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_ab_stats_family_shapes(spark):
    """A/B family doctrine: sufficient statistics come from combinable
    aggregates — no cartesian, no Python, and the only window allowed
    is Mann-Whitney's bounded distinct-value rank pass."""
    for name in ("events_ab_ztest", "events_welch_ttest", "events_cuped_adjusted"):
        plan = _plan(_q(name)(spark, SF_ORACLE))
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "Window" not in plan, (name, plan)
    plan = _plan(_q("events_mannwhitney_u")(spark, SF_ORACLE))
    assert "Window" in plan and "CartesianProduct" not in plan, plan


SESSION2_SWEEP = (
    "events_ab_bootstrap",
    "events_ab_bootstrap_ci",
    "events_did_estimate",
    "events_ab_mde",
    "events_switchback_delta",
    "events_cusum_hourly",
    "events_attribution_last_touch",
    "text_heaps_curve",
    "cdc_incremental_join_view",
    "graph_kcore",
    "sim_mmr_rerank",
)


def test_session2_entries_no_cartesian_no_python(spark):
    """Blanket doctrine sweep over the second-session additions (the
    Arrow-by-design codecs/compressibility entries are exempt from the
    no-Python rule and checked by their own tests)."""
    bad = []
    for name in SESSION2_SWEEP:
        plan = _plan(_q(name)(spark, SF_ORACLE))
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            bad.append((name, "PythonUDF"))
    assert not bad, bad


AB_PARTITION_SCOPED_WINDOW_SWEEP = (
    # r9 VERDICT #1/#2: the A/B-analytics + exact-quantile family ranks
    # data-scale input (users, purchase values, half-corpus variants) —
    # ranking must ride the two-phase prefix scan, never a partition-less
    # ordered window.
    "events_ltv_deciles",
    "events_mannwhitney_u",
    "events_qte",
    "events_ab_bootstrap_ci",
    "agg_exact_quantiles",
    # round-11 continuation: trimmed mean ranks (group, value) cells
    # through the same grouped prefix scan.
    "agg_trimmed_mean",
)


def test_ab_family_windows_are_partition_scoped(spark):
    """No single-partition sort over data-cardinality input: every
    Window operator visible in these plans must either be keyed by the
    spark partition id (`_pid` in its spec — the prefix-scan local
    window) or run over the per-(partition, group) totals aggregate
    (`keys=[_pid` in its subtree — one row per partition, the offsets/
    n table).  Either way the only SinglePartition exchanges feed
    partition-count or 1-row aggregates, never a data-scale
    NTILE/row_number/cumulative-sum sort."""
    for name in AB_PARTITION_SCOPED_WINDOW_SWEEP:
        plan = _plan(_q(name)(spark, SF_ORACLE))
        for sub in _tree_subtrees(plan, "windowspecdefinition"):
            if "_pid" in sub[0]:
                continue
            assert any("keys=[_pid" in ln for ln in sub), (
                name,
                sub[0].strip()[:200],
            )


ROUND10_SWEEP = (
    "events_survival_km",
    "events_msprt_monitor",
    "text_bigram_lift",
    "dq_benford_digits",
)


def test_round10_entries_no_cartesian_no_python_udf(spark):
    """Blanket doctrine sweep over the round-10 additions — same
    contract as the earlier round sweeps (the dHash entry is
    Arrow-by-design and pinned by its own codec test below)."""
    bad = []
    for name in ROUND10_SWEEP:
        plan = _plan(_q(name)(spark, SF_ORACLE))
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            bad.append((name, "PythonUDF"))
    assert not bad, bad


def test_image_dhash_pruned_single_agg_topk(spark):
    """The dHash tier must read ONLY (doc_id, text), run as chained
    Arrow map stages into ONE map-side-combinable aggregate and a
    distributed TakeOrderedAndProject — the petabyte-media-corpus
    shape: scan-speed hashing, 2 longs per image on the shuffle."""
    plan = _plan(_q("multimodal_image_dhash")(spark, SF_ORACLE))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert plan.count("MapInPandas") >= 2, plan  # encode + dhash stages
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan
    assert "partial_count" in plan, plan[:2000]


def test_theilsen_pairs_bounded_and_km_fold_shapes(spark):
    """Theil-Sen's self-join runs on the (type, day) aggregate — the
    plan must show the partial/final aggregate pair BEFORE any join
    (the pairwise blow-up is calendar-bounded, never event-scale) and
    no cartesian product; KM and mSPRT must contain no Window at all
    (prefix logic rides folds over broadcast day/hour tables)."""
    plan = _plan(_q("events_theilsen_trend")(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan, plan
    for name in ("events_survival_km", "events_msprt_monitor"):
        plan = _plan(_q(name)(spark, SF_ORACLE))
        assert "Window" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


ROUND10B_SWEEP = (
    "events_cohort_ltv",
    "events_seasonal_residuals",
    "events_conversion_lag",
    "events_hte_by_activity",
    "sim_ivf_recall_curve",
    "text_bm25_ndcg",
    "pack_length_buckets",
    "text_lix_readability",
    "drift_value_psi",
    "events_markov_attribution",
)


def test_round10b_entries_no_cartesian_no_python_udf(spark):
    """Blanket doctrine sweep over the later round-10 additions — same
    contract as the earlier round sweeps."""
    bad = []
    for name in ROUND10B_SWEEP:
        plan = _plan(_q(name)(spark, SF_ORACLE))
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            bad.append((name, "PythonUDF"))
    assert not bad, bad


def test_group_quantiles_agg_reuses_range_partitioning(spark):
    """exact_group_quantiles' rank arithmetic is correct only if the
    distinct-value aggregate REUSES the RangePartitioning laid down by
    repartitionByRange — _pid must ascend with value ranges (ADVICE
    r10).  Spark satisfies the aggregate's clustering requirement with
    the existing range exchange today; this pin turns any future
    planner/AQE change that inserts a hash exchange into a loud failure
    instead of silently corrupted quantiles."""
    from fotmobdatapipeline_spark.operators.stats import _distinct_value_runs
    from fotmobdatapipeline_spark.sources.registry import read_table

    li = read_table(spark, SF_ORACLE, "lineitem")
    dv = _distinct_value_runs(li, "l_quantity", ["l_returnflag"], 8)
    plan = _plan(dv)
    assert plan.count("Exchange rangepartitioning") == 1, plan
    assert "Exchange hashpartitioning" not in plan, plan


ROUND11_SWEEP = (
    "events_kruskal_wallis",
    "events_chi2_independence",
    "events_anova_f",
    "events_levene_bf",
    "events_spearman_corr",
    "events_bh_fdr",
    "events_acf_hourly",
    "events_changepoint_hourly",
    "graph_label_propagation",
    "text_zipf_slope",
    "multimodal_image_neardup_dropped",
    "dedup_component_survivors",
    "events_session_stats",
    "events_holt_winters_hourly",
    "events_seasonal_strength",
)


def test_round11_entries_no_cartesian_no_python_udf(spark):
    """Blanket doctrine sweep over the round-11 additions — same
    contract as the earlier round sweeps.  (The 5-row BH window and the
    50-row Zipf window are partition-less by documented exception —
    bounded by construction — and produce no CartesianProduct.)"""
    bad = []
    for name in ROUND11_SWEEP:
        plan = _plan(_q(name)(spark, SF_ORACLE))
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            bad.append((name, "PythonUDF"))
    assert not bad, bad


def test_stats_family_prefix_scans_not_global_windows(spark):
    """The rank-based round-11 statistics (Kruskal-Wallis, Spearman)
    must ride the two-phase distributed prefix scan.  running_sum's
    range exchange hides behind its internal localCheckpoint, so the
    visible signature in the executed plan is the window partitioned
    by the stamped _pid column — assert it is present, i.e. the ranks
    are NOT computed by a partition-less data-scale window."""
    for name in ("events_kruskal_wallis", "events_spearman_corr"):
        plan = _plan(_q(name)(spark, SF_ORACLE))
        assert "hashpartitioning(_pid" in plan, (name, plan[:2000])


ROUND11B_SWEEP = (
    "events_kendall_tau",
    "events_ccf_hourly",
    "events_ab_ratio_delta",
    "agg_trimmed_mean",
    "text_retrieval_mrr_map",
    "layout_zone_maps",
    "text_textrank_keywords",
    "geo_cell_stats",
    "events_mann_kendall",
    "sketch_ams_f2",
    "events_uplift_qini",
    "sketch_kmv_anotb",
    "events_attribution_position",
    "events_session_sweepline",
    "events_top_paths",
)


def test_round11b_entries_no_cartesian_no_python_udf(spark):
    """Blanket doctrine sweep over the round-11 continuation additions
    (join_bloom_prefilter and geo_neighbor_pairs are covered by their
    dedicated shape tests below — the bloom entry's 1-row x 1-row
    summary crossJoin is broadcast, not Cartesian, and asserted
    there)."""
    bad = []
    for name in ROUND11B_SWEEP:
        plan = _plan(_q(name)(spark, SF_ORACLE))
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            bad.append((name, "PythonUDF"))
    assert not bad, bad


def test_kendall_tau_windows_are_partition_scoped(spark):
    """events_kendall_tau's dominance count may ship some dyadic levels
    through a plain Window — but ONLY keyed by (lvl, blk), never
    partition-less; the deep levels must ride the _pid-stamped prefix
    scan.  Assert every windowspecdefinition in the plan carries a
    partition key (lvl or _pid)."""
    plan = _plan(_q("events_kendall_tau")(spark, SF_ORACLE))
    for sub in _tree_subtrees(plan, "windowspecdefinition"):
        head = sub[0]
        assert ("_pid" in head) or ("lvl" in head) or any(
            "keys=[_pid" in ln for ln in sub
        ), head.strip()[:200]


def test_bloom_prefilter_fact_side_not_shuffled(spark):
    """bloom_prefilter doctrine: all three word-table joins on the fact
    must be BroadcastHashJoins (map-side; zero fact shuffle — the only
    exchanges allowed feed the m/32-row bloom BUILD aggregate, never
    the fact).  Asserted on the operator's own plan because the catalog
    entry's localCheckpoint hides the prefilter subtree from the final
    plan string."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.sketches import (
        bloom_filter_table,
        bloom_prefilter,
    )
    from fotmobdatapipeline_spark.sources.registry import read_table

    keys = spark.range(0, 100).select(F.col("id").alias("k"))
    bloom = bloom_filter_table(keys, "k", m_bits=1024, salt="bj")
    li = read_table(spark, SF_ORACLE, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_extendedprice"
    )
    plan = _plan(bloom_prefilter(li, "k", bloom, m_bits=1024, salt="bj"))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 3, plan[:1500]
    # the catalog entry itself: no Cartesian anywhere, survivors join
    # present
    eplan = _plan(_q("join_bloom_prefilter")(spark, SF_ORACLE))
    assert "CartesianProduct" not in eplan


def test_geo_neighbor_join_is_cell_keyed(spark):
    """geo_neighbor_pairs must join on the (cy, cx) cell keys — a hash
    join with bounded 3x3 fan-out — never an unkeyed cross/theta join
    of customers x suppliers."""
    plan = _plan(_q("geo_neighbor_pairs")(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "cy" in plan and "cx" in plan


def test_robust_aggregates_ride_prefix_scan_not_group_sorts(spark):
    """Round-12 fix pin: agg_winsorized / agg_weighted_median /
    agg_time_weighted previously ranked RAW rows with windows
    partitioned by a 3-5 value categorical key — three-to-five
    data-scale single-task sorts (sf10 measured them 63-130x
    superlinear).  They now ride the cells + grouped prefix scan
    (winsorized 140.4s -> 7.3s at sf10).  Pin: the executed plan
    carries the _pid-scoped prefix-scan window and none of the old
    spelling's rank functions (row_number/lead over raw rows; the
    remaining group-keyed window is the prefix scan's own offsets
    window — n_parts + n_groups - 1 rows by construction, ordered by
    _pid, not by data)."""
    for name in ("agg_winsorized", "agg_weighted_median"):
        plan = _plan(_q(name)(spark, SF_ORACLE))
        assert "hashpartitioning(_pid" in plan, (name, plan[:2000])
        for bad in ("row_number()", "lead("):
            assert bad not in plan, (name, bad)
    # agg_time_weighted checkpoints the ranked frame (two join consumers),
    # which truncates the visible plan at the checkpoint — the prefix
    # scan's _pid window sits above it.  Pin the downstream shape instead:
    # the successor lookup is a rank-equi hash join on (priority, rk),
    # and neither of the old window functions appears anywhere.
    plan = _plan(_q("agg_time_weighted")(spark, SF_ORACLE))
    assert "hashpartitioning(o_orderpriority" in plan, plan[:2000]
    for bad in ("row_number()", "lead("):
        assert bad not in plan, ("agg_time_weighted", bad)
