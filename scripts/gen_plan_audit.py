"""Generate docs/PLANS.md: the executed physical plans of the heaviest
headline queries, with the scan/exchange/codegen evidence the
design-for-100TB claims rest on (pushed filters, pruned schemas,
broadcast vs shuffle joins, whole-stage codegen spans).

Usage: python scripts/gen_plan_audit.py [QUERY ...]   (reads
$SPARK_GRAFT_SF_DIR, default the sf0.01 test data — plan SHAPE, not
timing, is the point). With no QUERY every audited plan is rewritten;
with names, only those sections of the existing file are replaced.
"""

from __future__ import annotations

import os
import re
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

AUDITED = [
    "counter_commands_full",
    "corpus_prep_manifest_v2",
    "corpus_prep_manifest_v3",
    "asof_attribution",
    "ngram_jaccard_neardup",
    "hourly_event_metrics",
    "doc_dedup_spans_rewrite",
    "user_scd2_intervals",
    "approx_distinct_customers_hll",
    "approx_heavy_hitters_cms",
    "latest_impressions_negatives",  # r7 pair-free seq equi-join shape
    "orders_rfm_segments",  # r8 sketch-bounded RFM (no global sort)
    "bfj_pipeline_manifest",  # r8 composed flat-output topology
    "cohort_membership_intervals",  # r9 SCD2 arm-interval range join
    "corpus_shuffle_shards",  # r9 shard permutation (one hash shuffle)
    "scale_join_strategies",  # r9 plain+salted+bucketed legs (bucketed: no Exchange)
    "corpus_token_budget_select",  # r9 grid-bounded greedy selection
    "neardup_keep_best_quality",  # r9 packed-key argmax over CC clusters
    "corpus_curation_pipeline",  # r9 composed curation chain
    "corpus_incremental_admit",  # r10 batch-vs-standing admission
    "corpus_two_batch_ledger",  # r10 evolving-state double admission
    "bfj_pipeline_manifest_skewed",  # r11 planted-hot-key manifest
    "counter_commands_skewed",  # r11 heavy-hitter content fan-out
]


def _splice(text: str, sections: dict[str, list[str]]) -> str:
    """Replace each ``## name`` section of ``text`` (up to the next
    ``## `` heading) with its regenerated lines."""
    out: list[str] = []
    skipping = False
    for line in text.splitlines():
        if line.startswith("## "):
            name = line[3:].strip()
            skipping = name in sections
            if skipping:
                out += sections.pop(name)
                continue
        if not skipping:
            out.append(line)
    if sections:
        raise SystemExit(f"no section for {sorted(sections)} in PLANS.md")
    return "\n".join(out) + "\n"


def main(argv: list[str]) -> int:
    from openmetrics_spark.session import get_spark
    from openmetrics_spark.queries import all_queries

    names = argv or AUDITED
    unknown = sorted(set(names) - set(AUDITED))
    if unknown:
        raise SystemExit(f"not audited: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("plan-audit")
    qs = all_queries()
    head = [
        "# Physical-plan audit (generated by scripts/gen_plan_audit.py)",
        "",
        f"Executed plans at `{sf_dir}` — evidence for the plan-shape",
        "claims in docs/SCALE.md: pushed filters and pruned scans,",
        "broadcast joins on dimensions, whole-stage codegen coverage,",
        "exchange counts. Regenerate after plan-affecting changes.",
        "",
    ]
    sections: dict[str, list[str]] = {}
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        out = sections[name] = []
        df = qs[name].fn(spark, sf_dir)
        # execute THE DF'S OWN QueryExecution so AQE finalizes —
        # df.count() and even a write wrap the plan in a NEW execution
        # and leave this one un-finalized (isFinalPlan=false).
        # toLocalIterator drained without buffering keeps driver
        # memory at one-partition granularity (collect() would pin
        # every result row — OOM-prone past sf0.01).
        for _ in df.toLocalIterator():
            pass
        plan = df._jdf.queryExecution().explainString(mode)
        # NB exchange counts include AQE-reused subplan reprints, so
        # they upper-bound the physical shuffles; broadcast/SMJ counts
        # and pushed filters are the load-bearing evidence
        n_ex = len(re.findall(r"Exchange \(", plan))
        n_bc = len(re.findall(r"BroadcastHashJoin", plan))
        n_smj = len(re.findall(r"SortMergeJoin", plan))
        n_mem = len(re.findall(r"InMemoryTableScan", plan))
        pushed = sorted(set(re.findall(r"PushedFilters: \[([^\]]*)\]", plan)))
        pushed = [p for p in pushed if p][:3]
        out += [
            f"## {name}",
            "",
            f"- exchange nodes (incl. AQE reprints): {n_ex}; "
            f"broadcast joins: {n_bc}; sort-merge joins: {n_smj}; "
            f"InMemoryTableScans: {n_mem} (each pinned-frame reuse "
            f"REPRINTS the cached subtree, inflating the raw counts "
            f"above — runtime shuffles are far fewer)",
            f"- pushed filters: {pushed if pushed else '(none in scan)'}",
            "",
            "```",
        ]
        # cap each plan to keep the artifact reviewable
        lines = plan.splitlines()
        out += lines[:120]
        if len(lines) > 120:
            out.append(f"... ({len(lines) - 120} more lines)")
        out += ["```", ""]
    path = os.path.join(_ROOT, "docs", "PLANS.md")
    if argv:
        with open(path) as f:
            text = _splice(f.read(), sections)
    else:
        text = "\n".join(head + [l for n in names for l in sections[n]]) + "\n"
    with open(path, "w") as f:
        f.write(text)
    print(f"wrote {path} ({len(names)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
