"""Physical-plan audit — writes PLANS.md with `.explain("formatted")`
output for the headline operators plus commentary checks:

  * parquet scans show PushedFilters / pruned ReadSchema
  * the hot path stays inside WholeStageCodegen (no row-at-a-time
    Python between scan and write)
  * joins that must broadcast do broadcast

The pipeline's own plan shape (broadcast tld join, no shuffle before
the routed write) is asserted in tests/test_pipeline.py.

Usage: python scripts/plan_audit.py [SF_DIR]
"""

from __future__ import annotations

import io
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def explain_str(df) -> str:
    buf = io.StringIO()
    stdout = sys.stdout
    sys.stdout = buf
    try:
        df.explain("formatted")
    finally:
        sys.stdout = stdout
    return buf.getvalue()


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as entry
    from rotel_spark.session import build_spark

    spark = build_spark(app_name="plan_audit")
    qs = entry.queries()
    sections: list[tuple[str, str, str]] = []

    for name, note in [
        (
            "route_counts",
            "expect: partial_count before the Exchange (map-side "
            "combine), single shuffle on the group keys.",
        ),
        (
            "exact_dedup",
            "expect: shuffle carries (xxhash64, min(doc_id)) — 64-bit "
            "hashes, not text; partial aggregation present.",
        ),
        (
            "minhash_dedup",
            "expect: JVM expression signatures (no Python), "
            "SortMergeJoin/ShuffledHashJoin on (band,bucket) for the "
            "candidate self-join, broadcast for the loser anti-join.",
        ),
        (
            "ann_topk",
            "expect: mapInPandas (Arrow) for the per-batch matmul "
            "top-k, then a single small shuffle of k·batches rows per "
            "query for the exact window.",
        ),
        (
            "emf_metrics_grouping",
            "expect: HashAggregate partial/final pair around one "
            "Exchange on the EMF group key.",
        ),
        (
            "clickhouse_trace_rows",
            "expect: pure-expression SpanRow normalization riding the "
            "scan (no Python, no extra shuffle before the final agg "
            "Exchange).",
        ),
        (
            "rowbinary_roundtrip",
            "expect: exactly two Arrow mapInPandas stages (the wire "
            "encode and decode — inherent codec boundaries, matching "
            "where the reference spends encoder CPU), everything "
            "between them JVM.",
        ),
        (
            "fluent_parse",
            "expect: JVM collect_list hash-agg on the frame key "
            "(the receiver's framing, bounded per group), an explicit "
            "repartition keeping the Python stage wide, then ONE "
            "mapInPandas frame-build + mapInPandas decode; "
            "aggregates JVM partial/final.",
        ),
        (
            "block_dedup",
            "expect: generate/explode of JVM block expressions, one "
            "Exchange on (block, doc_id) metadata rows (cnt, min_ord "
            "— in-doc repeats collapse map-side), the tiny per-block "
            "argmin, one Exchange on doc_id for the rollup — never "
            "full documents; no Python anywhere.",
        ),
        (
            "doc_chunks",
            "expect: NO Exchange at all — posexplode rides the scan "
            "partition-locally; whole-stage codegen end to end.",
        ),
        (
            "repetition_signals",
            "expect: per-gram explode + two HashAggregate "
            "partial/final pairs per stream, all Exchanges keyed by "
            "doc_id (AQE-coalesced); no O(n^2) per-row mode "
            "computation, no Python.",
        ),
        (
            "url_canonical_dedup",
            "expect: canonicalization is pure regexp/array "
            "expressions inside WholeStageCodegen riding the scan; "
            "single Exchange for the per-host count-distinct agg.",
        ),
        (
            "pack_sequences",
            "expect: ONE Exchange on shard for the per-shard window "
            "cumsum (sort is per-shard, never global) then a "
            "map-side-combinable HashAggregate on (shard, bin_id); "
            "no Python.",
        ),
        (
            "decontaminate",
            "expect: benchmark shingle set behind BroadcastExchange "
            "(BroadcastHashJoin, document side never shuffles for "
            "the probe); one Exchange on doc_id for the hit rollup.",
        ),
    ]:
        sections.append((name, explain_str(qs[name](spark, sf)), note))

    out = ["# PLANS — physical-plan audit (generated by scripts/plan_audit.py)\n"]
    for name, plan, note in sections:
        out.append(f"\n## {name}\n\n_{note}_\n\n```\n{plan}\n```\n")
    (ROOT / "PLANS.md").write_text("".join(out))
    print("wrote PLANS.md")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
