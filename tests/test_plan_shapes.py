"""Plan-shape rules: each query's executed plan at sf0.001 keeps the
shape its speed depends on (map-side combines, broadcast joins, no
extra shuffle, the number of Python UDF boundaries: "Accelerating
Python UDFs in Vectorized Query Execution", CIDR 2022). Building a
plan runs no Spark job. The bench pipeline's broadcast join, the
fan-out tag and the one COMBINED capture are in test_pipeline.py."""

import re

import pytest

import __spark_entry__ as entrymod
from tests.harness import plan_of


def _ops(plan: str) -> list[str]:
    """One operator per plan line, tree prefix stripped; a unary
    node's child is the next entry."""
    return [re.sub(r"^[\s:+|-]*", "", ln) for ln in plan.splitlines()]


def _names(plan: str) -> list[str]:
    return [re.match(r"\w*", op).group() for op in _ops(plan)]


def _shuffles(plan: str) -> list[tuple[str, str, str]]:
    """(parent, partitioning, child) of every non-broadcast Exchange."""
    ops = _ops(plan)
    return [(ops[i - 1], op.split()[1].split("(")[0], ops[i + 1])
            for i, op in enumerate(ops) if op.startswith("Exchange ")]


def _one_shuffle(plan: str, parent: str, child: str) -> bool:
    s = _shuffles(plan)
    return (len(s) == 1 and bool(re.match(parent, s[0][0]))
            and bool(re.match(child, s[0][2])))


SHAPES = {
    # map-side combine: the one shuffle carries partial counts
    "route_counts": lambda p: _one_shuffle(
        p, r"HashAggregate\(", r"HashAggregate\(.*partial_count\("),
    # the flatten UDF is evaluated once, in one Arrow node: not re-run
    # by a pushed size(...) > 0 filter, nor split per field
    "typed_attrs": lambda p: _names(p).count("ArrowEvalPython") == 1
        and len(set(re.findall(r"pythonUDF\d+#\d+", p))) == 1,
    # narrow keys: one partial/final aggregate pair around one shuffle
    "emf_metrics_grouping": lambda p: _one_shuffle(
        p, r"HashAggregate\(", r"HashAggregate\(.*partial_"),
    # groups are collected by a JVM hash-agg, not applyInPandas
    "otlp_metrics_proto_roundtrip":
        lambda p: "FlatMapGroupsInPandas" not in _names(p),
    "fluent_parse": lambda p: "FlatMapGroupsInPandas" not in _names(p),
    # the wire encode and decode are the only Python stages
    "rowbinary_roundtrip": lambda p: _names(p).count("MapInPandas") == 2,
    # the benchmark shingle set is broadcast to the document side
    "decontaminate": lambda p: "BroadcastHashJoin" in _names(p),
    # no Python stage; one documents scan and one posexplode: the
    # per-(block, doc) aggregate is built once
    "block_dedup": lambda p: not [
        n for n in _names(p) if re.search(r"Python|Pandas|InArrow", n)]
        and _names(p).count("FileScan") == 1
        and _names(p).count("Generate") == 1,
    # windows stay in their partition: the only Exchange is _docs'
    # round-robin spread of the one-file scan
    "doc_chunks": lambda p: [s[1] for s in _shuffles(p)]
        == ["RoundRobinPartitioning"],
}


@pytest.mark.parametrize("query", SHAPES)
def test_plan_shape(spark, sf_unit, query):
    plan = plan_of(entrymod.queries()[query](spark, sf_unit))
    assert SHAPES[query](plan), plan
