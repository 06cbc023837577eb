"""One-scan edge-list symmetrization (catalog.symmetrize).

The graph kernels and the CC kernel symmetrize an undirected (a, b)
edge list. The two-branch self-union form planned the edge build once
per branch, and AQE did not reuse the exchange across the branches, so
label propagation ran its pair-count map stage twice per run. These
tests pin that the helper is the same multiset as the union form and
that the executed LPA build aggregates its pairs once.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark import StorageLevel
from pyspark.sql import functions as F

from data_collection_ieee_spark import catalog, registry

registry.load_all()

SF_01 = "/root/testdata/sf0.01"

# the map side of `_affinity_edge_list`'s pair-count aggregate
_PAIR_COUNT_MAP = re.compile(
    r"HashAggregate\(keys=\[a_id#\d+L, b_id#\d+L\], functions=\[partial_count\(1\)\]\)"
)


def _final_plan(plan: str) -> str:
    """The first adaptive "Final Plan" section of an explain string."""
    lines = plan.splitlines()
    start = next(i for i, ln in enumerate(lines) if "== Final Plan ==" in ln)
    col = lines[start].index("== Final Plan ==")
    end = next(
        i
        for i in range(start + 1, len(lines))
        if lines[i].find("== Initial Plan ==") == col
    )
    return "\n".join(lines[start:end])


def test_symmetrize_equals_two_branch_union(spark):
    """Same multiset as the self-union, self-loops and duplicate rows
    included, with the requested output names."""
    rows = [(1, 2), (1, 2), (3, 3), (2, 5), (7, 7), (7, 7), (4, 1)]
    e = spark.createDataFrame(rows, "a_id bigint, b_id bigint")
    union = e.select(F.col("a_id").alias("u"), F.col("b_id").alias("v")).unionAll(
        e.select(F.col("b_id").alias("u"), F.col("a_id").alias("v"))
    )
    got = catalog.symmetrize(e, "a_id", "b_id")
    assert got.columns == ["u", "v"]
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, union.collect()))
    named = catalog.symmetrize(e, "a_id", "b_id", "src", "dst")
    assert named.columns == ["src", "dst"]
    assert Counter(map(tuple, named.collect())) == Counter(
        map(tuple, union.collect())
    )


def test_lpa_runs_one_pair_count_map_stage(spark, monkeypatch):
    """The executed LPA edge cache aggregates the affinity pairs ONCE:
    exactly one map-side pair count in its final adaptive plan (the
    two-branch union form planned two, one per orientation)."""
    persisted = []
    persist = catalog.persist_tracked

    def capture(df):
        persisted.append(df)
        return persist(df)

    monkeypatch.setattr(catalog, "persist_tracked", capture)
    try:
        rows = registry.QUERIES["graph_label_propagation"](spark, SF_01).collect()
        assert rows
        (sym,) = [df for df in persisted if df.columns == ["u", "v"]]
        plan = spark._jvm.PythonSQLUtils.explainString(
            sym._jdf.queryExecution(), "simple"
        )
        assert len(_PAIR_COUNT_MAP.findall(_final_plan(plan))) == 1
    finally:
        catalog.release_caches()


def test_triangle_core_persists_degree_table(spark):
    """_triangle_core's degree table feeds the orient join and the
    caller's node/wedge scalars; it is built once and tracked."""
    from data_collection_ieee_spark.operators.graph import _triangle_core

    e = spark.createDataFrame([(1, 2), (1, 3), (2, 3), (3, 4)], "x bigint, y bigint")
    try:
        _edges, deg, tri = _triangle_core(spark, e, "triangle_test")
        assert deg.storageLevel != StorageLevel.NONE
        assert dict(map(tuple, deg.collect())) == {1: 2, 2: 2, 3: 3, 4: 1}
        assert tri.collect()[0]["t"] == 1
    finally:
        catalog.release_caches()
    assert deg.storageLevel == StorageLevel.NONE
