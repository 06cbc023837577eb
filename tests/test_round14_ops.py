"""Round-14 optimization internals.

Every change this round is schedule/plan-shape only — results must be
bit-identical. These tests pin the equalities the optimizations rely on:

- graph_assortativity forks on the campaign-scale input gate (moments
  form above it, xy form below it); both forms must agree to the bit,
  the empty graph included.
- catalog.load_table memoizes the READER PLAN per (session, sf_dir,
  table) — a plan handle, never data; the memo must be keyed by live
  session and must not leak across scale-factor dirs.
- connected_components persists its pair input for the probe/edge/label
  consumers; the pair cache must be released at kernel exit (no storage
  leak on top of the existing checkpoint-release contract), unless the
  caller persisted it.
- catalog.input_bytes counts parquet payloads only.
"""

from __future__ import annotations

import os

from data_collection_ieee_spark import catalog, registry

registry.load_all()

SF_A = "/root/testdata/sf0.001"


def test_assortativity_moments_form_bit_equal(spark, tmp_path):
    """The eager-gate moments restructure (one edge join + degree-table
    moments) must reproduce the xy form's output EXACTLY — same exact
    integer multiset sums, same final double — on the fixture and on an
    empty graph (empty lineitem/orders with the testdata schemas, where
    the xy form's COUNT(*) is 0 and a bare moments SUM would be NULL)."""
    fn = registry.QUERIES["graph_assortativity"]
    for name in ("lineitem", "orders"):
        catalog.load_table(spark, SF_A, name).limit(0).write.parquet(
            str(tmp_path / f"{name}.parquet")
        )
    n_edges = []
    for sf in (SF_A, str(tmp_path)):
        os.environ["SPARK_GRAFT_EAGER_ITER_BYTES"] = "0"  # force moments form
        try:
            eager_rows = fn(spark, sf).collect()
        finally:
            os.environ.pop("SPARK_GRAFT_EAGER_ITER_BYTES", None)
        catalog.release_caches()
        lazy_rows = fn(spark, sf).collect()
        catalog.release_caches()
        assert eager_rows == lazy_rows
        assert len(eager_rows) == 1
        n_edges.append(eager_rows[0]["n_directed_edges"])
    assert n_edges[0] > 0 and n_edges[1] == 0


def test_load_table_memoizes_reader_plan_per_session(spark):
    """Same (session, sf_dir, name) → same DataFrame object (a plan
    handle — no data is cached); a different sf_dir must get a fresh
    reader, and the memo must never confuse tables."""
    a1 = catalog.load_table(spark, SF_A, "orders")
    a2 = catalog.load_table(spark, SF_A, "orders")
    assert a1 is a2
    b = catalog.load_table(spark, "/root/testdata/sf0.01", "orders")
    assert b is not a1
    c = catalog.load_table(spark, SF_A, "lineitem")
    assert c is not a1 and "l_orderkey" in c.columns
    # the memo holds no persisted blocks — nothing for release to drop
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    catalog.load_table(spark, SF_A, "customer")
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_cc_kernel_releases_pair_cache(spark):
    """connected_components persists its pair input (r14); kernel exit
    must unpersist it together with the edge cache so a campaign loop
    cannot accumulate pair caches."""
    from data_collection_ieee_spark.operators.dedup import connected_components

    catalog.release_caches()
    base = spark.sparkContext._jsc.getPersistentRDDs().size()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "a_id bigint, b_id bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in range(21)], "doc_id bigint")
    connected_components(spark, pairs, nodes).count()
    catalog.release_caches()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == base


def test_cc_keeps_caller_persisted_pairs(spark):
    """A pair frame the caller persisted must still be persisted after
    the kernel returns: the kernel owns only the caches it creates
    (ADVICE r14 #4)."""
    from data_collection_ieee_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "a_id bigint, b_id bigint"
    ).persist()
    nodes = spark.createDataFrame([(i,) for i in range(11)], "doc_id bigint")
    try:
        labels = connected_components(spark, pairs, nodes).collect()
        assert {r["cluster_id"] for r in labels} == {0}
        assert pairs.is_cached
    finally:
        pairs.unpersist()
        catalog.release_caches()


def test_cc_labels_identical_under_pair_persist(spark):
    """The pair persist is schedule-only: labels must match a driver
    union-find."""
    from data_collection_ieee_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 10)]
    nodes_l = [1, 2, 3, 10, 11, 20, 21, 22, 30]
    pairs = spark.createDataFrame(edges, "a_id bigint, b_id bigint")
    nodes = spark.createDataFrame([(i,) for i in nodes_l], "doc_id bigint")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(spark, pairs, nodes).collect()
    }
    # reference union-find
    parent = {n: n for n in nodes_l}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: min(m for m in nodes_l if find(m) == find(n)) for n in nodes_l}
    catalog.release_caches()
    assert got == want


def test_input_bytes_counts_parquet_payloads_only(tmp_path):
    """Sidecars (checksum lists, _SUCCESS markers, .crc files) are not
    input; a directory-style dataset counts through its part files."""
    (tmp_path / "SHA256SUMS").write_bytes(b"x" * 1000)
    (tmp_path / "region.parquet").write_bytes(b"r" * 30)
    ds = tmp_path / "lineitem.parquet"
    ds.mkdir()
    (ds / "part-00000-a.snappy.parquet").write_bytes(b"p" * 200)
    (ds / "part-00001-a.snappy.parquet").write_bytes(b"p" * 100)
    (ds / "_SUCCESS").write_bytes(b"")
    (ds / ".part-00000-a.snappy.parquet.crc").write_bytes(b"c" * 12)
    assert catalog.input_bytes(str(tmp_path)) == 330
