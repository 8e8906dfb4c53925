"""Round-13 optimization pins: every test here exists because an r13
change could silently regress without it."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ----------------------------------------------------- _bis_rows loud fallback


def test_broadcast_if_small_expect_known_raises_on_shed_count(spark, monkeypatch):
    """A consumer that declares it expects the CC row count must fail
    loudly in dev mode when a transformation shed `_bis_rows` — the
    silent fallback re-adds a probe job that no bench or plan diff will
    ever surface (VERDICT r12 item 8)."""
    from beacon_indexer_spark.operators.dedup import (
        broadcast_if_small,
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    out = connected_components(pairs)
    assert getattr(out, "_bis_rows", None) is not None

    # unmodified CC output keeps the count: no probe, no raise
    hinted = broadcast_if_small(out, expect_rows_known=True)
    assert (
        "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    )

    # a rename sheds the Python attribute -> dev mode raises
    renamed = out.withColumnRenamed("node", "doc_id")
    monkeypatch.setenv("SPARK_GRAFT_DEV_ASSERT", "1")
    with pytest.raises(AssertionError, match="_bis_rows"):
        broadcast_if_small(renamed, expect_rows_known=True)

    # production mode: warns and falls back to the probe, identical verdict
    monkeypatch.delenv("SPARK_GRAFT_DEV_ASSERT", raising=False)
    fallback = broadcast_if_small(renamed, expect_rows_known=True)
    rows = sorted(map(tuple, fallback.collect()))
    want = sorted(
        map(tuple, out.withColumnRenamed("node", "doc_id").collect())
    )
    assert rows == want


# ------------------------------------------------------ CC round variants


def _cc_expected(pairs):
    """Driver-side union-find ground truth for tiny test graphs."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in pairs:
        nodes.update((a, b))
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in nodes)


def test_cc_extra_jumps_equivalent_on_chains(spark):
    """The broadcast path converges to the min-reachable labels on chains —
    chains force multiple rounds, so the one pointer jump per round
    actually exercises path compression. (The name dates from when the
    jump depth was a parameter; that parameter is gone, one jump remains.)"""
    from beacon_indexer_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(1, 24)]
    extra = [(100, 101), (101, 103), (102, 103), (200, 300)]
    pairs = spark.createDataFrame(chain + extra, "id_a long, id_b long")
    want = _cc_expected(chain + extra)
    got = sorted(map(tuple, connected_components(pairs).collect()))
    assert got == want


def test_cc_extra_jumps_shuffle_path_equivalent(spark):
    """The shuffle fallback (broadcast_rows=None) lands on the identical
    labels on a chain."""
    from beacon_indexer_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(1, 16)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    want = _cc_expected(chain)
    got = sorted(
        map(
            tuple,
            connected_components(pairs, broadcast_rows=None).collect(),
        )
    )
    assert got == want


# --------------------------------------------- ANN single-scan quality gates


def _vec_corpus(spark, n=100, dim=16):
    """Deterministic clustered corpus (test_similarity_ivf fixture shape)."""
    rows = []
    for vid in range(n):
        cluster = vid % 4
        vec = [0.0] * dim
        for d in range(dim):
            base = 1.0 if d // 4 == cluster else 0.0
            jitter = ((vid * 31 + d * 17) % 13 - 6) / 100.0
            vec[d] = base + jitter
        rows.append((vid, vec))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


@pytest.mark.parametrize("k,nprobe", [(5, 2), (10, 1), (3, 3)])
def test_ivf_exact_scored_matches_composed_operators(spark, k, nprobe):
    """The single-scan frame must reproduce BOTH audited operators
    byte-for-byte: rank<=k rows == brute_force_topk, candidate rows with
    ivf_rank<=k == ivf_topk (flat path) — ranks, ids and cosines."""
    from beacon_indexer_spark.operators import similarity as S

    vectors = _vec_corpus(spark).localCheckpoint()
    queries = vectors.filter(F.col("vec_id") < 4)
    cents = S.ivf_centroids(vectors, k=8)
    pairs = S.ivf_exact_scored(
        vectors, queries, cents, k=k, nprobe=nprobe
    ).localCheckpoint()

    def key(rows):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["rank"], round(r["cos_sim"], 12))
            for r in rows
        )

    exact_new = pairs.filter(F.col("rank") <= k).collect()
    exact_old = S.brute_force_topk(vectors, queries, k=k).collect()
    assert key(exact_new) == key(exact_old)

    ivf_new = (
        pairs.filter((F.col("is_cand") == 1) & (F.col("ivf_rank") <= k))
        .withColumn("rank", F.col("ivf_rank"))
        .collect()
    )
    ivf_old = S.ivf_topk(vectors, queries, cents, k=k, nprobe=nprobe).collect()
    assert key(ivf_new) == key(ivf_old)


def test_ivf_exact_scored_rejects_two_level_counts(spark):
    from beacon_indexer_spark.operators import similarity as S

    vectors = _vec_corpus(spark, n=40)
    cents = [(i, [float(i)] * 16) for i in range(32)]
    with pytest.raises(ValueError, match="flat-path"):
        S.ivf_exact_scored(vectors, vectors.limit(1), cents, k=5)
