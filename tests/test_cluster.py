"""Connected components (`data/cluster.py`): exact answers on both sides
of the partition-local contraction, the round cap, and the Spark job count
of the graph_wcc query."""

from __future__ import annotations

import contextlib
import random
from collections import Counter

import pytest

from tidb_spark.data import cluster as cl

from tests.conftest import TEST_SF_DIR

# 32 un-coalesced shuffle partitions: each partition holds a few edges, so
# the contraction leaves a forest that is not yet a star forest and the
# star rounds run.  With coalescing on, small inputs land in ONE partition
# and the contraction alone is the answer.
SPLIT = {
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
}


@contextlib.contextmanager
def _conf(spark, settings):
    saved = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture()
def star_rounds(monkeypatch):
    """Counts the large-star/small-star rounds ``connected_components``
    runs (each round applies ``_large_star`` once)."""
    calls = []
    large_star = cl._large_star

    def counted(e):
        calls.append(1)
        return large_star(e)

    monkeypatch.setattr(cl, "_large_star", counted)
    return calls


def _union_find(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for a, b in edges if a != b for n in (a, b)}


def _graphs():
    # A 6-node chain (worst case for label propagation), a separate
    # triangle, an isolated pair and a self-loop that is ignored.
    fixed = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
             (10, 11), (11, 12), (10, 12),
             (20, 21),
             (30, 30)]
    rng = random.Random(20261018)
    graphs = {"fixed": fixed, "empty": []}
    for g in range(3):
        labels = rng.sample(range(-10**12, 10**12), 240)
        edges, at = [], 0
        while at < len(labels) - 1:
            size = rng.randint(2, 40)
            part = labels[at:at + size]
            at += size
            if rng.random() < 0.5:  # chain in shuffled label order
                edges += list(zip(part, part[1:]))
            else:  # clique
                edges += [(x, y) for i, x in enumerate(part) for y in part[i + 1:]]
        edges += [(y, x) for x, y in rng.sample(edges, len(edges) // 4)]
        edges += rng.sample(edges, len(edges) // 4)  # duplicate edges
        edges += [(x, x) for x in rng.sample(labels, 10)]  # self-loops
        rng.shuffle(edges)
        graphs[f"random{g}"] = edges
    return graphs


@pytest.mark.parametrize("layout", ["coalesced", "split"])
def test_connected_components_matches_union_find(spark, star_rounds, layout):
    """Components equal a pure-Python union-find with the edge set in one
    partition (contraction only, zero rounds) and spread over 32
    partitions (contraction, then star rounds); duplicate clusters, a join
    on top of the components, are checked in the first layout."""
    rounds = {}
    with _conf(spark, SPLIT if layout == "split" else {}):
        for name, edges in _graphs().items():
            df = spark.createDataFrame(edges, "d1 long, d2 long")
            del star_rounds[:]
            got = {(r["node"], r["component"]) for r in cl.connected_components(df).collect()}
            rounds[name] = len(star_rounds)
            want = _union_find(edges)
            assert got == want, name
            if layout == "split":
                continue  # duplicate_clusters adds one layout-blind join
            size = Counter(c for _, c in want)
            clusters = {
                (r["doc_id"], r["canonical_id"], r["cluster_size"])
                for r in cl.duplicate_clusters(df).collect()
            }
            assert clusters == {(n, c, size[c]) for n, c in want}, name
    if layout == "coalesced":
        assert set(rounds.values()) == {0}, rounds
    else:
        assert max(rounds.values()) > 0, rounds


def test_connected_components_path_graph_and_round_cap(spark):
    """A 64-node path with shuffled labels over 32 partitions is one
    component at the default cap; with ``max_rounds=1`` the rounds stop
    short of a star forest and the call raises instead of returning
    partial stars."""
    labels = random.Random(64).sample(range(1000), 64)
    path = list(zip(labels, labels[1:]))
    with _conf(spark, SPLIT):
        df = spark.createDataFrame(path, "d1 long, d2 long")
        got = {(r["node"], r["component"]) for r in cl.connected_components(df).collect()}
        assert got == {(n, min(labels)) for n in labels}
        with pytest.raises(RuntimeError, match="after 1 rounds"):
            cl.connected_components(df, max_rounds=1)


def test_graph_wcc_job_count(spark):
    """Spark jobs one warm graph_wcc run starts (construction plus
    collect) at the test scale: 10 with the partition-local contraction
    and star-forest stop, measured on sf0.001.  The checksum-stop rounds
    they replaced started 43 here."""
    from tidb_spark.queries import all_queries, graphq

    q = all_queries()["graph_wcc"].spark
    q(spark, TEST_SF_DIR).collect()  # builds the session's graph fixture
    for fut in list(graphq._PENDING.values()):
        fut.result()  # background fixture builds would add their jobs
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    q(spark, TEST_SF_DIR).collect()
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert len(jobs) <= 10, len(jobs)
