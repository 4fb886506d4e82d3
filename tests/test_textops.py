"""Unit tests for the textops kernels (rolling hash, winnowing, multimodal
stubs) — the SQL operators themselves are covered by the oracle-parity
tests in test_queries_oracle.py."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from engine.textops import multimodal, rolling


def _naive_kgram(data: bytes, k: int):
    out = []
    for i in range(len(data) - k + 1):
        h = 0
        for ch in data[i : i + k]:
            h = (h * rolling.B + ch) % rolling.P
        out.append(h)
    return np.array(out, dtype=np.int64)


def test_rolling_matches_naive():
    rng = np.random.default_rng(5)
    for n, k in [(1, 1), (16, 16), (40, 16), (500, 16), (300, 7)]:
        data = bytes(rng.integers(0, 256, n).tolist())
        got = rolling.kgram_hashes(data, k)
        want = _naive_kgram(data, k)
        assert np.array_equal(got, want), (n, k)


def test_rolling_short_input():
    assert len(rolling.kgram_hashes(b"abc", 16)) == 0


def test_winnow_properties():
    rng = np.random.default_rng(9)
    h = rng.integers(0, 2**31, 200)
    fps = rolling.winnow(h, 8)
    assert len(np.unique(fps)) == len(fps)
    assert set(fps.tolist()) <= set(h.tolist())
    # global min always survives winnowing
    assert h.min() in fps
    # identical docs -> identical fingerprints; edited docs share most
    t1 = b"the quick brown fox jumps over the lazy dog " * 20
    t2 = t1.replace(b"fox", b"cat")
    f1 = set(rolling.winnow(rolling.kgram_hashes(t1, 16), 8).tolist())
    f2 = set(rolling.winnow(rolling.kgram_hashes(t2, 16), 8).tolist())
    assert f1 == set(rolling.winnow(rolling.kgram_hashes(t1, 16), 8).tolist())
    assert len(f1 & f2) > 0


def test_fingerprints_text_api():
    fps = rolling.fingerprints("hello world, this is a document " * 10)
    assert len(fps) > 0 and fps.dtype == np.int64


def test_real_decode_is_stub():
    with pytest.raises(NotImplementedError):
        multimodal.real_decode(b"\x89PNG")


def test_media_frames_rows(spark):
    from engine.pipeline import fixtures

    from .conftest import SF_DIR

    pages = fixtures.pages_df(spark, SF_DIR).limit(200)
    pdf = multimodal.frame_sample_df(pages).toPandas()
    meta = multimodal.decode_media_df(pages).toPandas()
    # one row per (url, frame_idx), counts match the metadata's n_frames
    got = pdf.groupby("url").size().sort_index()
    want = meta.set_index("url")["n_frames"].sort_index()
    assert got.equals(want.astype(got.dtype))
    assert pdf["frame"].map(len).max() <= 16
    assert pdf["frame"].map(type).eq(bytes).all() or pdf["frame"].map(
        lambda b: isinstance(b, (bytes, bytearray))
    ).all()


def test_connected_components_multihop(spark):
    """Chain 1-2-3-4 plus isolated 9: labels propagate across hops (takes
    >1 round), singletons keep themselves, keeper = min id per cluster."""
    from engine.textops.cluster import connected_components

    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 7, 8, 9)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in connected_components(nodes, pairs).collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        7: (7, True), 8: (7, False), 9: (9, True),
    }


def test_components_star_matches_hashmin(spark):
    """Alternating large/small-star contraction must agree with hash-min
    label propagation on a mixed graph (chains, a cycle, singletons)."""
    from engine.textops.cluster import connected_components, connected_components_star

    nodes = spark.createDataFrame(
        [(i,) for i in range(20)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (8, 9), (9, 7), (11, 15), (15, 12),
         (17, 18)],
        "doc_a long, doc_b long",
    )
    want = sorted(tuple(r) for r in connected_components(nodes, pairs).collect())
    got = sorted(tuple(r) for r in connected_components_star(nodes, pairs).collect())
    assert got == want


def test_components_star_deep_chain(spark):
    """A 60-node path has diameter 59: hash-min at max_iters=25 must fail
    loudly, the star contraction must converge in O(log) rounds and label
    the whole chain with its minimum."""
    import pytest as _pytest

    from engine.textops.cluster import connected_components, connected_components_star

    n = 60
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, pairs, max_iters=25)
    got = connected_components_star(nodes, pairs, max_rounds=12).collect()
    assert all(r["cluster_id"] == 0 for r in got)
    assert sum(r["is_keeper"] for r in got) == 1


def _route_spy(monkeypatch, cluster):
    """Count the calls of the hash-min loop and of the star contraction,
    which still run."""
    calls = {"hash_min": 0, "star": 0}
    for key, name in (("hash_min", "_hash_min_labels"), ("star", "connected_components_star")):
        fn = getattr(cluster, name)

        def counted(*a, _key=key, _fn=fn, **kw):
            calls[_key] += 1
            return _fn(*a, **kw)

        monkeypatch.setattr(cluster, name, counted)
    return calls


def test_resolve_components_chooser(spark, monkeypatch):
    """Past PAIR_COLLECT_CAP (patched down to 2 pairs) the distributed
    chooser runs: a shallow graph resolves inside the hash-min budget; a
    deep chain (diameter >> budget) falls back to star contraction and
    still converges to the same contract."""
    from engine.textops import cluster

    monkeypatch.setattr(cluster, "PAIR_COLLECT_CAP", 2)
    calls = _route_spy(monkeypatch, cluster)

    # deep: 60-node path, budget 4 -> star fallback must label everything 0
    n = 60
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = cluster.resolve_components(nodes, pairs, hashmin_budget=4).collect()
    assert calls == {"hash_min": 1, "star": 1}
    assert all(r["cluster_id"] == 0 for r in got)
    assert sum(r["is_keeper"] for r in got) == 1

    # shallow: same graph as the multihop test stays on the hash-min path
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 7, 8, 9)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in cluster.resolve_components(nodes, pairs, hashmin_budget=8).collect()
    }
    assert calls == {"hash_min": 2, "star": 1}
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        7: (7, True), 8: (7, False), 9: (9, True),
    }


def test_resolve_components_routes_agree(spark, monkeypatch):
    """The local route (one pair collect, resolved in the driver) and the
    over-cap distributed route give the same rows on the same graph:
    chains, a cycle, duplicate and swapped pairs, isolated docs."""
    from engine.textops import cluster

    nodes = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (8, 9), (9, 7), (11, 15), (15, 12),
         (17, 18), (18, 17), (2, 3)],
        "doc_a long, doc_b long",
    )
    calls = _route_spy(monkeypatch, cluster)
    local = sorted(tuple(r) for r in cluster.resolve_components(nodes, pairs).collect())
    assert calls == {"hash_min": 0, "star": 0}
    monkeypatch.setattr(cluster, "PAIR_COLLECT_CAP", 3)
    spread = sorted(tuple(r) for r in cluster.resolve_components(nodes, pairs).collect())
    assert calls == {"hash_min": 1, "star": 0}
    assert local == spread
    label = {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7, 9: 7, 11: 11, 12: 11, 15: 11, 17: 17, 18: 17}
    assert local == [(i, label.get(i, i), label.get(i, i) == i) for i in range(20)]


def _bfs_min_labels(ids, pairs):
    """Min reachable id of every id, by breadth-first search."""
    adj = {i: set() for i in ids}
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    out = {}
    for i in ids:
        seen, todo = {i}, [i]
        while todo:
            for j in adj[todo.pop()] - seen:
                seen.add(j)
                todo.append(j)
        out[i] = min(seen)
    return out


@st.composite
def _pair_graph(draw):
    """Distinct signed doc ids cut into parts; each part is a chain, a
    cycle, random pairs (self pairs and repeats included) or no pairs at
    all (isolated ids), in random id order; then some pairs repeat."""
    ids = draw(st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=40, unique=True))
    cuts = sorted(draw(st.lists(st.integers(0, len(ids)), max_size=6)))
    pairs = []
    for lo, hi in zip([0, *cuts], [*cuts, len(ids)]):
        part = ids[lo:hi]
        shape = draw(st.sampled_from(["chain", "cycle", "random", "isolated"]))
        if shape in ("chain", "cycle"):
            pairs += list(zip(part, part[1:]))
        if shape == "cycle" and len(part) > 2:
            pairs.append((part[-1], part[0]))
        if shape == "random" and part:
            node = st.sampled_from(part)
            pairs += draw(st.lists(st.tuples(node, node), max_size=2 * len(part)))
    if pairs:
        pairs += draw(st.lists(st.sampled_from(pairs), max_size=5))
    order = draw(st.permutations(range(len(pairs))))
    swap = draw(st.lists(st.booleans(), min_size=len(pairs), max_size=len(pairs)))
    return ids, pairs, order, swap


@settings(max_examples=300, deadline=None)
@given(_pair_graph())
def test_min_labels_matches_bfs(graph):
    """The driver-side kernel labels every paired id with the min id it
    reaches, as BFS does; an id in no pair is left out (its own cluster);
    shuffling the pairs or swapping their endpoints changes nothing."""
    from engine.textops.cluster import min_labels

    ids, pairs, order, swap = graph
    a = np.array([p[0] for p in pairs], np.int64)
    b = np.array([p[1] for p in pairs], np.int64)
    doc_id, cluster_id = min_labels(a, b)
    want = _bfs_min_labels(ids, pairs)
    paired = sorted({i for p in pairs for i in p})
    assert doc_id.tolist() == paired
    assert cluster_id.tolist() == [want[i] for i in paired]
    got = dict(zip(doc_id.tolist(), cluster_id.tolist()))
    assert {i: got.get(i, i) for i in ids} == want
    flip = np.array(swap, bool)
    a2, b2 = np.where(flip, b, a)[order], np.where(flip, a, b)[order]
    for x, y in zip(min_labels(a2, b2), (doc_id, cluster_id)):
        np.testing.assert_array_equal(x, y)


def test_corpus_prep_build_is_one_pair_collect(spark):
    """Under PAIR_COLLECT_CAP, building corpus_prep_df runs exactly the
    jobs of the bounded pair collect (no localCheckpoint, no convergence
    probe), and its plan joins a local label table: no LogicalRDD."""
    from engine.textops import cluster

    from .conftest import SF_DIR

    spark.read.parquet(f"{SF_DIR}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    sc = spark.sparkContext

    def jobs(group, build):
        sc.setJobGroup(group, group)
        try:
            out = build()
        finally:
            sc._jsc.clearJobGroup()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    pairs = cluster._near_dup_graph(spark, 0.5)[1]
    t, n_collect = jobs(
        "pair_collect", lambda: pairs.limit(cluster.PAIR_COLLECT_CAP + 1).toArrow()
    )
    assert 0 < t.num_rows <= cluster.PAIR_COLLECT_CAP
    out, n_build = jobs("corpus_prep_build", lambda: cluster.corpus_prep_df(spark))
    assert n_build == n_collect
    plan = out._jdf.queryExecution().toString()
    assert "LocalRelation" in plan
    for node in ("LogicalRDD", "ExistingRDD"):
        assert node not in plan
