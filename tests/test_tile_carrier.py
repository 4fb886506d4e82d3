"""The one tile-group worker's carrier (tiler.carry_group_iter), Spark-free:
whatever the Arrow batch boundaries, every encode call sees only whole gid
groups, each group reaches exactly one call, and the calls, concatenated in
order, are the input."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from engine.pipeline import tiler


@st.composite
def _split_runs(draw):
    """Sorted gid runs (one a mega-group spanning many batches) split into
    Arrow batches at random cuts, plus cuts that always make a 1-row batch,
    an empty batch and batches lying wholly inside the mega-group."""
    sizes = draw(st.lists(st.integers(1, 5), min_size=1, max_size=10))
    mega = draw(st.integers(0, len(sizes) - 1))
    sizes[mega] = draw(st.integers(12, 40))
    gids = sorted(
        draw(
            st.lists(
                st.integers(0, (1 << 62) - 1),
                min_size=len(sizes),
                max_size=len(sizes),
                unique=True,
            )
        )
    )
    gid = np.repeat(np.asarray(gids, dtype=np.int64), sizes)
    n = len(gid)
    m0 = sum(sizes[:mega])
    cuts = draw(st.lists(st.integers(0, n), max_size=12))
    cuts += [m0 + 1, m0 + 2, m0 + 2, m0 + 6, m0 + 9]
    bounds = [0, *sorted(cuts), n]
    rows = np.arange(n, dtype=np.int64)
    blob = pa.array([b"r%d" % i for i in range(n)], type=pa.binary())
    batches = [
        pa.RecordBatch.from_arrays(
            [pa.array(gid[s:e]), pa.array(rows[s:e]), blob.slice(s, e - s)],
            names=["gid", "row", "blob"],
        )
        for s, e in zip(bounds[:-1], bounds[1:])
    ]
    return gid, blob, batches


@settings(max_examples=300, deadline=None)
@given(_split_runs())
def test_carrier_yields_whole_groups_in_order(case):
    gid, blob, batches = case
    assert any(b.num_rows == 0 for b in batches)
    assert any(b.num_rows == 1 for b in batches)
    calls = list(tiler.carry_group_iter(iter(batches), lambda c: c, frozenset({"blob"})))

    seen = set()
    for c in calls:
        assert isinstance(c["row"], np.ndarray)
        assert isinstance(c["blob"], pa.Array)  # kept in Arrow form
        ids, counts = np.unique(c["gid"], return_counts=True)
        for g, k in zip(ids.tolist(), counts.tolist()):
            assert k == int((gid == g).sum()), "a group was split across calls"
            assert g not in seen, "a group reached two calls"
            seen.add(g)
    assert seen == set(gid.tolist())

    assert np.array_equal(np.concatenate([c["gid"] for c in calls]), gid)
    assert np.array_equal(
        np.concatenate([c["row"] for c in calls]), np.arange(len(gid))
    )
    assert pa.chunked_array([c["blob"] for c in calls]).combine_chunks().equals(blob)
