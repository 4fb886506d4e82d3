"""Seeded benchmark inputs, written as parquet the engine reads.

Everything here is a pure function of ``(seed, size)``: the same seed gives
byte-identical tables. The engine never sees the seed, only the files.

- ``documents.parquet`` (doc_id, text, lang, source, n_chars): the table
  ``engine.pipeline.fixtures.pages_df`` derives pages from (x120 replicas).
  doc_ids are a seeded relabelling drawn from [0, 100000), the range the
  engine's row_id / docs_aug id arithmetic assumes. Every tenth document
  is a one-word edit of the one before, so near-dup clustering has
  multi-member clusters to resolve.
- ``poly_edges.parquet`` / ``poly_centers.parquet``: convex k-gon polygons
  with the shape of ``fixtures.polygons_np`` (k = 4 + pid % 5, every fifth
  polygon holed), drawn from the seed instead of the fixture's fixed one.
  They live under the run's own directory, so no size-keyed cache from
  another seed can be picked up.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# the synthetic corpus vocabulary (same flavour as the test-data documents)
VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "vector order line table data agg value key stream window spark part "
    "group big sort query fast and of"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = np.array([0.44, 0.15, 0.14, 0.14, 0.13])
DOC_ID_SPACE = 100_000
DUP_EVERY = 10


def documents_pdf(seed: int, n_docs: int) -> pd.DataFrame:
    """Seeded documents whose cost does not depend on the seed: the word
    counts are one fixed set in seeded order, and every ``DUP_EVERY``-th
    document is a one-word edit of the one before it, so the near-dup
    graph has the same shape for every seed."""
    if not 0 < n_docs <= DOC_ID_SPACE:
        raise ValueError(f"n_docs must be in 1..{DOC_ID_SPACE}")
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(VOCAB)
    lengths = rng.permutation(np.linspace(10, 100, n_docs).astype(np.int64))
    texts = []
    for i in range(n_docs):
        if i % DUP_EVERY == DUP_EVERY - 1:
            words = texts[i - 1].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(lengths[i]))])
        texts.append(" ".join(words))
    ids = rng.choice(DOC_ID_SPACE, size=n_docs, replace=False).astype(np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, size=n_docs, p=LANG_P),
            "source": [f"src{j}" for j in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def polygons_pdf(seed: int, n_polys: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(edges, centers) for ``n_polys`` seeded convex k-gons.

    edges: (poly_id, ring_idx, x1, y1, x2, y2) over open rings, exterior
    CCW and the hole CW, as ``fixtures.polygon_edges_np`` lays them out.
    centers: (poly_id, name, clon, clat), the exterior vertex mean.
    """
    rng = np.random.default_rng([seed, 2])
    pid = np.arange(n_polys, dtype=np.int64)
    k = 4 + pid % 5
    clat = rng.uniform(-60, 60, n_polys)
    clon = rng.uniform(-170, 170, n_polys)
    radius = rng.uniform(0.5, 4.0, n_polys)
    phase = rng.uniform(0, 2 * np.pi, n_polys)

    def ring(owner, scale, reverse):
        kk = k[owner]
        starts = np.cumsum(kk) - kk
        of = np.repeat(np.arange(len(owner)), kk)
        j = np.arange(int(kk.sum())) - starts[of]
        if reverse:
            j = kk[of] - 1 - j
        ang = phase[owner][of] + 2 * np.pi * j / kk[of]
        r = scale * radius[owner][of]
        x = np.round(clon[owner][of] + r * np.cos(ang), 6)
        y = np.round(clat[owner][of] + r * np.sin(ang), 6)
        nxt = np.arange(len(j)) + 1
        nxt[starts + kk - 1] = starts  # close each open ring
        return owner[of], x, y, x[nxt], y[nxt]

    ext = ring(pid, 1.0, False)
    hole = ring(pid[pid % 5 == 0], 0.4, True)
    edges = pd.DataFrame(
        {
            "poly_id": np.concatenate([ext[0], hole[0]]),
            "ring_idx": np.concatenate(
                [np.zeros(len(ext[0]), np.int32), np.ones(len(hole[0]), np.int32)]
            ),
            "x1": np.concatenate([ext[1], hole[1]]),
            "y1": np.concatenate([ext[2], hole[2]]),
            "x2": np.concatenate([ext[3], hole[3]]),
            "y2": np.concatenate([ext[4], hole[4]]),
        }
    ).sort_values(["poly_id", "ring_idx"], kind="stable", ignore_index=True)
    ext_x = pd.Series(ext[1]).groupby(ext[0]).mean().to_numpy()
    ext_y = pd.Series(ext[2]).groupby(ext[0]).mean().to_numpy()
    centers = pd.DataFrame(
        {
            "poly_id": pid,
            "name": [f"region-{p}" for p in pid],
            "clon": np.round(ext_x, 6),
            "clat": np.round(ext_y, 6),
        }
    )
    return edges, centers


def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False)
    return path
