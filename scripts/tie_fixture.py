"""Planted exact-.5 rounding fixture builder for
tests/test_planted_ties.py.

1e9 = 2^9 * 5^9, so a product of dyadic values a*b = p * 2^-10 with p
odd scales to p * 5^9 / 2 EXACTLY — an odd multiple of 0.5, i.e. an
exact rounding tie, on every term. The embeddings table written here
puts the whole q30b Gram block and the whole q66d scaled-score block on
such ties (see tests/test_planted_ties.py for the self-check), making
half-even/half-away divergence the common case instead of a latent one.
"""

from __future__ import annotations

import os

import numpy as np

N_TIE = 128      # vec_id 0..127: odd m * 2^-5  (Gram tie grid)
N_Q = 256        # vec_id 128..255: odd m * 2^-3 (attention Q tie grid)
N_KV = 320       # vec_id 256..319: odd m * 2^-4 (attention KV grid)
DIM = 64


def _grid(rng: np.random.Generator, n: int, exp: int, m_max: int) -> np.ndarray:
    """(n, DIM) float32 matrix of values (odd m) * 2**exp, |m| <= m_max."""
    m = rng.integers(0, m_max // 2 + 1, size=(n, DIM)) * 2 + 1
    sign = rng.choice([-1, 1], size=(n, DIM))
    vals = (m * sign).astype(np.float64) * (2.0**exp)
    out = vals.astype(np.float32)
    assert np.all(out.astype(np.float64) == vals)  # grid is float32-exact
    return out


def write_tie_fixture(d: str, seed: int = 42) -> str:
    """Write embeddings.parquet of planted-tie vectors into dir ``d``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    mat = np.vstack(
        [
            _grid(rng, N_TIE, -5, 31),
            _grid(rng, N_Q - N_TIE, -3, 7),
            _grid(rng, N_KV - N_Q, -4, 15),
        ]
    )
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(N_KV, dtype=np.int64)),
            "embedding": pa.array(
                [row for row in mat], type=pa.list_(pa.float32())
            ),
            "label": pa.array(
                (np.arange(N_KV) % 7).astype(np.int32), type=pa.int32()
            ),
        }
    )
    pq.write_table(tbl, os.path.join(d, "embeddings.parquet"))
    return d
