"""Synthetic tokenized-sequence corpus (input_hint schema) + price proxy.

``BASELINE.json`` ``input_hint`` fixes the input table shape:

    (doc_id: string, tokens: array<int32>, n_tok: int32, source: string)

The reference engine consumes OHLCV bars, so the engine needs a *fixed,
documented, deterministic* mapping from a token sequence to a per-step
price series.  Both the Spark kernel and the local numpy oracle call the
same :func:`tokens_to_ohlcv`, and tests additionally pin golden values, so
the mapping itself is part of the specification.

Everything here is integer-seeded and reproducible; no RNG state leaks
between calls.
"""

from __future__ import annotations

import numpy as np

#: vocabulary size for synthetic tokens (positive int32 range)
VOCAB = 50_257

# mixing constants for the splitmix64-style generator (public-domain
# algorithm; used for deterministic, seed-stable token synthesis)
_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer on uint64 arrays."""
    with np.errstate(over="ignore"):
        z = x + _SM_GAMMA
        z = (z ^ (z >> np.uint64(30))) * _SM_M1
        z = (z ^ (z >> np.uint64(27))) * _SM_M2
        return z ^ (z >> np.uint64(31))


def make_tokens(doc_index: int, n_tok: int, seed: int = 42) -> np.ndarray:
    """Deterministic int32 token sequence for one document."""
    base = np.uint64(seed) * np.uint64(0x100000001B3) + np.uint64(doc_index)
    with np.errstate(over="ignore"):
        idx = np.arange(n_tok, dtype=np.uint64) + base * np.uint64(1_000_003)
    return (_splitmix64(idx) % np.uint64(VOCAB)).astype(np.int32)


def doc_length(doc_index: int, seed: int = 42,
               min_len: int = 64, max_len: int = 1024,
               heavy_every: int = 97, heavy_len: int = 8192) -> int:
    """Deterministic heavy-tailed length: most docs in [min_len, max_len],
    every ``heavy_every``-th doc is an oversized outlier (skew driver)."""
    h = int(_splitmix64(np.uint64(seed * 7919 + doc_index * 104729 + 13)))
    if heavy_every and doc_index % heavy_every == heavy_every - 1:
        return heavy_len
    return min_len + h % (max_len - min_len + 1)


def make_corpus(n_docs: int, seed: int = 42, n_sources: int = 4,
                min_len: int = 64, max_len: int = 1024,
                heavy_every: int = 97, heavy_len: int = 8192):
    """Build the corpus as a list of row dicts matching input_hint.

    doc_id = f"doc{index:08d}", source = f"src{index % n_sources}".
    """
    rows = []
    for i in range(n_docs):
        n = doc_length(i, seed, min_len, max_len, heavy_every, heavy_len)
        rows.append({
            "doc_id": f"doc{i:08d}",
            "tokens": make_tokens(i, n, seed),
            "n_tok": np.int32(n),
            "source": f"src{i % n_sources}",
        })
    return rows


def write_corpus_parquet(path: str, n_docs: int, seed: int = 42,
                         docs_per_row_group: int = 2500, **kw) -> str:
    """Write the corpus to a parquet file with an exact
    ``tokens: list<int32>`` arrow schema (no silent int64 upcast).

    Row groups are sized to ``docs_per_row_group`` (r6): a single
    monolithic row group collapses the whole Spark scan onto ONE task —
    Spark's dynamic splits (totalBytes/defaultParallelism) exist, but a
    row group lands entirely in the split holding its midpoint, so a
    100 MB one-group file ran 24 empty tasks + 1 task decoding
    everything (observed as the serial head of every kernel bench run).
    ~2500 docs ≈ 3 MB per group spreads the decode across the scan
    splits at every corpus size; the logical rows are identical."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = make_corpus(n_docs, seed, **kw)
    table = pa.table({
        "doc_id": pa.array([r["doc_id"] for r in rows], pa.string()),
        "tokens": pa.array([r["tokens"] for r in rows], pa.list_(pa.int32())),
        "n_tok": pa.array([int(r["n_tok"]) for r in rows], pa.int32()),
        "source": pa.array([r["source"] for r in rows], pa.string()),
    })
    pq.write_table(table, path, compression="zstd",
                   row_group_size=docs_per_row_group)
    return path


# ---------------------------------------------------------------------------
# tokens -> OHLCV proxy (the fixed derivation; part of the engine spec)
# ---------------------------------------------------------------------------

def tokens_to_ohlcv(tokens: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Derive a deterministic (high, low, close) float64 series from an
    int32 token sequence.

    Definition (fixed; identical in the Spark kernel and the local oracle):

        step[i]  = ((t[i] mod 997) - 498) / 100
        close[i] = 100 + cumsum(step)[i]
        high[i]  = close[i] + (t[i] mod 31) / 10
        low[i]   = close[i] - ((t[i] // 31) mod 29) / 10

    All arithmetic is exact integer -> float64 conversion followed by
    float64 ops, so any two evaluations are bit-identical.
    """
    t = np.asarray(tokens, dtype=np.int64)
    step = ((t % 997) - 498).astype(np.float64) / 100.0
    close = 100.0 + np.cumsum(step)
    high = close + (t % 31).astype(np.float64) / 10.0
    low = close - ((t // 31) % 29).astype(np.float64) / 10.0
    return high, low, close


def tokens_to_availability(tokens: np.ndarray) -> np.ndarray:
    """Deterministic monotonic availability timestamps for a token
    sequence: bar i (at synthetic time i) becomes available at
    ``i + 1 + jitter(token[i])`` with jitter in [0, 1) — i.e. each bar
    arrives with a sub-bar delay, and availability is strictly increasing
    (consecutive diffs are in (0, 2)).  Mirrors the reference's
    ``actual_ready_time`` model (``availability_column``,
    ``atr_adaptive_rsi.py:97-106``; delay-stress semantics
    ``tests/test_temporal/test_availability_stress.py``)."""
    t = np.asarray(tokens, dtype=np.int64)
    jitter = ((t * 2654435761) % 1000).astype(np.float64) / 1001.0
    return np.arange(len(t), dtype=np.float64) + 1.0 + jitter


def tokens_to_availability_batched(tok_mat: np.ndarray) -> np.ndarray:
    """Batched variant over a padded (B, T) int matrix; axis-1 grid."""
    t = np.asarray(tok_mat, dtype=np.int64)
    jitter = ((t * 2654435761) % 1000).astype(np.float64) / 1001.0
    return np.arange(t.shape[1], dtype=np.float64)[None, :] + 1.0 + jitter


def tokens_to_ohlcv_batched(tok_mat: np.ndarray
                            ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batched variant over a zero-padded (B, T) int matrix; same math as
    :func:`tokens_to_ohlcv` applied along axis 1."""
    t = np.asarray(tok_mat, dtype=np.int64)
    step = ((t % 997) - 498).astype(np.float64) / 100.0
    close = 100.0 + np.cumsum(step, axis=1)
    high = close + (t % 31).astype(np.float64) / 10.0
    low = close - ((t // 31) % 29).astype(np.float64) / 10.0
    return high, low, close
