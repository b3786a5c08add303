"""Lockstep-batched core kernel.

Computes the C1-C8 recurrence (see ``reference_impl``) for a *batch* of
entities at once on padded ``(B, T)`` float64 matrices: vectorized across
the batch axis everywhere, sequential only along the time axis where the
math is irreducibly sequential (the incremental ATR sum and the Laguerre
cascade).  Those two loops run compiled (``kernel.recurrences``), with
NumPy loops as the fallback when the library cannot be built.  This is
the production kernel the ``engine.features_job`` jobs call from their
``mapInArrow`` workers.

``core_loop_batched`` runs the stages (``_core_stages``) from zero state;
``core_loop_resumed`` runs the same stages from one entity's carried
streaming state.

Bit-exactness: every float64 operation is applied in the same order as the
per-entity oracle (``reference_impl.core_loop``), on either backend, so
results are identical to the last bit — verified by tests.

Memory: the core stages write into a per-process :class:`Workspace` of
the fixed slabs named in :data:`_SLABS` (Spark reuses Python workers, so
they are mapped once); every later stage (expander, resample,
interactions) allocates the arrays it returns.

Reference semantics: ``/root/reference/src/atr_adaptive_laguerre/core/_numba_kernel.py:14-166``.
"""

from __future__ import annotations

import numpy as np

from atr_adaptive_laguerre_spark.kernel import recurrences
from atr_adaptive_laguerre_spark.kernel.reference_impl import CORE_OUTPUTS

__all__ = ["core_loop_batched", "pad_sequences", "CORE_OUTPUTS", "Workspace"]

#: default workspace capacity in float64 cells (docs x padded length)
DEFAULT_CELLS = 262_144

# names of the (B, T) float64 slabs the kernel needs; outputs are a subset
_SLABS = (
    "high", "low", "close", "tr", "s", "mean", "atr", "min_atr", "max_atr",
    "coeff", "gamma", "L0", "L1", "L2", "L3", "cu", "cd", "rsi", "scratch",
)


class Workspace:
    """The core kernel's flat buffers, one per :data:`_SLABS` name plus the
    per-batch state vectors, reshaped per chunk; one per process."""

    def __init__(self, cells: int = DEFAULT_CELLS):
        self.cells = cells
        self._flat: dict[str, np.ndarray] = {}
        for n in _SLABS:
            self._flat[n] = np.empty(cells, dtype=np.float64)
        # 8 per-batch state vectors; grown on demand (a chunk of very
        # short docs can legally have more rows than cells//8)
        self._vec = np.empty(8 * 65536, dtype=np.float64)

    def grow(self, cells: int) -> None:
        if cells > self.cells:
            self.cells = cells
            for n in _SLABS:
                self._flat[n] = np.empty(cells, dtype=np.float64)

    def view(self, name: str, b: int, t: int) -> np.ndarray:
        return self._flat[name][: b * t].reshape(b, t)

    def vec(self, i: int, b: int) -> np.ndarray:
        # NOTE: growth is safe mid-kernel only because every caller asks
        # for a consistent b within one kernel invocation — the first
        # vec() call of an invocation resizes, later ones reuse.
        if self._vec.size < 8 * b:
            self._vec = np.empty(8 * b, dtype=np.float64)
        return self._vec[i * b: (i + 1) * b]


_WS: Workspace | None = None


def get_workspace(cells: int = DEFAULT_CELLS) -> Workspace:
    global _WS
    if _WS is None:
        _WS = Workspace(cells)
    else:
        _WS.grow(cells)
    return _WS


def pad_sequences(seqs: list[np.ndarray], dtype=np.float64
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Stack variable-length 1-D arrays into a zero-padded (B, T) matrix.

    Returns (matrix, lengths).
    """
    lengths = np.fromiter((len(s) for s in seqs), dtype=np.int64,
                          count=len(seqs))
    t_max = int(lengths.max()) if len(seqs) else 0
    out = np.zeros((len(seqs), t_max), dtype=dtype)
    for b, s in enumerate(seqs):
        out[b, : lengths[b]] = s
    return out, lengths


def _true_range(high, low, close, out, prev_close=None):
    """C1 — vectorized true range. First bar: high-low, or against
    ``prev_close`` (a (b,) vector) when the series resumes; later bars:
    ``max(high, prev_close) - min(low, prev_close)``."""
    if prev_close is None:
        np.subtract(high[:, 0], low[:, 0], out=out[:, 0])
    else:
        np.subtract(np.maximum(high[:, 0], prev_close),
                    np.minimum(low[:, 0], prev_close), out=out[:, 0])
    if high.shape[1] > 1:
        prev_c = close[:, :-1]
        hi = np.maximum(high[:, 1:], prev_c, out=out[:, 1:])
        lo = np.minimum(low[:, 1:], prev_c)
        np.subtract(hi, lo, out=out[:, 1:])
    return out


def _atr_incremental(tr, p, out, ws, b, start=0, sums=None):
    """C2 — ATR as the reference's *incremental* ring-buffer sum
    (``tr_sum = (tr_sum + tr) - old_tr``), lockstep across the batch so
    the float rounding matches the oracle exactly.  A resumed series
    starts at column ``start`` (the columns before it are carried TRs)
    from the (b,) ``sums``, which receive the final sums.

    Stays COLUMN-ORIENTED (r6 note): only 3 column touches per step, so
    the live cache-line set is ~3·B·64 B ≈ 80 KB — L2-resident, and the
    adjacent-column writes reuse the same lines.  A transposed variant
    was measured 44% SLOWER (the two transpose passes cost more than the
    cached column writes); contrast `_laguerre_cascade`, whose 6-slab
    16-op step profits from the (T, B) layout.  These layout notes
    describe the NumPy fallback only: the compiled loop (see
    ``kernel.recurrences``) runs row by row over the slab."""
    rec = recurrences.compiled()
    if rec is not None:
        rec.atr_incremental(tr, p, out, start, sums)
        return out
    t = tr.shape[1]
    tr_sum = ws.vec(0, b)
    tr_sum[:] = 0.0 if sums is None else sums
    for i in range(start, t):
        if i < p:
            tr_sum += tr[:, i]
            np.divide(tr_sum, i + 1, out=out[:, i])
        else:
            tr_sum += tr[:, i]
            tr_sum -= tr[:, i - p]
            np.divide(tr_sum, p, out=out[:, i])
    if sums is not None:
        sums[:] = tr_sum
    return out


def _atr_minmax(tr, p, ws, b, t):
    """C3 — min/max over the means of the k most-recent TRs, k=1..buf_len.

    Vectorized as a k-loop (k = 2..p) of shifted in-place adds on (B, T)
    slabs: ``suffix_sum_k[i] = suffix_sum_{k-1}[i] + tr[i-k+1]``, the same
    accumulation order as the oracle's newest-to-oldest running sum.
    Positions with fewer than k bars don't participate at that k (matching
    buf_len = min(bars_seen, p)).  Row 0: min = max = atr == tr[0].
    """
    s = ws.view("s", b, t)
    mean = ws.view("mean", b, t)
    min_atr = ws.view("min_atr", b, t)
    max_atr = ws.view("max_atr", b, t)
    np.copyto(s, tr)
    np.copyto(min_atr, tr)                 # k=1 mean == tr
    np.copyto(max_atr, tr)
    for k in range(2, p + 1):
        if k - 1 >= t:
            break
        sk = s[:, k - 1:]
        sk += tr[:, : t - k + 1]
        mk = mean[:, k - 1:]
        np.divide(sk, k, out=mk)
        np.minimum(min_atr[:, k - 1:], mk, out=min_atr[:, k - 1:])
        np.maximum(max_atr[:, k - 1:], mk, out=max_atr[:, k - 1:])
    return min_atr, max_atr


def _laguerre_cascade(close, gamma, ws, b, t, init=None):
    """C6 — 4-stage cascade with time-varying gamma.  The state starts at
    zero (matches the production numba kernel, which never calls
    ``initialize(price)``; see reference ``_numba_kernel.py:60-132``), or
    at ``init``, the carried l0..l3 as a (b, 4) slab, when resuming.

    Memory layout (r6): the time loop reads/writes *columns* of (B, T)
    slabs, and a column touch costs a full cache line per element (64 B
    for 8 B of payload).  Working transposed — inputs copied to (T, B)
    once, per-step reads/writes contiguous, outputs transposed back —
    cuts the loop's DRAM traffic ~8x for two extra transpose passes:
    26% faster single-proc, bit-identical (same float ops, same order).
    That layout is the NumPy fallback's; the compiled loop (see
    ``kernel.recurrences``) writes the (B, T) slabs row by row.
    """
    L0, L1, L2, L3 = (ws.view(n, b, t) for n in ("L0", "L1", "L2", "L3"))
    rec = recurrences.compiled()
    if rec is not None:
        rec.laguerre_cascade(close, gamma, L0, L1, L2, L3, init)
        return L0, L1, L2, L3
    cT = np.ascontiguousarray(close.T)
    gT = np.ascontiguousarray(gamma.T)
    L0T, L1T, L2T, L3T = (np.empty((t, b)) for _ in range(4))
    l0, l1, l2, l3 = (ws.vec(j, b) for j in range(4))
    for j, lj in enumerate((l0, l1, l2, l3)):
        lj[:] = 0.0 if init is None else init[:, j]
    p0 = ws.vec(4, b)
    p1 = ws.vec(5, b)
    p2 = ws.vec(6, b)
    tmp = ws.vec(7, b)
    for i in range(t):
        c = cT[i]
        g = gT[i]
        np.copyto(p0, l0)
        np.copyto(p1, l1)
        np.copyto(p2, l2)
        # l0 = c + g*(l0 - c)
        np.subtract(l0, c, out=tmp); np.multiply(tmp, g, out=tmp)
        np.add(c, tmp, out=l0)
        # l1 = p0 + g*(l1 - l0)
        np.subtract(l1, l0, out=tmp); np.multiply(tmp, g, out=tmp)
        np.add(p0, tmp, out=l1)
        np.subtract(l2, l1, out=tmp); np.multiply(tmp, g, out=tmp)
        np.add(p1, tmp, out=l2)
        np.subtract(l3, l2, out=tmp); np.multiply(tmp, g, out=tmp)
        np.add(p2, tmp, out=l3)
        L0T[i] = l0
        L1T[i] = l1
        L2T[i] = l2
        L3T[i] = l3
    np.copyto(L0, L0T.T)
    np.copyto(L1, L1T.T)
    np.copyto(L2, L2T.T)
    np.copyto(L3, L3T.T)
    return L0, L1, L2, L3


def _adaptive_gamma(atr, min_atr, max_atr, p, adaptive_offset, ws, b, t):
    """C4 adaptive coefficient and C5 gamma over (b, t) slabs; uses the
    ``mean``, ``s`` and ``scratch`` slabs as temporaries (free after C3).

    C4 (reference core/adaptive.py:4-44): _max = max(max_atr, atr);
    _min = min(min_atr, atr); degenerate (_min == _max) -> 0.5 else
    1 - (atr-_min)/(_max-_min).  C5: gamma = 1 - 10/(p*(coeff+offset) + 9).
    """
    _max = ws.view("scratch", b, t)
    np.maximum(max_atr, atr, out=_max)
    _min = ws.view("mean", b, t)
    np.minimum(min_atr, atr, out=_min)
    coeff = ws.view("coeff", b, t)
    span = ws.view("s", b, t)
    np.subtract(_max, _min, out=span)
    degenerate = span == 0.0                   # small bool alloc (1 byte/cell)
    span[degenerate] = 1.0
    np.subtract(atr, _min, out=coeff)
    np.divide(coeff, span, out=coeff)
    np.subtract(1.0, coeff, out=coeff)
    coeff[degenerate] = 0.5

    gamma = ws.view("gamma", b, t)
    np.add(coeff, adaptive_offset, out=gamma)
    gamma *= float(p)
    gamma += 9.0
    np.divide(10.0, gamma, out=gamma)
    np.subtract(1.0, gamma, out=gamma)
    return coeff, gamma


def _laguerre_rsi(L0, L1, L2, L3, ws, b, t):
    """C7 RSI: additions in the oracle's order (L0/L1, then L1/L2, then
    L2/L3); cu += max(d,0) and cd += max(-d,0) reproduce the branch."""
    cu = ws.view("cu", b, t)
    cd = ws.view("cd", b, t)
    d = ws.view("scratch", b, t)
    np.subtract(L0, L1, out=d)
    np.maximum(d, 0.0, out=cu)
    np.negative(d, out=d); np.maximum(d, 0.0, out=cd)
    np.subtract(L1, L2, out=d)
    tmp = ws.view("s", b, t)
    np.maximum(d, 0.0, out=tmp); cu += tmp
    np.negative(d, out=d); np.maximum(d, 0.0, out=tmp); cd += tmp
    np.subtract(L2, L3, out=d)
    np.maximum(d, 0.0, out=tmp); cu += tmp
    np.negative(d, out=d); np.maximum(d, 0.0, out=tmp); cd += tmp

    rsi = ws.view("rsi", b, t)
    tot = ws.view("mean", b, t)
    np.add(cu, cd, out=tot)
    flat = tot == 0.0
    tot[flat] = 1.0
    np.divide(cu, tot, out=rsi)
    rsi[flat] = 0.0
    return rsi


def _core_stages(hw, lw, cw, tr, p, adaptive_offset, ws, h=0, sums=None,
                 init=None, prev_close=None) -> dict[str, np.ndarray]:
    """C1-C7 over (b, t) input slabs into workspace views keyed by
    :data:`CORE_OUTPUTS`.  ``tr`` is the (b, h + t) TR slab; a resumed
    series carries its last ``h`` TRs, oldest first, in ``tr[:, :h]``."""
    b, t = cw.shape
    _true_range(hw, lw, cw, tr[:, h:], prev_close)
    atr = _atr_incremental(tr, p, ws.view("atr", b, h + t), ws, b,
                           h, sums)[:, h:]
    min_atr, max_atr = (m[:, h:] for m in _atr_minmax(tr, p, ws, b, h + t))
    coeff, gamma = _adaptive_gamma(atr, min_atr, max_atr, p,
                                   adaptive_offset, ws, b, t)
    L0, L1, L2, L3 = _laguerre_cascade(cw, gamma, ws, b, t, init)
    return {
        "rsi": _laguerre_rsi(L0, L1, L2, L3, ws, b, t),
        "adaptive_coeff": coeff, "gamma": gamma,
        "L0": L0, "L1": L1, "L2": L2, "L3": L3,
        "min_atr": min_atr, "max_atr": max_atr, "atr": atr,
    }


def core_loop_batched(high: np.ndarray, low: np.ndarray, close: np.ndarray,
                      atr_period: int, adaptive_offset: float = 0.75,
                      copy_out: bool = True,
                      ) -> dict[str, np.ndarray]:
    """Batched C1-C8 over padded (B, T) matrices.

    Values at columns beyond an entity's true length are garbage (callers
    mask by length).  Returns a dict of (B, T) float64 arrays keyed by
    :data:`CORE_OUTPUTS`.  With ``copy_out=False`` the returned arrays are
    views into the shared workspace — valid only until the next core
    call.
    """
    b, t = high.shape
    ws = get_workspace(max(DEFAULT_CELLS, b * t))

    hw = ws.view("high", b, t); np.copyto(hw, high, casting="unsafe")
    lw = ws.view("low", b, t); np.copyto(lw, low, casting="unsafe")
    cw = ws.view("close", b, t); np.copyto(cw, close, casting="unsafe")

    out = _core_stages(hw, lw, cw, ws.view("tr", b, t), int(atr_period),
                       adaptive_offset, ws)
    if copy_out:
        out = {k: v.copy() for k, v in out.items()}
    return out


def core_loop_resumed(high: np.ndarray, low: np.ndarray, close: np.ndarray,
                      st: dict, atr_period: int,
                      adaptive_offset: float = 0.75) -> dict[str, np.ndarray]:
    """Advance ONE entity's saved streaming state over ``n`` new bars:
    the batch stages on a (1, buf_len + n) slab of the ring's TRs, oldest
    first, then the new bars, started from the carried ATR sum, Laguerre
    state and previous close.  Returns fresh (n,) arrays keyed by
    :data:`CORE_OUTPUTS`, bit-identical to the batch kernel over the
    whole series (tested at every split, per bar included).

    ``st`` is the streaming state dict (``streaming.stateful``:
    prev_close, seen, tr_buf (ring list of p), buf_head, buf_len, tr_sum,
    l0..l3), updated in place; the ring is written back oldest first,
    with ``buf_head = buf_len % p``.
    """
    p = int(atr_period)
    n = len(close)
    if n == 0:
        return {k: np.empty(0) for k in CORE_OUTPUTS}
    h = st["buf_len"]
    ws = get_workspace(max(DEFAULT_CELLS, h + n))
    hw = ws.view("high", 1, n); hw[0] = high
    lw = ws.view("low", 1, n); lw[0] = low
    cw = ws.view("close", 1, n); cw[0] = close
    tr = ws.view("tr", 1, h + n)
    ring = np.asarray(st["tr_buf"], dtype=np.float64)
    tr[0, :h] = ring[(st["buf_head"] - np.arange(h, 0, -1)) % p]
    sums = np.array([st["tr_sum"]], dtype=np.float64)
    init = np.array([[st["l0"], st["l1"], st["l2"], st["l3"]]],
                    dtype=np.float64)
    prev_close = (np.array([st["prev_close"]], dtype=np.float64)
                  if st["seen"] else None)
    out = {k: v[0].copy() for k, v in _core_stages(
        hw, lw, cw, tr, p, adaptive_offset, ws, h, sums, init,
        prev_close).items()}

    blen = min(h + n, p)
    st["tr_buf"] = tr[0, h + n - blen:].tolist() + [0.0] * (p - blen)
    st["buf_head"] = blen % p
    st["buf_len"] = blen
    st["tr_sum"] = float(sums[0])
    st["prev_close"] = float(cw[0, -1])
    st["seen"] = 1
    st["l0"], st["l1"], st["l2"], st["l3"] = (
        float(out[k][-1]) for k in ("L0", "L1", "L2", "L3"))
    return out
