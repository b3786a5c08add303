"""Lockstep-batched core kernel.

Computes the C1-C8 recurrence (see ``reference_impl``) for a *batch* of
entities at once on padded ``(B, T)`` float64 matrices: vectorized across
the batch axis everywhere, sequential only along the time axis where the
math is irreducibly sequential (the incremental ATR sum and the Laguerre
cascade).  Those two loops run compiled (``kernel.recurrences``), with
NumPy loops as the fallback when the library cannot be built.  This is
the production kernel the ``engine.features_job`` jobs call from their
``mapInArrow`` workers.

Bit-exactness: every float64 operation is applied in the same order as the
per-entity oracle (``reference_impl.core_loop``), on either backend, so
results are identical to the last bit — verified by tests.

Memory discipline: fresh large allocations are ~15x slower than writes to
already-mapped pages on virtualized hosts (page-fault bound), so all large
intermediates live in a per-process :class:`Workspace` that is allocated
once and reused across kernel calls (Spark reuses Python workers across
tasks, so the cost amortizes to zero).  Every elementwise step uses
``out=`` into workspace views; the only fresh allocations are the returned
output arrays themselves.

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
    """Preallocated flat buffers reshaped per chunk; one per process.

    Slabs are created on first use by name and kept for the life of the
    process (Spark reuses Python workers, so the page-fault cost of the
    first allocation amortizes across all subsequent tasks).
    """

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
            for n in list(self._flat):
                self._flat[n] = np.empty(cells, dtype=np.float64)

    def view(self, name: str, b: int, t: int) -> np.ndarray:
        buf = self._flat.get(name)
        if buf is None:
            buf = self._flat[name] = np.empty(self.cells, dtype=np.float64)
        return buf[: b * t].reshape(b, t)

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


class OutPool:
    """Persistent, named 1-D float64 output buffers.

    Fresh page-faulting allocations collapse under many-core concurrency
    on virtualized hosts, so per-chunk *output* columns are also written
    into reusable buffers.  Safe in ``mapInArrow``: the worker serializes
    each yielded RecordBatch to the socket before the generator resumes,
    so a buffer may be reused for the next chunk.
    """

    def __init__(self) -> None:
        self._bufs: dict[str, np.ndarray] = {}

    def get(self, name: str, n: int, dtype=np.float64) -> np.ndarray:
        buf = self._bufs.get(name)
        if buf is None or buf.size < n or buf.dtype != dtype:
            buf = self._bufs[name] = np.empty(
                max(n, DEFAULT_CELLS), dtype=dtype)
        return buf[:n]


_OUT_POOLS: dict[int, OutPool] = {}


def get_out_pool(which: int = 0) -> OutPool:
    """Persistent per-process output pool.  ``which`` selects one of a
    small set of independent pools — the pipelined mapInArrow paths
    (r6) double-buffer chunk outputs across two pools so the producer
    thread can compute chunk k+2 while the worker thread is still
    serializing chunk k's zero-copy buffers (see
    ``features_job._overlap_chunks``)."""
    pool = _OUT_POOLS.get(which)
    if pool is None:
        pool = _OUT_POOLS[which] = OutPool()
    return pool


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


def _true_range(high, low, close, out):
    """C1 — vectorized true range. First bar: high-low; later bars:
    ``max(high, prev_close) - min(low, prev_close)``."""
    np.subtract(high[:, 0], low[:, 0], out=out[:, 0])
    if high.shape[1] > 1:
        prev_c = close[:, :-1]
        hi = np.maximum(high[:, 1:], prev_c, out=out[:, 1:])
        # need a second buffer for the low side: reuse via subtract trick
        # lo_side computed into a strided temp is unavoidable without a
        # second slab; use where on the fly:
        lo = np.minimum(low[:, 1:], prev_c)
        np.subtract(hi, lo, out=out[:, 1:])
    return out


def _atr_incremental(tr, p, out, ws, b):
    """C2 — ATR as the reference's *incremental* ring-buffer sum
    (``tr_sum = (tr_sum + tr) - old_tr``), lockstep across the batch so
    the float rounding matches the oracle exactly.

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
        rec.atr_incremental(tr, p, out)
        return out
    t = tr.shape[1]
    tr_sum = ws.vec(0, b)
    tr_sum[:] = 0.0
    for i in range(t):
        if i < p:
            tr_sum += tr[:, i]
            np.divide(tr_sum, i + 1, out=out[:, i])
        else:
            tr_sum += tr[:, i]
            tr_sum -= tr[:, i - p]
            np.divide(tr_sum, p, out=out[:, i])
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


def _laguerre_cascade(close, gamma, ws, b, t):
    """C6 — 4-stage cascade with time-varying gamma, zero-initialized state
    (matches the production numba kernel, which never calls
    ``initialize(price)``; see reference ``_numba_kernel.py:60-132``).

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
        rec.laguerre_cascade(close, gamma, L0, L1, L2, L3)
        return L0, L1, L2, L3
    cT = ws.view("cascT_c", t, b)
    np.copyto(cT, close.T)
    gT = ws.view("cascT_g", t, b)
    np.copyto(gT, gamma.T)
    L0T = ws.view("cascT_L0", t, b)
    L1T = ws.view("cascT_L1", t, b)
    L2T = ws.view("cascT_L2", t, b)
    L3T = ws.view("cascT_L3", t, b)
    l0 = ws.vec(0, b); l0[:] = 0.0
    l1 = ws.vec(1, b); l1[:] = 0.0
    l2 = ws.vec(2, b); l2[:] = 0.0
    l3 = ws.vec(3, b); l3[:] = 0.0
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


def core_loop_batched(high: np.ndarray, low: np.ndarray, close: np.ndarray,
                      atr_period: int, adaptive_offset: float = 0.75,
                      copy_out: bool = True,
                      ) -> dict[str, np.ndarray]:
    """Batched C1-C8 over padded (B, T) matrices.

    Values at columns beyond an entity's true length are garbage (callers
    mask by length).  Returns a dict of (B, T) float64 arrays keyed by
    :data:`CORE_OUTPUTS`.  With ``copy_out=False`` the returned arrays are
    views into the shared workspace — valid only until the next call.
    """
    b, t = high.shape
    p = int(atr_period)
    ws = get_workspace(max(DEFAULT_CELLS, b * t))

    hw = ws.view("high", b, t); np.copyto(hw, high, casting="unsafe")
    lw = ws.view("low", b, t); np.copyto(lw, low, casting="unsafe")
    cw = ws.view("close", b, t); np.copyto(cw, close, casting="unsafe")

    tr = _true_range(hw, lw, cw, ws.view("tr", b, t))
    atr = _atr_incremental(tr, p, ws.view("atr", b, t), ws, b)
    min_atr, max_atr = _atr_minmax(tr, p, ws, b, t)

    # C4 adaptive coefficient (reference core/adaptive.py:4-44):
    # _max = max(max_atr, atr); _min = min(min_atr, atr);
    # degenerate (_min == _max) -> 0.5 else 1 - (atr-_min)/(_max-_min)
    _max = ws.view("scratch", b, t)
    np.maximum(max_atr, atr, out=_max)
    _min = ws.view("mean", b, t)               # mean slab free after C3
    np.minimum(min_atr, atr, out=_min)
    coeff = ws.view("coeff", b, t)
    span = ws.view("s", b, t)                  # s slab free after C3
    np.subtract(_max, _min, out=span)
    degenerate = span == 0.0                   # small bool alloc (1 byte/cell)
    span[degenerate] = 1.0
    np.subtract(atr, _min, out=coeff)
    np.divide(coeff, span, out=coeff)
    np.subtract(1.0, coeff, out=coeff)
    coeff[degenerate] = 0.5

    # C5 adaptive period & gamma: gamma = 1 - 10/(p*(coeff+offset) + 9)
    gamma = ws.view("gamma", b, t)
    np.add(coeff, adaptive_offset, out=gamma)
    gamma *= float(p)
    gamma += 9.0
    np.divide(10.0, gamma, out=gamma)
    np.subtract(1.0, gamma, out=gamma)

    # C6 cascade
    L0, L1, L2, L3 = _laguerre_cascade(cw, gamma, ws, b, t)

    # C7 RSI: additions in the oracle's order (L0/L1, then L1/L2, then
    # L2/L3); cu += max(d,0) and cd += max(-d,0) reproduce the branch.
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

    out = {
        "rsi": rsi, "adaptive_coeff": coeff, "gamma": gamma,
        "L0": L0, "L1": L1, "L2": L2, "L3": L3,
        "min_atr": min_atr, "max_atr": max_atr, "atr": atr,
    }
    if copy_out:
        out = {k: v.copy() for k, v in out.items()}
    return out


def core_loop_resumed(high: np.ndarray, low: np.ndarray, close: np.ndarray,
                      st: dict, atr_period: int,
                      adaptive_offset: float = 0.75) -> dict[str, np.ndarray]:
    """Resume the C1-C8 recurrence for ONE entity from saved streaming
    state and advance it over a micro-batch, vectorized.

    ``st`` is the streaming state dict (see ``streaming/stateful.py``):
    {prev_close, seen, tr_buf (ring list of p), buf_head, buf_len, tr_sum,
    l0..l3}; it is mutated in place to the post-batch state (ring buffer
    normalized to oldest-first order with ``buf_head = buf_len % p``,
    which preserves the ring invariants the scalar ``step()`` relies on).

    Strategy: the O(p)-per-bar suffix-mean min/max and the element-wise
    coeff/gamma math run as numpy slab ops over the whole micro-batch
    (history TRs prepended so early bars see their full window), while
    the two O(1)-per-bar sequential chains (incremental tr_sum, Laguerre
    cascade + RSI) run as tight Python-float loops — bit-identical IEEE
    ops either way, ~30x faster than per-row ``step()`` on 10k-bar
    batches.  Used by the streaming path; parity vs ``step()`` is pinned
    by tests.
    """
    p = int(atr_period)
    n = len(close)
    if n == 0:
        return {k: np.empty(0) for k in
                ("rsi", "adaptive_coeff", "gamma", "L0", "L1", "L2", "L3",
                 "min_atr", "max_atr", "atr")}
    high = np.asarray(high, dtype=np.float64)
    low = np.asarray(low, dtype=np.float64)
    close = np.asarray(close, dtype=np.float64)

    # C1 true range (vectorized; first bar needs state)
    tr = np.empty(n)
    if st["seen"]:
        pc = st["prev_close"]
        tr[0] = max(high[0], pc) - min(low[0], pc)
    else:
        tr[0] = high[0] - low[0]
    if n > 1:
        np.subtract(np.maximum(high[1:], close[:-1]),
                    np.minimum(low[1:], close[:-1]), out=tr[1:])

    # history TRs, oldest first (all TRs seen when < p, else last p)
    buf, head, blen = st["tr_buf"], st["buf_head"], st["buf_len"]
    hist = [float(buf[(head - k) % p]) for k in range(blen, 0, -1)]
    h_n = len(hist)
    combined = np.concatenate([np.asarray(hist), tr]) if h_n else tr

    # C2 incremental ATR — sequential tr_sum chain on Python floats
    # (same (tr_sum + tr) - old op order as step()/_atr_incremental);
    # warm-up rows peeled off so the steady-state loop is a bare zip
    comb_l = combined.tolist()
    tr_sum = float(st["tr_sum"])
    blen_c = blen
    atr_l = []
    append = atr_l.append
    i = 0
    while i < n and blen_c < p:          # warm-up: window still filling
        tr_sum += comb_l[h_n + i]
        blen_c += 1
        append(tr_sum / blen_c)
        i += 1
    if i < n:
        pf = float(p)
        for tr_i, old in zip(comb_l[h_n + i:], comb_l[h_n + i - p: -p]):
            tr_sum = (tr_sum + tr_i) - old
            append(tr_sum / pf)
    atr = np.asarray(atr_l)

    # C3 suffix-mean min/max over the combined series, sliced to the new
    # bars (same newest-to-oldest accumulation as _atr_minmax)
    ws = get_workspace(max(DEFAULT_CELLS, len(combined)))
    comb2 = combined[None, :]
    mn2, mx2 = _atr_minmax(comb2, p, ws, 1, len(combined))
    min_atr = mn2[0, h_n:].copy()
    max_atr = mx2[0, h_n:].copy()

    # C4/C5 coeff + gamma (element-wise, same ops as core_loop_batched)
    _max = np.maximum(max_atr, atr)
    _min = np.minimum(min_atr, atr)
    span = _max - _min
    degenerate = span == 0.0
    span[degenerate] = 1.0
    coeff = 1.0 - (atr - _min) / span
    coeff[degenerate] = 0.5
    gamma = 1.0 - 10.0 / ((coeff + adaptive_offset) * float(p) + 9.0)

    # C6 cascade — the only irreducibly sequential chain; tight
    # Python-float loop (zip + bound appends: ~2x over index writes)
    l0, l1, l2, l3 = st["l0"], st["l1"], st["l2"], st["l3"]
    L0 = []; L1 = []; L2 = []; L3 = []
    a0 = L0.append; a1 = L1.append; a2 = L2.append; a3 = L3.append
    for c, g in zip(close.tolist(), gamma.tolist()):
        p0, p1, p2 = l0, l1, l2
        l0 = c + g * (l0 - c)
        l1 = p0 + g * (l1 - l0)
        l2 = p1 + g * (l2 - l1)
        l3 = p2 + g * (l3 - l2)
        a0(l0); a1(l1); a2(l2); a3(l3)
    L0 = np.asarray(L0); L1 = np.asarray(L1)
    L2 = np.asarray(L2); L3 = np.asarray(L3)

    # C7 RSI — vectorized, same addition order as core_loop_batched
    # (cu += max(d,0), cd += max(-d,0) per stage pair)
    d01 = L0 - L1
    d12 = L1 - L2
    d23 = L2 - L3
    cu = np.maximum(d01, 0.0) + np.maximum(d12, 0.0) + np.maximum(d23, 0.0)
    cd = np.maximum(-d01, 0.0) + np.maximum(-d12, 0.0) + np.maximum(-d23, 0.0)
    tot = cu + cd
    flat = tot == 0.0
    tot[flat] = 1.0
    rsi = cu / tot
    rsi[flat] = 0.0

    # write back normalized state (oldest-first ring)
    tail = comb_l[-min(blen_c, p):]
    st["tr_buf"] = tail + [0.0] * (p - len(tail))
    st["buf_head"] = blen_c % p if blen_c < p else 0
    st["buf_len"] = blen_c
    st["tr_sum"] = tr_sum
    st["prev_close"] = float(close[-1])
    st["seen"] = 1
    st["l0"], st["l1"], st["l2"], st["l3"] = l0, l1, l2, l3

    return {"rsi": np.asarray(rsi), "adaptive_coeff": coeff, "gamma": gamma,
            "L0": np.asarray(L0), "L1": np.asarray(L1),
            "L2": np.asarray(L2), "L3": np.asarray(L3),
            "min_atr": min_atr, "max_atr": max_atr, "atr": atr}
