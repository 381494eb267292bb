"""SPSS portable (.por) writer — reference W5 re-expressed.

Public spec (PSPP "Portable File Format"): 200-byte vanity header,
256-byte translation table, "SPSSPORT" signature, tagged dictionary
records, base-30 encoded values wrapped at 80-column lines, 'Z'
padding at EOF.

Numbers are written as the shortest base-30 token that reads back
faithfully (_shortest_b30: positional cut, integer-mantissa × 30^±e,
or the full expansion — every candidate verified through the actual
parser), '/'-terminated; '*.' for missing (same grammar our reader
parses). Read-back is exact for ~86% of full-precision doubles and
never less accurate than the flat 50-digit expansion, whose fraction
accumulation is ~1 ulp lossy — the same approximation the C
readstat/pyreadstat parsers make. Subnormal magnitudes degrade
further (the parser's 30**exp scale underflows before the mantissa
contributes; 5e-324 flushes to zero) — IEEE gradual-underflow
semantics at the format's edge.

POR is an eager single file (the format is legacy interchange, not a
data-plane format at scale), with the one layout every format has
(``writers._LAYOUTS``): ``pack`` runs the shortest-form token ladder
on the executors (writers.export_file, one numpy lane-wise ladder
pass per DISTINCT value — see _num_tokens_unique), and ``assemble``
writes the header and dictionary, then concatenates chunk payloads in
input order and wraps the stream at 80 columns with one numpy pass
per chunk, so memory stays bounded. The sink and the partitioned
exporters refuse por.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame

from polars_readstat_spark.sources.por.b30 import _parse_base30
from polars_readstat_spark.sources.por.reader import _POS_ASCII
from polars_readstat_spark.writers import export_file, plan_export


def _por_safe_table() -> bytes:
    """latin-1 byte → portable-charset byte; anything outside the
    portable charset becomes '?'. The format cannot carry other bytes:
    an embedded newline would be eaten by the reader's 80-column
    line padding and shift the whole stream, and unmapped bytes decode
    to NUL — sanitizing at write time keeps the structure sound and
    the roundtrip deterministic."""
    t = bytearray(b"?" * 256)
    for ch in set(_POS_ASCII.values()):
        o = ord(ch)
        if o < 256:
            t[o] = o
    return bytes(t)


_POR_SAFE = _por_safe_table()


LINE_LEN = 80
PRECISION = 50


class _PorWriter:
    def __init__(self, fh):
        self.fh = fh
        self.pos = 0

    def byte(self, b: int):
        self.fh.write(bytes([b]))
        self.pos += 1
        if self.pos == LINE_LEN:
            self.fh.write(b"\r\n")
            self.pos = 0

    def write(self, s: bytes | str):
        if isinstance(s, str):
            s = s.encode("latin-1", "replace")
        for b in s:
            self.byte(b)

    def b30_int(self, n: int):
        if n == 0:
            self.write("0")
            return
        digits = []
        while n > 0:
            d = n % 30
            digits.append(chr(ord("0") + d) if d < 10 else chr(ord("A") + d - 10))
            n //= 30
        self.write("".join(reversed(digits)))

    def double(self, v: float | None):
        if v is None or v != v:
            self.write("*.")
            return
        if v in (float("inf"), float("-inf")):
            self.write("-1+TT/" if v < 0 else "1+TT/")
            return
        if v < 0:
            self.write("-")
        self.write(_shortest_b30(abs(v)))
        self.write("/")

    @staticmethod
    def _b30s(n: int) -> str:
        s = ""
        while n > 0:
            s += "x"
            n //= 30
        return s or "x"

    def string(self, s: str):
        b = s.encode("latin-1", "replace").translate(_POR_SAFE)
        self.b30_int(len(b))
        self.write("/")
        self.write(b)

    def finish(self):
        while self.pos != 0:
            self.byte(ord("Z"))


_B30_POW11 = 30.0 ** 11


def _num_token(v: float) -> str:
    """One numeric cell -> '/'-terminated token (same emission as
    _PorWriter.double). Integers below 30^11 skip the ladder: the
    emission (int(a) rendered in base 30) is exact, and every reader
    route reproduces a bit-for-bit — NOT because 30^11 < 2^53 (it is
    not: 30^11 ≈ 1.77e16 > 2^53 ≈ 9.0e15), but because an 11-digit
    parse is one correctly-rounded conversion of the exact integer N
    on both reader paths: int(tok,30)→float rounds once, and the
    scalar accumulator's first 10 steps are exact (< 30^10 < 2^53)
    while its 11th step's num*30 is an EVEN integer < 2^54 (exactly
    representable), so the final +d is a single rounding of N too.
    Since a is itself a double with N == a, fl(N) == a. The proof
    stops at 11 digits. Boundary pinned in
    tests/test_por_reader.py::test_integer_fast_path_boundary_pins.
    Covers keys, counts, and seconds-since-1582 date/datetime
    values."""
    if v in (float("inf"), float("-inf")):
        return "-1+TT/" if v < 0 else "1+TT/"
    sign = "-" if v < 0 else ""
    a = abs(v)
    if a < _B30_POW11 and a.is_integer():
        return sign + _b30_int_str(int(a)) + "/"
    return sign + _shortest_b30(a) + "/"


def _pack_por_chunk(pdf, kinds) -> bytes:
    """Executor-side pack of one pandas chunk into the unwrapped
    logical token stream (wrapping is a driver-side numpy pass).

    Round 13: tokens are computed once per DISTINCT value (np.unique /
    factorize instead of the old per-chunk dict memo) and the numeric
    ladder runs through the vectorized _num_tokens_unique — identical
    bytes, ~10× less pack CPU on near-unique numeric columns."""
    import numpy as np
    import pandas as pd

    nrows = len(pdf)
    ncols = len(kinds)
    colmats, collens = [], []
    for i, k in enumerate(kinds):
        s = pdf.iloc[:, i]
        if k == "str":
            codes, uniq = pd.factorize(s, use_na_sentinel=True)
            tb = []
            for x in uniq:
                b = (x if x is not None else "").encode(
                    "latin-1", "replace"
                ).translate(_POR_SAFE)
                tb.append(_b30_int_str(len(b)).encode("latin-1") + b"/" + b)
            # nulls factorize to -1 → the trailing empty-string token
            tb.append(b"0/")
            wc = max(len(b) for b in tb)
            um = np.array(tb, dtype=f"S{wc}").view(np.uint8).reshape(-1, wc)
            ul = np.array([len(b) for b in tb], dtype=np.int64)
            colmats.append(um[codes])
            collens.append(ul[codes])
        else:
            vals = np.asarray(s, dtype=np.float64)
            nanm = np.isnan(vals)
            gv = vals[~nanm]
            if len(gv):
                uu, inv = np.unique(gv, return_inverse=True)
                um, ul = _num_tokens_unique(uu)
            else:
                um = np.zeros((0, 2), dtype=np.uint8)
                ul = np.zeros(0, dtype=np.int64)
            # append the '*.' missing token as the last row
            wc = max(int(ul.max()) if len(ul) else 2, 2)
            um2 = np.zeros((len(um) + 1, wc), dtype=np.uint8)
            um2[:-1] = um[:, :wc]
            um2[-1, 0] = ord("*")
            um2[-1, 1] = ord(".")
            ul2 = np.concatenate((ul, [2]))
            full_inv = np.full(nrows, len(um), dtype=np.int64)
            if len(gv):
                full_inv[~nanm] = inv
            colmats.append(um2[full_inv])
            collens.append(ul2[full_inv])
    # interleave every column's token bytes row-major in one scatter
    lens = np.stack(collens, axis=1)
    flat = lens.ravel()
    offs = np.concatenate(([0], np.cumsum(flat)))[:-1].reshape(nrows, ncols)
    out = np.empty(int(flat.sum()), dtype=np.uint8)
    for c in range(ncols):
        cm, cl = colmats[c], collens[c]
        ar = np.arange(cm.shape[1])
        msk = ar[None, :] < cl[:, None]
        dst = offs[:, c][:, None] + ar[None, :]
        out[dst[msk]] = cm[msk]
    return out.tobytes()


def _b30_chr(d: int) -> str:
    return chr(ord("0") + d) if d < 10 else chr(ord("A") + d - 10)


def _b30_int_str(n: int) -> str:
    if n == 0:
        return "0"
    out = []
    while n:
        out.append(_b30_chr(n % 30))
        n //= 30
    return "".join(reversed(out))


def _render_b30(a: float, budget: int, rounded: bool) -> str | None:
    """Token text (no sign, no '/') for abs value a, with at most
    `budget` significant base-30 digits, optionally rounding the cut
    digit (carry-propagated; None when the carry can't be applied
    cleanly, e.g. it would renormalize the exponent form)."""
    if 0.0 < a < 1.0 / 30.0:
        # mantissa × 30^-E (the plain positional form would spend the
        # whole budget on leading zeros)
        m, e = a, 0
        while m < 1.0:
            m *= 30.0
            e += 1
        digits = [int(m)]
        frac = m - digits[0]
        while frac != 0.0 and len(digits) < budget:
            frac *= 30.0
            d = int(frac)
            frac -= d
            digits.append(d)
        if rounded and frac != 0.0 and int(frac * 30.0) >= 15:
            i = len(digits) - 1
            while i >= 0 and digits[i] == 29:
                digits[i] = 0
                i -= 1
            if i < 0:
                return None  # carry past the lead digit: renormalizes
            digits[i] += 1
            if i == 0 and digits[0] >= 30:
                return None
        head = _b30_chr(digits[0])
        tail = "".join(_b30_chr(d) for d in digits[1:]).rstrip("0")
        return (
            head + ("." + tail if tail else "") + "-" + _b30_int_str(e)
        )
    int_part = int(a)
    frac = a - int_part
    exponent = 0
    n = int_part
    if n:
        while frac == 0.0 and n % 30 == 0:
            n //= 30
            exponent += 1
    istr = _b30_int_str(n)
    fdigits: list[int] = []
    if frac != 0.0:
        printed = 1 if int_part == 0 else len(istr)
        while frac != 0.0 and printed < budget:
            frac *= 30.0
            d = int(frac)
            frac -= d
            fdigits.append(d)
            printed += 1
        if rounded and frac != 0.0 and int(frac * 30.0) >= 15:
            i = len(fdigits) - 1
            while i >= 0 and fdigits[i] == 29:
                fdigits[i] = 0
                i -= 1
            if i >= 0:
                fdigits[i] += 1
            else:
                istr = _b30_int_str(n + 1)  # carry into the integer
    out = istr
    tail = "".join(_b30_chr(d) for d in fdigits).rstrip("0")
    if tail:
        out += "." + tail
    if exponent > 0:
        out += "+" + _b30_int_str(exponent)
    return out


def _shortest_b30(a: float) -> str:
    """Shortest base-30 token that parses back to `a` bit-for-bit
    under the reader's grammar (sources/por/reader.py _parse_base30).

    Every candidate is VERIFIED through the actual parser before use,
    so this only ever changes token length, never the value. Ladder:

    1. the positional form with a 12/13-digit cut (integers and
       terminating fractions exit here — the parser's left-to-right
       fraction accumulation is only exact when the cut loses
       nothing, so non-terminating fractions rarely verify short);
    2. integer-mantissa × 30^±e ("M-e"/"M+e"): an ≤11-digit mantissa
       parses exactly (float int-accumulation below 2^53) and the
       single 30.0**e multiply is one rounding — candidates M0±1 at
       two scales verify for almost every double, cutting the data
       section ~4× vs the flat PRECISION=50 expansion;
    3. the full exact expansion (always verifies: the fraction terms
       replay the expansion's own digits)."""
    if a == 0.0:
        return "0"
    for budget in (12, 13):
        for rounded in (True, False):
            tok = _render_b30(a, budget, rounded)
            if tok is not None and _parse_base30(tok) == a:
                return tok
    full = _render_b30(a, PRECISION, False)
    err_full = abs(_parse_base30(full) - a)

    x, e = a, 0
    lo, hi = 30.0**10, 30.0**11
    while x < lo:
        x *= 30.0
        e += 1
    while x >= hi:
        x /= 30.0
        e -= 1
    m0 = round(x)
    best_tok, best_err = None, None
    for me in (m0, m0 - 1, m0 + 1, m0 - 2, m0 + 2):
        if me <= 0:
            continue
        if e == 0:
            tok = _b30_int_str(me)
        elif e > 0:
            tok = _b30_int_str(me) + "-" + _b30_int_str(e)
        else:
            tok = _b30_int_str(me) + "+" + _b30_int_str(-e)
        err = abs(_parse_base30(tok) - a)
        if err == 0.0:
            return tok
        if best_err is None or err < best_err:
            best_tok, best_err = tok, err
    if err_full == 0.0:
        # exact long form exists; take the shortest budget that stays
        # exact rather than the short-but-1ulp mantissa form
        for budget in (20, 30):
            tok = _render_b30(a, budget, False)
            if tok is not None and _parse_base30(tok) == a:
                return tok
        return full
    # nothing parses exactly (the reader's fraction accumulation is
    # ~1 ulp lossy for such values — pre-existing format behavior):
    # keep the short mantissa form when it reads back at least as
    # close to the true value as the 50-digit expansion would
    if best_err is not None and best_err <= err_full:
        return best_tok
    return full

# ---------------------------------------------------------------------
# Vectorized token pipeline (round 13, guide §4.2: hand whole batches
# to vectorized native code inside the Python boundary). The per-value
# ladder in _num_token costs ~40 µs for a near-unique money column —
# ~24 s of CPU for a 600 k-row export on that one column. Every float
# operation of the scalar ladder (render digit loops, carry, the
# parser's accumulation) is a sequence of IEEE-754 double ops, so the
# same sequence replayed with numpy float64 lane-wise produces the
# SAME rounding and therefore the same tokens, byte for byte (pinned
# by tests/test_por_vec_tokens.py). Values outside the vector domain
# (±inf, 0<|v|<1/30 exponent-form, |v|≥30^11, and the rare
# exact-long-form lanes) fall back to the scalar _num_token/-ladder.

_B30_CHARS = b"0123456789ABCDEFGHIJKLMNOPQRST"
_B30_LO = 30.0**10
_B30_HI = 30.0**11
_INV30 = 1.0 / 30.0
# the parser computes 30.0 ** (-exp) with CPython float pow; use the
# identical Python-computed values, never np.power
_NEGPOW30 = [30.0 ** (-float(k)) for k in range(32)]


def _b30_rows(v, width: int = 12):
    """Base-30 digit matrix (len(v), width) of an int64 array with
    leading zeros, plus each row's first significant index ('0'→last
    column, so slicing [first:] renders '0')."""
    import numpy as np

    m = np.empty((len(v), width), dtype=np.int8)
    x = v.copy()
    for i in range(width - 1, -1, -1):
        m[:, i] = (x % 30).astype(np.int8)
        x //= 30
    nz = m != 0
    first = np.where(nz.any(axis=1), nz.argmax(axis=1), width - 1)
    return m, first


def _store_tokens(tm, tl, gidx, negm, idig, ifirst, fd=None, ftl=None, e=None):
    """Scatter '/'-terminated tokens assembled from digit rows into the
    byte matrix ``tm`` (rows ``gidx``), lengths into ``tl`` — no
    per-lane Python. Pieces: [-]istr[.frac][-exp]/ (exp ≥ 0, ≤ 2
    base-30 digits)."""
    import numpy as np

    m = len(gidx)
    if m == 0:
        return
    lut = np.frombuffer(_B30_CHARS, dtype=np.uint8)
    w = idig.shape[1]
    il = (w - ifirst).astype(np.int64)
    buf = np.zeros((m, tm.shape[1]), dtype=np.uint8)
    pos = np.zeros(m, dtype=np.int64)
    ng = np.asarray(negm, dtype=bool)
    buf[ng, 0] = ord("-")
    pos += ng
    rows = np.arange(m)
    mx = int(il.max())
    ar = np.arange(mx)
    msk = ar[None, :] < il[:, None]
    src = np.minimum(ifirst[:, None] + ar[None, :], w - 1)
    vals = lut[idig[rows[:, None], src]]
    dst = pos[:, None] + ar[None, :]
    rowm = np.broadcast_to(rows[:, None], (m, mx))
    buf[rowm[msk], dst[msk]] = vals[msk]
    pos += il
    if fd is not None:
        has = np.flatnonzero(ftl > 0)
        buf[has, pos[has]] = ord(".")
        pos += ftl > 0
        mx2 = int(ftl.max())
        if mx2:
            ar2 = np.arange(mx2)
            msk2 = ar2[None, :] < ftl[:, None]
            dst2 = pos[:, None] + ar2[None, :]
            vals2 = lut[fd[:, :mx2].astype(np.intp)]
            rowm2 = np.broadcast_to(rows[:, None], (m, mx2))
            buf[rowm2[msk2], dst2[msk2]] = vals2[msk2]
            pos += ftl
    if e is not None:
        he = np.flatnonzero(e > 0)
        buf[he, pos[he]] = ord("-")
        pos += e > 0
        hi = np.flatnonzero(e >= 30)
        if len(hi):
            buf[hi, pos[hi]] = lut[e[hi] // 30]
            pos += e >= 30
        buf[he, pos[he]] = lut[e[he] % 30]
        pos += e > 0
    buf[rows, pos] = ord("/")
    pos += 1
    tm[gidx] = buf
    tl[gidx] = pos


def _pos_render_parse(av, frac0, n_int, idig, ifirst, printed0, budget, rounded):
    """Vectorized _render_b30 main branch (lanes with 1/30 ≤ a < 30^11
    and a non-integer) followed by the parser's exact accumulation.
    Returns (parsed, idig', ifirst', fd, tlen) — idig'/ifirst' differ
    from the inputs only on carry-past-the-lead lanes (istr → n+1)."""
    import numpy as np

    m = len(av)
    fd = np.zeros((m, budget), dtype=np.int8)
    frac = frac0.copy()
    printed = printed0.astype(np.int64).copy()
    cnt = np.zeros(m, dtype=np.int64)
    active = (frac != 0.0) & (printed < budget)
    while active.any():
        ai = np.flatnonzero(active)
        f = frac[ai] * 30.0
        d = np.floor(f)
        frac[ai] = f - d
        fd[ai, cnt[ai]] = d.astype(np.int8)
        cnt[ai] += 1
        printed[ai] += 1
        active[ai] = (frac[ai] != 0.0) & (printed[ai] < budget)
    idig_o, ifirst_o = idig, ifirst
    if rounded:
        rmask = (frac != 0.0) & (np.floor(frac * 30.0) >= 15.0)
        if rmask.any():
            carry_over = np.zeros(m, dtype=bool)
            pos = cnt - 1
            c = rmask.copy()
            fd = fd.copy()
            while c.any():
                ci = np.flatnonzero(c)
                under = pos[ci] < 0
                if under.any():
                    li = ci[under]
                    carry_over[li] = True
                    c[li] = False
                    ci = ci[~under]
                if len(ci):
                    p = pos[ci]
                    nine = fd[ci, p] == 29
                    ni = ci[nine]
                    fd[ni, pos[ni]] = 0
                    pos[ni] -= 1
                    di = ci[~nine]
                    fd[di, pos[di]] += 1
                    c[di] = False
            if carry_over.any():
                nd, nf = _b30_rows(n_int[carry_over] + 1, idig.shape[1])
                idig_o = idig.copy()
                ifirst_o = ifirst.copy()
                idig_o[carry_over] = nd
                ifirst_o[carry_over] = nf
    # strip trailing zeros (scalar: tail.rstrip("0") after the carry)
    idxm = np.arange(budget)[None, :]
    nzm = (fd != 0) & (idxm < cnt[:, None])
    anynz = nzm.any(axis=1)
    tlen = np.where(anynz, budget - np.argmax(nzm[:, ::-1], axis=1), 0)
    # parser accumulation: int digits then += d/denom per frac digit
    num = np.zeros(m)
    for j in range(idig_o.shape[1]):
        num = num * 30.0 + idig_o[:, j]
    denom = np.full(m, 30.0)
    for k in range(int(tlen.max()) if m else 0):
        mk = k < tlen
        num[mk] += fd[mk, k] / denom[mk]
        denom[mk] *= 30.0
    return num, idig_o, ifirst_o, fd, tlen


def _num_tokens_unique(u):
    """Token byte-matrix for an array of DISTINCT finite-or-inf float64
    values: returns ``(tm, tl)`` where row i of the uint8 matrix ``tm``
    holds the first ``tl[i]`` bytes of the '/'-terminated token (sign
    included) — byte-identical to _num_token(v) lane-wise (NaN is the
    caller's '*.' case and must not appear)."""
    import numpy as np

    n = len(u)
    neg = u < 0.0
    a = np.abs(u)

    fast_int = (a < _B30_HI) & (np.floor(a) == a)
    dom = (~fast_int) & (a >= _INV30) & (a < _B30_HI)
    scal = np.flatnonzero(~(fast_int | dom))
    stoks = [_num_token(float(u[i])).encode("latin-1") for i in scal]
    # widest vector token: sign + 12 int digits + '.' + ≤49 frac + '/'
    W = 64
    if stoks:
        W = max(W, max(len(b) for b in stoks))
    tm = np.zeros((n, W), dtype=np.uint8)
    tl = np.zeros(n, dtype=np.int64)
    for i, b in zip(scal, stoks):
        tm[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
        tl[i] = len(b)

    ii = np.flatnonzero(fast_int)
    if len(ii):
        idig, ifirst = _b30_rows(a[ii].astype(np.int64))
        _store_tokens(tm, tl, ii, neg[ii], idig, ifirst)

    dd = np.flatnonzero(dom)
    if not len(dd):
        return tm, tl
    ad = a[dd]
    negd = neg[dd]
    ipf = np.floor(ad)
    frac0 = ad - ipf
    n_int = ipf.astype(np.int64)
    idig0, ifirst0 = _b30_rows(n_int)
    printed0 = np.where(n_int == 0, 1, 12 - ifirst0)

    unresolved = np.ones(len(dd), dtype=bool)
    # rung 1: positional cut, (budget, rounded) in ladder order
    for budget in (12, 13):
        for rounded in (True, False):
            if not unresolved.any():
                break
            s = np.flatnonzero(unresolved)
            num, idg, ifr, fd, tlen = _pos_render_parse(
                ad[s], frac0[s], n_int[s], idig0[s], ifirst0[s],
                printed0[s], budget, rounded,
            )
            ex = num == ad[s]
            if ex.any():
                w = s[ex]
                _store_tokens(tm, tl, dd[w], negd[w], idg[ex],
                              ifr[ex], fd[ex], tlen[ex])
                unresolved[w] = False
    if not unresolved.any():
        return tm, tl

    # rung 2: integer-mantissa × 30^-e, candidates m0, m0±1, m0±2
    s = np.flatnonzero(unresolved)
    av = ad[s]
    x = av.copy()
    e = np.zeros(len(s), dtype=np.int64)
    act = x < _B30_LO
    while act.any():
        x[act] *= 30.0
        e[act] += 1
        act = x < _B30_LO
    act = x >= _B30_HI
    while act.any():
        x[act] /= 30.0
        e[act] -= 1
        act = x >= _B30_HI
    m0 = np.rint(x).astype(np.int64)
    npow = np.array(_NEGPOW30)
    best_err = np.full(len(s), np.inf)
    best_me = np.zeros(len(s), dtype=np.int64)
    open_ = np.ones(len(s), dtype=bool)
    for delta in (0, -1, 1, -2, 2):
        if not open_.any():
            break
        me = m0 + delta
        valid = open_ & (me > 0)
        vi = np.flatnonzero(valid)
        if not len(vi):
            continue
        dg, fs = _b30_rows(me[vi])
        num = np.zeros(len(vi))
        for j in range(12):
            num = num * 30.0 + dg[:, j]
        ev = e[vi]
        pos_e = ev > 0
        num[pos_e] = num[pos_e] * npow[ev[pos_e]]
        neg_e = ev < 0
        if neg_e.any():  # not reachable in-domain; keep scalar parity
            num[neg_e] = num[neg_e] * (30.0 ** (-(-ev[neg_e]).astype(float)))
        err = np.abs(num - av[vi])
        ex = err == 0.0
        if ex.any():
            w = vi[ex]
            _store_tokens(tm, tl, dd[s[w]], negd[s[w]], dg[ex],
                          fs[ex], e=e[w])
            open_[w] = False
            unresolved[s[w]] = False
        upd = np.flatnonzero(~ex & (err < best_err[vi]))
        if len(upd):
            w = vi[upd]
            best_err[w] = err[upd]
            best_me[w] = me[w]
    # rung 3: full expansion; decided against best mantissa candidate.
    # All rung-2 arrays are aligned to lane set `s`; `open_` marks the
    # lanes rung 2 left unresolved.
    oi = np.flatnonzero(open_)
    if not len(oi):
        return tm, tl
    lanes = s[oi]  # dom-local indices
    num, idg, ifr, fd, tlen = _pos_render_parse(
        ad[lanes], frac0[lanes], n_int[lanes], idig0[lanes],
        ifirst0[lanes], printed0[lanes], PRECISION, False,
    )
    err_full = np.abs(num - ad[lanes])
    exact_full = err_full == 0.0
    # an exact long form exists → the scalar ladder re-derives the
    # shortest exact budget (20/30/full); rare lanes, go scalar
    for i in np.flatnonzero(exact_full):
        gi = dd[lanes[i]]
        b = _num_token(float(u[gi])).encode("latin-1")
        tm[gi, : len(b)] = np.frombuffer(b, dtype=np.uint8)
        tl[gi] = len(b)
    take_best = ~exact_full & (best_err[oi] <= err_full)
    w = np.flatnonzero(take_best)
    if len(w):
        dg, fs = _b30_rows(best_me[oi[w]])
        _store_tokens(tm, tl, dd[lanes[w]], negd[lanes[w]], dg, fs,
                      e=e[oi[w]])
    w = np.flatnonzero(~exact_full & ~take_best)
    if len(w):
        _store_tokens(tm, tl, dd[lanes[w]], negd[lanes[w]], idg[w],
                      ifr[w], fd[w], tlen[w])
    return tm, tl


def _wrap_write(fh, buf: bytes, pos: int) -> int:
    """Write unwrapped stream bytes starting at column ``pos``,
    inserting CRLF every LINE_LEN columns (one numpy reshape pass per
    chunk instead of the old per-BYTE Python call), and return the
    new column position."""
    import numpy as np

    n = len(buf)
    first = min(LINE_LEN - pos, n)
    head = buf[:first]
    if pos + first < LINE_LEN:
        fh.write(head)
        return pos + first
    rest = buf[first:]
    full = len(rest) // LINE_LEN
    out = bytearray(head)
    out += b"\r\n"
    if full:
        m = np.frombuffer(
            rest[: full * LINE_LEN], dtype=np.uint8
        ).reshape(-1, LINE_LEN)
        o = np.empty((full, LINE_LEN + 2), dtype=np.uint8)
        o[:, :LINE_LEN] = m
        o[:, LINE_LEN] = 13
        o[:, LINE_LEN + 1] = 10
        out += o.tobytes()
    tail = rest[full * LINE_LEN :]
    out += tail
    fh.write(bytes(out))
    return len(tail)


def _por_names(names: list[str]) -> list[str]:
    out, seen = [], set()
    for i, n in enumerate(names):
        base = "".join(c for c in n.upper() if c.isalnum() or c in "@#$_")
        base = base or f"VAR{i + 1}"
        if base[0].isdigit():
            base = "V" + base
        cand = base[:8]
        k = 1
        while cand in seen:
            sfx = str(k)
            cand = base[: 8 - len(sfx)] + sfx
            k += 1
        seen.add(cand)
        out.append(cand)
    return out


def write_por(
    df: DataFrame,
    path: str,
    file_label: str = "",
    variable_labels: dict | None = None,
) -> None:
    plan, rows, _ = plan_export(
        df, "por", data_label=file_label, variable_labels=variable_labels or {}
    )
    export_file(df, path, plan, rows)


def pack(plan, pdf) -> bytes:
    """One chunk's unwrapped token stream: the one por pack, run on the
    executors (``assemble`` wraps it at 80 columns)."""
    return _pack_por_chunk(pdf, plan.kinds)


def assemble(fh, plan, payloads, n_rows=None) -> int:
    """The one por layout: vanity header, translation table, the
    dictionary records, then the ``(payload, n)`` token stream wrapped
    at 80 columns and Z-filled. The format carries no row count
    (``n_rows`` is unused). Returns the rows written."""
    fields, kinds, widths = plan.fields, plan.kinds, plan.widths
    por_names = _por_names(plan.names)
    now = datetime.datetime.now()
    w = _PorWriter(fh)
    # vanity: 5 × 40 chars; file label surfaces in row 1 cols 20-39
    row0 = "ASCII SPSS PORT FILE".ljust(40)
    row1 = (" " * 20 + plan.data_label[:20]).ljust(40)
    w.write((row0 + row1 + " " * 120)[:200])
    # translation table: position i → ASCII byte for that portable
    # position; '0' for unmapped (identity for ASCII writers)
    table = bytearray(b"0" * 256)
    for pos_, ch in _POS_ASCII.items():
        table[pos_] = ord(ch)
    w.write(bytes(table))
    w.write("SPSSPORT")
    w.write("A")  # version
    w.string(now.strftime("%Y%m%d"))
    w.string(now.strftime("%H%M%S"))
    w.write("1")
    w.string("polars_readstat_spark")
    w.write("4")
    w.b30_int(len(fields))
    w.write("/")
    w.write("5")
    w.b30_int(20)
    w.write("/")
    for i, f in enumerate(fields):
        k = kinds[i]
        w.write("7")
        w.b30_int(widths[i])
        w.write("/")
        w.string(por_names[i])
        if k == "str":
            fmt = (1, min(widths[i], 255), 0)
        elif k == "date":
            fmt = (38, 10, 0)
        elif k == "datetime":
            fmt = (22, 20, 0)
        elif k == "time":
            fmt = (21, 8, 0)
        else:
            fmt = (5, 8, 2)
        for _ in range(2):  # print format then write format
            for x in fmt:
                w.b30_int(x)
                w.write("/")
        label = (
            plan.variable_labels.get(f.name) or f.metadata.get("label") or ""
        )
        if label:
            w.write("C")
            w.string(label[:255])
    w.write("F")
    pos = w.pos
    got = 0
    for payload, n in payloads:
        pos = _wrap_write(fh, payload, pos)
        got += n
    if pos:  # Z-fill the last line like _PorWriter.finish
        fh.write(b"Z" * (LINE_LEN - pos) + b"\r\n")
    return got
