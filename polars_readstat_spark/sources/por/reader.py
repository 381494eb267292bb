"""SPSS portable (.por) reader.

Implements the publicly documented SPSS portable-file format (PSPP
"Portable File Format" docs): 200-byte vanity header, 256-byte
character translation table, "SPSSPORT" signature, tagged dictionary
records ('1'..'7','8','9','A'..'F'), then base-30 ("trigesimal")
encoded case data wrapped at 80-column lines, 'Z'-filled at EOF.

Parity target: the reference POR reader
(/root/reference/crates/polars_readstat_rs/src/spss/por.rs) — behavior
re-derived from the public spec:
- numbers: [-] base-30 digits [. fraction] [+|- base-30 exponent],
  '/'-terminated; '*.' = system missing;
- strings: base-30 length prefix then raw chars;
- format codes >82 are shifted by 82 before date/time classification
  (a quirk of some SPSS writers, reference __init__.py:405-425);
- temporal values are seconds since 1582-10-14 like SAV.

POR files are small, eager, single-file ASCII — the reference reads
them eagerly in one pass (por.rs:307); a single input partition is the
honest Spark plan. At 100 TB scale POR is a metadata-ish legacy format,
not a data-plane one.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import InputPartition

from polars_readstat_spark.sources.columns import build_batch
from polars_readstat_spark.sources.fs import fs_open
from polars_readstat_spark.sources.partplan import ScanReader, row_span

LINE_LEN = 80

# POR portable-charset positions → ASCII (public PSPP table):
# 64-73 digits, 74-99 A-Z, 100-125 a-z, then punctuation.
_POS_ASCII: dict[int, str] = {}
for _i in range(10):
    _POS_ASCII[64 + _i] = chr(ord("0") + _i)
for _i in range(26):
    _POS_ASCII[74 + _i] = chr(ord("A") + _i)
    _POS_ASCII[100 + _i] = chr(ord("a") + _i)
for _pos, _ch in zip(
    range(126, 156),
    " .<(+|&[]!$*);^-/|,%_>?`:#@'=\"",
):
    _POS_ASCII[_pos] = _ch
_POS_ASCII[162] = "~"
_POS_ASCII[184] = "{"
_POS_ASCII[185] = "}"
_POS_ASCII[186] = "\\"

DATE_FMTS = {20, 23, 24, 38, 39}
TIME_FMTS = {21, 25}
DATETIME_FMTS = {22, 41}


@dataclass
class PorVar:
    name: str
    width: int  # 0 = numeric
    fmt_type: int = 0
    fmt_width: int = 0
    fmt_dec: int = 0
    label: str = ""
    value_labels: dict = field(default_factory=dict)

    @property
    def is_str(self) -> bool:
        return self.width > 0

    @property
    def time_kind(self) -> str | None:
        if self.is_str:
            return None
        ft = self.fmt_type - 82 if self.fmt_type > 82 else self.fmt_type
        if ft in DATE_FMTS:
            return "date"
        if ft in DATETIME_FMTS:
            return "datetime"
        if ft in TIME_FMTS:
            return "time"
        return None


@dataclass
class PorMeta:
    path: str
    file_label: str
    variables: list
    precision: int = 20


class _PorStream:
    """Logical char stream: strips CR/LF, pads short lines to 80 with
    spaces, maps file bytes through the translation table."""

    def __init__(self, data: bytes):
        self.data = data
        self.i = 0
        self.pos = 0  # column within current line
        self.pending = 0
        self.table = {b: chr(b) for b in range(256)}
        self.space = ord(" ")

    def set_table(self, lookup: bytes):
        self.table = {}
        for pos, ch in _POS_ASCII.items():
            self.table[lookup[pos]] = ch
        # '0' fills for padding bytes
        self.table[lookup[64]] = "0"
        self.space = lookup[126]

    def _raw(self) -> int | None:
        if self.pending > 0:
            self.pending -= 1
            return self.space
        if self.i >= len(self.data):
            return None
        b = self.data[self.i]
        self.i += 1
        return b

    def byte(self) -> int:
        while True:
            b = self._raw()
            if b is None:
                raise ValueError("POR: unexpected EOF")
            if b == 0x0D:  # CR(LF)
                if self.i < len(self.data) and self.data[self.i] == 0x0A:
                    self.i += 1
                self.pending = max(LINE_LEN - self.pos, 0)
                self.pos = 0
                continue
            if b == 0x0A:
                self.pending = max(LINE_LEN - self.pos, 0)
                self.pos = 0
                continue
            self.pos += 1
            return b

    def char(self) -> str:
        return self.table.get(self.byte(), "\0")

    def chars(self, n: int) -> str:
        return "".join(self.char() for _ in range(n))

    def raw_bytes(self, n: int) -> bytes:
        return bytes(self.byte() for _ in range(n))

    def double(self, first: str | None = None) -> float:
        c = first if first is not None else self.char()
        if c == "*":
            if self.char() != ".":
                raise ValueError("POR: malformed sysmis")
            return float("nan")
        buf = [c]
        while True:
            c = self.char()
            if c == "/":
                break
            buf.append(c)
        return _parse_base30("".join(buf))

    def integer(self) -> int:
        v = self.double()
        if v != v or v < 0:
            raise ValueError(f"POR: invalid integer {v}")
        return int(v)

    def string(self) -> str:
        n = self.integer()
        return self.chars(n)

    def maybe_double(self) -> float | None:
        c = self.char()
        if c == "Z":
            return None
        return self.double(first=c)

    def maybe_string(self) -> str | None:
        c = self.char()
        if c == "Z":
            return None
        n = self.double(first=c)
        return self.chars(int(n))


# scalar parser now lives in b30.py (dependency-free so the writer's
# executor pack stage can pickle it by value); same op sequences
from polars_readstat_spark.sources.por.b30 import (  # noqa: F401
    _b30_digit,
    _parse_base30,
)


def parse_por(path: str) -> tuple[PorMeta, _PorStream]:
    """Parse dictionary; returns (meta, stream positioned at data)."""
    with fs_open(path) as f:
        data = f.read()
    st = _PorStream(data)
    vanity = st.raw_bytes(200)
    file_label = vanity[60:80].decode("latin-1").rstrip()
    lookup = st.raw_bytes(256)
    st.set_table(lookup)
    sig = st.chars(8)
    if sig != "SPSSPORT":
        raise ValueError(f"not a POR file: signature {sig!r}")
    _version = st.char()
    _date = st.string()
    _time = st.string()

    variables: list[PorVar] = []
    precision = 20
    while True:
        tag = st.char()
        if tag in "123":
            st.string()
        elif tag == "4":
            st.integer()
        elif tag == "5":
            precision = st.integer()
        elif tag == "6":
            st.string()
        elif tag == "7":
            width = st.integer()
            name = st.string()
            pft, pfw, pfd = st.integer(), st.integer(), st.integer()
            _w1, _w2, _w3 = st.integer(), st.integer(), st.integer()
            variables.append(
                PorVar(name=name, width=width, fmt_type=pft,
                       fmt_width=pfw, fmt_dec=pfd)
            )
        elif tag == "8":
            if variables and variables[-1].is_str:
                st.string()
            else:
                st.double()
        elif tag in "9A":
            st.double()
        elif tag == "B":
            if variables and variables[-1].is_str:
                st.string(), st.string()
            else:
                st.double(), st.double()
        elif tag == "C":
            if variables:
                variables[-1].label = st.string()
            else:
                st.string()
        elif tag == "D":
            n_vars = st.integer()
            names = [st.string() for _ in range(n_vars)]
            is_str = any(
                v.name == names[0] and v.is_str for v in variables
            ) if names else False
            n_labels = st.integer()
            pairs = {}
            for _ in range(n_labels):
                key = st.string() if is_str else st.double()
                pairs[key] = st.string()
            for nm in names:
                for v in variables:
                    if v.name == nm:
                        v.value_labels.update(pairs)
        elif tag == "E":
            n = st.integer()
            for _ in range(n):
                st.string()
        elif tag == "F":
            break
        else:
            raise ValueError(f"POR: unexpected tag {tag!r}")
    return PorMeta(path, file_label, variables, precision), st


def _bulk_chars(st: _PorStream) -> str:
    """Flatten the rest of the stream into one logical char string.

    The per-char state machine costs ~12 µs/value over a 600k-row data
    section; this replaces it with C-speed ops: drain any mid-line
    state through the slow path, then split raw lines, pad each to 80
    with the charset's space byte (what the state machine does on
    newline), and translate all bytes through the charset table at
    once (`bytes.translate`). Tokenization then runs on a str with
    `find`/slicing."""
    trans_b = bytearray(256)  # unmapped bytes → NUL, like _PorStream.char
    for b, ch in st.table.items():
        o = ord(ch)
        trans_b[b] = o if o < 256 else 0
    trans = bytes(trans_b)
    pad = bytes([st.space])

    # mid-line handoff: emit any pending pad spaces, then finish the
    # current raw line, padding to 80 the way the machine would (its
    # column counter includes consumed pads)
    parts = [" " * max(st.pending, 0)]
    eff_pos = st.pos + max(st.pending, 0)
    norm = st.data[st.i :].replace(b"\r\n", b"\n").replace(b"\r", b"\n")
    first, sep, rest = norm.partition(b"\n")
    frag = first.translate(trans).decode("latin-1")
    if sep:
        parts.append(frag + " " * max(LINE_LEN - eff_pos - len(first), 0))
        # fast path: if every line is already exactly LINE_LEN (the
        # shape every known POR writer emits), the whole tail is one
        # C-level newline strip — no 144k-line split/ljust/join walk
        arr = np.frombuffer(rest, dtype=np.uint8)
        nl = np.flatnonzero(arr == ord("\n"))
        uniform = bool(
            (np.diff(nl, prepend=-1) == LINE_LEN + 1).all()
            if nl.size
            else len(rest) <= LINE_LEN
        )
        if uniform:
            # the generic walk ljusts every split piece to LINE_LEN —
            # including the empty piece after a trailing newline
            tail_len = len(rest) - (int(nl[-1]) + 1 if nl.size else 0)
            body = rest.replace(b"\n", b"") + pad * max(
                LINE_LEN - tail_len, 0
            )
            parts.append(body.translate(trans).decode("latin-1"))
        else:
            parts.append(
                b"".join(ln.ljust(LINE_LEN, pad) for ln in rest.split(b"\n"))
                .translate(trans)
                .decode("latin-1")
            )
    else:
        parts.append(frag)
    return "".join(parts)


_B30 = {c: i for i, c in enumerate("0123456789ABCDEFGHIJKLMNOPQRST")}


def _fast_b30(tok: str) -> float:
    """Fast base-30 token parse, bit-identical to _parse_base30.

    Integer parts ≤11 digits go through int(tok, 30), provably equal
    to the float accumulator (num = num*30 + d): through digit 10
    every intermediate is < 30^10 ≈ 5.9e14 < 2^53, hence exact; at
    digit 11, num*30 is an EVEN integer < 30^11 ≈ 1.77e16 < 2^54 and
    even integers below 2^54 are exactly representable, so the final
    num*30 + d is ONE correctly-rounded operation on the exact value
    N — identical to float(int(tok, 30)), which is also the correctly
    rounded N. (This argument does NOT extend to 12 digits: the
    11-digit result may already be rounded, so the next *30 amplifies
    error.) Boundary pinned in
    tests/test_por_reader.py::test_integer_fast_path_boundary_pins.
    Fractions replay the accumulator's exact operation order
    (num += d/denom; denom *= 30) so the result bits match;
    exponents and oversized tokens fall back."""
    neg = tok[:1] == "-"
    t = tok[1:] if tok[:1] in "+-" else tok
    # split off an exponent suffix (first +/- after the sign)
    ep = t.find("+")
    em = t.find("-")
    cut = min(x for x in (ep, em, len(t)) if x >= 0)
    mant, es = t[:cut], t[cut:]
    dot = mant.find(".")
    try:
        if dot < 0:
            if len(mant) > 11:
                return _parse_base30(tok)
            num = float(int(mant, 30)) if mant else 0.0
        else:
            ip, fp = mant[:dot], mant[dot + 1 :]
            if len(ip) > 11:
                return _parse_base30(tok)
            num = float(int(ip, 30)) if ip else 0.0
            denom = 30.0
            for c in fp:
                num += _B30[c] / denom
                denom *= 30.0
        if es:
            if len(es) > 11:
                return _parse_base30(tok)
            exp = float(int(es[1:], 30)) if len(es) > 1 else 0.0
            if exp:
                num *= 30.0 ** (-exp if es[0] == "-" else exp)
    except (ValueError, KeyError):
        return _parse_base30(tok)
    return -num if neg else num


def read_por_columns(path: str) -> tuple[PorMeta, list]:
    """Eager read of all cases → per-variable columns (numeric columns
    as float64 ndarrays with NaN missing, or python lists from the
    scalar path; string columns as python lists of str).

    Dispatch: the vectorized case-data parser (numpy over the whole
    stream — ~20× the scalar walk) handles the two shapes that cover
    real files, with structural validation; anything it cannot prove
    falls back to the per-token scalar walk, so results are identical
    by construction (the vectorized base-30 parse replays the scalar
    accumulator's operation order bit-for-bit, tested in
    tests/test_por_reader.py)."""
    meta, st = parse_por(path)
    s = _bulk_chars(st)
    cols = _read_cases_vectorized(meta, s)
    if cols is None:
        cols = _read_cases_scalar(meta, s)
    return meta, cols


_SLASH = ord("/")
_STAR = ord("*")
_DOT = ord(".")
_ZPAD = ord("Z")

# base-30 digit lookup: '0'-'9' → 0-9, 'A'-'T' → 10-29, else 255
_DIG_LUT = np.full(256, 255, dtype=np.uint8)
for _i in range(10):
    _DIG_LUT[ord("0") + _i] = _i
for _i in range(20):
    _DIG_LUT[ord("A") + _i] = 10 + _i


def _stream_ctx(u: np.ndarray) -> tuple:
    """Stream-wide precomputation shared across _b30_batch chunks:
    the digit LUT pass and the sparse dot/sign/bad locations depend
    only on the stream, not on which token spans are being parsed."""
    dig_flat = _DIG_LUT[u]
    isdot_f = u == _DOT
    issign_f = (u == ord("-")) | (u == ord("+"))
    badchar = dig_flat == 255
    badchar &= ~isdot_f
    badchar &= ~issign_f
    badchar &= u != _SLASH
    return (
        dig_flat,
        np.flatnonzero(isdot_f),
        np.flatnonzero(issign_f),
        np.flatnonzero(badchar),
    )


def _b30_batch_parallel(
    u: np.ndarray, starts: np.ndarray, ends: np.ndarray, ctx=None
) -> tuple[np.ndarray, np.ndarray]:
    """_b30_batch fanned over a small thread pool for big token sets.

    The POR scan is inherently one partition (tokens flow across the
    80-char line structure, so byte ranges cannot be split without
    parsing), which leaves the Python worker's siblings idle — and
    every numpy pass in _b30_batch releases the GIL. Chunks of tokens
    are independent, per-token op sequences are unchanged, so results
    are bit-identical to the single-threaded call; the pool is capped
    at 4 threads so a busy multi-task executor is never oversubscribed
    by more than a small constant."""
    import os as _os

    n = len(starts)
    nt = min(4, _os.cpu_count() or 1)
    if n < 100_000 or nt < 2:
        return _b30_batch(u, starts, ends, ctx)
    if ctx is None:
        ctx = _stream_ctx(u)
    bounds = np.linspace(0, n, nt + 1).astype(np.int64)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(nt) as ex:
        res = list(
            ex.map(
                lambda ab: _b30_batch(
                    u, starts[ab[0] : ab[1]], ends[ab[0] : ab[1]], ctx
                ),
                zip(bounds[:-1], bounds[1:]),
            )
        )
    return (
        np.concatenate([r[0] for r in res]),
        np.concatenate([r[1] for r in res]),
    )


def _b30_batch(
    u: np.ndarray, starts: np.ndarray, ends: np.ndarray, ctx: tuple = None
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized base-30 parse of tokens u[starts[i]:ends[i]).

    Returns (values, ok). Bit-identical to _fast_b30/_parse_base30 for
    plain [-]int[.frac] tokens: the integer part accumulates exactly
    (≤11 digits — exactness proof in _fast_b30), the fraction replays the
    scalar's num += d/denom; denom *= 30 sequence via np.cumprod (the
    same multiply chain) in the same ascending order. Tokens with >11
    integer digits, >64 chars, or any invalid char get ok=False — the
    caller routes those through the scalar parser. Empty tokens parse
    to 0.0 like the scalar path. ``starts`` must be ascending and the
    spans disjoint (both call sites pass stream-ordered segments).

    Everything here is FLAT: 1-D passes over the stream, sparse
    dot/sign location via searchsorted, and suffix-grouped per-digit
    accumulation (tokens sorted by digit count make "tokens still
    needing digit k" a contiguous suffix). The earlier (n, token_len)
    matrix formulation allocated ~n×64 bytes per mask and paid this
    VM's erratic page-fault cost on every fresh allocation — 45-digit
    exact-decimal columns parsed at 0.12 M tokens/s; flat runs the
    same shape >10× faster with identical outputs."""
    n = len(starts)
    vals = np.zeros(n, dtype=np.float64)
    lens = ends - starts
    ok = lens >= 0
    lmax = int(lens.max()) if n else 0
    if lmax == 0:
        return vals, ok
    if lmax > 64:  # full-precision doubles print ~50 base-30 chars
        ok &= lens <= 64

    nu = len(u)
    if ctx is None:
        ctx = _stream_ctx(u)
    dig_flat, dpos, spos, bpos = ctx

    nonempty = lens > 0
    first = u[np.minimum(starts, nu - 1)]
    neg = nonempty & (first == ord("-"))
    off = (neg | (nonempty & (first == ord("+")))).astype(np.int64)

    # a sign past position 0 opens the base-30 exponent suffix;
    # located sparsely: first in-span sign at/after starts+1
    if spos.size:
        s0 = np.searchsorted(spos, starts + 1)
        sign_cnt = np.searchsorted(spos, ends) - s0
        has_exp = sign_cnt > 0
        ok &= sign_cnt <= 1
        eabs = np.where(has_exp, spos[np.minimum(s0, spos.size - 1)], ends)
    else:
        has_exp = np.zeros(n, dtype=bool)
        eabs = ends
    any_exp = bool(has_exp.any())
    epos = eabs - starts  # == lens where no exponent

    # the mantissa dot, located the same way; a '.' inside the
    # exponent region is an invalid char exactly like before
    if dpos.size:
        d0 = np.searchsorted(dpos, starts)
        d_pre = np.searchsorted(dpos, eabs)
        pre_cnt = d_pre - d0
        ok &= pre_cnt <= 1
        if any_exp:  # '.' inside the exponent region: bad
            ok &= np.searchsorted(dpos, ends) == d_pre
        hasdot = pre_cnt > 0
        dabs = np.where(hasdot, dpos[np.minimum(d0, dpos.size - 1)], eabs)
    else:
        dabs = eabs
    dotpos = dabs - starts

    # every in-span char must be a digit, a dot, or a sign (dot/sign
    # placement was validated above; the leading sign sits at starts
    # and is outside both sparse searches). Offending chars are rare —
    # separators live between spans and line padding lands mid-token
    # only on ragged lines — so they are located sparsely (in the
    # ctx) and only their tokens falsified, instead of cumsum-scanning
    # the stream per call
    if bpos.size:
        ti = np.searchsorted(starts, bpos, side="right") - 1
        hit = (ti >= 0) & (bpos < ends[ti])
        ok[ti[hit]] = False

    ip_len = dotpos - off
    # 11 base-30 digits: exact int64 accumulation here, and provably
    # equal to the scalar float accumulator — digits 1-10 stay below
    # 30^10 < 2^53 (exact), and the 11th step's num*30 is an EVEN
    # integer < 30^11 < 2^54 (exactly representable), leaving one
    # correctly-rounded add of the exact N, which equals the int64
    # path's single astype(float64) rounding. The argument does not
    # extend to 12 digits (see _fast_b30's docstring); boundary
    # pinned in test_integer_fast_path_boundary_pins.
    ok &= ip_len <= 11

    acc = np.zeros(n, dtype=np.int64)
    mi = min(int(ip_len.max(initial=0)), 11)
    if mi:
        o_i = np.argsort(ip_len, kind="stable")
        il_s = ip_len[o_i]
        istart_s = (starts + off)[o_i]
        acc_s = np.zeros(n, dtype=np.int64)
        j0s = np.searchsorted(il_s, np.arange(mi), side="right")
        for k in range(mi):
            j0 = j0s[k]
            acc_s[j0:] = acc_s[j0:] * 30 + dig_flat[istart_s[j0:] + k]
        acc[o_i] = acc_s
    num = acc.astype(np.float64)

    frac_len = np.where(dabs < eabs, eabs - dabs - 1, 0)
    mf = min(int(frac_len.max(initial=0)), 63)
    if mf:
        o_f = np.argsort(frac_len, kind="stable")
        fl_s = frac_len[o_f]
        fstart_s = (dabs + 1)[o_f]
        denom = np.cumprod(np.full(mf, 30.0))  # 30, 900, … like *= 30
        # each pass keeps the scalar's per-term d/denom division and
        # runs left-to-right per token, matching the scalar
        # accumulator's rounding exactly (cumsum would regroup); all
        # touched positions sit inside their token's span because the
        # suffix only holds tokens with frac_len > j
        num_s = num[o_f]
        # preallocated scratch: per-pass fresh temporaries pay this
        # VM's page-fault cost every iteration (measured ~3× the
        # arithmetic on 45-digit columns)
        ibuf = np.empty(n, dtype=np.int64)
        gbuf = np.empty(n, dtype=np.uint8)
        fbuf = np.empty(n, dtype=np.float64)
        j0s = np.searchsorted(fl_s, np.arange(mf), side="right")
        for j in range(mf):
            j0 = j0s[j]
            w = n - j0
            if not w:
                continue
            np.add(fstart_s[j0:], j, out=ibuf[:w])
            np.take(dig_flat, ibuf[:w], out=gbuf[:w])
            np.divide(gbuf[:w], denom[j], out=fbuf[:w])
            np.add(num_s[j0:], fbuf[:w], out=num_s[j0:])
        num2 = np.empty(n, dtype=np.float64)
        num2[o_f] = num_s
        num = num2

    if any_exp:
        exp_len = lens - epos - 1
        ok &= ~has_exp | ((exp_len >= 0) & (exp_len <= 7))
        me = min(int(exp_len.max(initial=0)), 7)
        eacc = np.zeros(n, dtype=np.int64)
        if me:
            for k in range(me):
                m = (k < exp_len) & has_exp & ok
                if m.any():
                    eacc[m] = eacc[m] * 30 + dig_flat[eabs[m] + 1 + k]
        eneg = u[np.minimum(eabs, nu - 1)] == ord("-")
        signed = np.where(eneg, -eacc, eacc)
        signed[~has_exp] = 0
        # multiply by 30.0 ** exp computed with PYTHON pow per unique
        # exponent — np.power differs from the scalar's ** in the last
        # ulp, a Python-level pow per distinct value does not
        apply = has_exp & ok & (signed != 0)
        uniq = np.unique(signed[apply])
        if uniq.size:
            lut = np.ones(uniq.size, dtype=np.float64)
            for i, v in enumerate(uniq):
                try:
                    lut[i] = 30.0 ** float(v)
                except OverflowError:
                    # scalar raises here too; route through it
                    ok &= signed != v
                    apply &= signed != v
            mult = lut[np.searchsorted(uniq, np.where(apply, signed, uniq[0]))]
            num = np.where(apply, num * mult, num)
    vals = np.where(neg, -num, num)
    return vals, ok


def _scalar_patch(s: str, vals, starts, ends, ok) -> None:
    """Route the rare tokens the batch parser declined through the
    exact scalar parser (exponents, overlong, odd charset)."""
    for i in np.flatnonzero(~ok):
        vals[i] = _fast_b30(s[starts[i] : ends[i]])


def _read_cases_vectorized(meta: PorMeta, s: str) -> list | None:
    """Whole-stream numpy case parser. Two proven shapes:

    A. no string variables: sysmis '*.' pairs and '/'-terminated
       numeric tokens interleave; stars are located globally and
       validated to be leading-contiguous per segment.
    B. string variables present, no '*' in the stream, and no '/'
       inside any string payload (validated: each payload must end
       before the next slash, and every numeric token must parse) —
       then every value owns exactly one '/'-terminated segment, so
       segment index mod n_vars IS the column, and each column parses
       as one vectorized batch. Any structural violation returns None
       and the scalar walk takes over.
    """
    n_vars = len(meta.variables)
    if n_vars == 0 or not s:
        return None
    is_str = [v.is_str for v in meta.variables]
    u = np.frombuffer(s.encode("latin-1"), dtype=np.uint8)
    slashes = np.flatnonzero(u == _SLASH)
    if slashes.size == 0:
        return None
    seg_start = np.empty(slashes.size, dtype=np.int64)
    seg_start[0] = 0
    seg_start[1:] = slashes[:-1] + 1
    stars = np.flatnonzero(u == _STAR)
    # the digit LUT + sparse marker locations depend only on the
    # stream — computed ONCE here and threaded through every
    # _b30_batch call (they were rebuilt per column, measured as a
    # quarter of the whole parse on the 8-column lineitem shape)
    ctx = _stream_ctx(u)

    if not any(is_str):
        return _vec_numeric_only(s, u, seg_start, slashes, stars, n_vars, ctx)
    if all(is_str):
        return None  # every value chains through payloads → scalar
    if stars.size:
        return _vec_strings_stars(
            meta, s, u, seg_start, slashes, n_vars, is_str, ctx, stars
        )
    return _vec_with_strings(
        meta, s, u, seg_start, slashes, n_vars, is_str, ctx
    )


def _vec_numeric_only(s, u, seg_start, slashes, stars, n_vars, ctx=None):
    m = slashes.size
    if stars.size:
        if stars[-1] + 1 >= len(u) or not (u[stars + 1] == _DOT).all():
            return None
        lo = np.searchsorted(stars, seg_start)
        hi = np.searchsorted(stars, slashes)
        cnt = hi - lo
        has = cnt > 0
        # stars must sit contiguously at the segment head ('*.'*k tok/)
        first_star = stars[np.minimum(lo, stars.size - 1)]
        last_star = stars[np.maximum(hi - 1, 0)]
        good = ~has | (
            (first_star == seg_start) & (last_star - first_star == 2 * (cnt - 1))
        )
        if not good.all():
            return None
        tok_start = np.where(has, last_star + 2, seg_start)
    else:
        cnt = np.zeros(m, dtype=np.int64)
        tok_start = seg_start

    zmask = u[np.minimum(tok_start, len(u) - 1)] == _ZPAD
    zmask &= tok_start < slashes  # 'Z…' with room before the slash
    cutoff = len(u)
    if zmask.any():
        cutoff = int(tok_start[int(np.argmax(zmask))])

    vals_tok, ok = _b30_batch_parallel(u, tok_start, slashes, ctx)
    if not ok.all():
        allowed = (_DIG_LUT[u[np.minimum(tok_start, len(u) - 1)]] != 255) | (
            tok_start >= slashes
        )
        # exponent-shaped tokens are fine (scalar patch); anything
        # whose first char isn't base-30-ish means misparse → bail
        if not allowed[~ok].all():
            return None
        _scalar_patch(s, vals_tok, tok_start, slashes, ok)

    # merge star values (NaN at star positions) and token values into
    # file order, truncate at the Z terminator and to whole rows
    positions = np.concatenate([stars, tok_start])
    merged = np.concatenate([np.full(stars.size, np.nan), vals_tok])
    order = np.argsort(positions, kind="stable")
    positions = positions[order]
    merged = merged[order]
    keep = positions < cutoff
    merged = merged[keep]
    n_rows = merged.size // n_vars
    merged = merged[: n_rows * n_vars]
    grid = merged.reshape(n_rows, n_vars)
    return [grid[:, j].copy() for j in range(n_vars)]


# All ASCII bytes for which chr(b).isspace() is true, so that
# lengths_rstrip exactly matches the scalar path's str.rstrip() for
# every byte < 0x80 (high bytes force the per-row fallback). 0x1C-0x1F
# (FS/GS/RS/US) ARE whitespace to Python's str.rstrip().
_WS = (0x20, 0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x1C, 0x1D, 0x1E, 0x1F)


def _gather_strings(s, u, p0, p1, ln):
    """Payload spans [p0, p1) → one arrow string array without
    touching Python per row: ragged spans gather into a (n, wmax)
    matrix (wmax = widest payload, bounded by the POR 255-char
    width), pad cells read as spaces so the vectorized rstrip matches
    the scalar path's str.rstrip(). High-byte payloads (foreign
    non-portable chars) fall back to the per-row slice, as does a
    pathological wmax. Replaces a 60k-row Python listcomp per string
    column, measured ~40% of the 8-column lineitem parse."""
    from polars_readstat_spark.sources import strdecode

    n = len(p0)
    if n == 0:
        return pa.array([], type=pa.string())
    wmax = int(ln.max())
    if wmax == 0:
        return pa.array([""] * n, type=pa.string())
    if wmax > 4096:
        return [s[a:b].rstrip() for a, b in zip(p0, p1)]
    pos = p0[:, None] + np.arange(wmax, dtype=np.int64)[None, :]
    np.minimum(pos, len(u) - 1, out=pos)
    mat = u[pos]
    mat[np.arange(wmax, dtype=np.int64)[None, :] >= ln[:, None]] = 0x20
    lens = strdecode.lengths_rstrip(mat, strip=_WS)
    arr = strdecode.try_vectorized(mat, lens, "latin-1")
    if arr is None:
        return [s[a:b].rstrip() for a, b in zip(p0, p1)]
    return arr


def _vec_with_strings(meta, s, u, seg_start, slashes, n_vars, is_str, ctx=None):
    m = slashes.size
    if m % n_vars != 0:
        return None  # partial trailing row (or payload slash) → scalar
    n_rows = m // n_vars
    if n_rows == 0:
        return None
    idx = np.arange(m, dtype=np.int64).reshape(n_rows, n_vars)
    prefix = np.zeros((n_rows, n_vars), dtype=np.int64)
    str_len: dict[int, np.ndarray] = {}

    # resolve payload-prefix chains starting from a column whose left
    # neighbour is numeric (exists: not all columns are strings)
    start_c = next(c for c in range(n_vars) if not is_str[c - 1])
    cols_order = [(start_c + k) % n_vars for k in range(n_vars)]
    out: list = [None] * n_vars
    # numeric token spans accumulate across columns and parse in ONE
    # batch call at the end: per-column _b30_batch calls each re-ran
    # the sparse searchsorted passes over the same stream (measured as
    # the dominant cost after ctx sharing), and the combined token set
    # crosses the thread-pool threshold a single column's doesn't
    num_cols: list = []
    for c in cols_order:
        left = c - 1 if c > 0 else n_vars - 1
        if is_str[left]:
            lp = str_len[left]
            prefix[:, c] = (
                lp if c > 0 else np.concatenate([[0], lp[:-1]])
            )
        segs = idx[:, c]
        t0 = seg_start[segs] + prefix[:, c]
        t1 = slashes[segs]
        if (t0 > t1).any():
            return None
        if is_str[c]:
            lens, ok = _b30_batch(u, t0, t1, ctx)
            if not ok.all():
                return None
            ln = lens.astype(np.int64)
            if (ln < 0).any() or (lens != ln).any():
                return None
            p0 = t1 + 1
            p1 = p0 + ln
            nxt = np.empty(n_rows, dtype=np.int64)
            follow = segs + 1
            inb = follow < m
            nxt[inb] = slashes[follow[inb]]
            nxt[~inb] = len(u)
            if (p1 > nxt).any():
                return None  # payload would cross a slash → speculation wrong
            str_len[c] = ln
            out[c] = _gather_strings(s, u, p0, p1, ln)
        else:
            num_cols.append((c, t0, t1))
    if num_cols:
        T0 = np.concatenate([t0 for _c, t0, _t1 in num_cols])
        T1 = np.concatenate([t1 for _c, _t0, t1 in num_cols])
        order = np.argsort(T0, kind="stable")  # ascending, disjoint
        vals_s, ok_s = _b30_batch_parallel(u, T0[order], T1[order], ctx)
        if not ok_s.all():
            t0s, t1s = T0[order], T1[order]
            first_ok = (
                _DIG_LUT[u[np.minimum(t0s, len(u) - 1)]] != 255
            ) | (t0s >= t1s)
            if not first_ok[~ok_s].all():
                return None
            _scalar_patch(s, vals_s, t0s, t1s, ok_s)
        vals_all = np.empty(T0.size, dtype=np.float64)
        vals_all[order] = vals_s
        p = 0
        for c, t0, _t1 in num_cols:
            out[c] = vals_all[p : p + t0.size]
            p += t0.size
    # trailing region must be Z padding / blanks, or the structure was
    # a lie (e.g. a truncated final payload)
    tail_at = slashes[-1] + 1
    if is_str[n_vars - 1]:
        tail_at = tail_at + int(str_len[n_vars - 1][-1])
    tail = s[tail_at : tail_at + 8].strip()
    if tail and not tail.startswith("Z"):
        return None
    return out


def _vec_strings_stars(meta, s, u, seg_start, slashes, n_vars, is_str, ctx, stars):
    """Strings AND '*.' sysmis in one stream — the survey-data shape
    that previously always fell to the scalar walk.

    A segment (text between consecutive slashes, minus any string
    payload prefix) holds k leading '*.' sysmis pairs then one
    slash-terminated token, so values-per-segment = k + 1 and a
    cumulative sum maps every token to its VALUE index (and column)
    without the seg%n_vars assumption. String payload prefixes
    resolve in waves (a wave parses the length tokens of all string
    segments whose predecessor's payload is known). The speculation
    is then re-derived and validated structurally:

    - star counts recomputed from the FINAL content starts must equal
      the raw speculation (a star hiding inside a payload inflates
      the raw count and is caught here),
    - stars must be contiguous '*.' pairs at the content head,
    - a star mapping to a string column, a payload crossing a slash,
      trailing stars after the last slash, or any token misparse →
      decline to the scalar walk.

    Exactness: the scalar walk's transitions are forced by the
    current character (star → sysmis, else token-to-slash, strings
    consume a parsed payload), so a candidate structure that starts
    at 0, satisfies every local constraint, and tiles the stream IS
    the walk's parse. Anything not provably consistent returns None.
    """
    m = slashes.size
    # stars after the last slash: trailing sysmis completing the final
    # row (no terminating slash exists for them); validated against
    # the final payload boundary below
    n_tail = int(np.searchsorted(stars, slashes[-1], side="right"))
    tail_stars = stars[n_tail:]
    in_stars = stars[:n_tail]
    lo = np.searchsorted(in_stars, seg_start)
    hi = np.searchsorted(in_stars, slashes)
    cnt = hi - lo  # speculative: may count payload-resident stars
    v_end = np.cumsum(cnt + 1)
    v_base = v_end - (cnt + 1)
    total_vals = int(v_end[-1]) + tail_stars.size
    if total_vals % n_vars:
        return None
    n_rows = total_vals // n_vars
    if n_rows == 0:
        return None
    is_str_arr = np.asarray(is_str, dtype=bool)
    tok_val = v_base + cnt
    col_tok = tok_val % n_vars
    tok_is_str = is_str_arr[col_tok]

    # every star's value column must be numeric (the scalar walk does
    # emit NaN into string columns for malformed files — decline and
    # let it)
    star_seg = np.searchsorted(slashes, in_stars)
    star_rank = np.arange(in_stars.size, dtype=np.int64) - lo[star_seg]
    star_val = v_base[star_seg] + star_rank
    if is_str_arr[star_val % n_vars].any():
        return None
    if tail_stars.size:
        tv = int(v_end[-1]) + np.arange(tail_stars.size, dtype=np.int64)
        if is_str_arr[tv % n_vars].any():
            return None

    # wave-resolution of payload lengths: seg i's content is prefixed
    # by seg i-1's payload iff token i-1 is a string
    prefix = np.zeros(m, dtype=np.int64)
    plen = np.zeros(m, dtype=np.int64)
    known = np.empty(m, dtype=bool)
    known[0] = True
    known[1:] = ~tok_is_str[:-1]
    need = tok_is_str.copy()  # string length tokens still unparsed
    for _wave in range(64):
        ready = np.flatnonzero(need & known)
        if ready.size == 0:
            break
        t0 = seg_start[ready] + prefix[ready] + 2 * cnt[ready]
        t1 = slashes[ready]
        if (t0 > t1).any():
            return None
        lens, ok = _b30_batch(u, t0, t1, ctx)
        if not ok.all():
            return None
        ln = lens.astype(np.int64)
        if (ln < 0).any() or (lens != ln).any():
            return None
        plen[ready] = ln
        need[ready] = False
        succ = ready[ready + 1 < m] + 1
        prefix[succ] = plen[succ - 1]
        known[succ] = True
    if need.any():
        return None  # unresolved chain (>64 consecutive string cells)

    # structural re-derivation with final content starts
    content_start = seg_start + prefix
    lo2 = np.searchsorted(in_stars, content_start)
    cnt2 = hi - lo2
    if not bool((cnt2 == cnt).all()):
        return None
    has = cnt > 0
    if has.any():
        first_star = in_stars[np.minimum(lo2, in_stars.size - 1)]
        last_star = in_stars[np.maximum(hi - 1, 0)]
        good = ~has | (
            (first_star == content_start)
            & (last_star - first_star == 2 * (cnt - 1))
        )
        if not good.all():
            return None
    if stars.size and (
        stars[-1] + 1 >= len(u) or not bool((u[stars + 1] == _DOT).all())
    ):
        return None

    tok_start = content_start + 2 * cnt
    if (tok_start > slashes).any():
        return None

    # payload bounds: must end before the next slash (a '/' inside a
    # payload desynchronizes the segment index — decline)
    str_segs = np.flatnonzero(tok_is_str)
    p0 = slashes[str_segs] + 1
    p1 = p0 + plen[str_segs]
    nxt = np.empty(str_segs.size, dtype=np.int64)
    inb = str_segs + 1 < m
    nxt[inb] = slashes[str_segs[inb] + 1]
    nxt[~inb] = len(u)
    if (p1 > nxt).any():
        return None

    # parse all numeric tokens in one batch
    vals = np.full(total_vals, np.nan)
    num_segs = np.flatnonzero(~tok_is_str)
    if num_segs.size:
        t0 = tok_start[num_segs]
        t1 = slashes[num_segs]
        nv, ok = _b30_batch_parallel(u, t0, t1, ctx)
        if not ok.all():
            first_ok = (
                _DIG_LUT[u[np.minimum(t0, len(u) - 1)]] != 255
            ) | (t0 >= t1)
            if not first_ok[~ok].all():
                return None
            _scalar_patch(s, nv, t0, t1, ok)
        vals[tok_val[num_segs]] = nv

    # trailing sysmis: must sit as contiguous '*.' pairs exactly at
    # the end of the final payload (a '*' inside the last payload
    # lands before that boundary and declines here)
    tail_at = int(slashes[-1]) + 1
    if tok_is_str[m - 1]:
        tail_at += int(plen[m - 1])
    if tail_stars.size:
        expect = tail_at + 2 * np.arange(tail_stars.size, dtype=np.int64)
        if not bool((tail_stars == expect).all()):
            return None
        tail_at += 2 * tail_stars.size
        # (their NaNs are already in `vals` — the full array default)

    # trailing region must be Z padding / blanks
    tail = s[tail_at : tail_at + 8].strip()
    if tail and not tail.startswith("Z"):
        return None

    grid = vals.reshape(n_rows, n_vars)
    out: list = [None] * n_vars
    for c in range(n_vars):
        if is_str[c]:
            segs_c = str_segs[col_tok[str_segs] == c]
            if segs_c.size != n_rows:
                return None  # a string column missing a cell per row
            pp0 = slashes[segs_c] + 1
            ln = plen[segs_c]
            out[c] = _gather_strings(s, u, pp0, pp0 + ln, ln)
        else:
            out[c] = grid[:, c].copy()
    return out


def _read_cases_scalar(meta: PorMeta, s: str) -> list[list]:
    """Per-token walk (exact reference semantics, any input shape)."""
    n = len(s)
    cols: list[list] = [[] for _ in meta.variables]
    n_vars = len(meta.variables)
    is_str = [v.is_str for v in meta.variables]
    cur = 0
    done = False
    while not done:
        row = []
        for j in range(n_vars):
            c = s[cur] if cur < n else "Z"
            if c == "Z":
                done = True
                break
            if c == "*":  # '*.' sysmis (numeric only)
                cur += 2
                row.append(float("nan"))
                continue
            slash = s.find("/", cur)
            if slash < 0:
                done = True
                break
            v = _fast_b30(s[cur:slash])
            cur = slash + 1
            if is_str[j]:
                k = int(v)
                row.append(s[cur : cur + k].rstrip())
                cur += k
            else:
                row.append(v)
        if done or len(row) != n_vars:
            break
        for j in range(n_vars):
            cols[j].append(row[j])
    return cols


class PorPartition(InputPartition):
    pass


class PorReader(ScanReader):
    def __init__(self, path: str, options):
        self.meta = parse_por(path)[0]
        super().__init__(path, options, self.meta.variables)

    def partitions(self):
        return [PorPartition(0)]

    def read(self, partition):
        meta, cols = read_por_columns(self.path)
        start, n = row_span(
            len(cols[0]) if cols else 0, self.offset, self.limit
        )
        end = start + n

        from polars_readstat_spark.sources.datasource import column_specs

        specs = column_specs("por", meta, self)

        def columns():
            for i, spec in zip(self.col_indices, specs):
                v = meta.variables[i]
                vals = cols[i][start:end]
                if v.is_str:
                    # the vectorized gather already built the arrow array
                    if not isinstance(vals, pa.Array):
                        vals = pa.array(vals, type=pa.string())
                    yield spec, vals
                    continue
                fv = np.asarray(vals, dtype=np.float64)  # None → NaN
                yield spec, (fv, np.isnan(fv), None)

        batch = build_batch(
            columns(), self.informative, self.missing_string_as_null
        )
        yield self._indexed(batch, start)

