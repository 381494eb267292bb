"""Filter pushdown for the readstat data source (Spark 4.1
`pushFilters`).

The reference applies predicates batch-wise after decode (P4,
reference __init__.py:657-659; README.md:71-73 "filters applied after
reading"). The Spark translation is stronger: accepted filters are
applied to each Arrow batch *inside the Python worker*, so filtered
rows never cross the Python→JVM boundary — on a selective predicate
that transfer is the scan's dominant cost. Unsupported filters are
returned to Spark and evaluated by Catalyst above the scan as usual.

Accepted shapes: comparisons / In / IsNull / StringStartsWith-style on
top-level columns, plus Not of those. Everything else is declined —
correctness never depends on acceptance.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSourceReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)


# First (major, minor) VERIFIED to fix the pushed-plan reuse bug.
# None = no release is known-fixed yet, so EVERY version stays
# hazardous — assuming a future release fixed it would auto-enable a
# wrong-results default on speculation (review r12). The pinned leak
# test (test_filter_pushdown.py::
# test_pushdown_engages_through_registered_path) asserts the leak
# itself, so it flips red on the first Spark that fixes the cache —
# set this to that version the round it happens and the default
# flips on for it.
_PUSHDOWN_FIXED_MIN: tuple[int, int] | None = None


def plan_reuse_hazard(version: str) -> bool:
    """True when this Spark version reuses a python-DS pushed plan for
    FILTERLESS actions on a shared DataFrame (df.filter(x).count()
    then df.count() returns the filtered count — verified on 4.1.x
    with a minimal reproduction; the filterless action never re-enters
    Python, so no reader-side fix exists). Hazardous unless the
    version is at or above the VERIFIED-fixed minimum
    (_PUSHDOWN_FIXED_MIN); unparsable versions count as hazardous."""
    if _PUSHDOWN_FIXED_MIN is None:
        return True
    try:
        parts = version.split("-")[0].split(".")
        major, minor = int(parts[0]), int(parts[1])
    except (ValueError, IndexError):
        return True
    return (major, minor) < _PUSHDOWN_FIXED_MIN


class OrGroup:
    """Disjunction node for the `where` option's parenthesized OR
    groups — local to this module (Catalyst never pushes one; the
    pyspark Filter algebra has no Or). Children are plain Filters."""

    __slots__ = ("children",)

    def __init__(self, children):
        self.children = tuple(children)

    def __eq__(self, other):
        return (
            isinstance(other, OrGroup)
            and self.children == other.children
        )

    def __repr__(self):
        return f"OrGroup({self.children!r})"


def _compile(f: Filter):
    """Filter → callable(RecordBatch) -> BooleanArray, or None if the
    shape isn't supported batch-side."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(f, OrGroup):
        parts = [_compile(c) for c in f.children]
        if not parts or any(p is None for p in parts):
            return None

        def disj(batch, _parts=parts):
            m = _parts[0](batch)
            for p in _parts[1:]:
                m = pc.or_kleene(m, p(batch))
            return m

        return disj

    if isinstance(f, Not):
        inner = _compile(f.child)
        if inner is None:
            return None

        def neg(batch, _inner=inner):
            m = _inner(batch)
            # Kleene: NOT null stays null (dropped by filter)
            return pc.invert(m)

        return neg

    attr = getattr(f, "attribute", None)
    if not attr or len(attr) != 1:
        return None
    col = attr[0]

    def c(batch):
        if col not in batch.schema.names:
            raise ValueError(f"pushed filter references unknown column {col}")
        return batch.column(batch.schema.get_field_index(col))

    if isinstance(f, EqualTo):
        return lambda b: pc.equal(c(b), pa.scalar(f.value))
    if isinstance(f, EqualNullSafe):
        if f.value is None:
            # <=> NULL means "is null"; the fill_null(equal(col, None))
            # formulation would be an all-true mask — decline instead of
            # risking wrong rows if Spark ever pushes this shape
            return None
        return lambda b: pc.fill_null(pc.equal(c(b), pa.scalar(f.value)),
                                      False)
    if isinstance(f, GreaterThan):
        return lambda b: pc.greater(c(b), pa.scalar(f.value))
    if isinstance(f, GreaterThanOrEqual):
        return lambda b: pc.greater_equal(c(b), pa.scalar(f.value))
    if isinstance(f, LessThan):
        return lambda b: pc.less(c(b), pa.scalar(f.value))
    if isinstance(f, LessThanOrEqual):
        return lambda b: pc.less_equal(c(b), pa.scalar(f.value))
    if isinstance(f, In):
        values = list(f.value)
        if any(v is None for v in values):
            # SQL IN drops null rows (NULL comparison yields NULL) but
            # pc.is_in null-matches them — decline rather than diverge
            return None

        def in_mask(b, _vals=values):
            col = c(b)
            if len(_vals) <= 16:
                # OR of comparison kernels, not pc.is_in: is_in hashes
                # BITWISE, so -0.0 misses a 0 in the set where SQL
                # (and pc.equal) says -0.0 = 0 — found by the
                # refutation property fuzz (r13). Comparison kernels
                # also propagate nulls natively (Kleene), and IN
                # lists in predicates are nearly always small.
                m = pc.equal(col, pa.scalar(_vals[0]))
                for v in _vals[1:]:
                    m = pc.or_kleene(m, pc.equal(col, pa.scalar(v)))
                return m
            m = pc.is_in(col, value_set=pa.array(_vals))
            if any(
                isinstance(v, (int, float))
                and not isinstance(v, bool)
                and v == 0
                for v in _vals
            ):
                # big-set hash path: patch the signed-zero miss
                m = pc.or_(m, pc.equal(col, pa.scalar(0.0)))
            # pc.is_in yields non-null FALSE for null inputs; SQL says
            # NULL IN (...) is NULL. A plain In drops the row either
            # way, but Not(In) must keep Kleene semantics — the
            # un-nulled False inverted to TRUE and RESURRECTED null
            # rows (found by the where grammar property fuzz, r13;
            # the hazard predates it: Catalyst pushes Not(In) too)
            return pc.if_else(
                pc.is_valid(col), m, pa.scalar(None, pa.bool_())
            )

        return in_mask
    if isinstance(f, IsNull):
        return lambda b: pc.is_null(c(b))
    if isinstance(f, IsNotNull):
        return lambda b: pc.is_valid(c(b))
    if isinstance(f, StringStartsWith):
        return lambda b: pc.starts_with(c(b), f.value)
    if isinstance(f, StringEndsWith):
        return lambda b: pc.ends_with(c(b), f.value)
    if isinstance(f, StringContains):
        return lambda b: pc.match_substring(c(b), f.value)
    return None


def _date_days_operand(v):
    """datetime.date (NOT datetime.datetime — it subclasses date but
    compares by instant, which day-granular stats can't bound) →
    epoch days; anything else → None (no refutation)."""
    import datetime as _dt

    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return (v - _dt.date(1970, 1, 1)).days
    return None


# Not(cmp) matches exactly the complementary comparison on non-null
# rows (SQL Kleene: NOT NULL is NULL, dropped) — so Not(col > v)
# refutes exactly when col <= v does (round 12: range-partitioned
# part-files are often single-valued, so `key != X` pruning the X
# file is a real pattern)
_COMPLEMENT = {
    GreaterThan: LessThanOrEqual,
    GreaterThanOrEqual: LessThan,
    LessThan: GreaterThanOrEqual,
    LessThanOrEqual: GreaterThan,
}


def _bloom_refutes(f: Filter, st: dict, str_ok: bool = True) -> bool:
    """True when the column entry's Bloom filter PROVES the equality /
    membership predicate matches no row (sources/bloom.py). Operand
    coercion is typed by the bloom's own domain tag, mirroring the
    range rules: numeric operands only against "num" blooms (bool
    excluded), datetime.date only against "date", str only against
    "str" — and string-domain evidence obeys the same label-rewrite
    guard (str_ok) as string range stats. A None operand never
    refutes: EqualNullSafe(None) MATCHES null rows, and a null in an
    In list is conservatively kept."""
    bf = st.get("bf")
    if not isinstance(bf, dict):
        return False
    from polars_readstat_spark.sources.bloom import (
        bloom_absent,
        canon_num,
        canon_str,
    )

    d = bf.get("d")
    # defense in depth for hand-made/corrupt manifests: when the
    # entry carries range stats, the bloom's domain tag must agree
    # with them — a "num" bloom on a date-tagged entry would let an
    # int operand refute where the range rules say ints never do
    if st.get("t") == "date":
        if d != "date":
            return False
    elif isinstance(st.get("min"), str) or isinstance(st.get("max"), str):
        if d != "str":
            return False
    elif isinstance(st.get("min"), (int, float)) and not isinstance(
        st.get("min"), bool
    ):
        if d != "num":
            return False
    if d == "str":
        if not str_ok:
            return False
        canon = canon_str
    elif d == "date":

        def canon(v):
            days = _date_days_operand(v)
            return None if days is None else days & ((1 << 64) - 1)

    elif d == "num":
        canon = canon_num
    else:
        return False
    if isinstance(f, In):
        xs = [canon(v) for v in f.value]
        if not xs or any(x is None for x in xs):
            return False
        return all(bloom_absent(bf, x) for x in xs)
    x = canon(getattr(f, "value", None))
    return x is not None and bloom_absent(bf, x)


def _refutes(f: Filter, cols: dict, str_ok: bool = True) -> bool:
    """True when a file's zone maps PROVE filter `f` matches no row.
    cols: {name: {min, max, nn (non-null), n}} over plain numeric
    columns; comparisons never match nulls, so [min, max] of the
    non-null values is the complete match range.

    ``str_ok=False`` disables every refutation whose evidence is
    STRING stats (round 13): a scan with value_labels_as_strings /
    use_value_labels rewrites labeled STRING values (sav/por string
    labels map through map_str_labels), so stats over the unlabeled
    domain could unsoundly refute a filter on the labeled one. Type
    coercion already protects numeric/date stats (a labeled column's
    output becomes string-typed, and string operands never coerce
    against them)."""
    if isinstance(f, OrGroup):
        # a row matches the disjunction iff SOME disjunct matches:
        # refuted only when EVERY disjunct provably matches no row
        return all(_refutes(c, cols, str_ok) for c in f.children)
    if isinstance(f, Not):
        c = f.child
        comp = _COMPLEMENT.get(type(c))
        if comp is not None:
            return _refutes(comp(c.attribute, c.value), cols, str_ok)
        if isinstance(c, (EqualTo, In, StringStartsWith)):
            return _refutes_not(c, cols, str_ok)
        return False  # other negations don't refute from ranges safely
    attr = getattr(f, "attribute", None)
    if not attr or len(attr) != 1:
        return False
    st = cols.get(attr[0])
    if st is None:
        return False
    nn, n = st.get("nn"), st.get("n")
    mn, mx = st.get("min"), st.get("max")
    str_stats = isinstance(mn, str) and isinstance(mx, str)
    if isinstance(f, IsNotNull):
        # null accounting never refutes through STRING stats: under
        # missing_string_as_null the reader nulls '' values, and the
        # default read un-nulls blank-filled nulls, so nn/n describe
        # the INPUT, not the reader's output (review r12). String
        # columns with any null are writer-poisoned, so an entry with
        # string min/max is all-non-null input — but the '' hazard
        # above still rules out both null refutations.
        # isinstance guard: a hand-made/corrupt entry may lack the
        # null accounting entirely, and None == None must not read as
        # "no nulls" (r13 review)
        return isinstance(nn, int) and nn == 0 and not str_stats
    if isinstance(f, IsNull):
        return (
            isinstance(nn, int)
            and isinstance(n, int)
            and nn == n
            and not str_stats
        )
    if isinstance(f, (EqualTo, EqualNullSafe, In)) and _bloom_refutes(
        f, st, str_ok
    ):
        # per-file Bloom membership (round 13): refutes point
        # predicates the range can't — an unsorted key column whose
        # [min, max] spans the whole domain in every file. Domain
        # typing lives in the bloom fragment itself ("d" tag), so
        # this is independent of which range branch follows.
        return True
    if st.get("t") == "date":
        # date zone maps (round 13): min/max are epoch DAYS; only a
        # datetime.date operand (what Spark pushes for DateType
        # comparisons, and what the where-option DATE literal yields)
        # coerces — ints/strings/datetimes never refute date stats
        if not isinstance(mn, int) or isinstance(mn, bool):
            return False
        if not isinstance(mx, int) or isinstance(mx, bool):
            return False
        return _range_refutes(f, mn, mx, _date_days_operand)
    if str_stats:
        if not str_ok:
            return False  # label-rewriting scan options active
        return _range_refutes(
            f, mn, mx, lambda v: v if isinstance(v, str) else None
        ) or _refutes_str_prefix(f, mn, mx)
    if not isinstance(mn, (int, float)) or isinstance(mn, bool):
        return False
    if not isinstance(mx, (int, float)) or isinstance(mx, bool):
        return False

    def num(v):
        return (
            v
            if isinstance(v, (int, float)) and not isinstance(v, bool)
            else None
        )

    return _range_refutes(f, mn, mx, num)


def _range_refutes(f: Filter, mn, mx, coerce) -> bool:
    """Shared range algebra for numeric and string zone maps: True
    when [mn, mx] provably contains no value matching `f`. `coerce`
    validates/normalizes a predicate value, returning None for a type
    the column's stats can't be compared with (no refutation). For
    strings the ordering agrees across layers: Python codepoint ==
    Arrow/Spark UTF-8 binary order for valid Unicode."""
    if isinstance(f, In):
        vs = [coerce(v) for v in f.value]
        if any(v is None for v in vs):
            return False
        return all(v < mn or v > mx for v in vs)
    v = coerce(getattr(f, "value", None))
    if v is None:
        return False
    if isinstance(f, (EqualTo, EqualNullSafe)):
        return v < mn or v > mx
    if isinstance(f, GreaterThan):
        return mx <= v
    if isinstance(f, GreaterThanOrEqual):
        return mx < v
    if isinstance(f, LessThan):
        return mn >= v
    if isinstance(f, LessThanOrEqual):
        return mn > v
    return False


def _refutes_not(c: Filter, cols: dict, str_ok: bool = True) -> bool:
    """Refute a NEGATED equality/membership/prefix: possible only when
    the zone maps prove every non-null value MATCHES the inner
    predicate (then no row can match its negation — nulls never match
    a Kleene NOT either). For a range that means a CONSTANT file
    (min == max) equal to / inside the operand set, or a [min, max]
    entirely inside the prefix window. Type guards mirror the positive
    branches; EqualNullSafe is excluded (its negation MATCHES nulls,
    which ranges can't bound)."""
    attr = getattr(c, "attribute", None)
    if not attr or len(attr) != 1:
        return False
    st = cols.get(attr[0])
    if st is None:
        return False
    mn, mx = st.get("min"), st.get("max")
    if isinstance(mn, bool) or isinstance(mx, bool):
        return False
    date_stats = st.get("t") == "date"
    str_stats = isinstance(mn, str) and isinstance(mx, str)
    if str_stats and not str_ok:
        return False  # label-rewriting scan options active
    num_stats = isinstance(mn, (int, float)) and isinstance(
        mx, (int, float)
    )
    if not (str_stats or num_stats):
        return False
    if date_stats and not isinstance(mn, int):
        return False

    def ok(v):
        if date_stats:
            # epoch-day stats: only a real date operand may match —
            # an INT equal to the day number must never refute the
            # negation (it can't match rows, so NOT of it matches all)
            return _date_days_operand(v) is not None
        return (
            isinstance(v, str)
            if str_stats
            else isinstance(v, (int, float)) and not isinstance(v, bool)
        )

    def norm(v):
        return _date_days_operand(v) if date_stats else v

    if isinstance(c, EqualTo):
        return ok(c.value) and mn == mx == norm(c.value)
    if isinstance(c, In):
        vs = list(c.value)
        return (
            all(ok(v) for v in vs)
            and mn == mx
            and mn in [norm(v) for v in vs]
        )
    if isinstance(c, StringStartsWith):
        v = c.value
        if not str_stats or not isinstance(v, str):
            return False
        if not v:
            return True  # every string startswith '' → NOT matches none
        if mn < v:
            return False
        last = ord(v[-1])
        if last < 0x10FFFF:
            return mx < v[:-1] + chr(last + 1)
        return False
    return False


def _refutes_str_prefix(f: Filter, mn: str, mx: str) -> bool:
    """StartsWith prefix-window refutation (string stats only):
    value startswith v  <=>  v <= value < v[:-1]+chr(ord(v[-1])+1)."""
    v = getattr(f, "value", None)
    if not isinstance(f, StringStartsWith) or not isinstance(v, str):
        return False
    if not v:
        return False  # empty prefix matches everything
    if mx < v:
        return True
    last = ord(v[-1])
    if last < 0x10FFFF:
        return mn >= v[:-1] + chr(last + 1)
    return False


def _part_row_span(p) -> tuple[int, int] | None:
    """Global file-row span [start, end) a reader partition covers, or
    None when the geometry is unknowable from the partition alone
    (compressed-sas page ranges with take=-1, POR's single eager
    partition) — unknown spans are never pruned. Covers the row-range
    shapes every format planner emits: (start, n) for dta/xpt/sav, and
    (row_start, skip, take) for uncompressed sas7bdat page ranges."""
    start = getattr(p, "start", None)
    n = getattr(p, "n", None)
    if isinstance(start, int) and isinstance(n, int):
        return (start, start + n)
    rs = getattr(p, "row_start", None)
    if isinstance(rs, int):
        take = getattr(p, "take", -1)
        if isinstance(take, int) and take >= 0:
            skip = getattr(p, "skip", 0) or 0
            return (rs + skip, rs + skip + take)
    return None


def _stripes_refute(
    entry: dict, span: tuple[int, int], accepted, str_ok: bool = True
) -> bool:
    """True when a manifest entry's per-stripe zone maps prove that NO
    row in [span) matches the accepted conjunction: every overlapping
    stripe must be refuted by at least one filter (possibly different
    filters per stripe — a row matches the conjunction only if ALL
    filters match, so one refuted filter kills the stripe). Spans
    reaching past the recorded stripes can't be proven; empty spans
    are kept (harmless zero-row task)."""
    st = entry.get("stripes")
    if not isinstance(st, dict) or span is None:
        return False
    r, arr = st.get("rows"), st.get("cols")
    if not isinstance(r, int) or r <= 0 or not isinstance(arr, list):
        return False
    s, e = span
    if e <= s:
        return False
    i0, i1 = s // r, (e - 1) // r
    if i0 < 0 or i1 >= len(arr):
        return False
    for i in range(i0, i1 + 1):
        cols = arr[i]
        if not isinstance(cols, dict):
            return False
        if not any(_refutes(f, cols, str_ok) for f in accepted):
            return False
    return True


class _FilterApplyReader(DataSourceReader):
    """Shared filter core: applies a compiled conjunction per Arrow
    batch (null → row dropped, SQL semantics) and, when the inner
    chain is a multi-file scan whose directory carries a
    _prs_stats.json zone-map manifest, SKIPS whole part-files whose
    ranges refute an accepted filter (Delta/Iceberg-style file
    skipping) — each pruned file's manifest size (and mtime when
    recorded) is validated against the live file first, so a stale
    manifest costs the skip, never rows. Two frontends fill
    `_preds`/`_accepted`: Catalyst pushdown (BatchFilterReader) and
    the explicit `where` reader option (WhereFilterReader)."""

    def __init__(self, inner: DataSourceReader):
        self.inner = inner
        self._preds = []
        self._accepted = []
        # False when the scan's options rewrite labeled STRING values
        # (value_labels_as_strings / use_value_labels) — string-stat
        # refutations are then unsound; set by the datasource
        self._str_stats_ok = True

    def _find_multi(self):
        r = self.inner
        while r is not None:
            if hasattr(r, "file_stats") and hasattr(r, "paths"):
                return r
            r = getattr(r, "inner", None)
        return None

    def partitions(self):
        parts = self.inner.partitions()
        mf = self._find_multi()
        stats = getattr(mf, "file_stats", None) if mf is not None else None
        if not stats or not self._accepted:
            return parts
        from polars_readstat_spark.sources.datasource import (
            MultiPart,
            MultiPartGroup,
        )
        from polars_readstat_spark.sources.fs import fs_stat

        accepted = self._accepted
        fresh_cache: dict = {}

        def fresh(path: str, e: dict) -> bool:
            # trust a refutation (file- or stripe-level) only if the
            # live file still matches the manifest's size AND (when
            # recorded) mtime — a same-size in-place rewrite must not
            # be pruned by the stale maps. Stale stats cost the skip,
            # never rows. fs_stat is one HEAD per file (zero when the
            # plan's LIST already hinted it), cached across units.
            f = fresh_cache.get(path)
            if f is None:
                try:
                    size, mtime_ns = fs_stat(path)
                    f = size == e.get("size") and not (
                        e.get("mtime_ns") is not None
                        and mtime_ns != e.get("mtime_ns")
                    )
                except OSError:
                    f = False
                fresh_cache[path] = f
            return f

        file_ref_cache: dict = {}

        str_ok = self._str_stats_ok

        def file_refuted(path: str, e: dict) -> bool:
            k = file_ref_cache.get(path)
            if k is None:
                k = any(
                    _refutes(f, e.get("cols", {}), str_ok)
                    for f in accepted
                )
                file_ref_cache[path] = k
            return k

        def keep_unit(path: str, inner) -> bool:
            e = stats.get(path)
            if e is None:
                return True
            if file_refuted(path, e):
                return not fresh(path, e)
            # intra-file: drop this row-span when EVERY stripe it
            # overlaps is refuted (each refutation is universally
            # quantified over the stripe's rows, so any sub-span
            # inherits it)
            span = _part_row_span(inner)
            if span is not None and _stripes_refute(
                e, span, accepted, str_ok
            ):
                return not fresh(path, e)
            return True

        def trim_unit(path: str, inner):
            """Shrink an exact row-addressable partition to exclude
            refuted stripe-aligned prefix/suffix rows (kept spans stay
            contiguous; interior holes are left to the batch filter).
            Only for partitions whose (start, n) is a global file row
            span that decodes independently: partplan.RowRange, whose
            ``retarget`` keeps its plan state (sav's literal/ckpt/
            pipeline fields)."""
            rebuild = getattr(inner, "retarget", None)
            if rebuild is None:
                return inner
            e = stats.get(path)
            st = e.get("stripes") if isinstance(e, dict) else None
            if not isinstance(st, dict):
                return inner
            r, arr = st.get("rows"), st.get("cols")
            if (
                not isinstance(r, int)
                or r <= 0
                or not isinstance(arr, list)
            ):
                return inner

            def stripe_ref(i: int) -> bool:
                return (
                    0 <= i < len(arr)
                    and isinstance(arr[i], dict)
                    and any(
                        _refutes(f, arr[i], str_ok) for f in accepted
                    )
                )

            s, end = inner.start, inner.start + inner.n
            ns, ne = s, end
            while ns < ne and stripe_ref(ns // r):
                ns = min(ne, (ns // r + 1) * r)
            while ne > ns and stripe_ref((ne - 1) // r):
                ne = max(ns, ((ne - 1) // r) * r)
            if (ns, ne) == (s, end) or ns >= ne:
                return inner  # nothing to trim / fully refuted
            if not fresh(path, e):
                return inner
            return rebuild(ns, ne - ns)

        def prune_unit(path: str, inner):
            """None = dropped; otherwise the (possibly trimmed)
            inner partition."""
            if not keep_unit(path, inner):
                return None
            return trim_unit(path, inner)

        single = mf.paths[0] if len(mf.paths) == 1 else None
        out = []
        for p in parts:
            if isinstance(p, MultiPartGroup):
                kept = []
                for u in p.units:
                    ni = prune_unit(mf.paths[u.file_idx], u.inner)
                    if ni is None:
                        continue
                    kept.append(
                        u if ni is u.inner else MultiPart(u.file_idx, ni)
                    )
                if len(kept) == len(p.units) and all(
                    a is b for a, b in zip(kept, p.units)
                ):
                    out.append(p)
                elif len(kept) > 1:
                    out.append(MultiPartGroup(kept))
                elif kept:
                    out.append(kept[0])
            elif isinstance(p, MultiPart):
                ni = prune_unit(mf.paths[p.file_idx], p.inner)
                if ni is not None:
                    out.append(
                        p if ni is p.inner else MultiPart(p.file_idx, ni)
                    )
            elif single is not None:
                # raw single-file scan: the datasource attached
                # file_stats/paths directly to the reader chain
                ni = prune_unit(single, p)
                if ni is not None:
                    out.append(ni)
            else:
                out.append(p)
        return out

    def read(self, partition):
        if partition is None:
            # pruning can legitimately refute EVERY file; pyspark
            # substitutes [None] for an empty partitions list
            # (plan_data_source_read.py) and schedules one task —
            # that task must yield zero batches, not crash
            return
        if not self._preds:
            yield from self.inner.read(partition)
            return
        import pyarrow.compute as pc

        for batch in self.inner.read(partition):
            mask = None
            for p in self._preds:
                m = p(batch)
                mask = m if mask is None else pc.and_kleene(mask, m)
            yield batch.filter(mask)

class BatchFilterReader(_FilterApplyReader):
    """Catalyst-pushdown frontend: accepts what it can at pushFilters
    time and returns the rest for Spark to evaluate above the scan.
    Only constructed when the session enables
    spark.sql.python.filterPushdown.enabled — merely implementing
    pushFilters errors under the default conf=false."""

    def __init__(self, inner: DataSourceReader):
        super().__init__(inner)
        self._planned = False

    def pushFilters(self, filters):
        # RESET, never accumulate: Spark keeps the pushed reader state
        # across query executions that share one DataFrame relation,
        # so appending here would leak one query's predicates into the
        # next (observed r11: df.filter(...).count() then df.count()
        # returned the filtered count once pushdown went live).
        self._preds = []
        self._accepted = []
        self._planned = False
        rest = []
        for f in filters:
            fn = _compile(f)
            if fn is None:
                rest.append(f)
            else:
                self._preds.append(fn)
                self._accepted.append(f)
        return rest

    def partitions(self):
        # Defense in depth for the Spark 4.1 pushed-plan reuse hazard:
        # a second planning pass that did NOT re-invoke pushFilters is
        # reusing predicates pushed for a different query. The known
        # 4.1 leak never re-enters Python at all (so this can't catch
        # it), but if a future Spark replans through the cached reader
        # the stale state becomes visible here — warn, don't reset
        # (the pushed predicates ARE correct for a re-execution of the
        # same filtered query, whose JVM-side filter was removed).
        if self._planned and self._accepted:
            import warnings

            warnings.warn(
                "readstat reader replanned without pushFilters while "
                "holding pushed predicates. Re-executing the SAME "
                "filtered query is correct; but if this action is a "
                "DIFFERENT query on a shared DataFrame, its result "
                "reflects the previously pushed filters — use a fresh "
                "load() per query.",
                stacklevel=2,
            )
        self._planned = True
        return super().partitions()


class WhereFilterReader(_FilterApplyReader):
    """Explicit-option frontend (round 13, VERDICT r12 next#3): the
    filters come from the reader's own ``where`` option, parsed by
    :func:`parse_where`, not from Catalyst. Batch-side filtering and
    zone-map file skipping therefore work with pushdown OFF — there
    is no pushed plan for Spark to cache, so the Spark 4.1
    pushed-plan reuse hazard cannot apply: the option is part of the
    relation's identity, and the filtered rows ARE the dataset this
    reader defines. Every parsed predicate must compile (a silently
    dropped predicate would return wrong rows) — parse_where only
    emits compilable shapes, so a failure here is a bug, not user
    error.

    ``drop``: columns the scan decoded ONLY for this filter (a
    ``columns`` projection that omitted a where-referenced column is
    widened by the datasource) — selected away after the batch-side
    apply so the output matches the user's projection exactly."""

    def __init__(self, inner: DataSourceReader, filters: list, drop=()):
        super().__init__(inner)
        self._drop = tuple(drop)
        for f in filters:
            fn = _compile(f)
            if fn is None:  # pragma: no cover - parse_where emits
                raise ValueError(  # only compilable shapes
                    f"readstat where: unsupported predicate {f!r}"
                )
            self._preds.append(fn)
            self._accepted.append(f)

    def read(self, partition):
        if not self._drop:
            yield from super().read(partition)
            return
        for batch in super().read(partition):
            keep = [
                n for n in batch.schema.names if n not in self._drop
            ]
            yield batch.select(keep)


# ---------------------------------------------------------------------------
# `where` option parser: a deliberately small conjunction grammar that
# maps 1:1 onto the Filter shapes _compile/_refutes already handle.
#
#   expr    := pred ( AND pred )*
#   pred    := [NOT] column op literal
#            | column [NOT] IN '(' literal (',' literal)* ')'
#            | column IS [NOT] NULL
#   op      := = | == | != | <> | < | <= | > | >=
#   column  := bare identifier | `backtick quoted`
#   literal := integer | float | 'single-quoted string' ('' escapes ')
#            | TRUE | FALSE
#
# No OR, no parenthesized sub-expressions, no expressions over
# columns — a filter this option can't express belongs in
# df.filter(...), where Catalyst evaluates it above the scan as
# usual. Errors carry the token position; unknown columns are
# reported against the reader's output schema (the option filters
# DECODED values, same domain as pushdown).
# ---------------------------------------------------------------------------

_WHERE_TOKEN = None  # compiled lazily


def _where_tokens(expr: str):
    import re

    global _WHERE_TOKEN
    if _WHERE_TOKEN is None:
        _WHERE_TOKEN = re.compile(
            r"""\s*(?:
                (?P<str>'(?:[^']|'')*')
              | (?P<num>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
              | (?P<bq>`[^`]+`)
              | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
              | (?P<op><=|>=|==|!=|<>|=|<|>)
              | (?P<punct>[(),])
            )""",
            re.VERBOSE,
        )
    pos, out = 0, []
    while pos < len(expr):
        m = _WHERE_TOKEN.match(expr, pos)
        if m is None:
            if expr[pos:].strip() == "":
                break
            raise ValueError(
                f"readstat where: cannot tokenize at position {pos}: "
                f"{expr[pos:pos + 20]!r}"
            )
        kind = m.lastgroup
        out.append((kind, m.group(kind), m.start(kind)))
        pos = m.end()
    return out


def _where_literal(kind: str, text: str):
    if kind == "str":
        return text[1:-1].replace("''", "'")
    if kind == "num":
        try:
            return int(text)
        except ValueError:
            return float(text)
    if kind == "word":
        u = text.upper()
        if u == "TRUE":
            return True
        if u == "FALSE":
            return False
    return None


class _Pair:
    """Internal parse marker: a predicate that expands to TWO
    conjuncts (BETWEEN). Never escapes parse_where."""

    def __init__(self, a, b):
        self.a, self.b = a, b


def parse_where(expr: str, columns=None) -> list:
    """Parse a ``where`` option string into pushdown Filter objects.

    ``columns``, when given, is the reader's output column set; an
    unknown column is a plan-time error (case-sensitive — these are
    the exact decoded names). Returns the conjunction as a list; every
    returned Filter compiles under _compile and participates in
    zone-map refutation under _refutes."""
    toks = _where_tokens(expr)
    if not toks:
        raise ValueError("readstat where: empty expression")
    i = 0
    n = len(toks)

    def peek(k=0):
        return toks[i + k] if i + k < n else (None, None, len(expr))

    def is_kw(tok, kw):
        return tok[0] == "word" and tok[1].upper() == kw

    def fail(msg, tok):
        raise ValueError(
            f"readstat where: {msg} at position {tok[2]}"
            + (f" (near {tok[1]!r})" if tok[1] else "")
        )

    def column(tok):
        if tok[0] == "bq":
            name = tok[1][1:-1]
        elif tok[0] == "word" and _where_literal("word", tok[1]) is None:
            name = tok[1]
        else:
            fail("expected a column name", tok)
        if columns is not None and name not in columns:
            raise ValueError(
                f"readstat where: unknown column {name!r}; available: "
                f"{sorted(columns)}"
            )
        return (name,)

    def literal(tok):
        # DATE 'yyyy-mm-dd' (ANSI date literal): consumed as a unit —
        # the DATE keyword token, then the quoted string. peek(1)
        # works because every call site has `tok` at position i.
        if is_kw(tok, "DATE") and peek(1)[0] == "str":
            nonlocal i
            i += 1  # the string token; caller advances past `tok`
            import datetime as _dt

            raw = _where_literal("str", peek()[1])
            try:
                return _dt.date.fromisoformat(raw)
            except ValueError:
                fail(f"invalid date literal {raw!r}", tok)
        if tok[0] in ("str", "num") or (
            tok[0] == "word" and tok[1].upper() in ("TRUE", "FALSE")
        ):
            return _where_literal(tok[0], tok[1])
        fail("expected a literal", tok)

    _OPS = {
        "=": EqualTo,
        "==": EqualTo,
        "<": LessThan,
        "<=": LessThanOrEqual,
        ">": GreaterThan,
        ">=": GreaterThanOrEqual,
    }

    def predicate():
        nonlocal i
        negate = False
        if is_kw(peek(), "NOT"):
            negate = True
            i += 1
        attr = column(peek())
        i += 1
        tok = peek()
        if tok[0] == "op":
            i += 1
            v = literal(peek())
            i += 1
            op = tok[1]
            if op in ("!=", "<>"):
                f = Not(EqualTo(attr, v))
            else:
                f = _OPS[op](attr, v)
        elif is_kw(tok, "IS"):
            i += 1
            if is_kw(peek(), "NOT"):
                i += 1
                if not is_kw(peek(), "NULL"):
                    fail("expected NULL", peek())
                i += 1
                f = IsNotNull(attr)
            else:
                if not is_kw(peek(), "NULL"):
                    fail("expected NULL", peek())
                i += 1
                f = IsNull(attr)
        elif is_kw(tok, "BETWEEN") or (
            is_kw(tok, "NOT") and is_kw(peek(1), "BETWEEN")
        ):
            # col BETWEEN a AND b == col >= a AND col <= b; the AND
            # here binds to BETWEEN, not the conjunction. NOT BETWEEN
            # expands by De Morgan into an OrGroup of the strict
            # complements.
            inner_neg = False
            if is_kw(tok, "NOT"):
                inner_neg = True
                i += 1
            i += 1
            lo = literal(peek())
            i += 1
            if not is_kw(peek(), "AND"):
                fail("expected AND in BETWEEN", peek())
            i += 1
            hi = literal(peek())
            i += 1
            pair = _Pair(
                GreaterThanOrEqual(attr, lo),
                LessThanOrEqual(attr, hi),
            )
            # x NOT BETWEEN a AND b == NOT(x>=a) OR NOT(x<=b) — the
            # same expansion the prefix-NOT path produces
            f = (
                OrGroup((Not(pair.a), Not(pair.b)))
                if inner_neg
                else pair
            )
        elif is_kw(tok, "LIKE") or (
            is_kw(tok, "NOT") and is_kw(peek(1), "LIKE")
        ):
            # the three anchored shapes map onto the pushdown string
            # filters ('abc%' / '%abc' / '%abc%'); general patterns
            # (interior %, _) are rejected — use df.filter
            inner_neg = False
            if is_kw(tok, "NOT"):
                inner_neg = True
                i += 1
            i += 1
            t = peek()
            if t[0] != "str":
                fail("expected a string pattern after LIKE", t)
            pat = _where_literal("str", t[1])
            i += 1
            if "_" in pat:
                fail("LIKE '_' wildcard is not supported", t)
            core = pat.strip("%")
            if "%" in core or not core:
                fail(
                    "only anchored LIKE patterns ('abc%', '%abc', "
                    "'%abc%') are supported",
                    t,
                )
            if pat.startswith("%") and pat.endswith("%"):
                f = StringContains(attr, core)
            elif pat.endswith("%"):
                f = StringStartsWith(attr, core)
            elif pat.startswith("%"):
                f = StringEndsWith(attr, core)
            else:  # no wildcard at all: plain equality
                f = EqualTo(attr, pat)
            if inner_neg:
                f = Not(f)
        elif is_kw(tok, "IN") or (
            is_kw(tok, "NOT") and is_kw(peek(1), "IN")
        ):
            inner_neg = False
            if is_kw(tok, "NOT"):
                inner_neg = True
                i += 1
            i += 1
            if peek()[1] != "(":
                fail("expected (", peek())
            i += 1
            vals = []
            while True:
                vals.append(literal(peek()))
                i += 1
                t = peek()
                if t[1] == ",":
                    i += 1
                    continue
                if t[1] == ")":
                    i += 1
                    break
                fail("expected , or )", t)
            f = In(attr, tuple(vals))
            if inner_neg:
                f = Not(f)
        else:
            fail("expected an operator, IN, IS, LIKE, or BETWEEN", tok)
        if isinstance(f, _Pair):
            if negate:
                # NOT (x BETWEEN a AND b) == x < a OR x > b
                return OrGroup(
                    (
                        Not(f.a),  # NOT(x >= a) == x < a on non-nulls
                        Not(f.b),
                    )
                )
            return f
        return Not(f) if negate else f

    def term():
        """predicate, or a parenthesized OR group:
        '(' pred (OR pred)* ')' — with optional leading NOT, expanded
        by De Morgan into the conjunction of negated predicates (so
        the whole result stays a flat AND list of OrGroup/Filter
        nodes the compile/refute layers understand)."""
        nonlocal i
        neg = False
        if is_kw(peek(), "NOT") and peek(1)[1] == "(":
            neg = True
            i += 1
        if peek()[1] != "(":
            return _flatten(predicate())
        i += 1
        preds = [predicate()]
        while is_kw(peek(), "OR"):
            i += 1
            preds.append(predicate())
        if peek()[1] != ")":
            fail("expected OR or )", peek())
        i += 1
        if neg:
            # NOT (a OR b) == NOT a AND NOT b
            out = []
            for p in preds:
                if isinstance(p, _Pair):
                    out.append(OrGroup((Not(p.a), Not(p.b))))
                else:
                    out.append(Not(p))
            return out
        if len(preds) == 1:
            return _flatten(preds[0])
        if any(isinstance(p, _Pair) for p in preds):
            fail("BETWEEN inside OR groups is not supported", peek())
        return [OrGroup(preds)]

    def _flatten(p):
        return [p.a, p.b] if isinstance(p, _Pair) else [p]

    out = list(term())
    while i < n:
        if not is_kw(peek(), "AND"):
            fail("expected AND", peek())
        i += 1
        out.extend(term())
    return out
