"""The grouped Arrow sweep: ``interval_weighted_avg`` and
``remove_overlaps`` as one pass over each partition's groups.

The reference finds each period's measurements with a binary search
within each group (``foverlaps``, timeperiod_functions.R:239-240). This
module does the same on Arrow batches: rows are hash-partitioned by
group and sorted by (group, side, start, end), and ONE Python call
(``mapInArrow``) sweeps all the groups of a partition. The batches are
re-cut at group boundaries (:func:`_whole_groups`), so a call holds one
open group plus one batch, never a whole partition; the operators take
this path only when the largest group fits
``plans.strategy.AUTO_SWEEP_ROWS``.

- :func:`iwa_sweep`: within a group x is sorted by start, so the x
  rows a period overlaps are one run, found with two ``searchsorted``
  calls. Every distinct y row comes out once, zero-filled when nothing
  covers it, so there is no pair join, aggregate, completion join or y
  dedup shuffle. Each period's float sums run in one fixed order, x
  start descending: results do not depend on partitioning, caching or
  AQE.
- :func:`pieces_sweep`: cuts each group at starts ∪ (ends + 1) and
  tags each atomic piece with every original covering it, by the same
  ``searchsorted``.
- :func:`checked_sweep`: a validated request's one eager action. The
  sweep's own pass also counts every check per partition
  (:class:`_Checks`: per incoming batch, carrying the previous row), an
  accumulator collects one counter vector per partition, and the sums
  are materialized (``localCheckpoint``), so the result only scans
  computed rows. Hash partitioning keeps each group whole in one
  partition, so the vectors just add up. A group over
  ``AUTO_SWEEP_ROWS`` is counted but gets no sums; the caller plans
  the pair join from the counts instead.

A (group, value) pair becomes one sortable int64, ``gid * R + rank``,
where ``gid`` numbers the groups of a chunk in order and ``rank`` is
the value's rank among the chunk's values, so one ``searchsorted``
serves every group of a chunk at once.
"""

from __future__ import annotations

import math
from functools import partial
from typing import Iterator, Optional, Sequence

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, Row
from pyspark.sql import types as T

from . import strategy
from .sql import sql
from .strategy import RequestStats

#: expand at most this many (period, x interval) pairs, or (original,
#: piece) rows, at once; one period's run is never split
PAIR_BLOCK = 1 << 20

#: group key types the sweep compares in Arrow (NULL-safe, exact).
#: Floating-point keys are left out: Spark groups NaN with NaN and
#: -0.0 with 0.0, Arrow's equality does not.
_KEY_TYPES = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.DecimalType, T.StringType, T.BinaryType, T.DateType, T.TimestampType,
    T.TimestampNTZType,
)


def _types(df: DataFrame, cols: Sequence[str]) -> list:
    fields = {f.name: f.dataType for f in df.schema.fields}
    return [fields[c] for c in cols]


def sweepable(xw: DataFrame, yw: Optional[DataFrame], n_groups: int) -> bool:
    """Can the sweep group these frames (schema only)? They must be
    grouped, x's keys (``__g*``) of types it compares exactly, and y's
    (``__yg*``), when given, of the same types."""
    if not n_groups:
        return False
    xt = _types(xw, [f"__g{i}" for i in range(n_groups)])
    if not all(isinstance(t, _KEY_TYPES) for t in xt):
        return False
    return yw is None or _types(yw, [f"__yg{i}" for i in range(n_groups)]) == xt


def arrow_ok(df: DataFrame) -> bool:
    """Does every column of ``df`` cross the Arrow boundary?"""
    from pyspark.sql.pandas.types import to_arrow_type

    try:
        for f in df.schema.fields:
            to_arrow_type(f.dataType)
    except Exception:  # an unsupported type raises its own error class
        return False
    return True


# ------------------------------------------------------------ worker side


def _col(t, i: int):
    c = t.column(i)
    return c.chunk(0) if c.num_chunks == 1 else c.combine_chunks()


def _ints(a):
    """(int64 values with NULL as 0, validity) of an Arrow array."""
    import pyarrow.compute as pc

    return pc.fill_null(a, 0).to_numpy(), a.is_valid().to_numpy(zero_copy_only=False)


def _starts(keys: list, prev):
    """Row i opens a group: its keys differ from row i-1's, NULL equal
    to NULL. Row 0 compares with ``prev`` (the row before, as length-1
    arrays) and opens one when there is none."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(keys[0])
    out = np.zeros(n, dtype=bool)
    if prev is None:
        out[:1] = True
    for i, k in enumerate(keys):
        a = k if prev is None else pa.concat_arrays([prev[i], k])
        cur, before = a[1:], a[:-1]
        diff = pc.or_(
            pc.fill_null(pc.not_equal(cur, before), False),
            pc.not_equal(pc.is_null(cur), pc.is_null(before)),
        )
        out[n - len(cur):] |= diff.to_numpy(zero_copy_only=False)
    return out


def _whole_groups(
    batches: Iterator, nk: int, budget: float = math.inf, checks: Optional[_Checks] = None
) -> Iterator:
    """Re-cut a partition's batches, sorted by their first ``nk``
    columns, into tables of whole groups, in order. Only the open
    (last) group is carried from batch to batch, and a group of more
    than ``budget`` rows is left out: once the open group passes it,
    its rows are no longer kept. ``checks`` counts every batch."""
    import numpy as np
    import pyarrow as pa

    pending, prev, size = [], None, 0  # size: rows of the open group so far
    for b in batches:
        m = b.num_rows
        if not m:
            continue
        keys = b.columns[:nk]
        opens = _starts(keys, prev)
        if checks is not None:
            checks.add(b, opens)
        prev = [k.slice(m - 1, 1) for k in keys]
        at = np.flatnonzero(opens)
        if not at.size:
            size += m
            pending = pending + [b] if size <= budget else []
            continue
        first, last = int(at[0]), int(at[-1])
        done = pending + [b.slice(0, first)] if size + first <= budget else []
        lens = np.diff(at)  # the groups that open and close within b
        if (lens > budget).any():
            done += [b.slice(int(a), int(n)) for a, n in zip(at, lens) if n <= budget]
        else:
            done.append(b.slice(first, last - first))
        size = m - last
        pending = [b.slice(last)] if size <= budget else []
        if done:
            t = pa.Table.from_batches(done)
            if t.num_rows:
                yield t.combine_chunks()
    if pending:
        yield pa.Table.from_batches(pending).combine_chunks()


#: per side, a partition's check counters, in the order of its vector;
#: the vector ends with the length histogram of both sides
_COUNTS = ("n", "nulls", "rev", "dup", "ovl", "groups", "top", "lo", "hi")
#: the counters before ``top`` add up across batches and partitions
_TOP, _LO, _HI = (_COUNTS.index(c) for c in ("top", "lo", "hi"))
#: interval lengths are counted in buckets of 1/8 of a doubling, enough
#: for every int64 length; the pooled 90th percentile sizes a bin join
_HIST = 512


class _Checks:
    """A partition's check counters, counted batch by batch over rows
    sorted by (keys…, side, start, end) (side in column ``nk``). Per
    side, in ``vec``: the counters of ``_COUNTS`` — ``dup``: rows equal
    to the row before; ``ovl``: x rows that overlap the row before in
    their group (sorted by (start, end), the first row that overlaps
    any predecessor overlaps that one); ``groups``/``top``: the
    (group, side) runs and the longest; ``lo``/``hi`` over the starts
    and ends — then the histogram of the lengths of both sides. Only
    the last row and the open run are carried between batches."""

    def __init__(self, nk: int):
        import numpy as np

        w = len(_COUNTS)
        self.nk = nk
        self.vec = np.zeros(2 * w + _HIST, np.int64)
        self.vec[[_LO, w + _LO]] = np.iinfo(np.int64).max
        self.vec[[_HI, w + _HI]] = np.iinfo(np.int64).min
        self.last = None  # (side, s, e, sv, ev) of the last row
        self.run = self.run_side = 0  # the open run's rows and side

    def add(self, b, opens) -> None:
        """Count batch ``b``, whose group opens are ``opens``."""
        import numpy as np

        nk, w, v = self.nk, len(_COUNTS), self.vec
        side = b.column(nk).to_numpy(zero_copy_only=False)
        (s, sv), (e, ev) = _ints(b.column(nk + 1)), _ints(b.column(nk + 2))
        cur = (side, s, e, sv, ev)
        # the row before each row (row 0: the last of the previous batch)
        psd, ps, pe, psv, pev = before = [np.roll(a, 1) for a in cur]
        if self.last is not None:
            for a, z in zip(before, self.last):
                a[0] = z
        self.last = tuple(a[-1] for a in cur)
        runs = opens | (side != psd)
        ok = sv & ev
        dup = ~runs & (s == ps) & (e == pe) & (sv == psv) & (ev == pev)
        ovl = ~runs & (side == 0) & ok & psv & pev & (s <= pe)
        for sd in (0, 1):
            at, base = side == sd, sd * w
            good = at & ok
            v[base:base + _TOP] += [
                at.sum(), (at & ~ok).sum(), (good & (e < s)).sum(),
                (at & dup).sum(), (at & ovl).sum(), (at & runs).sum(),
            ]
            if good.any():
                lo, hi = base + _LO, base + _HI
                v[lo] = min(v[lo], np.minimum(s, e)[good].min())
                v[hi] = max(v[hi], np.maximum(s, e)[good].max())
        fwd = ok & (e >= s)
        v[2 * w:] += np.bincount(
            (8 * np.log2((e - s + 1)[fwd])).astype(np.int64), minlength=_HIST)
        # the open run closes at the first run that opens in b
        idx = np.flatnonzero(runs)
        if not idx.size:
            self.run += len(side)
            return
        lens = np.append(self.run + idx[0], np.diff(idx))
        np.maximum.at(v, np.append(self.run_side, side[idx[:-1]]) * w + _TOP, lens)
        self.run, self.run_side = len(side) - int(idx[-1]), int(side[idx[-1]])

    def close(self):
        """The counter vector, the open run closed."""
        top = self.run_side * len(_COUNTS) + _TOP
        self.vec[top] = max(self.vec[top], self.run)
        return self.vec


def _gid(t, nk: int):
    """Each row's group number within the chunk ``t``."""
    import numpy as np

    return np.cumsum(_starts([_col(t, i) for i in range(nk)], None)) - 1


def _blocks(counts, cap: int = PAIR_BLOCK) -> Iterator[tuple[int, int]]:
    """``[a, b)`` ranges over ``counts`` whose sums stay within ``cap``
    (a single count above it gets a range of its own)."""
    import numpy as np

    ends, a = np.cumsum(counts), 0
    while a < len(counts):
        base = int(ends[a - 1]) if a else 0
        b = max(a + 1, int(np.searchsorted(ends, base + cap, "right")))
        yield a, b
        a = b


def _expand(first, counts):
    """Per (row, k < counts[row]): the row's slot and ``first[row] -
    k``, rows in order — a run walked from its last element back."""
    import numpy as np

    total = int(counts.sum())
    slot = np.repeat(np.arange(len(counts)), counts)
    step = np.arange(total) - np.repeat(np.cumsum(counts) - counts, counts)
    return slot, np.repeat(first, counts) - step


def _seg(ufunc, vals, counts):
    """``ufunc`` reduced over consecutive runs of ``vals`` of the given
    lengths; 0 for an empty run."""
    import numpy as np

    out = np.zeros(len(counts), vals.dtype)
    nz = counts > 0
    if nz.any():
        out[nz] = ufunc.reduceat(vals, (np.cumsum(counts) - counts)[nz])
    return out


def _iwa_chunk(t, nk: int, nv: int, extra: bool, names: list):
    """One output batch: the weighted sums of every distinct y row of
    the whole groups in ``t`` (columns keys…, side, s, e, v…)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    gid = _gid(t, nk)
    isx = _col(t, nk).to_numpy() == 0
    s_arr, e_arr = _col(t, nk + 1), _col(t, nk + 2)
    (s, sv), (e, ev) = _ints(s_arr), _ints(e_arr)
    xm = isx & sv & ev  # a NULL endpoint overlaps nothing
    gx, xs, xe = gid[xm], s[xm], e[xm]
    vals = [_col(t, nk + 3 + i) for i in range(nv)]
    v = [pc.fill_null(a, 0.0).to_numpy()[xm] for a in vals]
    vok = [a.is_valid().to_numpy(zero_copy_only=False)[xm] for a in vals]

    # y rows in (group, s, e) order: duplicates are adjacent
    yr = np.flatnonzero(~isx)
    gy, ys, ye, ysv, yev = gid[yr], s[yr], e[yr], sv[yr], ev[yr]
    dup = np.zeros(len(yr), dtype=bool)
    dup[1:] = (
        (gy[1:] == gy[:-1]) & (ys[1:] == ys[:-1]) & (ye[1:] == ye[:-1])
        & (ysv[1:] == ysv[:-1]) & (yev[1:] == yev[:-1])
    )
    keep = ~dup
    yr, gy, ys, ye, yok = yr[keep], gy[keep], ys[keep], ye[keep], (ysv & yev)[keep]
    nx, ny = len(xs), len(ys)

    uniq, inv = np.unique(np.concatenate([xs, xe, ys, ye]), return_inverse=True)
    inv = inv.reshape(-1)
    r = len(uniq) + 1
    kxs, kxe = gx * r + inv[:nx], gx * r + inv[nx:2 * nx]
    kys, kye = gy * r + inv[2 * nx:2 * nx + ny], gy * r + inv[2 * nx + ny:]
    # the run [lo, hi): x starting at or before the period's end, from
    # the first whose end (running max: x may overlap when unvalidated)
    # reaches its start
    hi = np.searchsorted(kxs, kye, "right")
    lo = np.searchsorted(np.maximum.accumulate(kxe), kys, "left")
    cnt = np.where(yok, np.maximum(hi - lo, 0), 0)

    xdur = np.zeros(ny, np.int64)
    mn, mx = np.zeros(ny, np.int64), np.zeros(ny, np.int64)
    has = np.zeros(ny, dtype=bool)
    moments = ("p", "q") if extra else ("p",)
    snm = [np.zeros(ny, np.int64) for _ in range(nv)]
    nval = [np.zeros(ny, np.int64) for _ in range(nv)]
    fsum = {(m, i): np.zeros(ny) for m in moments for i in range(nv)}
    for a, b in _blocks(cnt):
        slot, xi = _expand(hi[a:b] - 1, cnt[a:b])
        yi = slot + a
        hit = xe[xi] >= ys[yi]  # exact overlap, for x overlapping within a group
        if not hit.all():
            slot, xi, yi = slot[hit], xi[hit], yi[hit]
        cs = np.maximum(xs[xi], ys[yi])
        ce = np.minimum(xe[xi], ye[yi])
        dur = ce - cs + 1
        k = np.bincount(slot, minlength=b - a)
        xdur[a:b] = _seg(np.add, dur, k)
        mn[a:b] = _seg(np.minimum, cs, k)
        mx[a:b] = _seg(np.maximum, ce, k)
        has[a:b] = k > 0
        fdur = dur.astype(np.float64)
        for i in range(nv):
            ok, vi = vok[i][xi], v[i][xi]
            snm[i][a:b] = _seg(np.add, np.where(ok, dur, 0), k)
            nval[i][a:b] = _seg(np.add, ok.astype(np.int64), k)
            # bincount adds in input order: x start descending per period
            fsum["p", i][a:b] = np.bincount(
                slot, np.where(ok, vi * fdur, 0.0), minlength=b - a)
            if extra:
                fsum["q", i][a:b] = np.bincount(
                    slot, np.where(ok, vi * vi * fdur, 0.0), minlength=b - a)

    take = pa.array(yr)
    cols = [_col(t, i).take(take) for i in range(nk)]
    cols += [s_arr.take(take), e_arr.take(take), pa.array(xdur)]
    cols += [pa.array(a) for a in snm]
    cols += [
        pa.array(fsum[m, i], mask=nval[i] == 0) for m in moments for i in range(nv)
    ]
    cols += [pa.array(mn, mask=~has), pa.array(mx, mask=~has)]
    return pa.RecordBatch.from_arrays(cols, names=names)


def _iwa_partition(nk: int, nv: int, extra: bool, names: list, budget: float, acc, batches):
    """The sums of one partition's groups; groups over ``budget`` rows
    get none. With ``acc``, every row is also checked and the counter
    vector added to ``acc`` under the partition's id."""
    from pyspark import TaskContext

    checks = None if acc is None else _Checks(nk)
    for t in _whole_groups(batches, nk, budget, checks):
        yield _iwa_chunk(t, nk, nv, extra, names)
    if checks is not None:
        acc.add({TaskContext.get().partitionId(): checks.close()})


def _pieces_chunk(t, nk: int, names: list):
    """The (atomic piece, original) rows of the whole groups in ``t``
    (columns keys…, s, e, payload…), in batches of at most PAIR_BLOCK."""
    import numpy as np
    import pyarrow as pa

    gid = _gid(t, nk)
    s_arr, e_arr = _col(t, nk), _col(t, nk + 1)
    (s, sv), (e, ev) = _ints(s_arr), _ints(e_arr)
    # cut points: every start and every end + 1 of a group
    uniq, inv = np.unique(np.concatenate([s[sv], e[ev] + 1]), return_inverse=True)
    r = len(uniq) + 1
    cuts = np.unique(np.concatenate([gid[sv], gid[ev]]) * r + inv.reshape(-1))
    at = cuts % r
    # originals cover the pieces from the cut at their start up to the
    # one at their end + 1; NULL and reversed ones cover none
    o = np.flatnonzero(sv & ev & (e >= s))
    first = np.searchsorted(cuts, gid[o] * r + np.searchsorted(uniq, s[o]))
    cnt = np.searchsorted(cuts, gid[o] * r + np.searchsorted(uniq, e[o] + 1)) - first
    for a, b in _blocks(cnt):
        slot, k = _expand(first[a:b] + cnt[a:b] - 1, cnt[a:b])
        rows = t.take(pa.array(o[a:b][slot]))
        cols = [_col(rows, i) for i in range(rows.num_columns)]
        cols[nk:nk] = [pa.array(uniq[at[k]]), pa.array(uniq[at[k + 1]] - 1)]
        yield pa.RecordBatch.from_arrays(cols, names=names)


def _pieces_partition(nk: int, names: list, batches):
    for t in _whole_groups(batches, nk):
        yield from _pieces_chunk(t, nk, names)


# ------------------------------------------------------------ driver side


def _long(name: str) -> T.StructField:
    return T.StructField(name, T.LongType())


def iwa_sweep(
    xw: DataFrame, yd: DataFrame, n_groups: int, n_values: int, extra_stats: bool,
    budget: float = math.inf, acc=None,
) -> DataFrame:
    """Per distinct y row of ``yd`` (``__yg*, __ys, __ye``): ``__xdur``,
    ``__snm{i}``, ``__sp{i}`` (``__sq{i}`` with ``extra_stats``),
    ``__minstart``, ``__maxend`` over the x rows of ``xw`` (``__g*,
    __xs, __xe, __v*``) that overlap it — what the pair join, its
    aggregate and the completion join produce, zero-filled. x and y
    group keys must share their types. ``budget`` and ``acc``: see
    :func:`checked_sweep`."""
    ks = [f"__k{i}" for i in range(n_groups)]
    vs = [f"__v{i}" for i in range(n_values)]
    u = sql(
        f"""SELECT {"".join(f"__g{i} AS {k}, " for i, k in enumerate(ks))}0 AS __side,
               __xs AS __s, __xe AS __e{"".join(f", {v}" for v in vs)} FROM {{x}}
        UNION ALL
        SELECT {"".join(f"__yg{i}, " for i in range(n_groups))}1, __ys, __ye
               {"".join(f", CAST(NULL AS DOUBLE)" for _ in vs)} FROM {{y}}""",
        x=xw, y=yd,
    )
    moments = ("p", "q") if extra_stats else ("p",)
    ygs = [f"__yg{i}" for i in range(n_groups)]
    fields = [T.StructField(g, t) for g, t in zip(ygs, _types(yd, ygs))]
    fields += [_long(c) for c in ("__ys", "__ye", "__xdur")]
    fields += [_long(f"__snm{i}") for i in range(n_values)]
    fields += [
        T.StructField(f"__s{m}{i}", T.DoubleType()) for m in moments for i in range(n_values)
    ]
    fields += [_long("__minstart"), _long("__maxend")]
    schema = T.StructType(fields)
    return (
        u.repartition(*ks)
        .sortWithinPartitions(*ks, "__side", "__s", "__e")
        .mapInArrow(
            partial(_iwa_partition, n_groups, n_values, extra_stats, schema.names, budget, acc),
            schema,
        )
    )


def pieces_sweep(base: DataFrame, n_groups: int) -> DataFrame:
    """The atomic pieces of ``base`` (``__g*, __xs, __xe``, payload…),
    each tagged with every original covering it: ``__yg*, __ys, __ye``
    (the piece), ``__xs, __xe`` (the original) and the payload — the
    rows the sweep plus its pair join produce."""
    gcols = [f"__g{i}" for i in range(n_groups)]
    fields = list(base.schema.fields)
    out = [T.StructField(f"__yg{i}", f.dataType) for i, f in enumerate(fields[:n_groups])]
    out += [_long("__ys"), _long("__ye")] + fields[n_groups:]
    schema = T.StructType(out)
    return (
        base.repartition(*gcols)
        .sortWithinPartitions(*gcols, "__xs", "__xe")
        .mapInArrow(partial(_pieces_partition, n_groups, schema.names), schema)
    )


class _ByPartition(AccumulatorParam):
    """Accumulates ``{partition id: counter vector}``: a task that runs
    again replaces its partition's vector instead of adding to it."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


def checked_sweep(
    xw: DataFrame, yw: DataFrame, n_groups: int, n_values: int, extra_stats: bool
) -> tuple[DataFrame, RequestStats]:
    """(sums, stats): :func:`iwa_sweep` over ``yw`` (duplicates
    included) materialized in ONE Spark action (``localCheckpoint``),
    which also checks x and y. The stats are :class:`RequestStats`:
    per side the rows, distinct (group, start, end) rows, rows with a
    NULL endpoint, reversed rows, the exact group count, ``lo``/``hi``
    and ``top``, the largest group's rows, and for x ``ovl``, the rows
    that overlap an earlier row of their group. The pooled ``p90``
    length is the smallest length of the histogram bucket that holds
    it (within 9% below the exact one), so a pair join planned from
    these stats needs no other pass.

    A group of more than ``plans.strategy.AUTO_SWEEP_ROWS`` rows (x and
    y) is counted exactly but gets no sums, and stops being buffered
    once past the budget: the sums are then incomplete, which
    ``sweep_fits(stats)`` reports. The checkpointed rows are freed by
    Spark's ContextCleaner once no frame refers to them.
    """
    acc = xw.sparkSession.sparkContext.accumulator({}, _ByPartition())
    sums = iwa_sweep(
        xw, yw, n_groups, n_values, extra_stats, strategy.AUTO_SWEEP_ROWS, acc
    ).localCheckpoint(eager=True)
    vecs = list(acc.value.values())
    acc.value = {}  # PySpark keeps every accumulator it made
    return sums, _stats(vecs)


def _stats(vecs: list) -> RequestStats:
    """:class:`RequestStats` from the partitions' counter vectors
    (:class:`_Checks`): no group spans two partitions, so the counts
    add up."""
    import numpy as np

    w = len(_COUNTS)
    a = np.array(vecs, np.int64).reshape(-1, 2 * w + _HIST)

    def side(sd: int) -> Row:
        c = a[:, sd * w:(sd + 1) * w]
        n, nulls, rev, dup, ovl, groups = (int(t) for t in c[:, :_TOP].sum(axis=0))
        any_ok = n > nulls  # lo/hi come from rows with both endpoints
        return Row(
            n=n, nd=n - dup, nulls=nulls, rev=rev, ovl=ovl, groups=groups,
            top=int(c[:, _TOP].max(initial=0)),
            lo=int(c[:, _LO].min()) if any_ok else None,
            hi=int(c[:, _HI].max()) if any_ok else None,
        )

    hist = a[:, 2 * w:].sum(axis=0)
    total, p90 = int(hist.sum()), None
    if total:
        b = int(np.searchsorted(np.cumsum(hist), 0.9 * total))
        p90 = math.ceil(2 ** (b / 8))
    return RequestStats(side(0), side(1), p90)
