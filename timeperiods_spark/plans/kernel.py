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
- :func:`grouped_checks`: a validated request's one eager action. It
  range-sorts the x and y endpoints and streams each partition in
  (side, group, start, end) order, carrying the previous row; the
  driver stitches the per-partition summaries into the stats that
  decide the sweep, or plan the pair join when a group is too large.

A (group, value) pair becomes one sortable int64, ``gid * R + rank``,
where ``gid`` numbers the groups of a chunk in order and ``rank`` is
the value's rank among the chunk's values, so one ``searchsorted``
serves every group of a chunk at once.
"""

from __future__ import annotations

import itertools
import math
from functools import partial
from typing import Iterator, Optional, Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import types as T

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


def _whole_groups(batches: Iterator, nk: int) -> Iterator:
    """Re-cut a partition's batches, sorted by their first ``nk``
    columns, into tables of whole groups, in order. Only the open
    (last) group is carried from batch to batch."""
    import numpy as np
    import pyarrow as pa

    pending, prev = [], None
    for b in batches:
        if not b.num_rows:
            continue
        keys = b.columns[:nk]
        opens = np.flatnonzero(_starts(keys, prev))
        prev = [k.slice(b.num_rows - 1, 1) for k in keys]
        if not opens.size:
            pending.append(b)
            continue
        done = pending + [b.slice(0, int(opens[-1]))]
        pending = [b.slice(int(opens[-1]))]
        t = pa.Table.from_batches(done)
        if t.num_rows:
            yield t.combine_chunks()
    if pending:
        yield pa.Table.from_batches(pending).combine_chunks()


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


def _iwa_partition(nk: int, nv: int, extra: bool, names: list, batches):
    for t in _whole_groups(batches, nk):
        yield _iwa_chunk(t, nk, nv, extra, names)


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
    xw: DataFrame, yd: DataFrame, n_groups: int, n_values: int, extra_stats: bool
) -> DataFrame:
    """Per distinct y row of ``yd`` (``__yg*, __ys, __ye``): ``__xdur``,
    ``__snm{i}``, ``__sp{i}`` (``__sq{i}`` with ``extra_stats``),
    ``__minstart``, ``__maxend`` over the x rows of ``xw`` (``__g*,
    __xs, __xe, __v*``) that overlap it — what the pair join, its
    aggregate and the completion join produce, zero-filled. x and y
    group keys must share their types."""
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
            partial(_iwa_partition, n_groups, n_values, extra_stats, schema.names), schema
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


#: per-side counters of the check pass, in output order
_COUNTS = ("n", "nulls", "rev", "dup", "ovl", "runs", "top")
#: interval lengths are counted in buckets of 1/8 of a doubling, enough
#: for every int64 length; the pooled 90th percentile sizes a bin join
_HIST = 512


def _scan_partition(nk: int, names: list, batches):
    """One summary row of a range partition of (side, keys…, s, e)
    rows sorted in that order: per side the counters of ``_COUNTS``
    (``top``: the longest run that is neither the partition's first nor
    its last), ``lo``/``hi`` over the starts and ends, and the first and
    last row, for the driver to stitch runs across partitions; for both
    sides a histogram of the interval lengths (``_HIST`` buckets)."""
    import numpy as np
    import pyarrow as pa
    from pyspark import TaskContext

    c = {(name, sd): 0 for name in _COUNTS for sd in (0, 1)}
    lo, hi = [None, None], [None, None]
    hist = np.zeros(_HIST, np.int64)
    prev = first = None
    first_len = None  # length of the partition's first run, once closed
    run_len = run_side = 0  # the open run
    for b in batches:
        m = b.num_rows
        if not m:
            continue
        keys = b.columns[:nk]
        side = keys[0].to_numpy(zero_copy_only=False)
        (s, sv), (e, ev) = _ints(b.column(nk)), _ints(b.column(nk + 1))
        opens = _starts(keys, None if prev is None else prev[0])
        ok = sv & ev
        # the previous row of each row (row 0: the last of the previous batch)
        ps, pe, pok, pv = (np.empty_like(a) for a in (s, e, ok, sv))
        pev = np.empty_like(ev)
        ps[1:], pe[1:], pok[1:], pv[1:], pev[1:] = s[:-1], e[:-1], ok[:-1], sv[:-1], ev[:-1]
        if prev is not None:
            ps[0], pe[0], pok[0], pv[0], pev[0] = prev[1:]
        same = ~opens
        dup = same & (s == ps) & (e == pe) & (sv == pv) & (ev == pev)
        # sorted by (start, end), the first row that overlaps any
        # predecessor also overlaps its immediate one
        ovl = same & ok & pok & (s <= pe) & (side == 0)
        for sd in (0, 1):
            at = side == sd
            c["n", sd] += int(at.sum())
            c["nulls", sd] += int((at & ~ok).sum())
            c["rev", sd] += int((at & ok & (e < s)).sum())
            c["dup", sd] += int((at & dup).sum())
            c["ovl", sd] += int((at & ovl).sum())
            c["runs", sd] += int((at & opens).sum())
            if (at & ok).any():
                a, z = int(np.minimum(s, e)[at & ok].min()), int(np.maximum(s, e)[at & ok].max())
                lo[sd] = a if lo[sd] is None else min(lo[sd], a)
                hi[sd] = z if hi[sd] is None else max(hi[sd], z)
        fwd = ok & (e >= s)
        hist += np.bincount(
            (8 * np.log2((e - s + 1)[fwd])).astype(np.int64), minlength=_HIST)
        idx = np.flatnonzero(opens)
        if idx.size:
            closed = np.diff(idx)
            closed_side = side[idx[:-1]]
            if first is not None:  # the open run closes at idx[0]
                closed = np.concatenate([[run_len + idx[0]], closed])
                closed_side = np.concatenate([[run_side], closed_side])
            if first_len is None and closed.size:
                first_len = int(closed[0])
                closed, closed_side = closed[1:], closed_side[1:]
            for sd in (0, 1):
                sel = closed[closed_side == sd]
                if sel.size:
                    c["top", sd] = max(c["top", sd], int(sel.max()))
            run_len, run_side = m - int(idx[-1]), int(side[idx[-1]])
        else:
            run_len += m
        if first is None:
            first = [k.slice(0, 1) for k in keys] + [
                pa.array([int(s[0])]), pa.array([bool(ok[0])])
            ]
        prev = ([k.slice(m - 1, 1) for k in keys], s[-1], e[-1], ok[-1], sv[-1], ev[-1])
    if first is None:
        return
    last = prev[0] + [pa.array([int(prev[2])]), pa.array([bool(prev[3])])]
    single = first_len is None
    cols = [pa.array([TaskContext.get().partitionId()], pa.int32())]
    cols += [pa.array([c[key]], pa.int64()) for key in c]
    cols += first + [pa.array([run_len if single else first_len], pa.int64())]
    cols += [pa.array([single])]
    cols += last + [pa.array([run_len], pa.int64())]
    cols += [pa.array([v[sd]], pa.int64()) for v in (lo, hi) for sd in (0, 1)]
    cols += [pa.array([hist.tolist()], pa.list_(pa.int64()))]
    yield pa.RecordBatch.from_arrays(cols, names=names)


def _summary_schema(key_types: list) -> T.StructType:
    """The columns of :func:`_scan_partition`'s summary row."""
    fields = [T.StructField("part", T.IntegerType())]
    fields += [_long(f"{name}{sd}") for name in _COUNTS for sd in (0, 1)]
    for end, edge in (("first", "s"), ("last", "e")):
        fields += [T.StructField(f"{end}_k{i}", t) for i, t in enumerate(key_types)]
        fields += [_long(f"{end}_{edge}"), T.StructField(f"{end}_ok", T.BooleanType())]
        fields += [_long(f"{end}_len")]
        if end == "first":
            fields += [T.StructField("single", T.BooleanType())]
    fields += [_long(f"{b}{sd}") for b in ("lo", "hi") for sd in (0, 1)]
    fields += [T.StructField("hist", T.ArrayType(T.LongType()))]
    return T.StructType(fields)


def grouped_checks(xw: DataFrame, yw: DataFrame, n_groups: int) -> RequestStats:
    """:class:`RequestStats` of x (``__g*, __xs, __xe``) and y (``__yg*,
    __ys, __ye``, keys of x's types) in ONE Spark action: per side the
    rows, distinct (group, start, end) rows, rows with a NULL endpoint,
    reversed rows, the exact group count, ``lo``/``hi`` and ``top``, the
    largest group's rows, and for x ``ovl``, the rows that overlap an
    earlier row of their group. The pooled ``p90`` length is the
    smallest length of the histogram bucket that holds it (within 9%
    below the exact one), so a pair join planned from these stats
    needs no other pass.

    The endpoints are range-sorted by (side, keys…, start, end), so a
    few large groups still spread over every partition, and each
    partition streams through one Python call.
    """
    ks = [f"__k{i}" for i in range(n_groups)]
    u = sql(
        f"""SELECT 0 AS __side, {"".join(f"__g{i} AS {k}, " for i, k in enumerate(ks))}
               __xs AS __s, __xe AS __e FROM {{x}}
        UNION ALL
        SELECT 1, {"".join(f"__yg{i}, " for i in range(n_groups))}__ys, __ye FROM {{y}}""",
        x=xw, y=yw,
    )
    key_types = [T.IntegerType()] + _types(xw, [f"__g{i}" for i in range(n_groups)])
    nk = len(key_types)
    schema = _summary_schema(key_types)
    rows = (
        u.orderBy("__side", *ks, "__s", "__e")
        .mapInArrow(partial(_scan_partition, nk, schema.names), schema)
        .collect()
    )
    return _stitch(sorted(rows, key=lambda r: r["part"]), nk)


def _stitch(rows: list, nk: int) -> RequestStats:
    """Combine the partition summaries, in range order: a run that
    continues from one partition into the next is one group, and its
    first row there is checked against the last row before."""
    c = {(name, sd): 0 for name in _COUNTS for sd in (0, 1)}
    last = None  # (keys, e, ok) of the previous partition's last row
    run = 0  # rows of the open run so far
    for r in rows:
        for name, sd in c:
            v = r[f"{name}{sd}"]
            c[name, sd] = max(c[name, sd], v) if name == "top" else c[name, sd] + v
        fk = tuple(r[f"first_k{i}"] for i in range(nk))
        sd = fk[0]
        if last is not None and fk == last[0]:
            c["runs", sd] -= 1
            if sd == 0 and r["first_ok"] and last[2] and r["first_s"] <= last[1]:
                c["ovl", 0] += 1
            run += r["first_len"]
        else:
            if last is not None:
                c["top", last[0][0]] = max(c["top", last[0][0]], run)
            run = r["first_len"]
        if not r["single"]:
            c["top", sd] = max(c["top", sd], run)
            run = r["last_len"]
        last = (tuple(r[f"last_k{i}"] for i in range(nk)), r["last_e"], r["last_ok"])
    if last is not None:
        c["top", last[0][0]] = max(c["top", last[0][0]], run)

    def side(sd: int) -> Row:
        lo = [r[f"lo{sd}"] for r in rows if r[f"lo{sd}"] is not None]
        hi = [r[f"hi{sd}"] for r in rows if r[f"hi{sd}"] is not None]
        return Row(
            n=c["n", sd], nd=c["n", sd] - c["dup", sd], nulls=c["nulls", sd],
            rev=c["rev", sd], ovl=c["ovl", sd], groups=c["runs", sd], top=c["top", sd],
            lo=min(lo, default=None), hi=max(hi, default=None),
        )

    hist = [sum(col) for col in zip(*(r["hist"] for r in rows))]
    total, p90 = sum(hist), None
    if total:
        b = next(i for i, n in enumerate(itertools.accumulate(hist)) if n >= 0.9 * total)
        p90 = math.ceil(2 ** (b / 8))
    return RequestStats(side(0), side(1), p90)
