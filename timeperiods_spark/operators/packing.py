"""Sequence packing: concat-and-chunk token streams into fixed-length
training windows.

The canonical LLM training-data transform: concatenate every document's
tokens in a deterministic order and cut the stream into ``chunk_len``
windows, each document contributing one span per window it straddles.
This is interval decomposition over a prefix-sum domain — the engine's
core shape (SURVEY.md §2 O1/O3): a document occupies the token interval
``[offset, offset + n_tok)``; windows are the aligned ``chunk_len``
grid; the span rows are exactly the clipped overlaps. The reference has
no such operator (its intervals arrive as data); packing is the
beyond-reference training-pipeline member of the family.

Scale design (10^12 sequences):
- The document offset is an EXCLUSIVE prefix sum of ``n_tok`` in
  (group, order) — computed with the shared bucketed-carry planner
  (plans/carry.py), never a single global window task. One shuffle.
- Span emission is a pure map: floor-divide the offset interval by the
  chunk width and explode the straddled window ids (fan-out per doc =
  1 + n_tok // chunk_len, bounded). No join against a window table.
- Chunk assembly (``pack_chunks``) shuffles the SLICED pieces keyed by
  the output chunk id — each piece travels once, and the per-chunk
  concat is an ``array_sort + flatten`` over at most
  ``chunk_len`` tokens. Chunk ids are dense and uniform: no skew.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..plans.carry import Carry, attach_carry, plan_buckets


def _sequence_offsets(
    df: DataFrame,
    len_col: str,
    order_col: str,
    gcols: list[str],
    carry_hints: Optional[dict],
    tiebreak_col: Optional[str] = None,
) -> DataFrame:
    """Attach ``__off`` — the exclusive prefix sum of ``len_col`` over
    ``order_col`` within each group — via the bucketed carry planner.
    ``__t`` (the long order value) stays on the frame for span tests.

    ``tiebreak_col`` (the packing operators pass ``id_col``) breaks
    ``order_col`` ties deterministically: without it, duplicate order
    values leave the prefix-sum tie order to the engine's partitioning,
    so packing output could differ across runs — violating the module's
    reproducibility contract. Equal-``__t`` rows always land in the
    same carry bucket (buckets are pure value functions of ``__t``), so
    the secondary key only has to order within the row window."""
    hints = dict(carry_hints or {})
    base = df.withColumn(
        "__t",
        # a NULL long order value (NULL input or a non-castable string
        # id) would make the prefix-sum order arbitrary — raise
        # row-locally instead of silently emitting garbage offsets
        # (same contract as running_max's non-bucketable raise).
        # try_cast: under ANSI a plain cast would throw Spark's opaque
        # CAST_INVALID_INPUT first; under non-ANSI it would silently
        # NULL — try_cast makes this guard the single failure path.
        F.when(
            F.col(order_col).try_cast("long").isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"pack_sequences: {order_col} must cast to a "
                        "non-NULL long (pass a numeric sort key); got "
                    ),
                    F.coalesce(F.col(order_col).cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        ).otherwise(F.col(order_col).try_cast("long")),
    ).withColumn(
        "__len",
        F.when(
            F.col(len_col).isNull() | (F.col(len_col) < 0),
            F.raise_error(
                F.concat(
                    F.lit(f"pack_sequences: NULL or negative {len_col} at "),
                    F.col(order_col).cast("string"),
                )
            ).cast("long"),
        ).otherwise(F.col(len_col).cast("long")),
    )
    plan = plan_buckets(
        base,
        gcols,
        "__t",
        group_count_hint=hints.get("groups"),
        bounds_hint=hints.get("span"),
    )
    excl = lambda wg: wg.rowsBetween(Window.unboundedPreceding, -1)  # noqa: E731
    stitched = attach_carry(plan, [Carry("__carry", "sum", "__len")])
    order_keys = ["__t"]
    if tiebreak_col and tiebreak_col != order_col:
        order_keys.append(tiebreak_col)
    wrow = (
        Window.partitionBy(*gcols, "__bk") if gcols
        else Window.partitionBy("__bk")
    ).orderBy(*order_keys)
    return stitched.withColumn(
        "__off",
        F.coalesce(F.sum("__len").over(excl(wrow)), F.lit(0).cast("long"))
        + F.coalesce(F.col("__carry"), F.lit(0).cast("long")),
    ).drop("__bk", "__carry")


def _span_frame(off: DataFrame, chunk_len: int) -> DataFrame:
    """Explode an offset frame (``__off``, ``__len`` attached by
    :func:`_sequence_offsets`) into one row per straddled window, with
    the clipped span columns ``chunk_id`` / ``seq_start`` / ``seq_len``
    / ``chunk_off``. Single source of the floor-divide/clip arithmetic
    for both packing operators."""
    if chunk_len <= 0:
        raise ValueError("chunk_len must be positive")
    w = F.lit(int(chunk_len)).cast("long")
    first_c = F.expr(f"__off DIV {int(chunk_len)}")
    last_c = F.expr(f"(__off + __len - 1) DIV {int(chunk_len)}")
    return (
        off.filter(F.col("__len") > 0)
        .withColumn("chunk_id", F.explode(F.sequence(first_c, last_c)))
        .withColumn(
            "seq_start",
            F.greatest(
                F.lit(0).cast("long"), F.col("chunk_id") * w - F.col("__off")
            ),
        )
        .withColumn(
            "seq_len",
            F.least(F.col("__len"), (F.col("chunk_id") + 1) * w - F.col("__off"))
            - F.col("seq_start"),
        )
        .withColumn(
            "chunk_off",
            F.col("__off") + F.col("seq_start") - F.col("chunk_id") * w,
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    *,
    chunk_len: int,
    order_col: Optional[str] = None,
    group_by: Optional[Sequence[str]] = None,
    carry_hints: Optional[dict] = None,
) -> DataFrame:
    """Span table of the concat-and-chunk packing: one row per
    (document, training window it overlaps).

    Documents are concatenated in ascending LONG value of ``order_col``
    (default ``id_col``; must cast to long — pass a precomputed sort
    key otherwise) within each ``group_by`` panel, then cut into
    ``chunk_len``-token windows. Zero-length documents occupy no tokens
    and emit no span (their offset contribution is 0); NULL or negative
    lengths raise row-locally.

    Output columns: group_by…, id_col, ``chunk_id`` (0-based window
    ordinal within the group), ``seq_start`` (0-based first token of
    this document inside the window), ``seq_len`` (tokens contributed),
    ``chunk_off`` (0-based position of that first token within the
    window). Every window except each group's last has exactly
    ``chunk_len`` tokens: sum(seq_len) over its spans.

    ``carry_hints = {"span": (lo, hi), "groups": n}`` are forwarded to
    the offset prefix-sum's bucket planner (same contract as
    rollup_regular) to skip its stats action on hot paths.
    """
    gcols = list(group_by or [])
    order_col = order_col or id_col
    off = _sequence_offsets(df, len_col, order_col, gcols, carry_hints,
                            tiebreak_col=id_col)
    return _span_frame(off, chunk_len).select(
        *gcols, id_col, "chunk_id", "seq_start", "seq_len", "chunk_off"
    )


def pack_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    len_col: str = "n_tok",
    *,
    chunk_len: int,
    order_col: Optional[str] = None,
    group_by: Optional[Sequence[str]] = None,
    carry_hints: Optional[dict] = None,
) -> DataFrame:
    """Assembled training windows: the materialized form of
    :func:`pack_sequences` with the token arrays stitched in.

    Output columns: group_by…, ``chunk_id``, ``tokens`` (exactly
    ``chunk_len`` ints except each group's final window), ``n_tok``,
    ``n_docs`` (documents contributing to the window). The pieces are
    ordered by ``chunk_off`` inside each window, so
    ``flatten(sort_by_position(pieces))`` reproduces the contiguous
    token stream — per-row token-array equality against a sequential
    concat is the packing invariant (BASELINE.json per-row invariant).
    """
    gcols = list(group_by or [])
    order_col = order_col or id_col
    off = _sequence_offsets(df, len_col, order_col, gcols, carry_hints,
                            tiebreak_col=id_col)
    pieces = _span_frame(off, chunk_len).select(
        *gcols,
        "chunk_id",
        F.struct(
            F.col("chunk_off").alias("pos"),
            F.slice(
                F.col(tokens_col),
                (F.col("seq_start") + 1).cast("int"),
                F.col("seq_len").cast("int"),
            ).alias("toks"),
        ).alias("__piece"),
    )
    # array_sort on structs orders by the leading field (pos) — piece
    # positions are distinct within a window, so the order is total
    return (
        pieces.groupBy(*gcols, "chunk_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list("__piece")),
                    lambda p: p["toks"],
                )
            ).alias("tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .withColumn("n_tok", F.size("tokens").cast("long"))
        .select(*gcols, "chunk_id", "tokens", "n_tok", "n_docs")
    )
