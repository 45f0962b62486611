"""Substring-level (span) deduplication: find duplicated token runs.

Document-level dedup (``exact_dedup`` below keeps one row per key)
removes whole copies; training corpora additionally carry
SUBSTRING duplication — boilerplate headers, licenses, templated
paragraphs — repeated across otherwise-distinct documents. The
published treatment (Lee et al., "Deduplicating Training Data Makes
Language Models Better", ACL 2022) removes every duplicated substring
of >= k tokens; their single-node suffix-array build does not
distribute, so the standard scalable formulation is the windowed-hash
one implemented here: a duplicated substring of length >= k is exactly
the union of its duplicated k-token windows.

Spark-first shape (no reference counterpart — the R reference has no
text tooling; this rides the repo's interval algebra):

1. window emission — ``explode(sequence(0, n-k, stride))`` over the
   token array, window text by ``slice`` + ``concat_ws``: pure
   map-side codegen, fan-out ~n/stride rows per doc, no shuffle;
2. duplicate keys — ``groupBy(window).count()`` (map-side combined —
   template corpora concentrate mass on few windows, and a partial
   agg absorbs the skew that a count-over-window formulation would
   serialize on one task) filtered to ``>= min_count`` occurrences;
3. join-back on the window key (slim: id, pos, key — AQE broadcasts
   the dup set when small);
4. span assembly — each duplicated window is the closed token
   interval [pos, pos+k-1]; per-doc maximal duplicated spans are
   EXACTLY ``merge_intervals`` (operators/interval_union.py): the
   carried boundary sweep merges overlapping/adjacent windows with no
   per-group window ceiling.

Modes:

- exact (default, ``stride=1``): finds every duplicated run of >= k
  tokens, position-exact. ``stride>1`` cuts emission cost but only
  detects duplicates whose window offsets align across copies —
  honest only for aligned corpora (e.g. fixed templates).
- winnow (``mode="winnow"``, window ``w``): content-defined sampling
  (Schleimer et al., "Winnowing: Local Algorithms for Document
  Fingerprinting", SIGMOD 2003): keep a k-gram window only where its
  hash is the minimum of the w consecutive windows starting at it —
  the selected positions depend on CONTENT, not offset, so shifted
  copies still collide. Guarantees detection of any duplicated run of
  >= k+w-1 tokens at ~1/w of exact's emission volume; span boundaries
  widen to the selected windows' hull. The sliding min is a per-doc
  ordered window (parallelism = #docs — fine for corpora, which have
  many documents).

At 100 TB: set ``hash_windows=True`` so the two exchanges carry an
8-byte key instead of k-token strings (collision risk 2^-64 per pair,
the standard trade); the default keeps the exact window text as the
key so the DuckDB oracle twin is bit-identical.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..errors import RoleValidationError
from .interval_union import merge_intervals

#: unit separator — cannot occur in whitespace-split tokens
_SEP = "\x1f"


def exact_dedup(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Keep exactly one row per key; survivor chosen by ``order_cols``
    (deterministic, unlike dropDuplicates' arbitrary first-seen row)."""
    key_cols = list(key_cols)
    order_cols = list(order_cols or df.columns)
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _window_positions(
    docs: DataFrame,
    id_col: str,
    text_col: Optional[str],
    tokens_col: Optional[str],
    k: int,
    stride: int,
) -> DataFrame:
    if tokens_col is not None:
        toks = F.col(tokens_col)
    else:
        toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col).alias("__id"), toks.alias("__tok")
    ).withColumn("__n", F.size("__tok"))
    return (
        base.where(F.col("__n") >= k)
        .select(
            "__id",
            "__tok",
            F.explode(
                F.sequence(
                    F.lit(0), F.col("__n") - k, F.lit(stride)
                )
            ).alias("__pos"),
        )
        .select(
            "__id",
            "__pos",
            F.concat_ws(
                _SEP, F.slice("__tok", F.col("__pos") + 1, k)
            ).alias("__win"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: Optional[str] = "text",
    *,
    tokens_col: Optional[str] = None,
    k: int = 20,
    min_count: int = 2,
    stride: int = 1,
    mode: str = "exact",
    w: int = 8,
    hash_windows: bool = False,
) -> DataFrame:
    """Maximal duplicated token spans per document.

    Output columns: ``id_col``, ``span_start`` / ``span_end`` (0-based
    CLOSED token-index interval of the duplicated run), ``n_tokens``
    (span length), ``n_windows`` (duplicated k-windows the span
    absorbed). A document with no duplicated window emits no row.
    Tokens are ``split(text, ' ')`` when ``tokens_col`` is None —
    mirror the tokenizer in any SQL twin exactly.

    ``min_count`` is the corpus-wide occurrence threshold for a window
    to count as duplicated (2 = appears anywhere else, including
    elsewhere in the SAME document — matching the substring-dedup
    framing). See the module docstring for mode/stride/winnowing
    semantics and the 100 TB plan shape.
    """
    if k < 1 or stride < 1 or w < 1:
        raise RoleValidationError("k, stride and w must be >= 1")
    if min_count < 2:
        raise RoleValidationError("min_count must be >= 2")
    if mode not in ("exact", "winnow"):
        raise RoleValidationError("mode must be 'exact' or 'winnow'")
    if (text_col is None) == (tokens_col is None):
        raise RoleValidationError(
            "provide exactly one of text_col / tokens_col"
        )

    pos = _window_positions(docs, id_col, text_col, tokens_col, k, stride)
    if mode == "winnow":
        if stride != 1:
            raise RoleValidationError(
                "winnow mode samples by content; stride must stay 1"
            )
        # keep a position only where its window-hash is the minimum of
        # the w windows starting at it (ties keep every minimal
        # position — deterministic, and supersets never hurt recall)
        wh = F.xxhash64("__win")
        sel = Window.partitionBy("__id").orderBy("__pos").rowsBetween(
            0, w - 1
        )
        pos = (
            pos.withColumn("__wh", wh)
            .withColumn("__wmin", F.min("__wh").over(sel))
            .where(F.col("__wh") == F.col("__wmin"))
            .drop("__wh", "__wmin")
        )

    key = F.xxhash64("__win") if hash_windows else F.col("__win")
    pos = pos.select("__id", "__pos", key.alias("__key"))
    # NOTE: two consumers re-run the window extraction (duplicate-key
    # aggregate + join-back probe); a per-call persist was measured and
    # WITHDRAWN (frozen-oracle 6dp-boundary interference,
    # OPTIMIZATION_r07.md).
    dup_keys = (
        pos.groupBy("__key")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .where(F.col("__cnt") >= min_count)
        .select("__key")
    )
    dup_pos = pos.join(dup_keys, "__key").select(
        "__id",
        F.col("__pos").alias("__s"),
        (F.col("__pos") + (k - 1)).alias("__e"),
    )
    merged = merge_intervals(dup_pos, ("__s", "__e"), ["__id"])
    return merged.select(
        F.col("__id").alias(id_col),
        F.col("__s").alias("span_start"),
        F.col("__e").alias("span_end"),
        (F.col("__e") - F.col("__s") + 1).alias("n_tokens"),
        F.col("n_source_intervals").alias("n_windows"),
    )


def duplicate_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: Optional[str] = "text",
    *,
    tokens_col: Optional[str] = None,
    spans: Optional[DataFrame] = None,
    **span_kwargs,
) -> DataFrame:
    """Per-document duplication summary: ``id_col``, ``n_tok``,
    ``dup_tokens`` (tokens covered by duplicated spans), ``dup_frac``.
    Every input document emits a row (zero-filled when clean) — the
    usual corpus-quality dashboard shape. Pass a precomputed
    ``spans`` frame to reuse a ``duplicate_spans`` result."""
    if spans is None:
        spans = duplicate_spans(
            docs, id_col, text_col, tokens_col=tokens_col, **span_kwargs
        )
    toks = (
        F.col(tokens_col) if tokens_col is not None
        else F.split(F.col(text_col), " ")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("n_tokens").alias("dup_tokens")
    )
    return (
        docs.select(F.col(id_col), F.size(toks).alias("n_tok"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tok",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            (
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest(F.col("n_tok"), F.lit(1))
            ).alias("dup_frac"),
        )
    )
