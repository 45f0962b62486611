"""Deduplication operators for large-scale training-data pipelines.

Exact dedup, n-gram Jaccard, MinHash+LSH banding, and SimHash — all as
native DataFrame expressions (no Python in the hot path). Hashing comes
from functions.texthash so every operator here has a bit-identical
ANSI-SQL twin for oracle verification; production runs can pass
``hash_fn="xxhash64"`` where cross-engine determinism isn't needed.

Scale design (the 100 TB case):
- Exact dedup is one hash aggregate — shuffle keyed by the dedup key.
- MinHash candidate generation shuffles on (band_id, band_signature):
  high cardinality, naturally even; each bucket's pair fan-out is
  bounded by bucket size, and near-duplicate clusters are exactly the
  skew you WANT co-located. The band join is a self equi join, never a
  cross join.
- Verification (exact Jaccard on candidate pairs) touches only
  candidate pairs, not the n^2 space.
"""

from __future__ import annotations

import warnings
from typing import Optional, Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window, functions as F

from ..functions import texthash as TH
from ..functions.grid import spread_input

#: hot-bucket visibility thresholds (cap off): warn when the largest
#: (band,bsig) bucket exceeds BOTH an absolute floor and a multiple of
#: the MEDIAN bucket size (median: hot buckets would inflate a mean)
_HOT_BUCKET_MIN = 64
_HOT_BUCKET_RATIO = 16


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


def shingle_frame(
    df: DataFrame, id_col: str, text_col: str, k: int = 5,
    hash_fn: str = "poly",
) -> DataFrame:
    """(id, shingle_hashes array<long>) — shared prep for the near-dup
    operators (compute once, reuse across minhash/simhash/jaccard).
    The input is spread across cores first — shingling is the compute-
    heavy map stage, and a single-split source file would otherwise
    serialize it (measured: whole minhash pipeline on 1 of 32 cores)."""
    df = spread_input(df)
    return df.select(
        F.col(id_col).alias("id"),
        TH.shingle_hashes_spark(F.col(text_col), k, hash_fn).alias("hashes"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """All pairs with exact shingle-set Jaccard >= threshold.

    O(n^2) candidate space — the brute-force baseline for small-to-mid
    corpora and the verification oracle for the LSH path. Columns:
    id_a, id_b (id_a < id_b), jaccard."""
    sh = shingle_frame(df, id_col, text_col, k)
    # NOTE: both join sides consume the shingle frame (shingling runs
    # twice). A per-call persist was measured and WITHDRAWN: extra
    # session caches shifted later queries' aggregate layouts enough to
    # flip a 6dp-boundary value against the frozen differential oracle
    # (see OPTIMIZATION_r07.md "Float-boundary discipline"). At corpus
    # scale, pre-shingle to a table instead (the operator contract
    # already recommends it).
    a = sh.select(F.col("id").alias("id_a"), F.col("hashes").alias("h_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("hashes").alias("h_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    # |A ∪ B| = |A| + |B| - |A ∩ B| (arrays are distinct): one set pass
    # instead of two — array_union was ~40% of the verification cost
    inter = F.size(F.array_intersect("h_a", "h_b"))
    union = F.size("h_a") + F.size("h_b") - inter
    return (
        pairs.select(
            "id_a",
            "id_b",
            (inter / F.when(union > 0, union)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    n_hashes: int = 12,
    bands: int = 4,
    verify_threshold: Optional[float] = None,
    cache_shingles: bool = True,
    max_bucket_size: Optional[int] = None,
    hash_fn: str = "poly",
    hot_bucket_warn: bool = True,
) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one MinHash band.

    shingle → minhash signature → split into ``bands`` bands of
    ``n_hashes/bands`` rows → self equi join on (band, band signature).
    With ``verify_threshold``, candidates are re-checked with exact
    shingle Jaccard (computed only for candidates). Output: id_a, id_b
    (id_a < id_b) [+ jaccard when verifying].

    ``max_bucket_size`` is the web-scale hot-bucket guard: a (band,
    bsig) bucket holding ``m`` docs contributes ``m^2/2`` pairs, so a
    boilerplate band shared by millions of documents turns the self
    join quadratic. Template corpora (docs drawn from a small shared
    shingle pool) hit this stochastically: whenever a permutation's
    globally minimal hash lands on a common shingle, one bucket
    captures a large corpus fraction — measured 113x the pairs at 10x
    the docs on one hash draw, 5x between two draws over the SAME
    similarity structure. Buckets LARGER than the cap are dropped
    before the join via a
    broadcast anti join on the (few) hot keys — a recall trade-off:
    pairs whose ONLY shared band is an over-popular one are missed,
    which for near-dup dedup is usually the desired reading of
    "matched only on boilerplate". Default None = exact (no cap).

    The shingle frame is consumed three times when verifying (banding
    plus two pair re-attach joins); ``cache_shingles`` persists it so
    shingling runs once — at true corpus scale, write the shingle
    frame to a table instead and pass texts pre-shingled.

    ``hot_bucket_warn=True`` with no cap runs an eager skew probe; the
    banded frame is persisted first so the probe fills the cache the
    self join then reads (construction is one job, never a double run
    of the shingle→minhash stage). Pass ``hot_bucket_warn=False`` for
    a fully lazy frame."""
    if n_hashes % bands != 0:
        raise ValueError("bands must divide n_hashes")
    r = n_hashes // bands
    sh = shingle_frame(df, id_col, text_col, k, hash_fn).filter(
        F.size("hashes") > 0
    )
    if cache_shingles and verify_threshold is not None:
        from ..plans.cachectl import managed_persist_percall

        sh = managed_persist_percall(
            sh, "minhash_candidate_pairs.shingles", keep=2
        )
    # The band self-join and the pair dedup carry ONLY (id, band, bsig):
    # shipping the shingle-hash arrays (~doc length) through the band
    # exchange AND the dropDuplicates, multiplied by `bands`, is the
    # classic MinHash shuffle-bloat anti-pattern. Shingle sets are
    # re-attached to the (much smaller) set of UNIQUE candidate pairs
    # with two id-equi joins — the same shape the DuckDB oracle uses
    # (__spark_entry__.py `withsets`). Pinned by tests/test_plans.py.
    banded = sh.select(
        "id",
        TH.minhash_signature_spark(F.col("hashes"), n_hashes).alias("sig"),
    ).select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.slice("sig", bi * r + 1, r).cast("array<long>").alias("bsig"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bsig")
    # The slim (id, band, bsig) frame is consumed at least twice (both
    # self-join sides) and up to four times with the hot-bucket cap (its
    # aggregate builds one broadcast per anti-join side): unpersisted,
    # the dominant shingle→minhash→banding stage re-runs per consumer —
    # the r6 bench plan showed FOUR live copies of the signature
    # subtree (~3 redundant 12-permutation passes over every shingle
    # set). Persist it ONCE, before any cap/probe subtree forks off, so
    # every consumer reads the cache (persist alone is lazy, so the
    # no-warn path stays fully lazy).
    from ..plans.cachectl import managed_persist_percall

    banded = managed_persist_percall(
        banded, "minhash_candidate_pairs.banded", keep=2,
        storage_level=StorageLevel.DISK_ONLY,
    )

    if max_bucket_size is not None:
        # hot buckets are by definition FEW (each holds > cap docs),
        # so the key set broadcasts; one map-side-combined aggregate
        # finds them, one broadcast anti join drops their band rows.
        # Both the aggregate and the anti-join probe read the banded
        # cache; the cheap broadcast-probe filter is re-applied per
        # consumer instead of re-running the banding.
        hot = (
            banded.groupBy("band", "bsig")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > int(max_bucket_size))
            .select("band", "bsig")
        )
        banded = banded.join(F.broadcast(hot), ["band", "bsig"], "left_anti")
    elif hot_bucket_warn:
        # cap off = exact-by-default (the oracle setting), but a naive
        # caller on boilerplate text then silently pays m^2/2 from one
        # over-popular bucket (VERDICT r4 finding 2). One extra
        # map-side-combined aggregate measures the skew and warns with
        # the concrete fan-out before the join runs it. The probe is an
        # EAGER action over the banded cache persisted above (ADVICE
        # r5: it materializes the cache every consumer then reads).
        st = (
            banded.groupBy("band", "bsig")
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(
                F.max("__n").alias("mx"),
                # median, not mean: the hot buckets being detected are
                # exactly what would inflate a mean-based baseline
                F.expr("percentile_approx(__n, 0.5)").alias("med"),
            )
            .first()
        )
        mx, med = st["mx"] or 0, st["med"] or 1
        if mx > max(_HOT_BUCKET_MIN, _HOT_BUCKET_RATIO * med):
            warnings.warn(
                f"minhash LSH: hottest (band, bsig) bucket holds {mx} "
                f"docs (median bucket {med}) — that one bucket alone feeds "
                f"~{mx * (mx - 1) // 2} candidate pairs into the self "
                "join (quadratic in bucket size). Pass max_bucket_size= "
                "to cap it; the trade-off is recall on pairs whose ONLY "
                "shared band is the over-popular (boilerplate) one. Set "
                "hot_bucket_warn=False to silence this check.",
                stacklevel=3,
            )

    left = banded.select(
        F.col("id").alias("id_a"),
        F.col("band").alias("band_a"),
        F.col("bsig").alias("bsig_a"),
    )
    right = banded.select(
        F.col("id").alias("id_b"),
        F.col("band").alias("band_b"),
        F.col("bsig").alias("bsig_b"),
    )
    cand = (
        left.join(
            right,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("bsig_a") == F.col("bsig_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if verify_threshold is None:
        return cand
    withsets = cand.join(
        sh.select(F.col("id").alias("id_a"), F.col("hashes").alias("h_a")), "id_a"
    ).join(
        sh.select(F.col("id").alias("id_b"), F.col("hashes").alias("h_b")), "id_b"
    )
    inter = F.size(F.array_intersect("h_a", "h_b"))
    union = F.size("h_a") + F.size("h_b") - inter  # arrays are distinct
    return withsets.select(
        "id_a", "id_b", (inter / F.when(union > 0, union)).alias("jaccard")
    ).filter(F.col("jaccard") >= verify_threshold)


def minhash_band_frame(
    shingles: DataFrame, *, n_hashes: int = 12, bands: int = 4
) -> DataFrame:
    """(id, band, bsig) band rows from a shingle frame — the persisted
    LSH index layout. One row per (doc, band); the shingle arrays stay
    in their own (id, hashes) table so the index does not repeat a
    document's shingle set ``bands`` times."""
    if n_hashes % bands != 0:
        raise ValueError("bands must divide n_hashes")
    r = n_hashes // bands
    return shingles.select(
        "id",
        TH.minhash_signature_spark(F.col("hashes"), n_hashes).alias("sig"),
    ).select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.slice("sig", bi * r + 1, r).cast("array<long>").alias("bsig"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bsig")


def build_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    n_hashes: int = 12,
    bands: int = 4,
    hash_fn: str = "poly",
) -> tuple[DataFrame, DataFrame]:
    """Bootstrap the persistable MinHash index for incremental dedup:
    returns ``(index_bands, index_shingles)`` — (id, band, bsig) and
    (id, hashes). Write both to tables (partition/bucket the band table
    by (band, bsig-hash) at scale); nightly batches then probe them via
    :func:`minhash_dedup_incremental` instead of re-scanning the whole
    corpus. Index and probes must share one ``hash_fn``."""
    sh = shingle_frame(df, id_col, text_col, k, hash_fn).filter(
        F.size("hashes") > 0
    )
    return minhash_band_frame(sh, n_hashes=n_hashes, bands=bands), sh


def minhash_dedup_incremental(
    new_batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    index_bands: Optional[DataFrame] = None,
    index_shingles: Optional[DataFrame] = None,
    k: int = 5,
    n_hashes: int = 12,
    bands: int = 4,
    verify_threshold: float = 0.7,
    broadcast_batch: bool = False,
    cache: bool = True,
    max_bucket_size: Optional[int] = None,
    hash_fn: str = "poly",
) -> dict:
    """Deduplicate a NEW batch against a persisted corpus index — what
    a production 100 TB pipeline runs nightly, instead of re-deduping
    the whole corpus per batch.

    ``max_bucket_size`` is the same hot-bucket guard as
    :func:`minhash_candidate_pairs`, measured over the COMBINED
    (index + batch) population of each (band, bsig) bucket: a
    boilerplate band accumulated over months of batches would
    otherwise make every future probe quadratic in its size. The
    returned ``new_bands`` frame is NOT filtered — the index stays
    complete; the cap is a per-probe read-side decision.

    The batch is shingled and banded once; candidates are (a) batch
    docs sharing a band with an INDEXED doc (an equi probe of the index
    keyed by (band, bsig) — only the batch's band keys travel) and (b)
    batch-internal pairs (the same self join the whole-corpus path
    uses). Exact Jaccard verifies candidates; a batch doc is dropped
    when any verified match has a smaller id (single_hop semantics).

    Returns ``{"deduped", "new_bands", "new_shingles"}``. The new
    index rows cover EVERY batch doc — survivors AND dropped docs —
    because whole-corpus single_hop drops ``b`` when any ``a < b``
    matches, even an ``a`` that was itself dropped; indexing only
    survivors would silently diverge. With monotonically growing doc
    ids (the append-only production shape), running batches through
    this operator yields EXACTLY the whole-corpus ``minhash_dedup``
    survivor set; with out-of-order ids a cross pair whose batch doc
    precedes the indexed doc is ignored (the already-published indexed
    doc cannot be retroactively dropped).

    ``broadcast_batch=True`` hints the batch band frame broadcast-able
    (the designed shape: batch << corpus index), turning the index
    probe into a map-side join over the index scan.
    """
    batch_sh = shingle_frame(new_batch, id_col, text_col, k, hash_fn).filter(
        F.size("hashes") > 0
    )
    if cache:
        # the batch shingle frame feeds banding, the pair verify, and
        # the returned new_shingles; managed, so repeated batches hold
        # at most one cached frame
        from ..plans.cachectl import managed_persist_percall

        batch_sh = managed_persist_percall(
            batch_sh, "minhash_dedup_incremental.shingles", keep=2
        )
    batch_bands = minhash_band_frame(batch_sh, n_hashes=n_hashes, bands=bands)
    # NOTE: five consumers re-run the banding of the batch (hot-bucket
    # union, index probe, both internal join sides, new_bands); a
    # per-call persist was measured and WITHDRAWN (frozen-oracle
    # 6dp-boundary interference, OPTIMIZATION_r07.md). The batch is
    # small by contract; the cached SHINGLE frame bounds the rework.
    if index_bands is None or index_shingles is None:
        # cold start: empty index with the right schemas
        if index_bands is not None or index_shingles is not None:
            raise ValueError("pass both index frames or neither")
        index_bands = batch_bands.filter(F.lit(False))
        index_shingles = batch_sh.filter(F.lit(False))

    full_batch_bands = batch_bands
    if max_bucket_size is not None:
        # cap on the COMBINED bucket population; the probe and the
        # batch-internal join both drop hot-bucket rows, but the
        # returned new_bands stay complete (read-side decision only)
        hot = (
            index_bands.select("band", "bsig")
            .unionByName(batch_bands.select("band", "bsig"))
            .groupBy("band", "bsig")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > int(max_bucket_size))
            .select("band", "bsig")
        )
        batch_bands = batch_bands.join(
            F.broadcast(hot), ["band", "bsig"], "left_anti"
        )
        index_bands = index_bands.join(
            F.broadcast(hot), ["band", "bsig"], "left_anti"
        )

    probe = F.broadcast(batch_bands) if broadcast_batch else batch_bands
    cross = (
        index_bands.select(
            F.col("id").alias("id_a"),
            F.col("band").alias("band_a"),
            F.col("bsig").alias("bsig_a"),
        )
        .join(
            probe.select(
                F.col("id").alias("id_b"),
                F.col("band").alias("band_b"),
                F.col("bsig").alias("bsig_b"),
            ),
            (F.col("band_a") == F.col("band_b"))
            & (F.col("bsig_a") == F.col("bsig_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
    )
    internal = (
        batch_bands.select(
            F.col("id").alias("id_a"),
            F.col("band").alias("band_a"),
            F.col("bsig").alias("bsig_a"),
        )
        .join(
            batch_bands.select(
                F.col("id").alias("id_b"),
                F.col("band").alias("band_b"),
                F.col("bsig").alias("bsig_b"),
            ),
            (F.col("band_a") == F.col("band_b"))
            & (F.col("bsig_a") == F.col("bsig_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
    )
    cand = cross.unionByName(internal).dropDuplicates(["id_a", "id_b"])

    # verify on UNIQUE pairs only; the left side may come from either
    # corpus, the right side is always a batch doc
    all_sh = index_shingles.select("id", "hashes").unionByName(
        batch_sh.select("id", "hashes")
    )
    withsets = cand.join(
        all_sh.select(F.col("id").alias("id_a"), F.col("hashes").alias("h_a")),
        "id_a",
    ).join(
        batch_sh.select(F.col("id").alias("id_b"), F.col("hashes").alias("h_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("h_a", "h_b"))
    union = F.size("h_a") + F.size("h_b") - inter  # arrays are distinct
    losers = (
        withsets.select(
            "id_b", (inter / F.when(union > 0, union)).alias("jaccard")
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select(F.col("id_b").alias(id_col))
        .dropDuplicates()
    )
    return {
        "deduped": new_batch.join(losers, id_col, "left_anti"),
        "new_bands": full_batch_bands,
        "new_shingles": batch_sh,
    }


def connected_components(
    pairs: DataFrame,
    *,
    max_iterations: int = 25,
) -> DataFrame:
    """Components of the undirected (id_a, id_b) pair graph by
    iterative min-label propagation (hash-min): every node repeatedly
    takes the minimum label among itself and its neighbors until a
    fixpoint. Converges in O(max component diameter) rounds — near-dup
    clusters are dense and shallow, so a handful in practice; the
    round bound is a guard, and hitting it raises rather than returning
    partially-merged components. Each round is one equi-join + one
    hash aggregate, both keyed by id — shuffle-partitionable at any
    scale. (Alternating small-star/large-star halves round counts on
    adversarially long chains; unnecessary for dedup graphs.)

    Returns (id, component) for every id appearing in ``pairs``, with
    component = min id of the connected component.
    """
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).dropDuplicates()
    labels = (
        sym.select(F.col("a").alias("id"))
        .dropDuplicates()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    sym = sym.localCheckpoint(eager=True)
    for _ in range(max_iterations):
        nbr = sym.join(
            labels.select(F.col("id").alias("b"), "comp"), "b"
        ).select(F.col("a").alias("id"), "comp")
        new_labels = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            # truncate lineage each round: an iterative plan otherwise
            # grows O(rounds) deep and re-executes from scratch
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    n_hashes: int = 12,
    bands: int = 4,
    verify_threshold: float = 0.7,
    method: str = "single_hop",
    max_bucket_size: Optional[int] = None,
    hash_fn: str = "poly",
    hot_bucket_warn: bool = True,
) -> DataFrame:
    """Drop near-duplicates, keeping one survivor per duplicate cluster.

    ``method="single_hop"`` (default): b is dropped if ANY a < b matched
    it — one pass, no iteration; the standard web-scale shortcut. Its
    survivors are a superset of one-per-component only when clusters are
    min-id-centered; chains a~b~c with a<b<c drop both b and c even if
    a!~c directly, which is usually the desired behavior for near-dups.

    ``method="components"``: exact one-survivor-per-connected-component
    (min id), via :func:`connected_components` over the verified pairs.
    """
    pairs = minhash_candidate_pairs(
        df, id_col, text_col, k=k, n_hashes=n_hashes, bands=bands,
        verify_threshold=verify_threshold, max_bucket_size=max_bucket_size,
        hash_fn=hash_fn, hot_bucket_warn=hot_bucket_warn,
    )
    if method == "components":
        cc = connected_components(pairs)
        losers = cc.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias(id_col)
        )
    elif method == "single_hop":
        losers = pairs.select(F.col("id_b").alias(id_col)).dropDuplicates()
    else:
        raise ValueError("method must be 'single_hop' or 'components'")
    return df.join(losers, id_col, "left_anti")


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int,
    n_planes: int = 8,
    threshold: float = 0.9,
    probes: int = 1,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine — the fifth dedup mode
    (exact / Jaccard / MinHash / SimHash / embedding-cosine).

    Candidates come from an SRP-bucket self equi join (multi-probed:
    each row also probes every bucket one plane-flip away, ``probes=1``
    — without it, recall for cosine≈0.95 pairs is only ~(1-θ/π)^planes
    ≈ 0.42 at 8 planes); exact cosine verifies candidates. Same scale
    shape as the MinHash path: the band/bucket join and pair dedup
    carry only (id, bucket), vectors re-attach to UNIQUE pairs via two
    id-equi joins. Columns: id_a, id_b (id_a < id_b), cosine.

    ``max_bucket_size`` drops over-popular SRP buckets (an m-vector
    bucket joins to m^2/2 candidates; centroid-dense regions and
    zero-ish vectors create them) before the join — same hot-bucket
    guard and recall trade-off as :func:`minhash_candidate_pairs`.
    The cap keys on a row's OWN bucket, so a capped bucket neither
    probes nor is probed."""
    from .similarity import _cosine_pre, _norm, srp_bucket, srp_probe_buckets

    base = spread_input(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("__n", _norm(F.col("v")))
    # The norm column attaches per ROW so the verify join scores each
    # candidate pair with ONE dot-product pass instead of re-deriving
    # both norms per pair (lambda aggregates are invisible to
    # subexpression elimination). A per-call persist of this frame was
    # measured and WITHDRAWN (frozen-oracle 6dp-boundary interference,
    # OPTIMIZATION_r07.md).
    bucketed = base.withColumn("__b", srp_bucket(F.col("v"), dim, n_planes))
    if max_bucket_size is not None:
        hot = (
            bucketed.groupBy("__b")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > int(max_bucket_size))
            .select("__b")
        )
        bucketed = bucketed.join(F.broadcast(hot), ["__b"], "left_anti")
    probed = bucketed.select(
        F.col("id").alias("id_a"),
        F.explode(srp_probe_buckets(F.col("__b"), n_planes, probes)).alias("__pb"),
    )
    right = bucketed.select(F.col("id").alias("id_b"), F.col("__b"))
    cand = (
        probed.join(
            right,
            (F.col("__pb") == F.col("__b")) & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    withvecs = cand.join(
        base.select(
            F.col("id").alias("id_a"),
            F.col("v").alias("v_a"),
            F.col("__n").alias("n_a"),
        ),
        "id_a",
    ).join(
        base.select(
            F.col("id").alias("id_b"),
            F.col("v").alias("v_b"),
            F.col("__n").alias("n_b"),
        ),
        "id_b",
    )
    return withvecs.select(
        "id_a",
        "id_b",
        _cosine_pre(
            F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")
        ).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def build_embedding_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int,
    n_planes: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Bootstrap the persistable SRP index for incremental embedding
    dedup: returns ``(index_buckets, index_vectors)`` — (id, bucket)
    and (id, v) — the embedding-mode mirror of
    :func:`build_minhash_index`. Write both to tables (partition the
    bucket table by a hash of bucket at scale); nightly batches then
    probe them via :func:`embedding_dedup_incremental` instead of
    re-bucketing the whole corpus per batch."""
    from .similarity import srp_bucket

    base = spread_input(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    buckets = base.select(
        "id", srp_bucket(F.col("v"), dim, n_planes).alias("bucket")
    )
    return buckets, base


def embedding_dedup_incremental(
    new_batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    index_buckets: Optional[DataFrame] = None,
    index_vectors: Optional[DataFrame] = None,
    dim: int,
    n_planes: int = 8,
    threshold: float = 0.9,
    probes: int = 1,
    broadcast_batch: bool = False,
    cache: bool = True,
) -> dict:
    """Deduplicate a NEW batch of embeddings against a persisted SRP
    index — the embedding-mode mirror of
    :func:`minhash_dedup_incremental` (VERDICT r3 item 5). Candidates
    are (a) batch vectors whose multi-probe bucket set hits an INDEXED
    vector's bucket and (b) batch-internal pairs; exact cosine verifies
    candidates, and a batch vector is dropped when any verified match
    has a smaller id (single_hop).

    Equivalence with the whole-corpus :func:`embedding_neardup_pairs`
    candidate set holds because "shares a bucket within ``probes``
    plane flips" is hamming(bucket_a, bucket_b) <= probes — symmetric
    in a/b — so probing from the batch side finds exactly the pairs the
    whole-corpus one-sided probe finds. With monotonically growing ids
    (the append-only production shape) batch-by-batch therefore yields
    EXACTLY the whole-corpus survivor set; out-of-order batch ids
    smaller than an indexed id are ignored (the published indexed
    vector cannot be retroactively dropped).

    Returns ``{"deduped", "new_buckets", "new_vectors"}`` — append the
    latter two to the index tables (ALL batch rows, survivors and
    dropped, for the same reason the MinHash path indexes both).
    ``broadcast_batch=True`` hints the batch probe frame broadcast-able
    (batch << corpus index), turning the index probe into a map-side
    join over the index scan.
    """
    from .similarity import srp_bucket, srp_probe_buckets

    batch = spread_input(new_batch).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if cache:
        # feeds bucketing, the pair verify, and the returned
        # new_vectors; managed so repeated calls in a long session
        # don't accumulate persisted intermediates
        from ..plans.cachectl import managed_persist_percall

        batch = managed_persist_percall(
            batch, "embedding_dedup_incremental.batch", keep=2
        )
    batch_buckets = batch.select(
        "id", srp_bucket(F.col("v"), dim, n_planes).alias("bucket")
    )
    if index_buckets is None or index_vectors is None:
        if index_buckets is not None or index_vectors is not None:
            raise ValueError("pass both index frames or neither")
        index_buckets = batch_buckets.filter(F.lit(False))
        index_vectors = batch.filter(F.lit(False))

    probed = batch_buckets.select(
        F.col("id").alias("id_b"),
        F.explode(
            srp_probe_buckets(F.col("bucket"), n_planes, probes)
        ).alias("__pb"),
    )
    probe = F.broadcast(probed) if broadcast_batch else probed
    cross = (
        index_buckets.select(
            F.col("id").alias("id_a"), F.col("bucket").alias("__ib")
        )
        .join(
            probe,
            (F.col("__ib") == F.col("__pb")) & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
    )
    internal = (
        batch_buckets.select(
            F.col("id").alias("id_a"),
            F.explode(
                srp_probe_buckets(F.col("bucket"), n_planes, probes)
            ).alias("__pb"),
        )
        .join(
            batch_buckets.select(
                F.col("id").alias("id_b"), F.col("bucket").alias("__ib")
            ),
            (F.col("__pb") == F.col("__ib")) & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
    )
    cand = cross.unionByName(internal).dropDuplicates(["id_a", "id_b"])

    # norms attach per ROW before the pair join (one array pass each),
    # so the verify scores each candidate with a single dot-product
    # pass — cosine()'s single-expression form would re-derive both
    # norms (twice each) per PAIR
    from .similarity import _cosine_pre, _norm

    all_vecs = index_vectors.select("id", "v").unionByName(
        batch.select("id", "v")
    ).withColumn("__n", _norm(F.col("v")))
    withvecs = cand.join(
        all_vecs.select(
            F.col("id").alias("id_a"),
            F.col("v").alias("v_a"),
            F.col("__n").alias("n_a"),
        ),
        "id_a",
    ).join(
        batch.select("id", "v")
        .withColumn("__n", _norm(F.col("v")))
        .select(
            F.col("id").alias("id_b"),
            F.col("v").alias("v_b"),
            F.col("__n").alias("n_b"),
        ),
        "id_b",
    )
    losers = (
        withvecs.select(
            "id_b",
            _cosine_pre(
                F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .dropDuplicates()
    )
    return {
        "deduped": new_batch.join(losers, id_col, "left_anti"),
        "new_buckets": batch_buckets,
        "new_vectors": batch,
    }


def simhash_frame(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 5, bits: int = 64,
    hash_fn: str = "poly",
) -> DataFrame:
    """(id, simhash) — bit-majority fingerprint over shingle hashes."""
    sh = shingle_frame(df, id_col, text_col, k, hash_fn)
    return sh.select("id", TH.simhash_spark(F.col("hashes"), bits).alias("simhash"))


def _simhash_chunk_frame(sf: DataFrame, bands: int, w: int) -> DataFrame:
    """(id, band, chunk) rows from an (id, simhash) frame — the
    persisted SimHash index layout (fingerprints live in their own
    table, mirroring the MinHash band/shingle split)."""
    return sf.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright("simhash", bi * w)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("chunk"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.chunk")


def build_simhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    bits: int = 64,
    bands: int = 8,
    hash_fn: str = "poly",
) -> tuple[DataFrame, DataFrame]:
    """Bootstrap the persistable SimHash index for incremental dedup:
    returns ``(index_chunks, index_fingerprints)`` — (id, band, chunk)
    and (id, simhash) — the SimHash mirror of
    :func:`build_minhash_index`. Nightly batches probe them via
    :func:`simhash_dedup_incremental` instead of re-fingerprinting the
    whole corpus."""
    if bits % bands != 0:
        raise ValueError("bands must divide bits")
    sf = simhash_frame(df, id_col, text_col, k=k, bits=bits, hash_fn=hash_fn)
    return _simhash_chunk_frame(sf, bands, bits // bands), sf


def simhash_dedup_incremental(
    new_batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    index_chunks: Optional[DataFrame] = None,
    index_fingerprints: Optional[DataFrame] = None,
    k: int = 5,
    bits: int = 64,
    bands: int = 8,
    max_hamming: int = 3,
    broadcast_batch: bool = False,
    cache: bool = True,
    hash_fn: str = "poly",
) -> dict:
    """Deduplicate a NEW batch against a persisted SimHash index — the
    SimHash mirror of :func:`minhash_dedup_incremental`. Candidates
    are (a) batch docs sharing any band chunk with an INDEXED doc and
    (b) batch-internal pairs; exact hamming (bit_count of xor over the
    full fingerprints) verifies candidates, and a batch doc is dropped
    when any verified match has a smaller id (single_hop).

    "Shares a chunk at the same band" is symmetric, so probing from
    the batch side finds exactly the pairs the whole-corpus
    :func:`simhash_pairs` join finds; with ``max_hamming < bands``
    the pigeonhole guarantee makes that pair set EXACTLY all pairs
    within the distance, so batch-by-batch under monotone ids equals
    the whole-corpus single-hop survivor set.

    Returns ``{"deduped", "new_chunks", "new_fingerprints"}`` — append
    both to the index tables (ALL batch docs, survivors and dropped)."""
    if bits % bands != 0:
        raise ValueError("bands must divide bits")
    w = bits // bands
    batch_sf = simhash_frame(
        new_batch, id_col, text_col, k=k, bits=bits, hash_fn=hash_fn
    )
    if cache:
        # feeds chunking, the hamming verify, and the returned
        # new_fingerprints; managed so repeated batches stay bounded
        from ..plans.cachectl import managed_persist_percall

        batch_sf = managed_persist_percall(
            batch_sf, "simhash_dedup_incremental.fingerprints", keep=2
        )
    batch_chunks = _simhash_chunk_frame(batch_sf, bands, w)
    if index_chunks is None or index_fingerprints is None:
        if index_chunks is not None or index_fingerprints is not None:
            raise ValueError("pass both index frames or neither")
        index_chunks = batch_chunks.filter(F.lit(False))
        index_fingerprints = batch_sf.filter(F.lit(False))

    probe_src = batch_chunks.select(
        F.col("id").alias("id_b"),
        F.col("band").alias("band_b"),
        F.col("chunk").alias("chunk_b"),
    )
    probe = F.broadcast(probe_src) if broadcast_batch else probe_src
    cross = (
        index_chunks.select(
            F.col("id").alias("id_a"),
            F.col("band").alias("band_a"),
            F.col("chunk").alias("chunk_a"),
        )
        .join(
            probe,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("chunk_a") == F.col("chunk_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
    )
    internal = (
        batch_chunks.select(
            F.col("id").alias("id_a"),
            F.col("band").alias("band_a"),
            F.col("chunk").alias("chunk_a"),
        )
        .join(
            batch_chunks.select(
                F.col("id").alias("id_b"),
                F.col("band").alias("band_b"),
                F.col("chunk").alias("chunk_b"),
            ),
            (F.col("band_a") == F.col("band_b"))
            & (F.col("chunk_a") == F.col("chunk_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
    )
    cand = cross.unionByName(internal).dropDuplicates(["id_a", "id_b"])

    all_sf = index_fingerprints.select("id", "simhash").unionByName(
        batch_sf.select("id", "simhash")
    )
    withfp = cand.join(
        all_sf.select(F.col("id").alias("id_a"), F.col("simhash").alias("s_a")),
        "id_a",
    ).join(
        batch_sf.select(F.col("id").alias("id_b"), F.col("simhash").alias("s_b")),
        "id_b",
    )
    losers = (
        withfp.select(
            "id_b",
            F.bit_count(F.col("s_a").bitwiseXOR(F.col("s_b"))).alias("h"),
        )
        .filter(F.col("h") <= max_hamming)
        .select(F.col("id_b").alias(id_col))
        .dropDuplicates()
    )
    return {
        "deduped": new_batch.join(losers, id_col, "left_anti"),
        "new_chunks": batch_chunks,
        "new_fingerprints": batch_sf,
    }


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    bits: int = 64,
    bands: int = 8,
    max_hamming: int = 3,
    max_bucket_size: Optional[int] = None,
    hash_fn: str = "poly",
) -> DataFrame:
    """Near-dup pairs by SimHash: band the ``bits``-wide fingerprint
    into ``bands`` chunks, equi-join on any matching chunk (guarantees
    recall for hamming distance < bands), then filter exact hamming
    <= max_hamming via bit_count(xor). Columns: id_a, id_b, hamming.

    ``max_bucket_size`` is the same hot-bucket guard as
    :func:`minhash_candidate_pairs` (an m-doc chunk bucket joins to
    m^2/2 pairs; boilerplate corpora make some chunks universal) —
    with it set, pairs whose ONLY shared chunk is over-popular are
    missed, which also voids the pigeonhole exactness guarantee:
    capped runs are approximate by design."""
    if bits % bands != 0:
        raise ValueError("bands must divide bits")
    w = bits // bands
    sf = simhash_frame(df, id_col, text_col, k=k, bits=bits, hash_fn=hash_fn)
    # NOTE: both self-join sides consume the fingerprint frame; a
    # per-call persist was measured and WITHDRAWN (frozen-oracle
    # 6dp-boundary interference, OPTIMIZATION_r07.md); persist the
    # fingerprint table upstream at corpus scale.
    banded = sf.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright("simhash", bi * w)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("chunk"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.chunk")
    if max_bucket_size is not None:
        hot = (
            banded.groupBy("band", "chunk")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > int(max_bucket_size))
            .select("band", "chunk")
        )
        banded = banded.join(F.broadcast(hot), ["band", "chunk"], "left_anti")
    left = banded.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("s_a"),
        F.col("band").alias("band_a"), F.col("chunk").alias("chunk_a"),
    )
    right = banded.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("s_b"),
        F.col("band").alias("band_b"), F.col("chunk").alias("chunk_b"),
    )
    hamming = F.bit_count(F.col("s_a").bitwiseXOR(F.col("s_b")))
    return (
        left.join(
            right,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("chunk_a") == F.col("chunk_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b", hamming.alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )
