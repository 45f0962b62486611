"""The package's public surface: every exported name resolves, and the
set of names is pinned."""

from __future__ import annotations

import timeperiods_spark


def test_every_exported_name_resolves():
    missing = [n for n in timeperiods_spark.__all__ if not hasattr(timeperiods_spark, n)]
    assert not missing, missing
    assert len(set(timeperiods_spark.__all__)) == len(timeperiods_spark.__all__)


def test_star_import_succeeds():
    ns: dict = {}
    exec("from timeperiods_spark import *", ns)
    assert set(timeperiods_spark.__all__) <= set(ns)


def test_public_surface_is_the_engine():
    """The exported names are exactly the engine's; adding or dropping
    one is a deliberate change to this list."""
    assert set(timeperiods_spark.__all__) == {
        "interval_weighted_avg",
        "remove_overlaps",
        "overlap_join",
        "check_no_overlaps",
        "running_max",
        "grouped_cartesian",
        "rollup_regular",
        "finalize_rollup",
        "merge_partials",
        "cascade",
        "gap_fill_locf",
        "gap_fill_interpolate",
        "downsample_m4",
        "rollup_ohlc",
        "period_scaffold",
        "compress_series",
        "decompress_series",
        "token_table",
        "TierCatalog",
        "ResumableJob",
        "ingest_batch",
        "salted_repartition",
        "timestamp_to_grid",
        "release_caches",
        "get_spark",
        "RESERVED_OUTPUT_NAMES",
        "TimeperiodsError",
        "RoleValidationError",
        "IntervalValidationError",
        "DuplicateIntervalError",
        "OverlapError",
    }
