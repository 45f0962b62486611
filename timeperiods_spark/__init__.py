"""timeperiods_spark — a PySpark-native time-weighted rollup engine.

From-scratch reimplementation of the query semantics of
kaufman-lab/timeperiods (reference at /root/reference, R/data.table) as
idiomatic Spark DataFrame operators, generalized to web scale:
range-join + hash-aggregate overlap averaging, interval decomposition,
regular-grid tier rollups, gap-fill/LOCF, Gorilla compression of
per-period series, and retention-tiered continuous aggregates.
"""

from .errors import (
    DuplicateIntervalError,
    IntervalValidationError,
    OverlapError,
    RoleValidationError,
    TimeperiodsError,
)
from .functions.compression import compress_series, decompress_series
from .functions.grid import salted_repartition, timestamp_to_grid
from .operators.cross import grouped_cartesian
from .operators.downsample import downsample_m4, rollup_ohlc
from .plans.cachectl import release as release_caches
from .operators.rollup import (
    cascade,
    finalize_rollup,
    gap_fill_interpolate,
    gap_fill_locf,
    merge_partials,
    period_scaffold,
    rollup_regular,
)
from .runner import ResumableJob
from .sources.catalog import TierCatalog
from .sources.tokens import token_table
from .streaming.continuous import ingest_batch
from .operators.interval_avg import RESERVED_OUTPUT_NAMES, interval_weighted_avg
from .operators.overlaps import (
    check_no_overlaps,
    overlap_join,
    remove_overlaps,
    running_max,
)
from .session import get_spark

__all__ = [
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
]

__version__ = "0.1.0"
