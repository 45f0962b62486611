"""Deterministic synthetic token table (BASELINE.json ``input_hint``).

Schema: ``(doc_id string, tokens array<int>, n_tok int, source string)``
plus a derived closed event-time interval ``[start_hour, end_hour]`` per
sequence, so tier rollups of ``n_tok`` exercise the core
interval_weighted_avg semantics (FIXTURES.md F13).

Everything is generated from ``spark.range`` with pure column
expressions — no Python rows, no RNG objects — via Lehmer/MINSTD-style
congruential hashes kept under 2^47 so the identical arithmetic can be
written in ANSI SQL (DuckDB oracle) with no overflow divergence. Skew
is deliberate: ``source`` follows a log-bucket distribution where one
source owns ~50% of rows, giving the north rule's "salted
repartitioning for source/doc_id skew" something real to salt against.

At design scale (10^12 sequences) the generator is a single narrow
``range`` scan — embarrassingly parallel, zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

MODULUS = 2147483647  # 2^31 - 1 (Mersenne prime, MINSTD modulus)
VOCAB = 50257
HOURS_PER_YEAR = 365 * 24

# SQL fragments shared verbatim between the Spark plan and the DuckDB
# oracle (__spark_entry__.py) so the two cannot drift apart. `doc_id`
# here is the NUMERIC id.
H1 = f"(doc_id * 48271 + 11) % {MODULUS}"
H2 = f"(doc_id * 16807 + 3) % {MODULUS}"
N_TOK = f"(1 + ({H1}) % 512)"
SRC_ID = f"CAST(FLOOR(LOG2(({H2}) % 1024 + 1)) AS INT)"
START_HOUR = f"(({H2}) % {HOURS_PER_YEAR})"
DUR_HOURS = f"(1 + CAST(FLOOR({N_TOK} / 64) AS INT))"


def token_table(
    spark: SparkSession,
    n_docs: int,
    *,
    partitions: int | None = None,
    doc_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Generate ``n_docs`` deterministic pre-tokenized sequences.

    Columns: doc_id (string), tokens (array<int>), n_tok (int),
    source (string, skewed), start_hour / end_hour (int, closed
    hour-grid interval within one year; duration grows with n_tok).

    ``doc_range=(lo, hi)`` generates only that doc_id slice — the
    batch-ingest path uses it so each batch is a narrow range scan
    rather than a generate-everything-then-filter (which would
    string-round-trip every doc_id at 10^12 scale).
    """
    lo, hi = doc_range if doc_range is not None else (0, n_docs)
    rng = (
        spark.range(lo, hi, 1, partitions)
        if partitions
        else spark.range(lo, hi)
    )
    num = rng.selectExpr("id AS doc_id")
    return num.selectExpr(
        "CAST(doc_id AS STRING) AS doc_id",
        f"transform(sequence(1, {N_TOK}), i -> CAST((({H1}) + i * 69621) % {VOCAB} AS INT)) AS tokens",
        f"CAST({N_TOK} AS INT) AS n_tok",
        f"concat('src_', {SRC_ID}) AS source",
        f"CAST({START_HOUR} AS INT) AS start_hour",
        f"CAST({START_HOUR} + {DUR_HOURS} - 1 AS INT) AS end_hour",
    )


def token_table_oracle_sql(n_docs: int) -> str:
    """DuckDB SQL producing the byte-identical token table, for the
    driver's correctness cross-check."""
    return f"""
        SELECT
            CAST(doc_id AS VARCHAR) AS doc_id,
            list_transform(range(1, {N_TOK} + 1),
                           i -> CAST((({H1}) + i * 69621) % {VOCAB} AS INT)) AS tokens,
            CAST({N_TOK} AS INT) AS n_tok,
            concat('src_', {SRC_ID}) AS source,
            CAST({START_HOUR} AS INT) AS start_hour,
            CAST({START_HOUR} + {DUR_HOURS} - 1 AS INT) AS end_hour
        FROM (SELECT CAST(range AS BIGINT) AS doc_id FROM range({n_docs}))
    """
