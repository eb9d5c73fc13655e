"""Column-expression helpers (scalar function layer, SURVEY.md §2.9).

These re-express, as pure built-in column expressions, the scalar
semantics of the reference's silver/gold transforms (null-token
standardization, epoch-unit disambiguation, null-safe divide, NaN/Inf
scrubbing — see /root/reference .../Silver_full_load.ipynb:1 (cell 8,
`standardize_data_types`) and Gold_full_load.ipynb:1 (cell 8)).

Everything here stays JVM-side (whole-stage codegen); no Python UDFs.

The ``dsum``/``davg`` helpers exist for *cross-engine exactness*: a
plain SUM over doubles is order-dependent (floating-point addition is
not associative), so a distributed Spark sum and a DuckDB oracle sum of
the same rows can differ in the low bits. Casting each addend to a
fixed-scale decimal makes the aggregation exact and order-independent,
so results are bit-identical across engines and across partitionings —
which also means results are *stable under repartitioning at scale*, a
property worth having at 100 TB regardless of testing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tokens the reference treats as "really null" in string columns
#: (silver_processor.py:170-177; Silver_full_load.ipynb:1 cell 8).
NULL_TOKENS = ("", "NULL", "N/A", "UNKNOWN", "NONE", "#N/A")

#: bigint epoch values above this are nanoseconds, below are seconds
#: (Silver_full_load.ipynb:1 cell 8 magnitude test).
EPOCH_NS_THRESHOLD = 1_000_000_000_000


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Order-independent exact SUM of a double column.

    Casts each value to decimal(27, scale) (sum result gets 10 extra
    digits of precision headroom from Spark's decimal sum promotion)
    and returns the total as double.
    """
    return F.sum(_c(col).cast(f"decimal(27,{scale})")).cast("double").alias(alias)


def davg(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Order-independent AVG: exact decimal sum divided by count, in double.

    The final division is a single IEEE-754 double op on identical
    operands in any engine, hence deterministic.
    """
    total = F.sum(_c(col).cast(f"decimal(27,{scale})")).cast("double")
    return (total / F.count(F.lit(1))).alias(alias)


def dsum_sql(expr: str, alias: str, scale: int = 6) -> str:
    """DuckDB-SQL twin of :func:`dsum`.

    The decimal total goes DOUBLE via a VARCHAR round-trip: DuckDB's
    direct decimal→double divides the int128 by 10^scale in double
    space and can land 1 ulp off the correctly-rounded value on 17+
    significant digits, while its string parse (and the JVM's
    BigDecimal.doubleValue on the Spark side) is correctly rounded —
    the round-trip makes both engines bit-identical at any scale
    factor (observed on q04 at sf0.1)."""
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(27,{scale}))) AS VARCHAR) AS DOUBLE) AS {alias}"


def standardize_key(col: Column | str) -> Column:
    """Business-key normalization: upper(trim) then null-token scrub.

    Reference: Silver_full_load.ipynb:1 (cell 8) `_key` handling.
    """
    c = F.upper(F.trim(_c(col)))
    return F.when(c.isin(*NULL_TOKENS), F.lit(None)).otherwise(c)


def epoch_to_timestamp(col: Column | str) -> Column:
    """Disambiguate a bigint epoch column: magnitude > 1e12 ⇒ nanoseconds,
    else seconds; convert to timestamp.

    Reference: Silver_full_load.ipynb:1 (cell 8, `standardize_data_types`);
    silver_processor.py:143-149.
    """
    c = _c(col)
    # ns → µs must stay in exact integer arithmetic: 2025-era ns epochs
    # (~1.7e18) exceed double's 2^53 integer range, so `c / 1e9` can land
    # on a different microsecond. Decimal division keeps every digit and
    # the decimal→long cast truncates — same semantics as SQL `div`
    # (mirrors sources/parquet.load_table's `ts div 1000`).
    micros = (c.cast("decimal(38,0)") / F.lit(1000)).cast("long")
    return F.when(
        F.abs(c) > F.lit(EPOCH_NS_THRESHOLD),
        F.timestamp_micros(micros),
    ).otherwise(F.timestamp_seconds(c))


#: Naive-epoch literal for TIMESTAMP_NTZ arithmetic (timezone-free).
_NTZ_EPOCH_SQL = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def is_ntz(df, col: str) -> bool:
    """True when ``df[col]`` is TIMESTAMP_NTZ. Parquet files whose
    timestamps carry no timezone annotation read as NTZ under
    ``spark.sql.timestampType=TIMESTAMP_NTZ`` (or inferTimestampNTZ), so
    any epoch arithmetic must branch on the actual column type — a bare
    ``unix_micros`` is an AnalysisException on NTZ input.
    """
    from pyspark.sql.types import TimestampNTZType

    return isinstance(df.schema[col].dataType, TimestampNTZType)


def epoch_micros(col: Column | str, *, ntz: bool = False) -> Column:
    """Microseconds since epoch for either timestamp flavor.

    For TIMESTAMP this is ``unix_micros`` (UTC instant). For
    TIMESTAMP_NTZ it is the timezone-free ``timestampdiff`` from the
    naive epoch — NOT a cast to TIMESTAMP, which would re-interpret the
    wall-clock in the session timezone (and under an NTZ-default session
    ``cast("timestamp")`` resolves back to NTZ anyway). With a UTC
    session both flavors of the same stored parquet value yield the
    same integer, so downstream bucketing/gap math is type-agnostic.
    """
    c = _c(col)
    if ntz:
        return F.timestamp_diff("MICROSECOND", F.expr(_NTZ_EPOCH_SQL), c)
    return F.unix_micros(c)


def scrub_double(col: Column | str) -> Column:
    """NaN / ±Inf → NULL for double columns (silver_processor.py:180-181)."""
    c = _c(col)
    bad = F.isnan(c) | (c == F.lit(float("inf"))) | (c == F.lit(float("-inf")))
    return F.when(bad, F.lit(None)).otherwise(c)


def safe_divide(num: Column | str, den: Column | str, default: float = 0.0) -> Column:
    """Null-safe divide à la DAX DIVIDE(n, d, 0) (README.md:471 measure
    `Achievement %`): returns ``default`` when the denominator is 0 or NULL.
    """
    n, d = _c(num), _c(den)
    return F.when(d.isNull() | (d == 0), F.lit(default)).otherwise(n / d)


def document_category(group_col: Column | str) -> Column:
    """The reference's 4-arm document categorization (Gold_full_load.ipynb:1
    cell 8): 'Invoice'→'Sale', 'Adjustment'→'Adjustment', NULL→'Unclassified',
    anything else passes through.
    """
    g = _c(group_col)
    return (
        F.when(g == "Invoice", F.lit("Sale"))
        .when(g == "Adjustment", F.lit("Adjustment"))
        .when(g.isNull(), F.lit("Unclassified"))
        .otherwise(g)
    )
