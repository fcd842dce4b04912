"""Z-order data layout: multi-dimensional clustering for file skipping.

The 100 TB problem: parquet min/max row-group stats prune scans only along
the sort dimension. Sorting by ``user_id`` makes ``user_id`` predicates
cheap but leaves ``value`` predicates scanning every file. Interleaving the
bits of both dimensions into one Morton (Z-order) key and range-
partitioning on it clusters BOTH dimensions at once, so each file covers a
small rectangle of (user_id, value) space and selective predicates on
either column skip most files — the same technique as Delta Lake's
``OPTIMIZE ZORDER BY`` and ClickHouse's ``mortonEncode``, expressed here as
plain Catalyst bit arithmetic (no UDF, codegen'd).

Key construction: each dimension is min-max normalized to ``bits`` bits
(rank-normalization would resist skew better; min-max keeps the oracle
twin exactly reproducible in SQL), then bit-interleaved:

    z = sum_i ((a >> i) & 1) << (2i)  |  ((b >> i) & 1) << (2i + 1)

The expression tree is 2*bits OR-terms — well under the codegen limits the
verify notes warn about.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .readers import load_table

ZBITS = 8  # 8 bits/dim = 256x256 grid; plenty for file-level clustering


def interleave_bits(a: Column, b: Column, bits: int = ZBITS) -> Column:
    """Morton-interleave two non-negative integer columns (b gets the odd
    bit positions). Pure Catalyst: shiftright/bitwise ops, codegen'd."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def interleave_bits_sql(a: str, b: str, bits: int = ZBITS) -> str:
    """DuckDB spelling of interleave_bits, generated by the same loop so
    engine and oracle cannot drift."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def _minmax_norm(c: Column, cmin: float, cmax: float, bits: int) -> Column:
    """Normalize to [0, 2^bits - 1] given precomputed min/max literals."""
    top = (1 << bits) - 1
    if cmax <= cmin:
        return F.lit(0).cast("long")
    return F.least(
        F.lit(top).cast("long"),
        F.floor(
            (c.cast("double") - F.lit(float(cmin)))
            / F.lit(float(cmax) - float(cmin))
            * F.lit(float(top + 1))
        ).cast("long"),
    )


def zorder_key_col(
    df: DataFrame, col_a: str, col_b: str, bits: int = ZBITS
) -> Column:
    """The Morton key column for (col_a, col_b) over ``df``'s value range:
    ONE tiny driver-side min/max aggregate (4 doubles — the same pre-pass
    Delta's OPTIMIZE does) folded in as literals, then normalize +
    interleave. Shared by the writer and the oracle-checked key query so
    the written layout and the checked definition cannot drift."""
    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).first()
    return interleave_bits(
        _minmax_norm(F.col(col_a), float(lo_a), float(hi_a), bits),
        _minmax_norm(F.col(col_b), float(lo_b), float(hi_b), bits),
        bits,
    )


def zorder_by(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bits: int = ZBITS,
    num_files: int | None = None,
) -> DataFrame:
    """Return ``df`` arranged in Z-order on (col_a, col_b): rows carry a
    ``zkey`` column and are range-partitioned + sorted by it, so a
    partition-per-file write yields files covering small 2-D rectangles."""
    out = df.withColumn("zkey", zorder_key_col(df, col_a, col_b, bits))
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    return out.repartitionByRange(n, "zkey").sortWithinPartitions("zkey")


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked Z-key construction over events(user_id, value) —
    the same ``zorder_key_col`` the writer uses."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", zorder_key_col(ev, "user_id", "value").alias("zkey")
    )


def _oracle_zorder_key() -> str:
    """The oracle computes the same min/max bounds with scalar subqueries
    (the Spark side folds them in as literals — same values), so it stays
    one self-contained statement."""
    norm_u = (
        f"least(CAST({(1 << ZBITS) - 1} AS BIGINT), CAST(floor("
        f"(CAST(user_id AS DOUBLE) - (SELECT min(user_id) FROM events)) / "
        f"((SELECT max(user_id) FROM events) - (SELECT min(user_id) FROM events)) "
        f"* {float(1 << ZBITS)!r}) AS BIGINT))"
    )
    norm_v = (
        f"least(CAST({(1 << ZBITS) - 1} AS BIGINT), CAST(floor("
        f"(CAST(value AS DOUBLE) - (SELECT min(value) FROM events)) / "
        f"((SELECT max(value) FROM events) - (SELECT min(value) FROM events)) "
        f"* {float(1 << ZBITS)!r}) AS BIGINT))"
    )
    return f"""
WITH n AS (
  SELECT event_id, {norm_u} AS nu, {norm_v} AS nv FROM events
)
SELECT event_id, {interleave_bits_sql('nu', 'nv')} AS zkey FROM n
"""


ORACLE_ZORDER_KEY = _oracle_zorder_key()
