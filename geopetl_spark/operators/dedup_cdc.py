"""LSN-ordered per-key CDC dedup — the engine's core reduction.

The reference's nearest concept is ``increment=True`` re-keying (W3,
``/root/reference/geopetl/oracle_sde.py:987-999``): the last write wins
because the DB key is regenerated per row. The north rule upgrades this to
real change-log semantics: among all events for a key, the one with the
highest (lsn, commit_ts, op) under a **total order** wins — the total order
is what makes checkpointed replay byte-identical (the reference's first-row
payload sniffing, ``oracle_sde.py:872-889``, is the cautionary tale for
order-dependent nondeterminism).

Two physical strategies, same semantics:

* :func:`latest_per_key` — one ``max_by`` aggregation over a struct
  ordering key. The partial aggregate below the single key exchange combines
  map-side, so a hot key reaches its reducer as at most one row per map task:
  skew is bounded without salting. Salting only pays for operators that
  cannot combine (a window, a join); here it would multiply a hot key's
  partial rows instead of dividing them.
* :func:`latest_per_key_window` — the classic
  ``row_number() over (partition by key order by lsn desc ...) = 1`` plan,
  kept for parity testing and for callers that need the loser rows too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def _op_rank_col(op_col: str):
    # op priority breaks exact (lsn, ts) ties deterministically: a delete at
    # the same LSN as an upsert wins (matches "tombstone last" binlog
    # convention).
    return (
        F.when(F.col(op_col) == "D", F.lit(2))
        .when(F.col(op_col) == "U", F.lit(1))
        .otherwise(F.lit(0))
    )


def latest_per_key(
    df: DataFrame,
    key_col: str = "doc_id",
    lsn_col: str = "lsn",
    ts_col: str = "commit_ts",
    op_col: str = "op",
) -> DataFrame:
    """Max-(lsn, commit_ts, op) reduction to one row per key: one shuffle,
    combined map-side. Output schema == input schema, one row per key."""
    order_key = F.struct(
        F.col(lsn_col).cast("long").alias("lsn"),
        (
            # unix_micros needs TIMESTAMP; cast handles TIMESTAMP_NTZ inputs
            # (session TZ pinned to UTC so the conversion is deterministic)
            F.unix_micros(F.col(ts_col).cast("timestamp")) if ts_col in df.columns else F.lit(0)
        ).alias("ts"),
        (_op_rank_col(op_col) if op_col in df.columns else F.lit(0)).alias("op_rank"),
    )
    row = F.struct(*[F.col(c) for c in df.columns])
    return df.groupBy(key_col).agg(F.max_by(row, order_key).alias("_row")).select("_row.*")


def latest_per_key_window(
    df: DataFrame,
    key_col: str = "doc_id",
    lsn_col: str = "lsn",
    ts_col: str = "commit_ts",
    op_col: str = "op",
) -> DataFrame:
    """Window/row_number formulation (single shuffle + per-key sort)."""
    order = [F.col(lsn_col).desc()]
    if ts_col in df.columns:
        order.append(F.col(ts_col).desc())
    if op_col in df.columns:
        order.append(_op_rank_col(op_col).desc())
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_exact_events(df: DataFrame, lsn_col: str = "lsn") -> DataFrame:
    """Drop duplicate deliveries of the same change (identical LSN) — the
    at-least-once-transport cleanup that precedes per-key reduction."""
    return df.dropDuplicates([lsn_col])
