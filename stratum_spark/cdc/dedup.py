"""Last-writer-wins dedup on (key, lsn) -- the engine's one window op.

Generalizes the reference's idempotence invariant ("a re-fetched row is
applied once": cascade dedup crates/engine-processing/src/producer/
components/integrity.rs:121-130; resume no-dupes assertions
crates/engine-tests/src/resume.rs:50-127) to: of all change events for a
key in a batch, only the highest-LSN one takes effect.

* `lww_dedup` (the engine's LWW, every epoch and every read-merge):
  groupBy(key).agg(max_by(struct, lsn)). A hash aggregate with map-side
  partial aggregation -- hot keys are pre-combined per input partition
  BEFORE the shuffle, so a doc_id with 10^6 events in a batch ships
  ~n_partitions partial rows, not 10^6. This is the "salted-key skew
  splitting" requirement solved structurally: partial agg is exactly a
  salt-by-input-partition two-phase merge, chosen by Spark's planner for
  every hash aggregate. It keeps exactly one row per key, so its output
  is (key, lsn)-unique.

* `lww_dedup_window` (row_number over partitionBy(key) orderBy lsn desc)
  and `lww_dedup_salted` (explicit two-phase salting): reference
  formulations kept for parity tests.

Ties on lsn (at-least-once re-emission of identical events) are broken
arbitrarily -- duplicates carry identical payloads by contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lww_dedup(df: DataFrame, key: str = "doc_id", order_col: str = "lsn") -> DataFrame:
    """Keep the row with max(order_col) per key. Columns preserved in order."""
    cols = df.columns
    row = F.max_by(F.struct(*cols), F.col(order_col)).alias("__row")
    return df.groupBy(key).agg(row).select(*[F.col(f"__row.{c}").alias(c) for c in cols])


def lww_dedup_window(df: DataFrame, key: str = "doc_id", order_col: str = "lsn") -> DataFrame:
    """row_number()==1 over (partition by key order by lsn desc) -- parity
    formulation; prefer lww_dedup on skewed feeds."""
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")
    )


def lww_dedup_salted(
    df: DataFrame, key: str = "doc_id", order_col: str = "lsn", n_salts: int = 16
) -> DataFrame:
    """Explicit salted two-phase LWW (the hand-rolled skew splitting the
    north-star names): phase 1 reduces per (key, salt) where salt =
    pmod(order_col, n_salts), phase 2 reduces the <= n_salts survivors per
    key. Semantically identical to lww_dedup; kept to make the salting
    strategy explicit/testable -- lww_dedup's partial aggregation achieves
    the same two-phase shape automatically."""
    cols = df.columns
    salt = F.pmod(F.col(order_col), F.lit(n_salts)).alias("__salt")
    row = F.max_by(F.struct(*cols), F.col(order_col)).alias("__row")
    phase1 = (
        df.withColumn("__salt", salt)
        .groupBy(key, "__salt")
        .agg(row)
        .select(*[F.col(f"__row.{c}").alias(c) for c in cols])
    )
    return (
        phase1.groupBy(key)
        .agg(F.max_by(F.struct(*cols), F.col(order_col)).alias("__row"))
        .select(*[F.col(f"__row.{c}").alias(c) for c in cols])
    )
