"""Independent last-writer-wins oracle and order-independent digests.

The oracle is plain Spark SQL over the raw generated inputs — it never
calls the engine. Final state per key is the payload of the event with
the highest LSN (base rows sit below every event); a key whose winner
is a delete is absent. A digest is (row count, sum and xor of a
per-row 64-bit hash over every column, token arrays included), so it
does not depend on row order or partitioning.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAYLOAD = ["doc_id", "tokens", "n_tok", "source", "lang"]


def _canon(df: DataFrame, *extra) -> DataFrame:
    """Project to the current (v3) table shape with pinned types,
    followed by any ``extra`` columns."""
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("tokens").cast("array<int>").alias("tokens"),
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("source").cast("string").alias("source"),
        F.col("lang").cast("string").alias("lang"),
        *extra,
    )


def winners(spark: SparkSession, events: DataFrame, base: DataFrame | None = None) -> DataFrame:
    """Per key, the winning change: columns PAYLOAD + lsn + op. ``base``
    rows (doc_id, tokens, n_tok, source) enter as upserts at LSN -1."""
    ev = events.select(*PAYLOAD, "lsn", "op")
    if base is not None:
        ev = ev.unionByName(
            base.select(
                "doc_id", "tokens", "n_tok", "source",
                F.lit(None).cast("string").alias("lang"),
                F.lit(-1).cast("long").alias("lsn"),
                F.lit("U").alias("op"),
            ),
            allowMissingColumns=False,
        )
    name = f"pb_events_{id(ev)}"
    ev.createOrReplaceTempView(name)
    return spark.sql(
        f"""
        SELECT * EXCEPT (rn) FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn
          FROM {name}
        ) WHERE rn = 1
        """
    )


def final_state(win: DataFrame) -> DataFrame:
    return _canon(win.filter(F.col("op") != "D"))


def net_changes(spark: SparkSession, events: DataFrame, after_lsn: int, upto_lsn: int) -> DataFrame:
    """Net change per key over the events with LSN in (after, upto]:
    the winner's payload, its LSN and upsert/delete."""
    span = events.filter((F.col("lsn") > after_lsn) & (F.col("lsn") <= upto_lsn))
    w = winners(spark, span)
    return _canon(
        w,
        F.col("lsn").alias("_lsn"),
        F.when(F.col("op") == "D", "delete").otherwise("upsert").alias("_change_type"),
    )


def spark_digest(df: DataFrame, cols: list[str]) -> tuple[int, str, int]:
    h = F.xxhash64(*[F.col(c) for c in cols])
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("s"),
        F.bit_xor(h).alias("x"),
    ).collect()[0]
    return int(r["n"]), str(r["s"] or 0), int(r["x"] or 0)


def row_digest(rows) -> str:
    """Digest of collected rows (lookups, aggregates): order-free."""
    canon = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()
