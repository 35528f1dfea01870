"""Batch ETL orchestrator — the Spark analog of
``BlockchainETLPipeline.run`` (reference etl_pipeline.py:380-446).

One lazy DAG: bronze events -> {decode_transfers, parse_swaps,
engineer_transactions} -> aggregate_by_block, with the canonical analytics
SQL *executed* over the registered views (the reference only emits the SQL
text, :431-437). Catalyst fuses/prunes across the whole graph; nothing is
materialized until the caller acts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.swaps import parse_swaps
from .operators.transfers import decode_transfers
from .operators.tx_features import aggregate_by_block, engineer_transactions
from .plans.queries import SWAP_PRICE_IMPACT_SQL, TRANSFER_VOLUME_SQL


def lift_transactions(events: DataFrame) -> DataFrame:
    """transaction events -> flat payload + envelope columns
    (etl_pipeline.py:421-425).

    Only the transaction payload fields are lifted — with the wide
    PAYLOAD_UNION schema the log-only fields (topics, data, ...) would
    otherwise leak into the transactions table as NULL columns, diverging
    from the reference's tx frame shape.
    """
    from .schemas import TRANSACTION_PAYLOAD

    tx = events.filter(F.col("event_type") == "transaction")
    available = set(tx.schema["payload"].dataType.fieldNames())
    payload_fields = [f.name for f in TRANSACTION_PAYLOAD if f.name in available]
    return tx.select(
        *[F.col("payload")[f].alias(f) for f in payload_fields],
        "block_number",
        F.timestamp_seconds(F.col("block_timestamp")).alias("block_timestamp"),
        "chain_id",
    )


def run_batch(
    spark: SparkSession,
    events: DataFrame,
    run_sql: bool = True,
) -> dict[str, DataFrame | str]:
    """Mirror of the reference run() contract (etl_pipeline.py:439-446):
    keys transfers / swaps / transactions / block_agg + the two canonical
    queries — here as live DataFrames (``transfer_volume`` /
    ``swap_price_impact``) alongside their SQL texts.  ``run_sql=False``
    registers no temp views and runs neither query (a table-only job such
    as the backfill)."""
    transfers = decode_transfers(events)
    swaps = parse_swaps(events)
    tx = engineer_transactions(lift_transactions(events))
    block_agg = aggregate_by_block(tx)

    out: dict[str, DataFrame | str] = {
        "transfers": transfers,
        "swaps": swaps,
        "transactions": tx,
        "block_agg": block_agg,
        "transfer_sql": TRANSFER_VOLUME_SQL,
        "swap_sql": SWAP_PRICE_IMPACT_SQL,
    }

    if run_sql:
        transfers.createOrReplaceTempView("token_transfers")
        swaps.createOrReplaceTempView("defi_swaps")
        tx.createOrReplaceTempView("transactions")
        block_agg.createOrReplaceTempView("block_agg")
        out["transfer_volume"] = spark.sql(TRANSFER_VOLUME_SQL)
        out["swap_price_impact"] = spark.sql(SWAP_PRICE_IMPACT_SQL)

    return out
