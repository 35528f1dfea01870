"""Backfill job: block-range pruned batch over bronze -> parquet outputs."""

from scripts.backfill import run_backfill

from .conftest import make_transaction_message, make_transfer_message


class TestBackfill:
    def test_range_filtered_outputs(self, spark, tmp_path):
        msgs = [
            make_transfer_message(block_number=100 + i, log_index=i) for i in range(10)
        ] + [
            make_transaction_message(block_number=100 + i, nonce=i) for i in range(10)
        ]
        src = tmp_path / "input.jsonl"
        src.write_text("\n".join(msgs))
        spark.catalog.dropTempView("token_transfers")

        counts = run_backfill(
            spark, str(src), str(tmp_path / "out"),
            start_block=103, end_block=106, is_json=True,
        )
        assert counts["transfers"] == 4   # blocks 103..106
        assert counts["transactions"] == 4
        assert counts["block_agg"] == 4
        assert counts["swaps"] == 0
        # a table-only job: run_batch(run_sql=False) registers no views
        assert not spark.catalog.tableExists("token_transfers")

        out = spark.read.parquet(str(tmp_path / "out" / "transfers"))
        blocks = {r["block_number"] for r in out.collect()}
        assert blocks == {103, 104, 105, 106}
