import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from repurpose_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="repurpose_spark_tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )
    yield s
    s.stop()


@pytest.fixture
def write_batch():
    """fn(wh, df, table, batch_id, partition_by) commits ``df`` as batch
    ``batch_id``'s ``batch_id=<b>/`` slice of ``table`` — the hourly
    tier's batch commit (``TierPipeline._write_tiers``)."""
    from pyspark.sql import functions as F

    def write(wh, df, table, batch_id, partition_by):
        wh.overwrite_partitions(
            df.withColumn("batch_id", F.lit(batch_id)), table,
            ["batch_id", *partition_by], metrics={"batch_id": batch_id},
            touched_partitions=[{"batch_id": batch_id}],
        )

    return write
