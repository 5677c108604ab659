from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from slr207_mapreduce_spark.session import get_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_session(
        app_name="slr207-tests",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
        },
    )
    yield spark


def explain_shuffles(df) -> int:
    """Count data-shuffle Exchange nodes in the physical plan.
    BroadcastExchange is excluded: broadcasting a dim is the cheap
    alternative to a shuffle, not a shuffle."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    return plan.count("Exchange") - plan.count("BroadcastExchange")
