"""The session defaults that let a repeated query reuse its compiled
classes and keep plan building to the Py4J calls it needs."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import py4j.clientserver
import pyspark.errors.utils
from pyspark.sql import functions as F

from bench import consume
from martian_moments_spark.plans import load_all
from martian_moments_spark.session import CODEGEN_CACHE_ENTRIES

from tests.conftest import SF_DIR_SMALL

# The 12 floor-bound headline queries (perfbench's headline_relational).
HEADLINE_RELATIONAL = (
    "asof_join_last_purchase", "daily_activity", "gap_detection_anti_join",
    "json_path_extract", "merge_upsert", "pricing_summary", "shipping_priority_topk",
    "tpch_q10_returned_items", "tpch_q18_large_volume_customers", "travel_correlation",
    "tumbling_window_agg", "validation_gaps",
)


def test_repeated_headline_pass_compiles_no_class(spark):
    # The 12 queries need ~153 generated classes. Under Spark's default
    # 100-entry cache the LRU evicts each one before its next use, and
    # every pass recompiles ~141 of them.
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    registry = load_all()
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run_pass() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for name in HEADLINE_RELATIONAL:
            consume(registry[name].fn(spark, SF_DIR_SMALL))
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    run_pass()
    assert run_pass() == 0


def test_column_building_skips_call_site_capture(spark, monkeypatch):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    # PySpark reads the conf once per process; re-read it from the
    # fixture's session whatever ran first.
    monkeypatch.setattr(pyspark.errors.utils, "_enable_debugging_cache", None)
    assert not pyspark.errors.utils.is_debugging_enabled()
    sent = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    F.col("a").cast("long").alias("b")
    monkeypatch.undo()
    # 35 commands with call-site capture on.
    assert len(sent) <= 5


def test_python_workers_import_the_package_from_outside_the_checkout(tmp_path):
    # A driver that finds the package through sys.path alone, started
    # from a directory outside the checkout: the Python workers inherit
    # neither, so a UDF that imports the package needs get_spark to put
    # it on their path.
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from martian_moments_spark.session import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1)

        @F.pandas_udf("string")
        def package_name(s: pd.Series) -> pd.Series:
            import martian_moments_spark
            return s.map(lambda _: martian_moments_spark.__name__)

        print(spark.range(1).select(package_name("id")).first()[0])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "martian_moments_spark"
