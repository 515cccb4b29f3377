"""Known defect (a) of perfbench/NOTES.md: BidLogJob run a second time
over the same input files in one session fails.

The session probe memo in ``operators/skew.py::_probed_key_count`` hands
back the key frame held from the first run, which still carries that
run's ``Observation`` node, so the second run's plan holds two
``bidlog_validation`` observations. The test is a strict xfail: once the
memo is fixed it passes, pytest reports the unexpected pass as a
failure, and the re-run becomes an operation of ``pipeline_daily``.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

from pyspark.errors import AnalysisException  # noqa: E402

import gen  # noqa: E402
from run import stop_session  # noqa: E402


@pytest.fixture
def spark(tmp_path, monkeypatch):
    from adtech_log_data_pipeline_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "spark-local"))
    session = get_spark(
        "perfbench-rerun",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(tmp_path / "warehouse"),
        },
    )
    yield session
    stop_session(session)


@pytest.mark.xfail(raises=AnalysisException, strict=True,
                   reason="operators/skew.py probe memo replays the first run's Observation")
def test_bidlog_job_reruns_over_the_same_files(spark, tmp_path):
    from adtech_log_data_pipeline_spark.jobs import run_bidlog_job
    from adtech_log_data_pipeline_spark.plans.queries import QUERY_THRESHOLDS
    from adtech_log_data_pipeline_spark.sources.protowire import (
        BID_LOG, BID_LOG_SQL_SCHEMA, bidlog_to_row)
    from adtech_log_data_pipeline_spark.sources.tfrecord import read_tfrecord_proto

    day_dir, truth = gen.ensure_day(str(tmp_path / "days"), seed=1, day=1, n_logs=2_000, shards=4)
    glob = os.path.join(day_dir, "tfrecord", "*.tfrecord.gz")
    for attempt in ("first", "rerun"):
        logs = read_tfrecord_proto(spark, glob, BID_LOG, BID_LOG_SQL_SCHEMA, bidlog_to_row)
        try:
            res = run_bidlog_job(spark, logs, output_dir=str(tmp_path / attempt),
                                 thresholds=QUERY_THRESHOLDS, b64_outputs=True)
        except AnalysisException as e:
            # any other analysis error is a new defect, not this one
            assert attempt == "rerun" and "DUPLICATED_METRICS_NAME" in str(e), e
            raise
        assert res.metrics["n_valid"] == truth["n_valid"]
