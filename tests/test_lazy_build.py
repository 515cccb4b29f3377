"""Building the suspicious-ID and feature operators is pure plan
construction: no Spark job may fire until the caller runs an action.
Catalyst and AQE choose the lookup joins' strategy at execution time,
so the build has nothing to probe."""

from adtech_log_data_pipeline_spark.operators import (
    SuspiciousThresholds,
    app_profiles,
    device_profiles,
    feature_inputs,
    feature_pipeline_from_valid,
    suspicious_ids,
    suspicious_ids_from_valid,
    valid_bid_logs,
)
from tests.conftest import bid_log, bid_logs_df


def _job_ids(spark) -> set[int]:
    sc = spark.sparkContext
    # job events reach the status tracker through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return set(sc.statusTracker().getJobIdsForGroup())


def test_building_lookup_operators_fires_no_spark_job(spark):
    rows = [
        bid_log(
            bid_id=f"b{i}",
            device_ifa=f"abcdefa{i % 4}-1234-5678-9abc-def012345678",
            app_bundle=f"app.{i % 3}",
        )
        for i in range(24)
    ]
    v = valid_bid_logs(bid_logs_df(spark, rows))
    iapp = spark.createDataFrame(
        [("app.0", 5, 100)], "bundle string, num_purchasers long, total_amount long"
    )
    t = SuspiciousThresholds(user_count=1)
    profiles = device_profiles(v)
    aps = app_profiles(profiles)

    before = _job_ids(spark)
    susp = suspicious_ids(profiles, aps, t)
    feature_inputs(profiles, susp, iapp)
    suspicious_ids_from_valid(v, t)
    feature_pipeline_from_valid(v, iapp, t)
    assert _job_ids(spark) == before
