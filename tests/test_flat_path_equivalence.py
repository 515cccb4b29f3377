"""The scale-optimized flat-path operators must produce exactly the same
results as the nested reference-shaped pipeline (profiles -> explode)."""

import os

from adtech_log_data_pipeline_spark.operators import (
    SuspiciousThresholds,
    app_profile_slots_from_valid,
    app_profiles,
    device_profiles,
    feature_inputs,
    feature_pipeline_from_valid,
    flatten_app_profiles,
    suspicious_ids,
    suspicious_ids_from_valid,
    valid_bid_logs,
)
from adtech_log_data_pipeline_spark.plans.queries import QUERY_THRESHOLDS
from adtech_log_data_pipeline_spark.sources.bidlogs import load_bid_logs, load_iapp

SF = "/root/testdata/sf0.001"
# sf0.001 flags every device under every threshold set below, which would
# leave the feature comparison two empty frames; sf0.01 keeps devices
SF_RULES = os.path.join(os.path.dirname(SF), "sf0.01")
T = SuspiciousThresholds(user_count=5, app_count=3, geo_count=10, bid_log_count=30)
THRESHOLDS = [SuspiciousThresholds(), QUERY_THRESHOLDS, T]


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_app_profile_paths_equal(spark):
    v = valid_bid_logs(load_bid_logs(spark, SF))
    nested = flatten_app_profiles(app_profiles(device_profiles(v)))
    flat = app_profile_slots_from_valid(v)
    assert rows(nested) == rows(flat)


def test_suspicious_paths_equal(spark):
    v = valid_bid_logs(load_bid_logs(spark, SF_RULES))
    p = device_profiles(v)
    for t in THRESHOLDS:
        nested = suspicious_ids(p, app_profiles(p), t)
        flat = suspicious_ids_from_valid(v, t)
        assert rows(nested) == rows(flat), t


def test_feature_paths_equal(spark):
    v = valid_bid_logs(load_bid_logs(spark, SF_RULES))
    p = device_profiles(v)
    iapp = load_iapp(spark, SF_RULES)
    kept = 0
    for t in THRESHOLDS:
        nested = rows(feature_inputs(p, suspicious_ids(p, app_profiles(p), t), iapp))
        assert nested == rows(feature_pipeline_from_valid(v, iapp, t)), t
        kept += len(nested)
    assert kept
