"""Suspicious-device (bot) detection — SuspiciousIDs (reference:
transforms/SuspiciousIDs.java:23-110; thresholds MyOptions.java:28-54;
SURVEY.md §2 F8/J1/R1).

Rules (a device is suspicious if ANY fires; reference early-returns so each
id is emitted at most once — here a single boolean disjunction per row):
  (a) it appears in more than GEO_COUNT_THRESHOLD distinct geos
  (b) it has more than APP_COUNT_THRESHOLD apps that are NOT popular
      (popular = user_count > USER_COUNT_THRESHOLD in AppProfiles)
  (c) its total bid count across all apps/exchanges exceeds
      BID_LOG_COUNT_THRESHOLD

The rules are written once, in `score_devices`, over the (stats, apps)
relations of operators/device_profile.py; the nested and flat entry points
differ only in which producer they call. The popular-apps side input (Beam
View.asList) becomes a plain left-anti join that Catalyst broadcasts from
its size estimate — the dimension is small (distinct bundles), so no
shuffle of the device side; at 100 TB the detail side streams through
map-side-only stages.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .device_profile import profile_relations, valid_relations


@dataclass(frozen=True)
class SuspiciousThresholds:
    """Defaults per reference MyOptions.java:28-54."""

    user_count: int = 4  # popularity cut for AppProfiles
    app_count: int = 3  # max unpopular apps
    geo_count: int = 8  # max distinct geos
    bid_log_count: int = 10  # max total bids


def score_devices(
    stats: DataFrame,
    apps: DataFrame,
    user_counts: DataFrame,
    t: SuspiciousThresholds,
) -> DataFrame:
    """`stats` plus a `suspicious` boolean column. `user_counts` holds
    (bundle, user_count) — the AppProfiles side input."""
    popular = user_counts.filter(F.col("user_count") > t.user_count).select("bundle")
    unpopular_counts = (
        apps.join(popular, "bundle", "left_anti")
        .groupBy("os", "uuid")
        .agg(F.count(F.lit(1)).alias("unpopular_apps"))
    )
    return (
        stats.join(unpopular_counts, ["os", "uuid"], "left")
        .withColumn("unpopular_apps", F.coalesce(F.col("unpopular_apps"), F.lit(0)))
        .withColumn(
            "suspicious",
            (F.col("geo_cnt") > t.geo_count)
            | (F.col("unpopular_apps") > t.app_count)
            | (F.col("total_bids") > t.bid_log_count),
        )
    )


def app_user_counts(apps: DataFrame) -> DataFrame:
    """(bundle, user_count) from a device-app relation — AppProfiles'
    user-count leg without the nested detour."""
    return apps.groupBy("bundle").agg(F.countDistinct("os", "uuid").alias("user_count"))


def suspicious_ids(
    profiles: DataFrame,
    app_profiles: DataFrame,
    thresholds: SuspiciousThresholds = SuspiciousThresholds(),
) -> DataFrame:
    """Return the suspicious DeviceIds as (os, uuid).

    `profiles` is the nested DeviceProfile frame; `app_profiles` the nested
    AppProfile frame (J4: the aggregate side is broadcast back onto the
    per-device side, mirroring the reference's side-input pattern).
    """
    stats, apps = profile_relations(profiles)
    scored = score_devices(stats, apps, app_profiles, thresholds)
    return scored.filter("suspicious").select("os", "uuid")


def suspicious_ids_from_valid(
    valid_logs: DataFrame,
    thresholds: SuspiciousThresholds = SuspiciousThresholds(),
) -> DataFrame:
    """suspicious_ids straight from the flat validated rows — identical
    output to suspicious_ids(device_profiles(v), app_profiles(...)) (oracle-
    and test-checked) with no nested arrays."""
    stats, apps = valid_relations(valid_logs)
    scored = score_devices(stats, apps, app_user_counts(apps), thresholds)
    return scored.filter("suspicious").select("os", "uuid")
