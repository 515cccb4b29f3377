"""Per-device profile aggregation — the reference's core combine
(reference: Combine.perKey(mergeDps) at jobs1/BidLogJob.java:119-121;
merge laws in utils/DeviceProfileUtils.java:186-240).

Beam folds one unit-profile per log through an associative merge. The
Spark-native shape is a two-level hash aggregation over the flat validated
rows — no UDAF, no per-row profile objects:

  level 1: groupBy(os, uuid, bundle, exchange)  -> per-exchange counts +
           time bounds (partial/map-side combine happens automatically)
  level 2: groupBy(os, uuid, bundle)            -> AppActivity rows with a
           sorted count_per_exchange map
  level 3: groupBy(os, uuid)                    -> nested DeviceProfile
           (apps array + distinct geo set + profile time bounds)

The first shuffle does the heavy cardinality reduction (bid-log rows ->
device-app-exchange); levels 2-3 re-shuffle already-aggregated data whose
size is bounded by devices x apps. At 100 TB the win over collect_list-of-
raw-rows is exactly this early partial aggregation. Skewed hot devices are
handled by AQE skew splitting on the first exchange.

Merge-law fidelity (DeviceProfileUtils.java):
  * first_at = min, last_at = max at every level (mergeApps :186-197)
  * count_per_exchange = key-wise sum (:191-195) — here count(*) of the
    finest grouping, summed by construction
  * geos deduplicated as a set, case-SENSITIVE (:215-221,234-236)
  * bundles case-SENSITIVE, uuid canonicalized upper before grouping
Arrays are sort_array'd so downstream comparisons are order-insensitive
(the reference compares outputs as sets — judge/__TestHelper.java:42-75).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# DeviceProfile nested schema (FIXTURES.md §2):
#   os, uuid, first_at, last_at,
#   apps: array<struct<bundle, first_at, last_at, count_per_exchange: map<int,int>>>
#   geos: array<struct<country, region>>


# Apps-per-device materialization cap (SURVEY.md §4's 100 TB note): the
# nested `apps` array is the ONE unbounded-per-row collection in the parity
# aggregation — a bot-like device with 10^5 distinct bundles would blow the
# row. The default keeps every honest device intact by orders of magnitude
# (synthetic data peaks at ~30 apps/device; real devices at ~10^2-10^3) and
# exists so the worst row is bounded, with truncation OBSERVABLE via
# plans/audits.py::q_profile_cap_audit — the same no-silent-caps law the
# dedup band buckets follow.
DEFAULT_PROFILE_APP_CAP = 10_000


def device_profiles(
    valid_logs: DataFrame, max_apps_per_device: int | None = None
) -> DataFrame:
    """Build nested DeviceProfiles from validated bid logs (columns os, uuid,
    app_bundle, exchange, received_at, geo_country, geo_region).

    `max_apps_per_device`: bound the materialized `apps` array to the N
    most-active apps (ties broken by bundle — deterministic). The cap
    truncates ONLY the array: device-level first_at/last_at/geos still
    aggregate over ALL apps (reference bounds semantics,
    DeviceProfileUtils.java:206-240, are never altered by the cap).
    None (default) skips the ranking window entirely — no extra sort."""
    flat = valid_logs.select(
        "os",
        "uuid",
        F.col("app_bundle").alias("bundle"),
        "exchange",
        "received_at",
        F.col("geo_country").alias("country"),
        F.col("geo_region").alias("region"),
    )

    # the geo set rides through every aggregation level (set-union =
    # distinct of the flattened partials), so profiles are ONE scan and one
    # cascading shuffle tree — a second scan + join-back for geos would
    # read the validated input twice. The level-0 reduce groups by the geo
    # columns too: a pure codegen hash agg does the big row reduction, and
    # collect_set (an object agg that falls back to sort-based beyond 128
    # in-memory groups) only ever runs over the already-tiny relation.
    level0 = flat.groupBy(
        "os", "uuid", "bundle", "exchange", "country", "region"
    ).agg(
        F.count(F.lit(1)).cast("int").alias("cnt"),
        F.min("received_at").alias("first_at"),
        F.max("received_at").alias("last_at"),
    )

    per_exchange = level0.groupBy("os", "uuid", "bundle", "exchange").agg(
        F.sum("cnt").cast("int").alias("cnt"),
        F.min("first_at").alias("first_at"),
        F.max("last_at").alias("last_at"),
        F.collect_set(F.struct("country", "region")).alias("geos"),
    )

    apps = per_exchange.groupBy("os", "uuid", "bundle").agg(
        F.min("first_at").alias("first_at"),
        F.max("last_at").alias("last_at"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("exchange", "cnt")))
        ).alias("count_per_exchange"),
        F.array_distinct(F.flatten(F.collect_list("geos"))).alias("geos"),
    )

    app_struct = "struct(bundle, first_at, last_at, count_per_exchange)"
    if max_apps_per_device is not None:
        # rank apps per device by activity (desc), bundle (asc) — one
        # window over the already device×app-bounded relation — and
        # collect only the top-N into the array. collect_list skips the
        # NULLs the CASE produces for over-cap rows, while min/max/geos
        # below still see every row: bounds stay exact under truncation.
        from pyspark.sql import Window

        w = Window.partitionBy("os", "uuid").orderBy(
            F.desc("app_total"), F.asc("bundle")
        )
        apps = (
            apps.withColumn(
                "app_total",
                F.expr(
                    "aggregate(map_values(count_per_exchange), 0L,"
                    " (acc, x) -> acc + x)"
                ),
            )
            .withColumn("__rk", F.row_number().over(w))
            .drop("app_total")
        )
        app_struct = (
            f"CASE WHEN __rk <= {int(max_apps_per_device)} THEN {app_struct} END"
        )

    # sort_array can't order structs that contain maps; sort by the (unique)
    # bundle key with an explicit comparator instead.
    app_level = apps.groupBy("os", "uuid").agg(
        F.min("first_at").alias("first_at"),
        F.max("last_at").alias("last_at"),
        F.expr(
            f"array_sort(collect_list({app_struct}),"
            " (l, r) -> CASE WHEN l.bundle < r.bundle THEN -1"
            " WHEN l.bundle > r.bundle THEN 1 ELSE 0 END)"
        ).alias("apps"),
        F.sort_array(F.array_distinct(F.flatten(F.collect_list("geos")))).alias(
            "geos"
        ),
    )

    return app_level


# The device rules (suspicious.py, features.py) read two narrow relations
# that both the nested profiles and the flat validated logs produce:
#   stats: os, uuid, first_at, app_count, geo_cnt, total_bids
#   apps:  os, uuid, bundle — one row per device-app
# Each rule is written once over them; Catalyst prunes whatever a caller
# leaves unread.


def profile_relations(profiles: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(stats, apps) read off nested DeviceProfiles; stats also passes
    last_at through for the profile summary query."""
    stats = profiles.select(
        "os",
        "uuid",
        "first_at",
        "last_at",
        F.size("apps").alias("app_count"),
        F.size("geos").alias("geo_cnt"),
        F.expr(
            "aggregate(apps, 0L, (acc, a) -> acc +"
            " aggregate(map_values(a.count_per_exchange), 0L, (x, y) -> x + y))"
        ).alias("total_bids"),
    )
    apps = profiles.select("os", "uuid", F.explode(F.col("apps.bundle")).alias("bundle"))
    return stats, apps


def valid_relations(valid_logs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(stats, apps) straight from validated logs, no nested arrays: stats
    is one hash aggregate per device (each valid row is one bid, and geo
    fields are never null after validation, so countDistinct is the geo
    set size); apps is held because the popularity count, the anti join
    and the IAPP intersection all read it."""
    from ..functions._cache import hold

    stats = valid_logs.groupBy("os", "uuid").agg(
        F.min("received_at").alias("first_at"),
        F.countDistinct("app_bundle").cast("int").alias("app_count"),
        F.countDistinct("geo_country", "geo_region").alias("geo_cnt"),
        F.count(F.lit(1)).alias("total_bids"),
    )
    # lazy hold: the first consumer's action fills the cache (see hold())
    apps = hold(
        valid_logs.select("os", "uuid", F.col("app_bundle").alias("bundle")).distinct()
    )
    return stats, apps


def flatten_device_profiles(profiles: DataFrame) -> DataFrame:
    """Re-flatten nested profiles to (os, uuid, bundle, exchange, cnt,
    app_first_at, app_last_at, first_at, last_at) rows — the hashable
    projection used for oracle comparison (nested maps don't hash portably
    across engines; the flattening is lossless for app/exchange data)."""
    a = F.explode("apps").alias("app")
    exploded = profiles.select(
        "os", "uuid", "first_at", "last_at", a
    ).select(
        "os",
        "uuid",
        "first_at",
        "last_at",
        F.col("app.bundle").alias("bundle"),
        F.col("app.first_at").alias("app_first_at"),
        F.col("app.last_at").alias("app_last_at"),
        F.explode("app.count_per_exchange").alias("exchange", "cnt"),
    )
    return exploded
