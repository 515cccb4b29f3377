"""Skew-resistant aggregation — the salting pattern for hot keys
(SURVEY.md §4 scale notes: "salt the bundle aggregation if app popularity
is skewed"; AQE skew-join handles joins, but a single hot GROUP BY key
still funnels into one reducer for non-algebraic aggregates).

``salted_count_distinct`` demonstrates the two-phase shape for the
engine's hottest real case — distinct users per (possibly viral) app:

  phase 1: groupBy(key, salt = hash(value) % n) -> partial distinct count
           (each hot key spreads over n reducers; distinct sets are
           disjoint across salts BECAUSE the salt is derived from the
           value, so phase 2 may simply SUM)
  phase 2: groupBy(key) -> sum of partial counts

For algebraic aggregates (sum/count/min/max) Spark's built-in partial
aggregation already neutralizes skew; salting matters exactly for
distinct-style state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _free_col(name: str, *dfs: DataFrame) -> str:
    """A column name not present in any of ``dfs`` — internal helper
    columns (_salt, _partial) must never capture or clobber a user
    column of the same name; the join/filter would turn ambiguous or
    silently drop user data."""
    taken = {c for df in dfs for c in df.columns}
    while name in taken:
        name = "_" + name
    return name


def salted_count_distinct(
    df: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    n_salts: int = 16,
    alias: str = "n_distinct",
) -> DataFrame:
    """Exact distinct count of `value_cols` tuples per `key_cols` group,
    skew-spread over `n_salts` reducers. Equivalent to
    groupBy(keys).agg(countDistinct(values)) for any input (test-checked);
    use when a handful of keys hold a large share of the rows."""
    sc, pc = _free_col("_salt", df), _free_col("_partial", df)
    salt: Column = F.pmod(F.hash(*[F.col(c) for c in value_cols]), F.lit(n_salts))
    partial = (
        df.select(*key_cols, *value_cols)
        .withColumn(sc, salt)
        .groupBy(*key_cols, sc)
        .agg(F.countDistinct(*value_cols).alias(pc))
    )
    return partial.groupBy(*key_cols).agg(F.sum(pc).alias(alias))


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-spread equi-join for a too-big-to-broadcast build side with hot
    keys: fact rows get a random-ish salt derived from the WHOLE row hash
    (deterministic, no rand() — rerun-stable), the dim side replicates
    once per salt, and the join keys on (key, salt) so one hot key spreads
    over ``n_salts`` reducers instead of funneling into one.

    Use when AQE's skew-join split can't help: AQE splits oversized
    PARTITIONS after the shuffle, but a single key whose hash bucket
    exceeds every split threshold (or a sort-merge join disabled by AQE
    constraints) still hot-spots. Cost: the dim side shuffles n_salts x
    its size — only worth it for dimension tables well under the fact's
    hot-key mass. `how` supports inner/left (the salted dim is a pure
    replication, so multiplicity is preserved exactly).

    Equivalence to the plain join is test-checked for every `how`."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    fact_cols = [c for c in facts.columns]
    sc = _free_col("_salt", facts, dim)
    salt = F.pmod(F.hash(*[F.col(c) for c in fact_cols]), F.lit(n_salts))
    f = facts.withColumn(sc, salt)
    d = dim.crossJoin(
        F.broadcast(
            facts.sparkSession.range(n_salts).select(
                F.col("id").cast("int").alias(sc)
            )
        )
    )
    out = f.join(d, [key, sc], how)
    return out.drop(sc)


def skew_report(
    df: DataFrame, key_cols: list[str], top_n: int = 5
) -> DataFrame:
    """Hot-key diagnosis — the report you run BEFORE choosing a salting
    or AQE strategy for a 100 TB join/aggregation: the top-N heaviest
    keys with their row share and their load factor versus a perfectly
    uniform key distribution.

    Output (rank, key, n_rows, share_ppm, skew_vs_mean_r6):
      - share_ppm: exact integer floor of rows*1e6/total;
      - skew_vs_mean_r6: n_rows / (total / n_keys) — "this key carries
        Nx the average key's load". Computed as double(n_rows) * n_keys
        / total: the int->double conversions are exact below 2^53 and
        the multiply+divide is the same two-IEEE-op sequence in both
        engines (an int64 product would overflow at ~1e9 keys x 1e9
        rows).

    Scale shape: one hash aggregation keyed on the (possibly skewed!)
    key — safe because count is algebraic, partial-aggregated map-side;
    the top-N is TakeOrdered (limit + sort pushed into a per-partition
    heap, no global sort shuffle); totals ride a broadcast 1-row
    aggregate. Rows with a NULL key component are excluded."""
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
    rows = df
    for c in key_cols:
        rows = rows.filter(F.col(c).isNotNull())
    counts = rows.select(key.alias("key")).groupBy("key").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    from ..functions._cache import hold

    counts = hold(counts)
    totals = counts.agg(
        F.sum("n_rows").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    top = counts.orderBy(F.col("n_rows").desc(), "key").limit(top_n)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("n_rows").desc(), "key")
    return (
        top.crossJoin(F.broadcast(totals))
        .select(
            F.row_number().over(w).alias("rank"),
            "key",
            "n_rows",
            F.expr("(n_rows * 1000000) div total").alias("share_ppm"),
            F.round(
                F.col("n_rows").cast("double")
                * F.col("n_keys")
                / F.col("total"),
                6,
            ).alias("skew_vs_mean_r6"),
        )
    )
