"""Output checks, run outside the timed region.

* Board queries: the executor-side multiset hash of the Spark result is
  compared with the same hash of the query's DuckDB ``ORACLES`` entry.
  Both use the canonicalization of ``tools/compare.py``, imported, not
  copied. Oracle hashes depend only on the read-only testdata and the
  oracle SQL, so they are cached in the checkout, keyed by both.
* ``pipeline_daily``: the job's drop counters must equal the
  generator's ground truth, and the suspicious and prediction outputs
  must equal a DuckDB restatement over the batch's parquet copy built
  from the ``plans/oracles.py`` CTEs.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from adtech_log_data_pipeline_spark.plans import oracles as engine_oracles
from adtech_log_data_pipeline_spark.sources.bidlogs import bid_logs_cte, iapp_cte
from tools import compare

SF_TABLES = compare.TABLES


class BoardOracle:
    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        if self._con is None:
            self._con = duckdb.connect()
            self._con.execute("SET threads TO 2")
            for t in SF_TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                if os.path.exists(path):
                    self._con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                    )
        return self._con

    def expected(self, name: str, int_cols: frozenset[str]) -> tuple[int, int, list[str]]:
        """(rows, multiset hash, sorted columns) of the oracle's answer."""
        sql = engine_oracles.ORACLES[name]
        key = hashlib.sha256(
            "\x1f".join([sql, self.sf_dir, ",".join(sorted(int_cols))]).encode()
        ).hexdigest()[:20]
        path = os.path.join(self.cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                c = json.load(f)
            return c["n"], c["h"], c["cols"]
        odf = self._connect().execute(sql).fetchdf()
        n, h = compare.multiset_hash_pandas(odf, int_cols)
        cols = sorted(odf.columns)
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"n": n, "h": h, "cols": cols}, f)
        os.replace(tmp, path)
        return n, h, cols

    @staticmethod
    def observe(df) -> tuple[int, int, list[str], frozenset[str]]:
        """Execute ``df`` once; (rows, multiset hash, columns, int columns)."""
        n, h = compare.multiset_hash_spark(df)
        return n, h, sorted(df.columns), compare.spark_int_cols(df)

    def verdict(self, name: str, observed) -> tuple[bool, str]:
        n_s, h_s, cols_s, int_cols = observed
        n_o, h_o, cols_o = self.expected(name, int_cols)
        problems = []
        if n_s != n_o:
            problems.append(f"rows {n_s} vs {n_o}")
        if cols_s != cols_o:
            problems.append(f"cols {cols_s} vs {cols_o}")
        if not problems and h_s != h_o:
            problems.append("multiset-hash mismatch")
        return not problems, "; ".join(problems) or f"{n_s} rows xsum:{h_s:016x}"

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def _parquet_cte(name: str, path: str) -> str:
    return f"\n{name} AS (SELECT * FROM read_parquet('{path}'))"


def _restated(sql: str, day_dir: str) -> str:
    """An engine oracle with its derived bid_logs / iapp CTEs replaced by
    the batch's parquet copy and IAPP dimension."""
    swaps = [
        (bid_logs_cte("duckdb"), _parquet_cte("bid_logs", os.path.join(day_dir, "bid_logs.parquet"))),
        (iapp_cte("duckdb"), _parquet_cte("iapp", os.path.join(day_dir, "iapp.parquet"))),
    ]
    for old, new in swaps:
        if sql.count(old) > 1:
            raise ValueError("derived CTE appears more than once")
        sql = sql.replace(old, new)
    if "_ev AS" in sql:
        raise ValueError("oracle still derives bid_logs from events")
    return sql


def pipeline_oracle_sql(day_dir: str) -> dict[str, str]:
    return {
        "valid": _restated(
            engine_oracles._with(
                bid_logs_cte("duckdb"),
                engine_oracles._VALID,
                select="SELECT count(*) AS n_valid FROM valid_logs",
            ),
            day_dir,
        ),
        "suspicious": _restated(engine_oracles.ORACLES["suspicious_ids"], day_dir),
        "rules": _restated(
            engine_oracles._bidlog_base(
                engine_oracles._SUSPICIOUS_CTES,
                select="""
                SELECT sum(CASE WHEN s.geo_cnt > 30 THEN 1 ELSE 0 END) AS geo_rule,
                       sum(CASE WHEN coalesce(u.unpopular_apps, 0) > 3 THEN 1 ELSE 0 END) AS app_rule,
                       sum(CASE WHEN s.total_bids > 47 THEN 1 ELSE 0 END) AS bid_rule
                FROM dev_stats s LEFT JOIN unpop u USING (os, uuid)""",
            ),
            day_dir,
        ),
        "predictions": _restated(engine_oracles.ORACLES["predictions"], day_dir),
    }


def check_pipeline_day(day_dir: str, out_dir: str, truth: dict, metrics: dict) -> tuple[bool, dict]:
    """Compare one day's job outputs with ground truth and the oracle."""
    sql = pipeline_oracle_sql(day_dir)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        report: dict = {}
        problems = []
        for key in ("n_input", "n_valid", "n_dropped"):
            if metrics.get(key) != truth[key]:
                problems.append(f"{key} {metrics.get(key)} != truth {truth[key]}")
        n_valid_oracle = con.execute(sql["valid"]).fetchone()[0]
        if n_valid_oracle != truth["n_valid"]:
            problems.append(f"oracle n_valid {n_valid_oracle} != truth {truth['n_valid']}")
        geo, app, bid = con.execute(sql["rules"]).fetchone()
        report["rules_fired"] = {"geo": int(geo), "apps": int(app), "bids": int(bid)}
        for name, sub in (("suspicious", "bidlog/suspicious"), ("predictions", "predictions/predictions")):
            want = con.execute(sql[name]).fetchdf()
            got = con.execute(
                f"SELECT * FROM read_parquet('{os.path.join(out_dir, sub)}/*.parquet')"
            ).fetchdf()
            got = got[list(want.columns)] if set(want.columns) <= set(got.columns) else got
            report[name] = len(got)
            if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
                problems.append(f"{name}: {len(got)} rows {sorted(got.columns)} vs {len(want)} {sorted(want.columns)}")
            elif compare.value_hash(got) != compare.value_hash(want):
                problems.append(f"{name}: value-hash mismatch")
        report["problems"] = problems
        return not problems, report
    finally:
        con.close()
