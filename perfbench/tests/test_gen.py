"""Checks of the benchmark's own input generator against the engine's
scalar wire codec and TFRecord reader.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import gzip
import io
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

import gen  # noqa: E402
from adtech_log_data_pipeline_spark.sources.protowire import (  # noqa: E402
    BID_LOG, WireError, bidlog_to_row, decode_message)
from adtech_log_data_pipeline_spark.sources.tfrecord import iter_tfrecords  # noqa: E402

N = 3000


@pytest.fixture(scope="module")
def day():
    rows, _universe = gen.make_rows(seed=5, day=1, n_logs=N)
    return rows


def test_well_formed_payloads_decode_field_for_field(day):
    for row in day:
        got = bidlog_to_row(decode_message(gen.encode_bidlog(row), BID_LOG))
        assert got == {c: row[c] for c in gen.BID_LOG_COLUMNS}


def test_truncated_payloads_are_rejected(day):
    for row in day:
        with pytest.raises(WireError):
            decode_message(gen.truncate_in_request(gen.encode_bidlog(row)), BID_LOG)


def test_framing_reads_back_with_crc_checks(day):
    payloads = [gen.encode_bidlog(r) for r in day[:500]] + [b"", b"\x00" * 300]
    raw = gen.frame(payloads)
    assert list(iter_tfrecords(io.BytesIO(raw), verify_crc=True)) == payloads


def test_crc32c_known_value():
    # RFC 3720 test vector: 32 bytes of zeros
    assert int(gen.crc32c_rows([b"\x00" * 32])[0]) == 0x8A9136AA
    assert int(gen.crc32c_rows([b"123456789"])[0]) == 0xE3069283


def test_day_files_and_truth(tmp_path):
    d, truth = gen.ensure_day(str(tmp_path), seed=3, day=2, n_logs=N, shards=8)
    files = sorted(os.listdir(os.path.join(d, "tfrecord")))
    assert len(files) == 8
    payloads = []
    for f in files:
        with open(os.path.join(d, "tfrecord", f), "rb") as fh:
            payloads += list(iter_tfrecords(io.BytesIO(gzip.decompress(fh.read()))))
    assert len(payloads) == truth["n_records"]
    bad = 0
    for p in payloads:
        try:
            decode_message(p, BID_LOG)
        except WireError:
            bad += 1
    assert bad == truth["n_truncated"]
    assert truth["n_input"] == truth["n_records"] - truth["n_truncated"]
    assert truth["n_valid"] + truth["n_dropped"] == truth["n_input"]
    assert set(truth["invalid_by_class"]) == set(gen.INVALID_RATES)
    # same seed, same bytes
    d2, _ = gen.ensure_day(str(tmp_path / "again"), seed=3, day=2, n_logs=N, shards=8)
    for f in files:
        with open(os.path.join(d, "tfrecord", f), "rb") as a, open(os.path.join(d2, "tfrecord", f), "rb") as b:
            assert a.read() == b.read()


def test_invalid_rates_are_near_stated(day):
    counts = {}
    for r in day:
        if r["_invalid"]:
            counts[r["_invalid"]] = counts.get(r["_invalid"], 0) + 1
    for cls, rate in gen.INVALID_RATES.items():
        got = counts.get(cls, 0) / len(day)
        assert abs(got - rate) < 4 * np.sqrt(rate / len(day)) + 0.002, cls


def test_oracle_restatement_reads_the_batch():
    import oracle

    sql = oracle.pipeline_oracle_sql("/x/day001")
    for text in sql.values():
        assert "read_parquet('/x/day001/bid_logs.parquet')" in text
        assert "_ev AS" not in text
    assert "read_parquet('/x/day001/iapp.parquet')" in sql["predictions"]


def test_pipeline_check_flags_a_wrong_output(tmp_path):
    """At the benchmark's day size every suspicious rule fires; the day's
    oracle, written out as the job's outputs, passes, and the same
    outputs with one suspicious device dropped do not."""
    import duckdb

    import oracle

    d, truth = gen.ensure_day(str(tmp_path / "days"), seed=9, day=1, n_logs=20_000, shards=8)
    sql = oracle.pipeline_oracle_sql(d)
    out = tmp_path / "out"
    for name, sub in (("suspicious", "bidlog/suspicious"), ("predictions", "predictions/predictions")):
        (out / sub).mkdir(parents=True)
        duckdb.sql(sql[name]).write_parquet(str(out / sub / "part-0.parquet"))
    counts = {k: truth[k] for k in ("n_input", "n_valid", "n_dropped")}
    ok, report = oracle.check_pipeline_day(d, str(out), truth, counts)
    assert ok, report
    assert min(report["rules_fired"].values()) > 0
    assert report["predictions"] > 0

    part = out / "bidlog" / "suspicious" / "part-0.parquet"
    short = f"SELECT * FROM read_parquet('{part}') LIMIT (SELECT count(*) - 1 FROM read_parquet('{part}'))"
    duckdb.sql(short).write_parquet(str(tmp_path / "short.parquet"))
    os.replace(tmp_path / "short.parquet", part)
    ok, report = oracle.check_pipeline_day(d, str(out), truth, counts)
    assert not ok and "suspicious" in report["problems"][0]
    ok, report = oracle.check_pipeline_day(d, str(out), truth, {**counts, "n_valid": 0})
    assert not ok
