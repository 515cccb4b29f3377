"""Seeded BidLog day-batch generator for the ``pipeline_daily`` workload.

Writes one "day" of gzip TFRecord shards of serialized BidLog protos, a
parquet copy of the well-formed rows (the bid_logs schema of FIXTURES.md
section 1), the in-app-purchase dimension and the batch's ground-truth
counts. The proto wire encoder and the TFRecord framing (masked CRC32C)
here are written independently of the engine's ``sources/`` package, so
that a codec change in the engine cannot change the benchmark's input.

Traffic shape (all rates are per well-formed log unless stated):

* logs per device follow a Zipf law (numpy ``zipf(a=1.8)``, capped at
  300), so a heavy head of devices trips the ``total_bids > 47`` rule;
* 3% of devices are roamers (uniform over 174 country/region pairs, with
  36-46 logs each) and trip ``geo_cnt > 30``;
* 3% of devices are explorers that use 5-8 tail bundles and trip
  ``unpopular_apps > 3``;
* other devices use 1-3 bundles of a Zipf-ranked popular pool, with a
  10% chance of one tail bundle, so most of them survive to the feature
  stage;
* about 2/3 of all generated bundles are in the IAPP dimension;
* invalid-row classes follow FIXTURES.md section 1, one clause per row,
  at the rates in ``INVALID_RATES`` (about 17% of rows in total);
* 0.1% of the framed payloads are cut inside ``bid_request`` and are
  therefore malformed proto bytes;
* each batch is split round-robin into ``shards`` files.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import struct

import numpy as np

#: invalid-row classes (FIXTURES.md section 1) and their rates
INVALID_RATES = {
    "exchange_unknown": 0.010,
    "bid_result_unknown": 0.010,
    "bid_price_mismatch": 0.010,
    "received_at_zero": 0.003,
    "processed_not_after_received": 0.010,
    "device_os_invalid": 0.050,
    "device_ifa_malformed": 0.020,
    "app_bundle_blank": 0.020,
    "geo_country_blank": 0.020,
    "geo_region_blank": 0.020,
}
TRUNCATED_RATE = 0.001
ROAMER_RATE = 0.03
EXPLORER_RATE = 0.03
POPULAR_POOL = 300
EXCHANGES = (1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 21, 22)
COUNTRIES = ("USA", "usa", "CAN", "GBR", "IND", "BRA")
REGIONS = tuple(f"r{i}" for i in range(29))
OS_SPELLINGS = {"ANDROID": ("android", "Android", "ANDROID"), "IOS": ("ios", "iOS", "IOS")}
BAD_OS = ("iios", "", "And", "windows")
BAD_IFA = ("v", "", "not-a-uuid")
BLANKS = ("", " ", "\t")
DAY_MS = 86_400_000
EPOCH_MS = 1_700_000_000_000
#: part of every cached day's directory name, so that a changed generator
#: never reuses days written by an older one
with open(__file__, "rb") as _f:
    SOURCE_HASH = hashlib.sha256(_f.read()).hexdigest()[:12]


# --- proto wire encoding (proto3: default-valued scalars are omitted) -----


def _varint(value: int) -> bytes:
    if value < 0:
        value += 1 << 64
    out = bytearray()
    while value > 0x7F:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value)
    return bytes(out)


def _int_field(num: int, value: int) -> bytes:
    return _varint(num << 3) + _varint(value) if value else b""


def _len_field(num: int, data: bytes) -> bytes:
    return _varint((num << 3) | 2) + _varint(len(data)) + data


def _str_field(num: int, value: str) -> bytes:
    return _len_field(num, value.encode()) if value else b""


def encode_bidlog(row: dict) -> bytes:
    """BidLog wire bytes (bid.proto): bid_request{id=1, app=4{bundle=8},
    device=5{geo=4{country=3, region=4}, os=14, ifa=20}}=1, exchange=2,
    received_at=3, processed_at=4, bid_result=5, bid_price=6."""
    geo = _str_field(3, row["geo_country"]) + _str_field(4, row["geo_region"])
    device = (
        (_len_field(4, geo) if geo else b"")
        + _str_field(14, row["device_os"])
        + _str_field(20, row["device_ifa"])
    )
    app = _str_field(8, row["app_bundle"])
    request = (
        _str_field(1, row["bid_id"])
        + (_len_field(4, app) if app else b"")
        + (_len_field(5, device) if device else b"")
    )
    return (
        _len_field(1, request)
        + _int_field(2, row["exchange"])
        + _int_field(3, row["received_at"])
        + _int_field(4, row["processed_at"])
        + _int_field(5, row["bid_result"])
        + _int_field(6, row["bid_price"])
    )


def truncate_in_request(payload: bytes) -> bytes:
    """Cut a payload inside its bid_request field: the field-1 length
    prefix then claims more bytes than remain, which no proto parser may
    accept."""
    if payload[:1] != b"\x0a":  # field 1, wire type 2
        raise ValueError("payload does not start with bid_request")
    pos, length, shift = 1, 0, 0
    while True:
        b = payload[pos]
        length |= (b & 0x7F) << shift
        pos += 1
        shift += 7
        if not b & 0x80:
            break
    return payload[: pos + length // 2]


# --- TFRecord framing: masked CRC32C (Castagnoli, reflected 0x82F63B78) ---


def _crc_table() -> np.ndarray:
    table = np.arange(256, dtype=np.uint32)
    for _ in range(8):
        table = np.where(table & 1, (table >> 1) ^ np.uint32(0x82F63B78), table >> 1)
    return table.astype(np.uint32)


_CRC = _crc_table()


def crc32c_rows(items: list[bytes]) -> np.ndarray:
    """CRC32C of every byte string, walking all of them one byte position
    at a time (rows shorter than the position keep their value)."""
    n = len(items)
    lens = np.fromiter(map(len, items), np.int64, n)
    width = int(lens.max()) if n else 0
    mat = np.zeros((n, max(width, 1)), np.uint8)
    for i, it in enumerate(items):
        mat[i, : len(it)] = np.frombuffer(it, np.uint8)
    crc = np.full(n, 0xFFFFFFFF, np.uint32)
    for j in range(width):
        step = _CRC[(crc ^ mat[:, j]) & 0xFF] ^ (crc >> np.uint32(8))
        crc = np.where(lens > j, step, crc)
    return crc ^ np.uint32(0xFFFFFFFF)


def masked(crc: np.ndarray) -> np.ndarray:
    c = crc.astype(np.uint64)
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def frame(payloads: list[bytes]) -> bytes:
    headers = [struct.pack("<Q", len(p)) for p in payloads]
    hcrc = masked(crc32c_rows(headers))
    pcrc = masked(crc32c_rows(payloads))
    out = []
    for h, hc, p, pc in zip(headers, hcrc, payloads, pcrc):
        out += [h, struct.pack("<I", int(hc)), p, struct.pack("<I", int(pc))]
    return b"".join(out)


# --- traffic ----------------------------------------------------------------


def _uuid(rng: np.random.Generator) -> str:
    h = rng.bytes(16).hex()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _bundles(n_tail: int) -> tuple[list[str], list[str]]:
    popular = [f"com.pop{i}" for i in range(POPULAR_POOL)]
    # case-sensitive near-duplicates: "Com.pop7" is a distinct bundle
    popular += [f"Com.pop{i}" for i in range(0, POPULAR_POOL, 50)]
    tail = [f"app.tail{i}" for i in range(n_tail)]
    return popular, tail


def make_rows(seed: int, day: int, n_logs: int) -> tuple[list[dict], list[str]]:
    """The day's logs (before truncation) in generation order, each with
    an ``_invalid`` class name or None, plus the day's bundle universe."""
    rng = np.random.default_rng([seed, day])
    n_dev = max(n_logs // 8, 10)
    popular, tail = _bundles(max(n_logs // 20, 50))
    pop_w = 1.0 / np.arange(1, len(popular) + 1) ** 0.8
    pop_w /= pop_w.sum()

    per_dev = np.minimum(rng.zipf(1.8, n_dev), 300)
    kind = rng.random(n_dev)
    roamer = kind < ROAMER_RATE
    explorer = (kind >= ROAMER_RATE) & (kind < ROAMER_RATE + EXPLORER_RATE)
    per_dev[roamer] = rng.integers(36, 47, int(roamer.sum()))
    # scale the count vector so the day holds about n_logs rows
    scale = n_logs / per_dev.sum()
    per_dev = np.maximum((per_dev * scale).round().astype(np.int64), 1)
    per_dev[roamer] = np.minimum(np.maximum(per_dev[roamer], 36), 46)

    base = EPOCH_MS + day * DAY_MS
    n = int(per_dev.sum())
    dev = np.repeat(np.arange(n_dev), per_dev)
    seq = np.arange(n) - np.repeat(np.cumsum(per_dev) - per_dev, per_dev)
    is_ios = rng.random(n_dev) < 0.4
    uuids = [_uuid(rng) for _ in range(n_dev)]
    dev_apps: list[list[str]] = []
    dev_geos: list[list[tuple[str, str]] | None] = []
    for d in range(n_dev):
        if explorer[d]:
            apps = list(rng.choice(tail, int(rng.integers(5, 9)), replace=False))
        else:
            apps = list(rng.choice(popular, int(rng.integers(1, 4)), p=pop_w))
            if rng.random() < 0.1:
                apps.append(tail[int(rng.integers(len(tail)))])
        dev_apps.append([str(a) for a in apps])
        dev_geos.append(None if roamer[d] else [
            (COUNTRIES[int(rng.integers(6))], REGIONS[int(rng.integers(29))])
            for _ in range(int(rng.integers(1, 4)))
        ])
    u_app = rng.random(n)
    u_geo = rng.random(n)
    any_geo = rng.integers(6 * 29, size=n)
    exchange = np.asarray(EXCHANGES)[rng.integers(len(EXCHANGES), size=n)]
    result = rng.integers(1, 5, size=n)
    price = np.where(result == 1, rng.integers(1, 10_000, size=n), 0)
    ts = base + rng.integers(DAY_MS, size=n)
    proc = ts + rng.integers(1, 5000, size=n)
    spelling = rng.integers(3, size=n)
    upper = rng.random(n) < 0.5
    tag = rng.integers(1 << 30, size=n)
    rows: list[dict] = []
    for i in range(n):
        d = int(dev[i])
        apps, geos = dev_apps[d], dev_geos[d]
        if geos is None:
            g = int(any_geo[i])
            country, region = COUNTRIES[g // 29], REGIONS[g % 29]
        else:
            country, region = geos[int(u_geo[i] * len(geos))]
        uid = uuids[d]
        rows.append(
            {
                "bid_id": f"id{d:06d}-{int(seq[i]):05d}-{int(tag[i]):x}",
                "exchange": int(exchange[i]),
                "bid_result": int(result[i]),
                "bid_price": int(price[i]),
                "received_at": int(ts[i]),
                "processed_at": int(proc[i]),
                "device_os": OS_SPELLINGS["IOS" if is_ios[d] else "ANDROID"][int(spelling[i])],
                "device_ifa": uid.upper() if upper[i] else uid,
                "app_bundle": apps[int(u_app[i] * len(apps))],
                "geo_country": country,
                "geo_region": region,
                "_invalid": None,
            }
        )
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]

    classes = list(INVALID_RATES)
    cuts = np.cumsum([INVALID_RATES[c] for c in classes])
    draw = rng.random(len(rows))
    for row, u in zip(rows, draw):
        i = int(np.searchsorted(cuts, u, side="right"))
        if i < len(classes):
            _make_invalid(row, classes[i], rng)
    return rows, popular + tail


def _make_invalid(row: dict, cls: str, rng: np.random.Generator) -> None:
    row["_invalid"] = cls
    if cls == "exchange_unknown":
        row["exchange"] = 0
    elif cls == "bid_result_unknown":
        row["bid_result"], row["bid_price"] = 0, 0
    elif cls == "bid_price_mismatch":
        row["bid_price"] = 0 if row["bid_result"] == 1 else 7
    elif cls == "received_at_zero":
        row["received_at"] = 0
    elif cls == "processed_not_after_received":
        row["processed_at"] = row["received_at"] - int(rng.integers(0, 5))
    elif cls == "device_os_invalid":
        row["device_os"] = BAD_OS[int(rng.integers(len(BAD_OS)))]
    elif cls == "device_ifa_malformed":
        row["device_ifa"] = BAD_IFA[int(rng.integers(len(BAD_IFA)))]
    elif cls == "app_bundle_blank":
        row["app_bundle"] = BLANKS[int(rng.integers(len(BLANKS)))]
    elif cls == "geo_country_blank":
        row["geo_country"] = BLANKS[int(rng.integers(len(BLANKS)))]
    elif cls == "geo_region_blank":
        row["geo_region"] = BLANKS[int(rng.integers(len(BLANKS)))]


def iapp_rows(universe: list[str], seed: int) -> list[dict]:
    """About 2/3 of the bundle universe plus 10% bundles never bid on."""
    rng = np.random.default_rng([seed, 1 << 20])
    keep = [b for b in universe if rng.random() < 2 / 3]
    extra = [f"org.iapp{i}" for i in range(len(universe) // 10)]
    return [
        {
            "bundle": b,
            "num_purchasers": int(rng.integers(1, 26)),
            "total_amount": 17 + 10 * int(rng.integers(0, 100)),
        }
        for b in keep + extra
    ]


BID_LOG_COLUMNS = (
    "bid_id", "exchange", "bid_result", "bid_price", "received_at",
    "processed_at", "device_os", "device_ifa", "app_bundle", "geo_country",
    "geo_region",
)


def write_day(out_dir: str, seed: int, day: int, n_logs: int, shards: int) -> dict:
    """Write one day batch under ``out_dir`` and return its ground truth:

    ``tfrecord/part-XXXXX.tfrecord.gz`` (the job input), ``bid_logs.parquet``
    (well-formed rows), ``iapp.parquet`` and ``truth.json``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows, universe = make_rows(seed, day, n_logs)
    rng = np.random.default_rng([seed, day, 7])
    truncated = rng.random(len(rows)) < TRUNCATED_RATE
    payloads = []
    for row, cut in zip(rows, truncated):
        p = encode_bidlog(row)
        payloads.append(truncate_in_request(p) if cut else p)

    tf_dir = os.path.join(out_dir, "tfrecord")
    os.makedirs(tf_dir, exist_ok=True)
    for s in range(shards):
        data = frame(payloads[s::shards])
        with open(os.path.join(tf_dir, f"part-{s:05d}.tfrecord.gz"), "wb") as f:
            f.write(gzip.compress(data, compresslevel=6, mtime=0))

    kept = [r for r, cut in zip(rows, truncated) if not cut]
    table = pa.table(
        {c: [r[c] for r in kept] for c in BID_LOG_COLUMNS},
        schema=pa.schema(
            [
                (c, pa.int32() if c in ("exchange", "bid_result", "bid_price")
                 else pa.int64() if c.endswith("_at") else pa.string())
                for c in BID_LOG_COLUMNS
            ]
        ),
    )
    pq.write_table(table, os.path.join(out_dir, "bid_logs.parquet"))
    iapp = iapp_rows(universe, seed)
    pq.write_table(
        pa.table(
            {k: [r[k] for r in iapp] for k in ("bundle", "num_purchasers", "total_amount")},
            schema=pa.schema(
                [("bundle", pa.string()), ("num_purchasers", pa.int64()),
                 ("total_amount", pa.int64())]
            ),
        ),
        os.path.join(out_dir, "iapp.parquet"),
    )
    by_class: dict[str, int] = {}
    for r in kept:
        if r["_invalid"]:
            by_class[r["_invalid"]] = by_class.get(r["_invalid"], 0) + 1
    n_input = len(kept)
    truth = {
        "seed": seed,
        "day": day,
        "n_records": len(rows),
        "n_truncated": int(truncated.sum()),
        "n_input": n_input,
        "n_valid": n_input - sum(by_class.values()),
        "n_dropped": sum(by_class.values()),
        "invalid_by_class": by_class,
        "shards": shards,
        "tfrecord_bytes": sum(
            os.path.getsize(os.path.join(tf_dir, f)) for f in os.listdir(tf_dir)
        ),
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


def ensure_day(cache_root: str, seed: int, day: int, n_logs: int, shards: int) -> tuple[str, dict]:
    """The day's directory under ``cache_root``, generated on first use
    and keyed by the generator's source. A finished directory holds
    ``truth.json``; a partial one is rebuilt."""
    import shutil

    d = os.path.join(cache_root, f"s{seed}-n{n_logs}-k{shards}-g{SOURCE_HASH}", f"day{day:03d}")
    truth_path = os.path.join(d, "truth.json")
    if os.path.exists(truth_path):
        with open(truth_path) as f:
            return d, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    truth = write_day(tmp, seed, day, n_logs, shards)
    os.rename(tmp, d)
    return d, truth
