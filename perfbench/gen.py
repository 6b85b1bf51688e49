"""Seeded, deterministic input generators for the benchmark.

Two families of inputs, both written as parquet (plus one JSON file):

* ``registry_tables(out_dir, sf, seed)`` -- the ten tables the query
  registry reads (``sources.TABLES``): a TPC-H-like star schema, an
  ``events`` stream, a ``documents`` corpus with planted near-duplicates
  and a labelled ``embeddings`` table.  Row counts scale with ``sf`` the
  way the engine's test data does (lineitem = 6M x sf; documents and
  embeddings never below 500 rows).
* ``report_inputs(out_dir, seed)`` -- the native-schema inputs of the
  three CLI jobs: ``hardware_input`` (with a long tail of rare values
  under 1% of clients and the ``0x0`` resolution sentinel),
  ``device_map.json``, ``clients_last_seen`` (with empty, NULL and
  blocklisted ``active_addons``), ``country_names`` and a multi-channel
  ``buildhub2``.

The same seed always yields byte-identical files.  ``cached`` wraps
either generator so a seed is generated once per checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPORT_SIZES = {
    "hardware_weeks": 8,
    "hardware_rows_per_week": 4000,
    "clients": 2500,
    "client_days": 56,
    "buildhub_builds": 1500,
}
SMOKE_REPORT_SIZES = {
    **REPORT_SIZES, "hardware_rows_per_week": 300, "clients": 150, "buildhub_builds": 200,
}

# The user_activity window: eight weeks that include both armagaddon
# weeks the job must drop.
UA_DATE_FROM = "2019-03-25"
UA_DATE_TO = "2019-05-20"
HW_DATE_FROM = "2024-02-26"  # newest generated hardware week
HW_PAST_WEEKS = 3
ANN_DATE_TO = "2019-06-03"

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _days(start: date, n: np.ndarray) -> np.ndarray:
    """Day offsets from ``start`` as naive timestamp[us] values."""
    base = np.datetime64(start.isoformat(), "us")
    return base + n.astype("timedelta64[D]").astype("timedelta64[us]")


def registry_tables(out_dir: str, sf: float, seed: int) -> None:
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_li = max(int(6_000_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    _write(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        f"{out_dir}/region.parquet",
    )
    _write(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        f"{out_dir}/nation.parquet",
    )

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    _write(
        pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        }),
        f"{out_dir}/customer.parquet",
    )
    _write(
        pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        f"{out_dir}/supplier.parquet",
    )
    adjectives = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    nouns = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(
        pa.table({
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(adjectives[rng.integers(0, 8, n_part)], " "),
                nouns[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": ptypes[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }),
        f"{out_dir}/part.parquet",
    )
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    order_span = (date(2001, 8, 1) - date(1995, 1, 1)).days + 1
    _write(
        pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(
                _days(date(1995, 1, 1), rng.integers(0, order_span, n_ord)),
                pa.timestamp("us"),
            ),
            "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
        }),
        f"{out_dir}/orders.parquet",
    )
    ship_span = (date(2001, 11, 4) - date(1995, 1, 2)).days + 1
    _write(
        pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                _days(date(1995, 1, 2), rng.integers(0, ship_span, n_li)),
                pa.timestamp("us"),
            ),
        }),
        f"{out_dir}/lineitem.parquet",
    )

    # events: one month of a Poisson-like stream, event_id in time order.
    span_us = 30 * 86_400 * 1_000_000
    offs = np.unique(rng.integers(0, span_us, n_ev * 2))
    offs = np.sort(rng.choice(offs, n_ev, replace=False))
    _write(
        pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        f"{out_dir}/events.parquet",
    )

    # documents: bag-of-words texts; 5% are an earlier text plus " dup",
    # the planted near-duplicates the dedup queries must find.
    words = np.array(_WORDS)
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in lengths]
    is_dup = rng.random(n_docs) < 0.05
    originals = np.flatnonzero(~is_dup)
    for i in np.flatnonzero(is_dup):
        texts[i] = texts[int(rng.choice(originals))] + " dup"
    langs = np.array(["de", "en", "es", "fr", "zh"])
    lang = langs[rng.choice(5, n_docs, p=[0.1475, 0.41, 0.1475, 0.1475, 0.1475])]
    _write(
        pa.table({
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": lang,
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }),
        f"{out_dir}/documents.parquet",
    )

    # embeddings: unit vectors around ten weak label centroids.
    label = rng.integers(0, 10, n_emb, dtype=np.int32)
    centroids = rng.normal(0.0, 0.07, (10, 64))
    x = rng.normal(0.0, 1.0, (n_emb, 64)) + centroids[label] * 8.0
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(
        pa.table({
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": label,
        }),
        f"{out_dir}/embeddings.parquet",
    )


# --- CLI-job inputs -----------------------------------------------------

_COUNTRIES = {
    "BR": "Brazil", "CN": "China", "FR": "France", "DE": "Germany",
    "IN": "India", "ID": "Indonesia", "IT": "Italy", "PL": "Poland",
    "RU": "Russia", "US": "United States", "CA": "Canada", "JP": "Japan",
    "MX": "Mexico", "ES": "Spain",
}
_LOCALES = ("en-US", "de", "fr", "pt-BR", "zh-CN", "ru", "pl", "it", "es-ES", "id", "ja")
_GOOD_ADDONS = [(f"addon{i}@example.com", f"Addon {i}") for i in range(30)]
_BLOCKED_ADDONS = [
    ("screenshots@mozilla.org", "Screenshots"),
    ("pioneer@shield.mozilla.org", "Pioneer"),
    ("@testpilot-addon", "Test Pilot"),
    ("@activity-streams", "Activity Stream"),
]


def _pick(rng, values, weights, n):
    p = np.asarray(weights, dtype=float)
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p / p.sum())]


def _device_map(rng) -> dict:
    """Raw GPU db shape: vendor -> family -> chipset -> [device ids]."""
    out: dict = {}
    for vendor, families in (("10de", ("Maxwell", "Pascal", "Turing")),
                             ("8086", ("Gen9", "Gen11")),
                             ("1002", ("GCN4", "RDNA2"))):
        out[vendor] = {}
        for f in families:
            out[vendor][f] = {}
            for c in range(2):
                ids = sorted({f"{int(x):04x}" for x in rng.integers(0x1000, 0xffff, 3)})
                out[vendor][f][f"{f[:2].upper()}{c}{vendor[-2:]}"] = ids
    return out


def _hardware_input(rng, device_map: dict, sizes: dict) -> pa.Table:
    n_weeks = sizes["hardware_weeks"]
    per_week = sizes["hardware_rows_per_week"]
    n = n_weeks * per_week
    newest = date.fromisoformat(HW_DATE_FROM)
    week = rng.integers(0, n_weeks, n)
    date_from = np.array(
        [newest - timedelta(weeks=int(w)) for w in range(n_weeks)], dtype=object
    )[week]
    # Frequent values carry most clients; the rare tail values each stay
    # well under 1% of a week's clients so the collapse folds them.
    os_name = _pick(
        rng,
        ["Windows_NT-10.0", "Windows_NT-6.1", "Darwin-22.1", "Linux-6.1",
         "Windows_NT-6.3", "Darwin-19.6", "Linux-5.4", "Windows_NT-5.1", "FreeBSD-13.2"],
        [50, 15, 12, 8, 6, 0.3, 0.3, 0.2, 0.1],
        n,
    )
    arch = _pick(rng, ["x86-64", "x86", "aarch64"], [80, 15, 5], n)
    resolution = _pick(
        rng,
        ["1920x1080", "1366x768", "2560x1440", "1536x864", "3840x2160", "0x0",
         "1280x1024", "800x600", "5120x2880"],
        [40, 20, 12, 10, 8, 3, 0.4, 0.2, 0.1],
        n,
    )
    vendors = [("0x" + v, ["0x" + d for fam in fams.values() for ids in fam.values() for d in ids])
               for v, fams in device_map.items()]
    vendors.append(("0x1414", ["0xfefe", "0x008c"]))
    vendors.append(("0x1234", ["0x1111"]))
    vi = rng.choice(len(vendors), n, p=np.array([40, 35, 20, 4, 1]) / 100)
    gfx_vendor = np.array([vendors[i][0] for i in vi], dtype=object)
    gfx_device = np.array(
        [vendors[i][1][j % len(vendors[i][1])] for i, j in zip(vi, rng.integers(0, 997, n))],
        dtype=object,
    )
    unknown = rng.random(n) < 0.05
    gfx_device[unknown] = "0xdead"
    return pa.table({
        "date_from": pa.array(date_from, pa.date32()),
        "date_to": pa.array([d + timedelta(days=7) for d in date_from], pa.date32()),
        "os": os_name.astype(str),
        "browser_arch": arch.astype(str),
        "is_wow64": rng.random(n) < 0.1,
        "cpu_cores": _pick(rng, [2, 4, 6, 8, 12, 16, 64], [10, 40, 15, 25, 6, 3.7, 0.3], n).astype(np.int64),
        "cpu_vendor": _pick(rng, ["GenuineIntel", "AuthenticAMD", "Other"], [70, 29, 1], n).astype(str),
        "cpu_speed": _pick(rng, ["2.4", "3.0", "3.6", "Other", "5.8"], [30, 30, 25, 14.5, 0.5], n).astype(str),
        "resolution": resolution.astype(str),
        "memory_gb": _pick(rng, [4, 8, 16, 32, 64, 3], [20, 35, 30, 10, 4.5, 0.5], n).astype(np.int64),
        "has_flash": rng.random(n) < 0.3,
        "gfx0_vendor_id": gfx_vendor.astype(str),
        "gfx0_device_id": gfx_device.astype(str),
        "client_count": rng.integers(1, 400, n, dtype=np.int64),
    })


def _clients_last_seen(rng, sizes: dict) -> pa.Table:
    n_clients = sizes["clients"]
    n_days = sizes["client_days"]
    start = date.fromisoformat(UA_DATE_FROM)
    codes = list(_COUNTRIES) + ["XX", "ZZ"]
    client_country = _pick(rng, codes, [6, 5, 5, 8, 6, 4, 4, 4, 4, 5, 10, 3, 3, 3, 2, 2], n_clients)
    # A quarter of clients fall in sample bucket 1, the one the job keeps.
    client_sample = np.where(rng.random(n_clients) < 0.25, 1, rng.integers(0, 100, n_clients))
    client_major = rng.integers(64, 68, n_clients)
    client_locale = _pick(rng, list(_LOCALES), [30, 10, 8, 8, 8, 6, 5, 5, 5, 4, 3], n_clients)
    created_day = rng.integers(-200, n_days, n_clients)
    addons = []
    for c in range(n_clients):
        r = rng.random()
        if r < 0.1:
            addons.append(None)
        elif r < 0.3:
            addons.append([])
        else:
            k = int(rng.integers(1, 5))
            chosen = []
            for _ in range(k):
                u = rng.random()
                if u < 0.15:
                    aid, name = _BLOCKED_ADDONS[int(rng.integers(0, len(_BLOCKED_ADDONS)))]
                    chosen.append((aid, name, False, False))
                else:
                    aid, name = _GOOD_ADDONS[min(int(rng.exponential(6.0)), 29)]
                    chosen.append((aid, name, bool(u > 0.95), bool(0.9 < u <= 0.95)))
            addons.append(chosen)

    rows_client, rows_day, rows_dss = [], [], []
    for c in range(n_clients):
        active = rng.random(n_days) < rng.uniform(0.2, 0.9)
        last = -1000
        for d in range(n_days):
            if active[d]:
                last = d
            dss = d - last
            if dss < 60 and d >= created_day[c]:
                rows_client.append(c)
                rows_day.append(d)
                rows_dss.append(dss)
    ci = np.asarray(rows_client)
    di = np.asarray(rows_day)
    dss = np.asarray(rows_dss, dtype=np.int64)
    n = len(ci)
    seen_bits = rng.integers(0, 1 << 28, n, dtype=np.int64) | (dss == 0).astype(np.int64)
    age = di - created_day[ci]
    created_bits = np.where((age >= 0) & (age < 28), np.left_shift(1, np.clip(age, 0, 27)), 0).astype(np.int64)
    hours = np.round(rng.gamma(1.5, 2.0, n), 3)
    hours[rng.random(n) < 0.01] = 30.0
    struct = pa.struct([
        ("addon_id", pa.string()), ("name", pa.string()),
        ("is_system", pa.bool_()), ("foreign_install", pa.bool_()),
    ])
    addon_col = pa.array(
        [None if addons[c] is None else
         [dict(zip(("addon_id", "name", "is_system", "foreign_install"), a)) for a in addons[c]]
         for c in ci],
        pa.list_(struct),
    )
    return pa.table({
        "submission_date": pa.array([start + timedelta(days=int(d)) for d in di], pa.date32()),
        "client_id": [f"client-{c:06d}" for c in ci],
        "sample_id": client_sample[ci].astype(np.int64),
        "country": client_country[ci].astype(str),
        "days_since_seen": dss,
        "subsession_hours_sum": hours,
        "days_seen_bits": seen_bits,
        "days_created_profile_bits": created_bits,
        "app_version": [f"{m}.0.{p}" for m, p in zip(client_major[ci], rng.integers(0, 3, n))],
        "locale": client_locale[ci].astype(str),
        "active_addons": addon_col,
    })


def _buildhub(rng, sizes: dict) -> pa.Table:
    n = sizes["buildhub_builds"]
    start = datetime(2018, 11, 1)
    span_s = int((datetime(2019, 7, 1) - start).total_seconds())
    ts = np.sort(rng.integers(0, span_s, n))
    when = [start + timedelta(seconds=int(s)) for s in ts]
    channel = _pick(rng, ["release", "beta", "nightly", "esr"], [30, 30, 35, 5], n)
    versions = []
    for w, ch in zip(when, channel):
        # A new release major every six weeks from 63 on Nov 1st 2018;
        # beta/nightly run one/two majors ahead.
        major = 63 + (w - start).days // 42 + {"release": 0, "esr": -3, "beta": 1, "nightly": 2}[ch]
        versions.append(f"{major}.0" + ("" if rng.random() < 0.6 else f".{int(rng.integers(1, 4))}"))
    build_t = pa.struct([
        ("target", pa.struct([("version", pa.string()), ("channel", pa.string())])),
        ("build", pa.struct([("date", pa.timestamp("us"))])),
    ])
    col = pa.array(
        [{"target": {"version": v, "channel": c}, "build": {"date": w}}
         for v, c, w in zip(versions, channel, when)],
        build_t,
    )
    return pa.table({"build": col})


def report_inputs(out_dir: str, seed: int, sizes: dict = REPORT_SIZES) -> None:
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    dmap = _device_map(rng)
    with open(f"{out_dir}/device_map.json", "w") as f:
        json.dump(dmap, f, sort_keys=True)
    _write(_hardware_input(rng, dmap, sizes), f"{out_dir}/hardware_input.parquet")
    _write(_clients_last_seen(rng, sizes), f"{out_dir}/clients_last_seen.parquet")
    _write(
        pa.table({"code": list(_COUNTRIES), "name": list(_COUNTRIES.values())}),
        f"{out_dir}/country_names.parquet",
    )
    _write(_buildhub(rng, sizes), f"{out_dir}/buildhub2.parquet")


def cached(make, out_dir: str, *args) -> str:
    """Runs ``make(tmp, *args)`` once per ``out_dir`` and version of
    this file; a finished directory is published by an atomic rename,
    so an interrupted run never leaves a half-written entry behind."""
    with open(__file__, "rb") as f:
        out_dir = f"{out_dir}-g{hashlib.sha256(f.read()).hexdigest()[:8]}"
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp, *args)
    os.makedirs(os.path.dirname(out_dir), exist_ok=True)
    os.rename(tmp, out_dir)
    return out_dir
