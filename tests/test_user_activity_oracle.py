"""Independent DuckDB oracle for ``user_activity_weekly``.

``oracle_sql`` is a plain-SQL translation of the reference's 26-CTE
DAG in its original shape: eight separately aggregated branches
(mau_wau, daily_usage, intensity, new_profile_rate,
latest_version_ratio, top addons, has_addon, top locales) joined on
(week_start, country_name). The Spark pipeline must return the same
rows, floats compared at 12 significant digits (the summation order of
doubles differs between the engines), on three inputs:

- the hand fixture of ``test_user_activity_pipeline``;
- an edge-case fixture (NULL client, duplicate client-day, one client
  in two countries, groups dropped or kept by the inner-join keys,
  all-NULL bit fields, empty and NULL addon arrays, top-K ties at the
  cut);
- a seeded random fixture of a few hundred rows.

Both engines read the same parquet files written by Spark.
"""

from __future__ import annotations

import random
from datetime import date, datetime, timedelta

from pyspark.sql import Row

from firefox_public_data_report_etl_spark.plans.user_activity_pipeline import (
    ADDON_BLOCKLIST,
    ARMAGADDON_WEEKS,
    COUNTRY_ALLOWLIST,
    user_activity_weekly,
)

from tests.test_user_activity_pipeline import (
    BLOCKED,
    CLIENTS_SCHEMA,
    GOOD1,
    GOOD2,
    SYS1,
    _buildhub,
    _clients,
    _countries,
)

BUILDHUB_SCHEMA = (
    "build struct<target: struct<version string, channel string>,"
    " build: struct<date timestamp>>"
)

OUTPUT_COLUMNS = [
    "submission_date",
    "country_name",
    "mau",
    "avg_hours_usage_daily",
    "intensity",
    "new_profile_rate",
    "latest_version_ratio",
    "top_addons",
    "has_addon_ratio",
    "top_locales",
]


def _sql_list(values) -> str:
    return ", ".join(f"'{v}'" for v in values)


def oracle_sql(date_from: str, date_to: str, tz: str) -> str:
    """The 8-branch DAG over views ``clients``, ``countries`` and
    ``buildhub``. ``tz`` is the Spark session time zone: Spark writes
    timestamps as UTC instants and ``to_date`` reads them back in the
    session zone."""
    addon_ok = " AND ".join(
        ["is_system = false", "foreign_install = false"]
        + [f"addon_id NOT LIKE '{p}'" for p in ADDON_BLOCKLIST]
    )
    armagaddon = ", ".join(f"DATE '{d.isoformat()}'" for d in ARMAGADDON_WEEKS)
    return f"""
WITH fanned AS (
  SELECT *, unnest([country, 'Worldwide']) AS country_group FROM clients
),
sample AS (
  SELECT submission_date,
         CAST(date_trunc('week', submission_date) AS DATE) AS week_start,
         dayofweek(submission_date) = 0 AS is_last_day_of_week,
         days_since_seen,
         coalesce(n.name, f.country_group) AS country_name,
         subsession_hours_sum, days_seen_bits, days_created_profile_bits,
         client_id, app_version, locale, active_addons
  FROM fanned f LEFT JOIN countries n ON f.country_group = n.code
  WHERE coalesce(n.name, f.country_group) IN ({_sql_list(COUNTRY_ALLOWLIST)})
    AND submission_date >= DATE '{date_from}'
    AND submission_date < DATE '{date_to}'
    AND subsession_hours_sum < 24
    AND sample_id = 1
),
last_day AS (SELECT * FROM sample WHERE is_last_day_of_week),
mau_wau AS (
  SELECT week_start, country_name,
         count(DISTINCT CASE WHEN days_since_seen < 28 THEN client_id END) AS mau,
         count(DISTINCT CASE WHEN days_since_seen < 7 THEN client_id END) AS wau
  FROM last_day GROUP BY week_start, country_name
),
by_user AS (
  SELECT client_id, country_name, week_start,
         avg(subsession_hours_sum) AS avg_hours_usage_daily_per_user
  FROM sample WHERE days_since_seen = 0
  GROUP BY client_id, country_name, week_start
  HAVING avg(subsession_hours_sum) < 24
),
daily_usage AS (
  SELECT week_start, country_name,
         avg(avg_hours_usage_daily_per_user) AS avg_hours_usage_daily
  FROM by_user GROUP BY week_start, country_name
),
intensity AS (
  SELECT week_start, country_name,
         CAST(sum(bit_count(days_seen_bits & 127)) AS DOUBLE)
           / nullif(count(*), 0) AS intensity
  FROM last_day WHERE days_since_seen < 7
  GROUP BY week_start, country_name
),
new_profile_rate AS (
  SELECT week_start, country_name,
         CAST(count(CASE WHEN days_created_profile_bits != 0
                          AND bit_count((days_created_profile_bits
                                         & -days_created_profile_bits) - 1) < 7
                         THEN 1 END) AS DOUBLE)
           / nullif(count(CASE WHEN days_seen_bits != 0
                                AND bit_count((days_seen_bits & -days_seen_bits) - 1) < 7
                               THEN 1 END), 0) AS new_profile_rate
  FROM last_day GROUP BY week_start, country_name
),
active_weekly AS (
  SELECT country_name, client_id, week_start,
         TRY_CAST(regexp_extract(app_version, '^(\\d+)', 1) AS INTEGER) AS major_version,
         submission_date - CAST(days_since_seen AS INTEGER) AS last_day_seen
  FROM last_day WHERE days_since_seen < 7 AND client_id IS NOT NULL
),
builds AS (
  SELECT CAST(timezone('{tz}', timezone('UTC', build.build.date)) AS DATE) AS day,
         build.target.channel AS channel,
         TRY_CAST(regexp_extract(build.target.version, '^(\\d+)', 1) AS INTEGER) AS major
  FROM buildhub
),
latest_releases AS (
  SELECT day, max(major) AS latest_major_version
  FROM builds WHERE channel = 'release' AND day >= DATE '2018-12-01'
  GROUP BY day
),
with_latest AS (
  SELECT client_id, country_name, major_version, week_start,
         max(latest_major_version) AS latest_major_version
  FROM active_weekly JOIN latest_releases ON day <= last_day_seen
  GROUP BY client_id, country_name, major_version, week_start
),
latest_version_ratio AS (
  SELECT week_start, country_name,
         CAST(count(CASE WHEN major_version = latest_major_version THEN 1 END) AS DOUBLE)
           / nullif(count(*), 0) AS latest_version_ratio
  FROM with_latest GROUP BY week_start, country_name
),
sample_addons AS (
  SELECT week_start, country_name, client_id,
         a.is_system AS is_system, a.foreign_install AS foreign_install,
         a.addon_id AS addon_id, a.name AS addon_name
  FROM (
    SELECT *, unnest(CASE WHEN len(active_addons) > 0 THEN active_addons
                          ELSE [NULL] END) AS a
    FROM last_day WHERE days_since_seen < 7
  )
),
addon_ratios AS (
  SELECT week_start, country_name, addon_name,
         count(DISTINCT CASE WHEN {addon_ok} THEN client_id END) / any_value(wau) AS ratio
  FROM sample_addons JOIN mau_wau USING (week_start, country_name)
  GROUP BY week_start, country_name, addon_id, addon_name
),
top_addons AS (
  SELECT week_start, country_name,
         list_slice(list({{'addon_name': addon_name, 'ratio': ratio}}
                         ORDER BY ratio DESC, addon_name DESC NULLS LAST), 1, 10)
           AS top_addons
  FROM addon_ratios GROUP BY week_start, country_name
),
has_addon AS (
  SELECT week_start, country_name,
         count(DISTINCT CASE WHEN {addon_ok} THEN client_id END)
           / count(DISTINCT client_id) AS has_addon_ratio
  FROM sample_addons GROUP BY week_start, country_name
),
locale_ratios AS (
  SELECT week_start, country_name, locale,
         count(DISTINCT client_id) / any_value(wau) AS ratio
  FROM last_day JOIN mau_wau USING (week_start, country_name)
  WHERE days_since_seen < 7
  GROUP BY week_start, country_name, locale
),
top_locales AS (
  SELECT week_start, country_name,
         list_slice(list({{'locale': locale, 'ratio': ratio}}
                         ORDER BY ratio DESC, locale DESC NULLS LAST), 1, 5)
           AS top_locales
  FROM locale_ratios GROUP BY week_start, country_name
)
SELECT week_start AS submission_date, country_name, mau,
       avg_hours_usage_daily, intensity, new_profile_rate,
       latest_version_ratio, top_addons, has_addon_ratio, top_locales
FROM mau_wau
JOIN daily_usage USING (week_start, country_name)
JOIN intensity USING (week_start, country_name)
JOIN new_profile_rate USING (week_start, country_name)
JOIN latest_version_ratio USING (week_start, country_name)
JOIN top_addons USING (week_start, country_name)
JOIN top_locales USING (week_start, country_name)
JOIN has_addon USING (week_start, country_name)
WHERE week_start NOT IN ({armagaddon})
"""


def _canon(v):
    if isinstance(v, float):
        return float(f"{v:.12g}")
    if isinstance(v, dict):  # DuckDB struct
        return tuple(_canon(x) for x in v.values())
    if isinstance(v, (list, tuple)):  # Spark Row (struct) or array
        return tuple(_canon(x) for x in v)
    return v


def _release(version, channel, when):
    return Row(build=Row(target=Row(version=version, channel=channel),
                         build=Row(date=when)))


def _compare(spark, tmp_path, clients, countries, buildhub, date_from, date_to):
    import duckdb

    con = duckdb.connect()
    for name, df in (("clients", clients), ("countries", countries),
                     ("buildhub", buildhub)):
        path = str(tmp_path / name)
        df.write.mode("overwrite").parquet(path)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}/*.parquet'")
    tz = spark.conf.get("spark.sql.session.timeZone")
    cur = con.execute(oracle_sql(date_from, date_to, tz))
    assert [d[0] for d in cur.description] == OUTPUT_COLUMNS
    want = sorted((_canon(r) for r in cur.fetchall()), key=repr)

    out = user_activity_weekly(
        spark.read.parquet(str(tmp_path / "clients")),
        spark.read.parquet(str(tmp_path / "countries")),
        spark.read.parquet(str(tmp_path / "buildhub")),
        date_from=date_from,
        date_to=date_to,
    )
    assert out.columns == OUTPUT_COLUMNS
    got = sorted((_canon(tuple(r)) for r in out.collect()), key=repr)
    assert got == want
    return got


def test_oracle_hand_fixture(spark, tmp_path):
    got = _compare(spark, tmp_path, _clients(spark), _countries(spark),
                   _buildhub(spark), "2018-12-31", "2025-01-01")
    assert len(got) == 3


# Edge-case fixture: week 2024-01-01 (Sunday 2024-01-07).
SUNDAY = date(2024, 1, 7)
WEDNESDAY = date(2024, 1, 3)
WEEK = date(2024, 1, 1)
# Twelve plain addons "Addon 01".."Addon 12" for the top-K cut.
ADDONS = [(f"a{i:02d}@example.com", f"Addon {i:02d}", False, False)
          for i in range(1, 13)]


def _edge_clients(spark):
    rows = [
        # NULL client: one by_user group, counted in intensity and
        # new_profile_rate, never in the distinct counts.
        (SUNDAY, None, 1, "US", 0, 2.0, 3, 1, "100.0", "en-US", [GOOD1]),
        # Duplicate client-day row: counted twice in the row ratios.
        (SUNDAY, "e1", 1, "US", 0, 4.0, 127, 0, "100.0", "en-US", [GOOD1, GOOD2]),
        (SUNDAY, "e1", 1, "US", 0, 4.0, 127, 0, "100.0", "en-US", [GOOD1, GOOD2]),
        # e2 in two countries in one week: Germany mid-week, France on
        # the last day.
        (WEDNESDAY, "e2", 1, "DE", 0, 3.0, 1, 0, "99.0", "de", [GOOD2]),
        (SUNDAY, "e2", 1, "FR", 0, 1.0, 1, 0, "99.0", "fr", [SYS1]),
        (SUNDAY, "e3", 1, "DE", 2, 6.0, 4, 0, None, "de", [BLOCKED]),
        (WEDNESDAY, "e3", 1, "DE", 0, 6.5, 1, 0, None, "de", [BLOCKED]),
        # Poland: active on the last day but no days_since_seen == 0
        # row anywhere in the week → no daily_usage → row dropped.
        (SUNDAY, "e5", 1, "PL", 3, 1.0, 8, 0, "100.0", "pl", [GOOD1]),
        # Italy: every days_seen_bits NULL → row kept, intensity NULL.
        (SUNDAY, "e6", 1, "IT", 0, 1.5, None, None, "100.0", "it", []),
        # Top-K ties: 14 addons over four clients, the cut at 10 falls
        # inside the user_count == 1 tie; six locales tie at the cut 5.
        (SUNDAY, "e7", 1, "US", 1, 0.5, 2, 0, "100.0", "en-GB", ADDONS[:6]),
        (SUNDAY, "e8", 1, "US", 0, 0.25, 1, 0, "99.0", "es", ADDONS[:6]),
        (SUNDAY, "e9", 1, "US", 5, 0.0, 32, 0, "bogus", "pt-BR", ADDONS[4:]),
        (SUNDAY, "e10", 1, "US", 0, 7.0, 1, 2, "100.0", "id", []),
        (SUNDAY, "e11", 1, "US", 0, 1.0, 1, 0, "100.0", None, None),
        # Mid-week hours for e8 and an outlier (dropped by the sample).
        (WEDNESDAY, "e8", 1, "US", 0, 2.0, 1, 0, "99.0", "es", ADDONS[:6]),
        (WEDNESDAY, "e8", 1, "US", 0, 25.0, 1, 0, "99.0", "es", ADDONS[:6]),
        # MAU-only client (seen 20 days ago) and an unsampled client.
        (SUNDAY, "e12", 1, "US", 20, 0.0, 1 << 20, 0, "98.0", "en-US", None),
        (SUNDAY, "e13", 4, "US", 0, 1.0, 1, 1, "100.0", "en-US", [GOOD1]),
        # Second week, Worldwide only (country not in the name table).
        (date(2024, 1, 14), "e1", 1, "ZZ", 0, 3.0, 65, 64, "100.0", "en-US", [GOOD1]),
    ]
    return spark.createDataFrame(rows, CLIENTS_SCHEMA)


def _edge_countries(spark):
    return spark.createDataFrame(
        [("US", "United States"), ("DE", "Germany"), ("FR", "France"),
         ("PL", "Poland"), ("IT", "Italy")],
        ["code", "name"],
    )


def _edge_buildhub(spark):
    return spark.createDataFrame(
        [
            _release("99.0", "release", datetime(2023, 12, 31, 23, 30)),
            _release("100.0", "release", datetime(2024, 1, 5, 0, 15)),
            _release("nightly", "release", datetime(2024, 1, 6, 12)),
            _release("101.0", "beta", datetime(2024, 1, 6, 9)),
        ],
        BUILDHUB_SCHEMA,
    )


def test_oracle_edge_cases(spark, tmp_path):
    got = _compare(spark, tmp_path, _edge_clients(spark), _edge_countries(spark),
                   _edge_buildhub(spark), "2023-12-01", "2024-02-01")
    by_key = {(r[0], r[1]): r for r in got}
    assert set(by_key) == {
        (WEEK, "United States"),
        (WEEK, "Germany"),
        (WEEK, "France"),
        (WEEK, "Italy"),
        (WEEK, "Worldwide"),
        (date(2024, 1, 8), "Worldwide"),
    }
    italy = by_key[(WEEK, "Italy")]
    assert italy[4] is None and italy[5] is None   # intensity, new_profile_rate
    us = by_key[(WEEK, "United States")]
    assert len(us[7]) == 10 and len(us[9]) == 5    # top_addons, top_locales


def _random_clients(spark, seed: int, n: int):
    rng = random.Random(seed)
    start = date(2019, 4, 15)  # three weeks, the last one armagaddon
    countries = ["US", "DE", "FR", "BR", "XX", None]
    pool = [GOOD1, GOOD2, SYS1, BLOCKED] + ADDONS[:8] + [
        ("x@shield.mozilla.org", "Shield", False, False),
        ("foreign@example.com", "Foreign", False, True),
    ]
    ids = [f"r{i:02d}" for i in range(40)]
    home = {c: rng.choice(countries) for c in ids}
    rows = []
    for _ in range(n):
        c = rng.choice(ids)
        day = start + timedelta(days=rng.randrange(21))
        if rng.random() < 0.4:  # bias towards the last day of the week
            day += timedelta(days=6 - day.weekday())
        addons = rng.random()
        rows.append((
            day,
            c,
            1 if rng.random() < 0.9 else 2,
            home[c] if rng.random() < 0.9 else rng.choice(countries),
            rng.choice([0, 0, 0, 0, 1, 3, 6, 7, 10, 27, 28, 40]),
            30.0 if rng.random() < 0.05 else round(rng.uniform(0, 10), 3),
            None if rng.random() < 0.1 else rng.randrange(0, 1 << 28),
            rng.choice([0, 0, 0, None, 1 << rng.randrange(28)]),
            rng.choice(["65.0", "66.0", "66.0.3", "67.0", "x.y", None]),
            rng.choice(["en-US", "en-US", "de", "fr", "pt-BR", "es", "id", None]),
            None if addons < 0.1 else [] if addons < 0.25
            else rng.sample(pool, rng.randrange(1, 5)),
        ))
    return spark.createDataFrame(rows, CLIENTS_SCHEMA)


def _random_buildhub(spark, seed: int):
    rng = random.Random(seed + 1)
    rows = []
    for _ in range(60):
        when = datetime(2019, 2, 1) + timedelta(minutes=rng.randrange(120 * 24 * 60))
        major = 65 + (when - datetime(2019, 2, 1)).days // 42
        channel = rng.choice(["release", "release", "beta", "nightly"])
        rows.append(_release(f"{major}.0", channel, when))
    return spark.createDataFrame(rows, BUILDHUB_SCHEMA)


def test_oracle_random_fixture(spark, tmp_path):
    seed = 5
    countries = spark.createDataFrame(
        [("US", "United States"), ("DE", "Germany"), ("FR", "France"),
         ("BR", "Brazil")],
        ["code", "name"],
    )
    got = _compare(spark, tmp_path, _random_clients(spark, seed, 400), countries,
                   _random_buildhub(spark, seed), "2019-04-01", "2019-06-01")
    assert len(got) >= 4
