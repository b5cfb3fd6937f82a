"""Independent DuckDB recomputes of what the workloads must output.

Stage 1 is recomputed from the reference SQL over the same gzipped
feeds: DISTINCT (ip, day, risk, asn, country), group count with a strict
``>`` HAVING, the amplification as an UPDATE-FROM (a risk without a dim
row keeps its 0), ordered by date DESC, country, asn, risk. Every feed
row carries a ``+00`` offset, so its first ten characters are its UTC day.
"""

from __future__ import annotations

import csv
import datetime

import duckdb

_FEEDS = """
read_csv({files}, header = true, auto_detect = false,
         columns = {{'ts': 'VARCHAR', 'ip': 'VARCHAR', 'risk_id': 'INTEGER',
                    'asn': 'BIGINT', 'cc': 'VARCHAR'}})
"""


def _feeds(files: list[str]) -> str:
    return _FEEDS.format(files="[" + ", ".join(f"'{f}'" for f in files) + "]")


def stage1_expected(files: list[str], dim_risk_csv: str, threshold: int) -> list[tuple]:
    sql = f"""
    WITH d AS (
      SELECT DISTINCT ip, CAST(substr(ts, 1, 10) AS DATE) AS date,
             risk_id AS risk, asn, cc AS country
      FROM {_feeds(files)}),
    g AS (
      SELECT date, risk, country, asn, count(*) AS count FROM d
      GROUP BY date, asn, risk, country HAVING count(*) > {int(threshold)}),
    r AS (
      SELECT * FROM read_csv('{dim_risk_csv}', header = false, auto_detect = false,
        columns = {{'id': 'INTEGER', 'slug': 'VARCHAR', 'factor': 'DOUBLE'}}))
    SELECT g.date, g.risk, g.country, g.asn, g.count,
           coalesce(g.count * r.factor, 0.0) AS count_amplified
    FROM g LEFT JOIN r ON g.risk = r.id
    ORDER BY g.date DESC, g.country, g.asn, g.risk
    """
    with duckdb.connect() as con:
        return [
            (d.isoformat() + " 00:00:00", risk, cc, asn, n, float(amp))
            for d, risk, cc, asn, n, amp in con.execute(sql).fetchall()
        ]


def read_stage1_csv(path: str) -> list[tuple]:
    with open(path, newline="") as fh:
        return [
            (ts, int(risk), cc, int(asn), int(n), float(amp))
            for ts, risk, cc, asn, n, amp in csv.reader(fh)
        ]


def compare_rows(got: list[tuple], expected: list[tuple]) -> tuple[bool, str]:
    """Exact, order-sensitive comparison; names the first difference."""
    if got == expected:
        return True, ""
    for i, (g, e) in enumerate(zip(got, expected)):
        if g != e:
            return False, f"row {i}: got {g}, expected {e}"
    return False, f"{len(got)} rows, expected {len(expected)}"


def row_count(files: list[str]) -> int:
    with duckdb.connect() as con:
        return con.execute(f"SELECT count(*) FROM {_feeds(files)}").fetchone()[0]


def daily_expected(files: list[str]) -> dict[tuple, int]:
    """Distinct IPs per (day, risk, asn, country): the per-window result
    the streaming dedup-count must emit for every closed day."""
    sql = f"""
    SELECT CAST(substr(ts, 1, 10) AS DATE) AS day, risk_id, asn, cc,
           count(DISTINCT ip)
    FROM {_feeds(files)} GROUP BY ALL
    """
    with duckdb.connect() as con:
        return {
            (d, risk, asn, cc): n for d, risk, asn, cc, n in con.execute(sql).fetchall()
        }


def compare_windows(rows: list[tuple], expected: dict[tuple, int],
                    min_days: int) -> tuple[bool, str]:
    """``rows`` are emitted (day, risk, asn, country, count) tuples. Every
    emitted day must be complete and exact, no group may be emitted
    twice, and at least ``min_days`` days must have closed."""
    got: dict[tuple, int] = {}
    for day, risk, asn, cc, n in rows:
        key = (day.date() if isinstance(day, datetime.datetime) else day, risk, asn, cc)
        if key in got:
            return False, f"window emitted twice: {key}"
        got[key] = n
    days = {k[0] for k in got}
    if len(days) < min_days:
        return False, f"{len(days)} closed days, expected at least {min_days}"
    want = {k: v for k, v in expected.items() if k[0] in days}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()), key=str)[:3]
        return False, f"window rows differ, e.g. {diff}"
    return True, ""
