"""Output checks, run outside the timed region against DuckDB.

Each check returns {"correct": bool, "failed_ops": int, ...details}. An
operation that threw, or whose output fails its check, counts as failed.
"""
import glob
import json
import os
import re

import duckdb
import pyarrow as pa

import gen_charts

INT_RE = re.compile(r"\s*[+-]?\d+\s*")
FILE_RE = re.compile(r"(.+)_(\d{4}-\d{2}-\d{2})\.json$")


def spark_int(s):
    """`try_cast(s AS INT)` for the strings the generator writes."""
    if s is None:
        return None
    if not isinstance(s, str) or not INT_RE.fullmatch(s):
        return None
    v = int(s)
    return v if -2**31 <= v < 2**31 else None


def raw_tracks(landing, dates):
    """Good ODS candidates (with their array position) and the number of
    quarantined rows per date, by the checked-ingest rules.
    """
    rows, quarantined = [], {d: 0 for d in dates}
    for d in dates:
        for path in sorted(glob.glob(os.path.join(landing, d, "*.json"))):
            country, date = FILE_RE.search(os.path.basename(path)).groups()
            try:
                doc = json.load(open(path))
            except ValueError:
                quarantined[d] += 1
                continue
            tracks = doc.get("tracks", {}).get("track") \
                if isinstance(doc.get("tracks"), dict) else None
            if not isinstance(tracks, list):
                quarantined[d] += 1
                continue
            for pos, t in enumerate(tracks):
                name = t.get("name")
                artist = (t.get("artist") or {}).get("name")
                dur_raw, lis_raw = t.get("duration"), t.get("listeners")
                rank = spark_int((t.get("@attr") or {}).get("rank"))
                dur, lis = spark_int(dur_raw), spark_int(lis_raw)
                if rank is None or name is None or \
                        (dur_raw is not None and dur is None) or \
                        (lis_raw is not None and lis is None):
                    quarantined[d] += 1
                    continue
                rows.append((name, artist, dur, lis, rank, date, country, pos))
    return rows, quarantined


RAW_SCHEMA = [("song_name", pa.string()), ("artist_name", pa.string()),
              ("duration_sec", pa.int32()), ("listeners_count", pa.int32()),
              ("song_rank", pa.int32()), ("source_date", pa.string()),
              ("country", pa.string()), ("pos", pa.int32())]

MART_SQL = {
    "dm_avg_song_duration_by_country": """
        SELECT date, country_name,
               CAST(SUM(duration_filled) AS DOUBLE) / COUNT(duration_filled)
                 AS avg_duration_sec
        FROM fact GROUP BY date, country_name""",
    "dm_artist_appearances_by_date": """
        SELECT date, artist_name, COUNT(*) AS cnt_appearance
        FROM fact GROUP BY date, artist_name""",
    "dm_expected_artist_royalties_by_date": """
        SELECT date, artist_name,
               CAST((SUM(listeners_count) * 3 + 5) // 10 AS DOUBLE) / 100
                 AS royalties
        FROM fact GROUP BY date, artist_name""",
}


def chart_marts(landing, dates):
    """The three marts recomputed from the raw JSON by the oracle semantics
    of `queries/ChartQueries.scala`: first-wins ODS dedup, per-date
    round-half-up imputation of zero durations, then the mart aggregates.
    Returns (connection with a `fact` view, expected quarantine per date).
    """
    rows, quarantined = raw_tracks(landing, dates)
    con = duckdb.connect()
    cols = list(zip(*rows))
    raw = pa.table({name: pa.array(cols[i], type=t) for i, (name, t) in
                    enumerate(RAW_SCHEMA)})
    con.register("raw_arrow", raw)
    con.execute("CREATE TABLE raw AS SELECT * EXCLUDE (source_date), "
                "CAST(source_date AS DATE) AS source_date FROM raw_arrow")
    con.execute("""
        CREATE VIEW fact AS
        WITH ods AS (
          SELECT * FROM (SELECT *, row_number() OVER (
              PARTITION BY song_rank, source_date, country ORDER BY pos) AS rn
            FROM raw) WHERE rn = 1),
        imp AS (
          SELECT source_date,
                 (2 * SUM(duration_sec) + COUNT(*)) // (2 * COUNT(*)) AS imputed
          FROM ods WHERE duration_sec > 0 GROUP BY source_date)
        SELECT ods.source_date AS date, ods.country AS country_name,
               ods.artist_name, ods.listeners_count,
               CASE WHEN ods.duration_sec = 0 THEN imp.imputed
                    ELSE ods.duration_sec END AS duration_filled
        FROM ods LEFT JOIN imp USING (source_date)
        WHERE ods.artist_name IS NOT NULL""")
    return con, quarantined


def thrown(r):
    """The operations that threw, and one problem line for each."""
    ops = [o for o in r["ops"] if "error" in o]
    return ops, [f"{o['name']} threw {o['error']}" for o in ops]


def rows_of(con, sql):
    return sorted(con.execute(sql).fetchall(),
                  key=lambda t: tuple((x is None, str(x)) for x in t))


def check_daily_load(r, inputs):
    landing = os.path.join(inputs, "landing")
    dates = r["landed"]
    con, quarantined = chart_marts(landing, dates)
    bad_dates, problems = set(), []
    for mart, sql in MART_SQL.items():
        want = rows_of(con, sql)
        for label, got in r["marts"][mart].items():
            if not same_rows(got, want):
                diff = {tuple(map(norm, t)) for t in got} ^ \
                    {tuple(map(norm, t)) for t in want}
                bad_dates.update(str(t[0]) for t in diff)
                problems.append(f"{label} {mart}: {len(diff)} rows differ")
    qdir = os.path.join(r["warehouse"], "ingest_quarantine")
    for d in dates:
        files = glob.glob(f"{qdir}/day={d}/*.parquet")
        n = con.execute(f"SELECT count(*) FROM read_parquet({files!r})") \
            .fetchone()[0] if files else 0
        if n != quarantined[d] or n != gen_charts.QUARANTINE_ROWS_PER_DAY:
            bad_dates.add(d)
            problems.append(f"quarantine {d}: {n} rows, expected "
                            f"{quarantined[d]}")
    errors, thrown_problems = thrown(r)
    bad_dates.update(o["name"] for o in errors)
    problems += thrown_problems
    timed = {o["name"] for o in r["ops"]}
    failed = len(timed & bad_dates) or (r["attempted"] if problems else 0)
    return {"correct": not problems, "failed_ops": failed,
            "problems": problems}


def check_traced_daily_load(r):
    problems = thrown(r)[1]
    problems += [f"traced replay differs from runDaily on {t}"
                 for t in r["mirror_mismatched"]]
    if not r["replay_unchanged"]:
        problems.append("replaying the last day changed a table")
    return {"correct": not problems,
            "failed_ops": r["attempted"] if problems else 0,
            "problems": problems}


READ_SQL = {
    "mart_slice": """SELECT artist_name, royalties FROM roy
        WHERE date = DATE '{date}'""",
    "top_artists_7d": """SELECT artist_name, SUM(royalties) AS royalties
        FROM roy WHERE date > DATE '{date}' - 7 AND date <= DATE '{date}'
        GROUP BY artist_name ORDER BY royalties DESC, artist_name LIMIT 20""",
    "country_trend": """SELECT date, COUNT(*), SUM(listeners_count),
        SUM(duration_sec)
        FROM fact JOIN song USING (song_id) JOIN country USING (country_id)
        WHERE country_name = '{country}' GROUP BY date""",
    "catalog_sql": """SELECT artist_name, royalties FROM roy
        WHERE date = DATE '{date}'
        ORDER BY royalties DESC, artist_name LIMIT 20""",
    "time_travel": """SELECT artist_name, cnt_appearance FROM app
        WHERE date = DATE '{date}'""",
}
READ_TABLES = {"roy": "dm_expected_artist_royalties_by_date",
               "app": "dm_artist_appearances_by_date",
               "fact": "dds_fact_daily_top_100", "song": "dds_dim_song",
               "country": "dds_dim_country"}


def norm(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (int, float, str)) or v is None:
        return v
    return float(v)


def same_rows(a, b):
    """Multiset equality; doubles within a relative 1e-9."""
    key = lambda t: tuple(str(x) for x in t)  # noqa: E731
    a = sorted((tuple(norm(x) for x in t) for t in a), key=key)
    b = sorted((tuple(norm(x) for x in t) for t in b), key=key)
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if abs(u - v) > 1e-9 * max(1.0, abs(u), abs(v)):
                    return False
            elif u != v:
                return False
    return True


def check_bi_reads(r, inputs):
    """Each distinct read against the same SQL in DuckDB over the files of
    the manifest versions it read: the latest publication's pins, the
    catalog's current version, or the time-travel publication's pins; a
    saved query against its registry oracle over the seeded tables.
    """
    con = duckdb.connect()
    for t in ("orders", "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{inputs}/tables/{t}.parquet'")
    latest_version = {t: max(vs, key=int) for t, vs in r["files"].items()}
    bad, problems = set(), []
    for read in r["reads"]:
        template, date, country, pub, saved = read["key"].split("|")
        if template == "saved_query":
            rel = con.sql(r["saved_queries"][int(saved)])
            idx = [rel.columns.index(c) for c in read["columns"]]
            want = [tuple(t[i] for i in idx) for t in rel.fetchall()]
            if not same_rows(read["rows"], want):
                bad.add(template)
                problems.append(f"{read['key']}: rows differ from the oracle")
            continue
        if template == "time_travel":
            pins = r["pins"][pub]
        elif template == "catalog_sql":
            pins = latest_version
        else:
            pins = r["current_pins"]
        for alias, table in READ_TABLES.items():
            files = r["files"][table][str(pins[table])]
            hive = "date" in "".join(files)
            con.execute(f"CREATE OR REPLACE VIEW {alias} AS SELECT * FROM "
                        f"read_parquet({files!r}, hive_partitioning = {hive}"
                        + (", hive_types = {'date': DATE}" if hive else "")
                        + ")")
        want = con.execute(READ_SQL[template].format(
            date=date, country=country.replace("'", "''"))).fetchall()
        if not same_rows(read["rows"], want):
            bad.add(template)
            problems.append(f"{read['key']}: rows differ from DuckDB")
    if r["self_mismatched"]:
        problems.append(f"{r['self_mismatched']} repeated reads changed rows")
    problems += thrown(r)[1]
    failed = sum(1 for o in r["ops"] if "error" in o or o["name"] in bad) \
        + r["self_mismatched"]
    return {"correct": not problems, "failed_ops": failed,
            "distinct_reads": len(r["reads"]), "problems": problems}


def check(workload, r, inputs):
    if workload == "daily_load":
        if "layers" in r:
            return check_traced_daily_load(r)
        return check_daily_load(r, inputs)
    if workload == "bi_reads":
        return check_bi_reads(r, inputs)
    raise ValueError(workload)
