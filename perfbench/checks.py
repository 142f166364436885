"""Correctness checks made apart from the program.

Each check takes the harness report (report.json) and the files the
harness wrote, recomputes the expected answer with DuckDB or numpy from the
generated inputs, and returns {op id: reason} for every operation whose
output is wrong.
"""
import json
import math
import os
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# --- registry rows: DuckDB oracle, compared as tools/check_oracle.py does ---


def check_registry(report, out, sf_dir, root):
    sys.path.insert(0, str(Path(root) / "tools"))
    import check_oracle as co   # the repo's own oracle compare, used as is
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in co.TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.loads(Path(out, "oracle_sql.json").read_text())
    expected = {}
    bad = {}
    for op in report["ops"]:
        if op["error"]:
            continue
        name = op["name"]
        sql = oracle.get(name)
        if sql is None:
            bad[op["id"]] = "no oracle SQL for this row"
            continue
        res_dir = Path(out, "results", name)
        files = sorted(res_dir.glob("*.parquet"))
        if not files:
            bad[op["id"]] = "no captured result"
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files],
                             ignore_index=True)
        if name not in expected:
            cur = con.execute(sql)
            cols = [c[0] for c in cur.description]
            duck_raw = pd.DataFrame(cur.fetchall(), columns=cols, dtype=object)
            expected[name] = (duck_raw, con.execute(sql).df())
        duck_raw, duck_df = expected[name]
        risky = co.risky_output_types(res_dir) + \
            co.duck_risky(duck_df, duck_raw, co.spark_int_cols(spark_df))
        if risky:
            bad[op["id"]] = f"unsafe output types {risky}"
        elif sorted(spark_df.columns) != sorted(duck_df.columns):
            bad[op["id"]] = (f"schema {sorted(spark_df.columns)} != "
                             f"{sorted(duck_df.columns)}")
        else:
            s, d = co.canon(spark_df), co.canon(duck_df)
            if len(s) != len(d):
                bad[op["id"]] = f"rows {len(s)} != {len(d)}"
            elif s != d:
                n = sum(1 for a, b in zip(s, d) if a != b)
                bad[op["id"]] = f"{n} rows differ from the oracle"
    return bad


# --- flight_ingest: DuckDB expansion and delete-insert model ---------------

_TYPES = {
    "carrier": "VARCHAR", "flightnumber": "INTEGER",
    "effectiveDate": "DATE", "discontinuedDate": "DATE",
    **{f"day{i}": "BOOLEAN" for i in range(1, 8)},
    "departureAirport": "VARCHAR", "arrivalAirport": "VARCHAR",
    "departureTimeLocal": "VARCHAR", "arrivalTimeLocal": "VARCHAR",
    "departureUTCVariance": "INTEGER", "arrivalUTCVariance": "INTEGER",
    "arrivalDayIndicator": "INTEGER", "stops": "INTEGER",
    "firstSeats": "INTEGER", "businessSeats": "INTEGER",
    "economySeats": "INTEGER", "totalSeats": "INTEGER",
    "aircraftType": "VARCHAR", "distanceMiles": "INTEGER"}
_COLS = "{" + ", ".join(f"'{k}': '{v}'" for k, v in _TYPES.items()) + "}"
READ_COLS = ["carrier", "flightnumber", "departureAirport", "arrivalAirport",
             "flight_date", "dep_utc_us", "arr_utc_us", "totalSeats"]
_READ_TYPES = ("{'carrier': 'VARCHAR', 'flightnumber': 'INTEGER', "
               "'departureAirport': 'VARCHAR', 'arrivalAirport': 'VARCHAR', "
               "'flight_date': 'DATE', 'dep_utc_us': 'BIGINT', "
               "'arr_utc_us': 'BIGINT', 'totalSeats': 'INTEGER'}")


def _expansion(csv):
    """Flight instances of one extract: validation, passenger filter,
    per-date expansion (day1 = Monday) and UTC instants, in DuckDB."""
    days = ", ".join(f"day{i}" for i in range(1, 8))
    return f"""
      SELECT carrier, flightnumber, departureAirport, arrivalAirport,
             flight_date,
             epoch_us(flight_date + CAST(departureTimeLocal || ':00' AS TIME))
               - CAST(departureUTCVariance AS BIGINT) * 60000000 AS dep_utc_us,
             epoch_us((flight_date + arrivalDayIndicator)
                      + CAST(arrivalTimeLocal || ':00' AS TIME))
               - CAST(arrivalUTCVariance AS BIGINT) * 60000000 AS arr_utc_us,
             totalSeats
      FROM (
        SELECT *, CAST(unnest(generate_series(
                   CAST(effectiveDate AS TIMESTAMP),
                   CAST(discontinuedDate AS TIMESTAMP),
                   INTERVAL 1 DAY)) AS DATE) AS flight_date
        FROM read_csv('{csv}', header = true, nullstr = '',
                      columns = {_COLS})
        WHERE carrier IS NOT NULL AND flightnumber IS NOT NULL
          AND effectiveDate IS NOT NULL AND discontinuedDate IS NOT NULL
          AND discontinuedDate >= effectiveDate
          AND departureAirport IS NOT NULL AND arrivalAirport IS NOT NULL
          AND NOT coalesce(totalSeats < 0, false)
          AND totalSeats > 0 AND departureAirport <> arrivalAirport)
      WHERE [{days}][isodow(flight_date)]"""


def _checksum(rel):
    return f"""SELECT CAST(flight_date AS DATE) AS d, count(*) AS n,
                      sum(hash(CAST(carrier AS VARCHAR),
                               CAST(flightnumber AS INTEGER),
                               CAST(departureAirport AS VARCHAR),
                               CAST(dep_utc_us AS BIGINT),
                               CAST(arr_utc_us AS BIGINT))) AS h
               FROM ({rel}) GROUP BY 1"""


def check_flight(report, out, inputs):
    meta = json.loads(Path(inputs, "flight_meta.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE TABLE s0 AS {_expansion(f'{inputs}/schedule_base.csv')}")
    for r, (w0, w1) in enumerate(meta["windows"], start=1):
        con.execute(f"""CREATE TABLE s{r} AS
          SELECT * FROM s{r - 1}
          WHERE NOT (flight_date >= DATE '{w0}' AND flight_date < DATE '{w1}')
          UNION ALL
          SELECT * FROM ({_expansion(f'{inputs}/revision_{r}.csv')})
          WHERE flight_date >= DATE '{w0}' AND flight_date < DATE '{w1}'""")
    planted = sorted((p["reason"], p["tag"]) for p in meta["planted"]["base"])
    bad = {}
    for op in report["ops"]:
        if op["error"]:
            continue
        info = op["info"]
        if op["kind"] == "import":
            sink = info["sink"]
            got = con.execute(_checksum(
                f"SELECT * FROM read_parquet('{sink}/flight_date=*/*.parquet', "
                "hive_partitioning = true)") + " ORDER BY 1").fetchall()
            want = con.execute(_checksum("SELECT * FROM s0") +
                               " ORDER BY 1").fetchall()
            if got != want:
                diff = len(set(got) ^ set(want))
                bad[op["id"]] = f"expansion differs on {diff} dates"
                continue
            if info["flights"] != sum(n for _, n, _ in want):
                bad[op["id"]] = "written flight count differs"
                continue
            rej = Path(out, "flight", "rejects.tsv")
            lines = [ln.split("\t") for ln in rej.read_text().splitlines()]
            got_rej = sorted((a, int(b)) for a, b in lines)
            if got_rej != planted:
                bad[op["id"]] = (f"rejects {len(got_rej)} differ from the "
                                 f"{len(planted)} planted")
        elif op["kind"] == "read":
            tsv = Path(out, "flight", f"{op['name']}.tsv")
            got = f"""SELECT * FROM read_csv('{tsv}', header = false,
                        delim = '\t', nullstr = '', columns = {_READ_TYPES})"""
            want = f"""SELECT {', '.join(READ_COLS)} FROM s{info['state']}
                       WHERE flight_date >= DATE '{info['from']}'
                         AND flight_date < DATE '{info['to']}'"""
            if os.path.getsize(tsv) == 0:
                got = f"SELECT * FROM ({want}) WHERE false"
            n = con.execute(f"""SELECT count(*) FROM (
                  (({got}) EXCEPT ALL ({want}))
                  UNION ALL (({want}) EXCEPT ALL ({got})))""").fetchone()[0]
            if n:
                bad[op["id"]] = f"{n} rows differ from the delete-insert model"
        elif op["name"] == "reapply" and info.get("diff_rows", 0) != 0:
            bad[op["id"]] = (f"re-applying the revision changed "
                             f"{info['diff_rows']} rows")
    return bad


# --- ann_serve: exact cosine top-10 in numpy -------------------------------

# Least mean recall@10 a batched search must reach. The index is a
# deterministic function of the corpus, so recall is fixed for a seed. Over
# 40 seeds the searched method gave batch means of 0.79-1.0 (median 0.90);
# one query's recall ranges from 0 to 1, so a single-query search has no
# floor of its own. It builds its index with the same code as the batch.
RECALL_FLOOR = 0.6


def check_ann(report, inputs):
    import pyarrow.parquet as pq
    t = pq.read_table(Path(inputs, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)) \
        .astype(np.float64)
    pos = {int(v): i for i, v in enumerate(ids)}
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    k = json.loads(Path(inputs, "ann_meta.json").read_text())["k"]

    def exact(qid):
        cos = unit @ unit[pos[qid]]
        cos[pos[qid]] = -np.inf           # the query itself is excluded
        order = np.lexsort((ids, -cos))
        return cos, set(int(ids[i]) for i in order[:k])

    bad, recalls = {}, []
    for op in report["ops"]:
        qids = op["info"].get("qids", [])
        if op["error"]:
            continue
        rows = op["info"].get("rows", [])
        if not qids:
            if rows:
                bad[op["id"]] = "an empty query set returned rows"
            continue
        per_q = {}
        if op["kind"] == "ann_query":
            per_q[qids[0]] = [(i, s) for i, s in rows]
        else:
            for qid, rank, i, s in sorted(rows, key=lambda r: (r[0], r[1])):
                per_q.setdefault(qid, []).append((i, s))
        problems, op_recalls = [], []
        for qid in qids:
            got = per_q.get(qid, [])
            cos, top = exact(qid)
            if len(got) != k:
                problems.append(f"q{qid}: {len(got)} results")
                continue
            for i, s in got:
                want = cos[pos[i]]
                if op["kind"] == "ann_query":
                    ok = abs(s - want) <= 1e-9
                else:
                    ok = abs(s - want * 1e6) <= 1.0
                if i == qid or not ok:
                    problems.append(f"q{qid}: score of {i} is {s}, exact {want}")
                    break
            if [(-s, i) for i, s in got] != sorted((-s, i) for i, s in got):
                problems.append(f"q{qid}: not ordered by score, then id")
            op_recalls.append(len(top & {i for i, _ in got}) / k)
        recalls += op_recalls
        if op["kind"] == "ann_batch" and op_recalls and \
                sum(op_recalls) / len(op_recalls) < RECALL_FLOOR:
            problems.append(f"mean recall@{k} "
                            f"{sum(op_recalls) / len(op_recalls):.3f} is "
                            f"below the floor {RECALL_FLOOR}")
        if problems:
            bad[op["id"]] = problems[0]
    recall = sum(recalls) / len(recalls) if recalls else math.nan
    return bad, recall
