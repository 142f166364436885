"""Seeded input generators for the benchmark.

Every input the engine sees is generated here from the run's seed; the
engine never receives the seed. The same seed gives byte-identical files.

  schedules   a base schedule extract plus revision extracts, each a CSV in
              the layout of `graft.sources.Sources.scheduleSchema`, with
              planted rejects for every rule of `FlightPipeline.validate`,
              freight rows, same-airport rows and overnight arrivals
  airports    an airports dimension CSV (`Sources.airportsSchema`)
  embeddings  a clustered embedding corpus (parquet) and query ids

`python3 gen_inputs.py <flight|ann> <seed> <outdir>` writes one family.
"""
import csv
import datetime as dt
import json
import math
import os
import sys

import numpy as np

# --- flight schedules -------------------------------------------------------

N_AIRPORTS = 120
N_LEGS = 2500            # schedule rows in the base extract
# The extracts are monthly (FlightGlobal/Innovata-style monthly dumps), so a
# leg is effective over the whole extract month. The one measured figure of
# real-sized traffic, a 50k-leg extract expanding to 1.02M flights, is 20.4
# flights per leg; over a 31-day month that is an operating day with
# probability 20.4 / 31 = 0.658.
HORIZON_START = dt.date(2026, 3, 1)
HORIZON_DAYS = 31
DAY_P = 20.4 / HORIZON_DAYS
N_REVISIONS = 1
WINDOW_DAYS = 7
# What a revision does to the legs it carries. These rates are assumptions:
# nothing in the repository measures how real revision extracts differ from
# the extract before them.
P_CANCEL, P_RETIME, P_REGAUGE = 0.10, 0.15, 0.07
NEW_SERVICES = 0.05      # new legs, as a share of the legs the revision keeps
REJECTS_PER_REASON = 4
CARRIERS = ["AA", "AC", "AF", "AY", "AZ", "BA", "CX", "DL", "EK", "EY",
            "IB", "JL", "KL", "LH", "LX", "NH", "NZ", "OS", "QF", "SK",
            "SQ", "TK", "UA", "VS"]
AIRCRAFT = ["320", "321", "32N", "359", "388", "738", "73H", "77W", "789",
            "E90"]
REASONS = ["missing_key", "missing_dates", "inverted_range",
           "missing_airport", "negative_seats"]
SCHEDULE_COLS = [
    "carrier", "flightnumber", "effectiveDate", "discontinuedDate",
    "day1", "day2", "day3", "day4", "day5", "day6", "day7",
    "departureAirport", "arrivalAirport", "departureTimeLocal",
    "arrivalTimeLocal", "departureUTCVariance", "arrivalUTCVariance",
    "arrivalDayIndicator", "stops", "firstSeats", "businessSeats",
    "economySeats", "totalSeats", "aircraftType", "distanceMiles"]


def _airports(rng):
    codes = set()
    while len(codes) < N_AIRPORTS:
        codes.add("".join(chr(65 + int(c)) for c in rng.integers(0, 26, 3)))
    codes = sorted(codes)
    rows = []
    for i, code in enumerate(codes):
        lon = float(np.round(rng.uniform(-170, 170), 4))
        lat = float(np.round(rng.uniform(-50, 65), 4))
        # whole hours, a few half hours, roughly following longitude
        var = int(round(lon / 15.0)) * 60 + (30 if i % 17 == 0 else 0)
        rows.append({"iata": code, "name": f"{code} International",
                     "city": f"City {code}", "state": "",
                     "countryCode": f"C{i % 40:02d}",
                     "countryName": f"Country {i % 40}",
                     "globalRegion": ["EU", "NA", "AS", "SA", "AF", "OC"][i % 6],
                     "wac": 100 + i, "longitude": lon, "latitude": lat,
                     "_var": var})
    return rows


def _miles(a, b):
    p1, p2 = math.radians(a["latitude"]), math.radians(b["latitude"])
    dl = math.radians(b["longitude"] - a["longitude"])
    h = (math.sin((p2 - p1) / 2) ** 2 +
         math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2)
    return 2 * 6371.0 * math.asin(min(1.0, math.sqrt(h))) * 0.621371


def _hhmm(minutes):
    return f"{minutes // 60:02d}:{minutes % 60:02d}"


def _leg(rng, airports, carrier, number, eff_day, span, dep_min=None,
         overnight=False):
    """One valid passenger schedule row (dict keyed by SCHEDULE_COLS)."""
    a, b = rng.choice(len(airports), 2, replace=False)
    dep, arr = airports[int(a)], airports[int(b)]
    eff = HORIZON_START + dt.timedelta(days=int(eff_day))
    disc = min(eff + dt.timedelta(days=int(span)),
               HORIZON_START + dt.timedelta(days=HORIZON_DAYS - 1))
    days = rng.random(7) < DAY_P
    if not days.any():
        days[int(rng.integers(0, 7))] = True
    if dep_min is None:
        dep_min = int(rng.integers(0, 288)) * 5
    miles = _miles(dep, arr)
    dur = int(max(40, miles / 8.0 + 30))
    if overnight:
        dep_min = int(rng.integers(264, 288)) * 5     # 22:00 .. 23:55
        dur = max(dur, 300)
    # local arrival = local departure + duration + (arrVar - depVar)
    arr_abs = dep_min + dur + arr["_var"] - dep["_var"]
    day_ind = arr_abs // 1440
    first, biz = int(rng.integers(0, 3)) * 4, int(rng.integers(0, 5)) * 6
    eco = int(rng.integers(60, 300))
    return {
        "carrier": carrier, "flightnumber": number,
        "effectiveDate": eff.isoformat(), "discontinuedDate": disc.isoformat(),
        **{f"day{i + 1}": "true" if days[i] else "false" for i in range(7)},
        "departureAirport": dep["iata"], "arrivalAirport": arr["iata"],
        "departureTimeLocal": _hhmm(dep_min),
        "arrivalTimeLocal": _hhmm(arr_abs % 1440),
        "departureUTCVariance": dep["_var"], "arrivalUTCVariance": arr["_var"],
        "arrivalDayIndicator": day_ind, "stops": int(rng.random() < 0.1),
        "firstSeats": first, "businessSeats": biz, "economySeats": eco,
        "totalSeats": first + biz + eco,
        "aircraftType": AIRCRAFT[int(rng.integers(0, len(AIRCRAFT)))],
        "distanceMiles": int(round(miles)),
    }


def _plant(rng, airports, rows, tag_base, planted):
    """Appends rows that validation must reject (one fault each, tagged by
    a unique distanceMiles), then freight and same-airport rows that pass
    validation but leave at the passenger filter."""
    tag = tag_base
    for reason in REASONS:
        for j in range(REJECTS_PER_REASON):
            r = _leg(rng, airports, "ZZ", 9000 + tag % 1000,
                     rng.integers(0, HORIZON_DAYS - 8), 7)
            if reason == "missing_key":
                r["carrier" if j % 2 == 0 else "flightnumber"] = ""
            elif reason == "missing_dates":
                r["effectiveDate" if j % 2 == 0 else "discontinuedDate"] = ""
            elif reason == "inverted_range":
                r["effectiveDate"], r["discontinuedDate"] = \
                    r["discontinuedDate"], r["effectiveDate"]
            elif reason == "missing_airport":
                r["departureAirport" if j % 2 == 0 else "arrivalAirport"] = ""
            else:
                r["totalSeats"] = -1 - j
            r["distanceMiles"] = 90000 + tag
            planted.append({"reason": reason, "tag": 90000 + tag})
            rows.append(r)
            tag += 1
    for j in range(REJECTS_PER_REASON):
        r = _leg(rng, airports, "ZY", 9000 + tag % 1000,
                 rng.integers(0, HORIZON_DAYS - 8), 7)
        r["firstSeats"] = r["businessSeats"] = r["economySeats"] = 0
        r["totalSeats"] = 0                                  # freight
        rows.append(r)
        s = _leg(rng, airports, "ZX", 9000 + tag % 1000,
                 rng.integers(0, HORIZON_DAYS - 8), 7)
        s["arrivalAirport"] = s["departureAirport"]          # positioning
        rows.append(s)
        tag += 1
    return tag


def _write_csv(path, rows, cols):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(cols)
        for r in rows:
            w.writerow(["" if r[c] is None else r[c] for c in cols])


def gen_flight(seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    airports = _airports(rng)
    _write_csv(f"{out}/airports.csv", airports,
               ["iata", "name", "city", "state", "countryCode", "countryName",
                "globalRegion", "wac", "longitude", "latitude"])
    planted = {"base": []}
    base = []
    for i in range(N_LEGS):
        base.append(_leg(rng, airports, CARRIERS[i % len(CARRIERS)],
                         100 + i // len(CARRIERS), 0, HORIZON_DAYS - 1,
                         overnight=(i % 29 == 0)))
    order = rng.permutation(len(base))
    legs = [base[int(i)] for i in order]
    rows = list(legs)
    tag = _plant(rng, airports, rows, 0, planted["base"])
    rows = [rows[int(i)] for i in rng.permutation(len(rows))]
    _write_csv(f"{out}/schedule_base.csv", rows, SCHEDULE_COLS)

    windows = []
    next_number = 100 + N_LEGS // len(CARRIERS) + 1
    for r in range(1, N_REVISIONS + 1):
        ws = int(rng.integers(0, HORIZON_DAYS - WINDOW_DAYS))
        w0 = HORIZON_START + dt.timedelta(days=ws)
        w1 = w0 + dt.timedelta(days=WINDOW_DAYS)
        windows.append([w0.isoformat(), w1.isoformat()])
        rev = []
        for leg in legs:
            eff = dt.date.fromisoformat(leg["effectiveDate"])
            disc = dt.date.fromisoformat(leg["discontinuedDate"])
            if disc < w0 or eff >= w1:
                continue
            u = rng.random()
            if u < P_CANCEL:
                continue                                     # cancelled
            new = dict(leg)
            u -= P_CANCEL
            if u < P_RETIME:                                 # retimed
                shift = int(rng.integers(1, 13)) * 5 * \
                    (1 if u < P_RETIME / 2 else -1)
                dep = int(new["departureTimeLocal"][:2]) * 60 + \
                    int(new["departureTimeLocal"][3:])
                arr = int(new["arrivalTimeLocal"][:2]) * 60 + \
                    int(new["arrivalTimeLocal"][3:]) + \
                    new["arrivalDayIndicator"] * 1440
                dep2 = min(max(dep + shift, 0), 1435)
                arr2 = arr + (dep2 - dep)
                new["departureTimeLocal"] = _hhmm(dep2)
                new["arrivalTimeLocal"] = _hhmm(arr2 % 1440)
                new["arrivalDayIndicator"] = arr2 // 1440
            elif u < P_RETIME + P_REGAUGE:                   # re-gauged
                new["economySeats"] += 12
                new["totalSeats"] += 12
            rev.append(new)
        for j in range(max(1, round(len(rev) * NEW_SERVICES))):
            rev.append(_leg(rng, airports, CARRIERS[j % len(CARRIERS)],
                            next_number, max(0, ws - 3), WINDOW_DAYS + 6))
            next_number += 1
        planted[f"revision_{r}"] = []
        tag = _plant(rng, airports, rev, tag, planted[f"revision_{r}"])
        rev = [rev[int(i)] for i in rng.permutation(len(rev))]
        _write_csv(f"{out}/revision_{r}.csv", rev, SCHEDULE_COLS)
    with open(f"{out}/flight_meta.json", "w") as f:
        json.dump({"windows": windows, "planted": planted,
                   "horizon": [HORIZON_START.isoformat(),
                               (HORIZON_START + dt.timedelta(
                                   days=HORIZON_DAYS)).isoformat()]}, f)


# --- embeddings -------------------------------------------------------------

N_VECTORS = 3000
DIM = 32
N_CLUSTERS = 30
N_QUERIES = 25          # one single-query search and a batch of 24


def gen_ann(seed, out):
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    centers = rng.normal(0.0, 1.0, (N_CLUSTERS, DIM))
    member = rng.integers(0, N_CLUSTERS, N_VECTORS)
    vecs = (centers[member] +
            0.45 * rng.normal(0.0, 1.0, (N_VECTORS, DIM))).astype(np.float32)
    table = pa.table({
        "vec_id": pa.array(np.arange(N_VECTORS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
    })
    pq.write_table(table, f"{out}/embeddings.parquet")
    qids = sorted(int(q) for q in rng.choice(N_VECTORS, N_QUERIES,
                                             replace=False))
    with open(f"{out}/ann_meta.json", "w") as f:
        json.dump({"query_ids": qids, "k": 10}, f)


if __name__ == "__main__":
    family, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    {"flight": gen_flight, "ann": gen_ann}[family](seed, out)
