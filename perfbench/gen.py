"""Seeded input generators for the benchmark.

`flights_day` writes one search day of landing CSV rows shaped like the
source `raw_itineraries` table (FIXTURES.md section B.1), injecting every
dirty-data class at a fixed rate and counting what it injected.
`operator_tables` writes the small parquet tables the registered operator
queries read (the TPC-H-ish star plus `documents`, `embeddings` and
`events`), with the column names and types those queries expect.

Everything is a pure function of the seed and the arguments.
"""
import csv
import datetime as dt
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COLUMNS = [
    "index", "legId", "searchDate", "flightDate", "startingAirport",
    "destinationAirport", "fareBasisCode", "travelDuration", "elapsedDays",
    "isBasicEconomy", "isRefundable", "isNonStop", "baseFare", "totalFare",
    "seatsRemaining", "totalTravelDistance", "segmentsDepartureTimeRaw",
    "segmentsArrivalTimeRaw", "segmentsArrivalAirportCode",
    "segmentsDepartureAirportCode", "segmentsAirlineCode",
    "segmentsAirlineName", "segmentsEquipmentDescription",
    "segmentsCabinCode", "segmentsDurationInSeconds", "segmentsDistance",
]

FIRST_SEARCH_DAY = dt.date(2022, 4, 16)
# Gold's as-of date: search days run from mid April, flights up to 60 days
# later, so some flights always lie after it and the as-of filter bites.
AS_OF = dt.date(2022, 6, 10)

AIRPORTS = ["ATL", "BOS", "CLT", "DEN", "DFW", "DTW", "EWR", "IAD", "JFK",
            "LAX", "LGA", "MIA", "OAK", "ORD", "PHL", "SFO"]
AIRLINES = [("DL", "Delta"), ("AA", "American Airlines"), ("UA", "United"),
            ("B6", "JetBlue Airways"), ("NK", "Spirit Airlines"),
            ("AS", "Alaska Airlines"), ("F9", "Frontier Airlines"),
            ("SY", "Sun Country Airlines")]
EQUIPMENT = ["Airbus A321", "Boeing 737-800", "Embraer 175", "Airbus A320",
             "Boeing 757-200", "Canadair Regional Jet 900"]
CABINS = ["coach", "premium coach", "business", "first"]
FARE_CODES = ["QA0NA0MC", "V0AJZNN1", "K0AHZNN1", "LAA0OFBN", "M0AHZNN3",
              "G0AIZNN9", "HAA0AFEN", "UAA7AFEN", "TH0AHZNN", "L7AHZNN1",
              "KAVOA0MQ", "VH0AHZNN"]
INT_SENTINELS = ["None", "null", " None ", ""]

# Injection rates of the defect classes, per row.
RATES = {
    "padded_codes": 0.10,
    "malformed_duration": 0.03,
    "null_duration": 0.02,
    "base_gt_total": 0.02,
    "negative_seats": 0.02,
    "multi_airline": 0.15,
    "int_sentinels": 0.10,
    "empty_string_elements": 0.05,
    "null_segments": 0.02,
}
# The two classes the silver quality filter drops. They are injected on
# disjoint rows, so silver rows = generated rows minus their sum.
QUALITY_DEFECTS = ("base_gt_total", "negative_seats")


def _b(x):
    return "true" if x else "false"


def search_day(k):
    return FIRST_SEARCH_DAY + dt.timedelta(days=k)


def _iso(ts):
    return ts.strftime("%Y-%m-%dT%H:%M:00.000-04:00")


def flights_day(path, seed, day, first_index, rows):
    """Write search day `day` (0-based) as `rows` CSV rows whose `index`
    starts at `first_index`. Returns the injected defect counts."""
    rng = random.Random(f"flights/{seed}/{day}")
    counts = dict.fromkeys(RATES, 0)
    sd = search_day(day)
    sd_s = sd.isoformat()
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(COLUMNS)
        for i in range(rows):
            r = rng.random
            fd = sd + dt.timedelta(days=rng.randint(1, 60))
            orig, dest = rng.sample(AIRPORTS, 2)
            fare_code = rng.choice(FARE_CODES)
            if r() < RATES["padded_codes"]:
                counts["padded_codes"] += 1
                orig, dest, fare_code = f"  {orig} ", f" {dest}", f" {fare_code}  "
            nseg = rng.choice((1, 1, 2, 2, 3))
            minutes = 45 + rng.randint(0, 600)
            u = r()
            if u < RATES["malformed_duration"]:
                counts["malformed_duration"] += 1
                duration = f"{minutes // 60}h{minutes % 60}m"
            elif u < RATES["malformed_duration"] + RATES["null_duration"]:
                counts["null_duration"] += 1
                duration = ""
            else:
                duration = f"PT{minutes // 60}H{minutes % 60}M" if minutes % 60 else f"PT{minutes // 60}H"
            base = round(50 + r() * 700, 2)
            total = round(base * (1.05 + r() * 0.3), 2)
            seats = rng.randint(0, 9)
            u = r()
            if u < RATES["base_gt_total"]:
                counts["base_gt_total"] += 1
                base, total = total, base
            elif u < RATES["base_gt_total"] + RATES["negative_seats"]:
                counts["negative_seats"] += 1
                seats = -rng.randint(1, 5)
            code, name = rng.choice(AIRLINES)
            codes, names = [code] * nseg, [name] * nseg
            if nseg > 1 and r() < RATES["multi_airline"] / 0.6:
                counts["multi_airline"] += 1
                code2, name2 = rng.choice([a for a in AIRLINES if a[0] != code])
                codes[-1], names[-1] = code2, name2
            via = [a for a in AIRPORTS if a not in (orig.strip(), dest.strip())]
            hops = [orig.strip()] + rng.sample(via, nseg - 1) + [dest.strip()]
            t = dt.datetime(fd.year, fd.month, fd.day, rng.randint(5, 20), rng.choice((0, 15, 30, 45)))
            deps, arrs, durs, dists = [], [], [], []
            for _ in range(nseg):
                leg = rng.randint(50, 300)
                deps.append(_iso(t))
                t += dt.timedelta(minutes=leg)
                arrs.append(_iso(t))
                t += dt.timedelta(minutes=rng.randint(40, 120))
                durs.append(str(leg * 60))
                dists.append(str(rng.randint(150, 2500)))
            if r() < RATES["int_sentinels"]:
                counts["int_sentinels"] += 1
                (durs if r() < 0.5 else dists)[rng.randrange(nseg)] = rng.choice(INT_SENTINELS)
            equip = [rng.choice(EQUIPMENT) for _ in range(nseg)]
            cabin = [rng.choice(CABINS) for _ in range(nseg)]
            if r() < RATES["empty_string_elements"]:
                counts["empty_string_elements"] += 1
                (equip if r() < 0.5 else cabin)[rng.randrange(nseg)] = ""
            dep_s, arr_s = "||".join(deps), "||".join(arrs)
            arr_codes, dep_codes = "||".join(hops[1:]), "||".join(hops[:-1])
            if r() < RATES["null_segments"]:
                counts["null_segments"] += 1
                dep_s = arr_s = arr_codes = dep_codes = ""
            distance = "" if r() < 0.05 else str(sum(int(d) for d in dists if d.strip().isdigit()))
            w.writerow([
                first_index + i, f"{rng.getrandbits(64):016x}", sd_s, fd.isoformat(),
                orig, dest, fare_code, duration, (t.date() - fd).days,
                _b(r() < 0.2), _b(r() < 0.1), _b(nseg == 1), base, total, seats, distance,
                dep_s, arr_s, arr_codes, dep_codes, "||".join(codes), "||".join(names),
                "||".join(equip), "||".join(cabin), "||".join(durs), "||".join(dists),
            ])
    return counts


# ---------------------------------------------------------------------------
# Operator tables

WORDS = ("a the data table row column key value part line order customer "
         "query join agg group sort filter scan hash merge batch stream window "
         "spark vector small big fast slow").split()
LANGS = ["en"] * 9 + ["de", "de", "fr", "fr", "es", "es", "zh", "zh"]


def _write(out, name, table):
    pq.write_table(table, f"{out}/{name}.parquet")


def operator_tables(out, seed):
    """The tables the registered operator queries read: 300 documents,
    300 vectors, 1,500 orders with about 6k line items, and 1k events."""
    rng = np.random.default_rng([seed, 7])
    n_docs = 300
    texts = []
    for d in range(n_docs):
        if d >= 10 and rng.random() < 0.12:
            # a near duplicate of an earlier document
            base = texts[int(rng.integers(0, d))].split()
            if rng.random() < 0.5:
                base[int(rng.integers(0, len(base)))] = str(rng.choice(WORDS))
            texts.append(" ".join(base + ["dup"]))
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(WORDS, n)))
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[int(i)] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{d % 20}" for d in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    n_vec, dim, k = 300, 64, 10
    centers = rng.normal(0, 1, (k, dim))
    labels = rng.integers(0, k, n_vec)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)}))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}))
    adjectives = ["small", "red", "blue", "green", "large", "steel", "brass", "shiny"]
    nouns = ["ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "spring"]
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)}))
    day0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2400, n_ord)
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(900, 500000, n_ord), 2),
        "o_orderdate": pa.array(day0 + days.astype("timedelta64[D]"), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)}))
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, c + 1) for c in lines])
    ship = days[okey] + rng.integers(1, 120, n_li)
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(day0 + ship.astype("timedelta64[D]"), pa.timestamp("us"))}))
    n_ev = 1000
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    ts = np.datetime64("2024-01-01", "us") + offsets
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.round(rng.uniform(0.01, 490, n_ev), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)]}))
