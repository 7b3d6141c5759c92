"""Seeded input generators for the benchmark.

Everything the program under test reads is written here from a seed:

* ``write_flight_csvs`` — the 17-column raw flight CSV (FIXTURES.md §1)
  with planted dirty cases, plus a second CSV made of the same rows and
  10% new ones, and the planted-truth record of both.
* ``write_tables`` — the ten TPC-H-shaped parquet tables the registered
  queries read (same column names and Arrow types as the testdata of
  TESTDATA.md), one file and one row group each.

The same seed gives byte-identical files. The planted truth is derived
only from the generated rows and the pipeline's specification
(``validation.py`` and the reference's cleaning rules), never by running
the package.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Flight CSV
# ---------------------------------------------------------------------------

HEADER = [
    "Airline", "Source", "Source Name", "Destination", "Destination Name",
    "Departure Date & Time", "Arrival Date & Time", "Duration (hrs)",
    "Stopovers", "Aircraft Type", "Class", "Booking Source",
    "Base Fare (BDT)", "Tax & Surcharge (BDT)", "Total Fare (BDT)",
    "Seasonality", "Days Before Departure",
]

AIRLINES = [
    "Biman Bangladesh Airlines", "Us-bangla Airlines", "Novoair",
    "Air Astra", "Emirates", "Qatar Airways", "Singapore Airlines",
    "Malaysia Airlines", "Thai Airways", "Turkish Airlines",
    "Air India", "Indigo",
]

AIRPORTS = [
    ("DAC", "Hazrat Shahjalal International Airport, Dhaka"),
    ("CGP", "Shah Amanat International Airport, Chittagong"),
    ("CXB", "Cox's Bazar Airport"),
    ("ZYL", "Osmani International Airport, Sylhet"),
    ("JSR", "Jessore Airport"),
    ("RJH", "Shah Makhdum Airport, Rajshahi"),
    ("SPD", "Saidpur Airport"),
    ("BZL", "Barisal Airport"),
    ("DXB", "Dubai International Airport"),
    ("DOH", "Hamad International Airport"),
    ("SIN", "Singapore Changi Airport"),
    ("KUL", "Kuala Lumpur International Airport"),
    ("BKK", "Suvarnabhumi Airport"),
    ("CCU", "Netaji Subhas Chandra Bose International Airport"),
    ("DEL", "Indira Gandhi International Airport"),
    ("IST", "Istanbul Airport"),
    ("JED", "King Abdulaziz International Airport"),
    ("LHR", "London Heathrow Airport"),
]

STOPOVERS = ["Direct", "non-stop", "NON-STOP ", "1 Stop", "2 stops", "1 stop"]
AIRCRAFT = ["Boeing 737", "Airbus A320", "boeing 777 ", "Airbus A350", "Dash 8"]
CLASSES = ["Economy", "Business", "First Class", "economy ", " business"]
BOOKING = ["Online Website", "Travel Agency", "Direct Booking", "online website "]
SEASONS = ["Regular", "Eid", "Hajj", "Winter Holidays", "regular ", "EID"]

# dirty values the cleaner must drop (invalid measure) or null (bad date)
BAD_FARES = ["0", "0.00", "-150.00"]
BAD_DURATIONS = ["0", "0.0", "abc"]
BAD_DATES = ["not-a-date", "TBD", "unknown"]

#: planted shares of distinct rows; invalid + bad-date stays inside the
#: reference's 1% loss budget (validation.py), so ``passed`` is true
INVALID_SHARE = 0.004
BAD_DATE_SHARE = 0.003
DUP_SHARE = 0.02
INCR_SHARE = 0.10

_EPOCH = dt.datetime(2024, 1, 1)
_N_DAYS = 730

# row kinds
_OK, _INVALID, _BAD_DATE = 0, 1, 2


def _variant(name: str, k: int) -> str:
    """Case / whitespace variants that trim + title-case collapse."""
    return [name, name.lower(), name.upper(), f"  {name} ", f"{name.lower()} "][k]


def _flight_rows(rng: np.random.Generator, n: int) -> list[tuple[tuple[str, ...], int]]:
    """``n`` rows (fields, kind); kinds planted at exact shares."""
    air = rng.integers(0, len(AIRLINES), n)
    air_var = rng.choice(5, n, p=[0.8, 0.05, 0.05, 0.05, 0.05])
    src = rng.integers(0, len(AIRPORTS), n)
    dst = (src + rng.integers(1, len(AIRPORTS), n)) % len(AIRPORTS)
    dep_s = rng.integers(0, _N_DAYS * 86400, n)
    dur = np.round(rng.uniform(0.5, 14.0, n), 4)
    stop = rng.integers(0, len(STOPOVERS), n)
    craft = rng.integers(0, len(AIRCRAFT), n)
    cls = rng.integers(0, len(CLASSES), n)
    book = rng.integers(0, len(BOOKING), n)
    base = np.round(rng.uniform(1500.0, 90000.0, n), 2)
    tax = np.round(base * rng.uniform(0.08, 0.25, n), 2)
    season = rng.integers(0, len(SEASONS), n)
    days = rng.integers(1, 91, n)

    kinds = np.full(n, _OK)
    picks = rng.permutation(n)
    n_inv, n_bad = round(INVALID_SHARE * n), round(BAD_DATE_SHARE * n)
    kinds[picks[:n_inv]] = _INVALID
    kinds[picks[n_inv:n_inv + n_bad]] = _BAD_DATE
    bad_k = rng.integers(0, 6, n)

    rows = []
    for i in range(n):
        dep = _EPOCH + dt.timedelta(seconds=int(dep_s[i]))
        arr = dep + dt.timedelta(seconds=int(dur[i] * 3600))
        dep_txt = dep.strftime("%Y-%m-%d %H:%M:%S")
        dur_txt = f"{dur[i]:.4f}"
        total_txt = f"{base[i] + tax[i]:.2f}"
        if kinds[i] == _INVALID:
            if bad_k[i] < 3:
                total_txt = BAD_FARES[bad_k[i]]
            else:
                dur_txt = BAD_DURATIONS[bad_k[i] - 3]
        elif kinds[i] == _BAD_DATE:
            dep_txt = BAD_DATES[bad_k[i] % 3]
        s, d = AIRPORTS[src[i]], AIRPORTS[dst[i]]
        rows.append(((
            _variant(AIRLINES[air[i]], air_var[i]),
            s[0], _variant(s[1], air_var[i]),
            d[0], d[1],
            dep_txt, arr.strftime("%Y-%m-%d %H:%M:%S"), dur_txt,
            STOPOVERS[stop[i]], AIRCRAFT[craft[i]], CLASSES[cls[i]],
            BOOKING[book[i]], f"{base[i]:.2f}", f"{tax[i]:.2f}", total_txt,
            SEASONS[season[i]], str(days[i]),
        ), int(kinds[i])))
    return rows


def _with_dups(rng: np.random.Generator, rows: list) -> list:
    """Append exact duplicates of randomly chosen rows, then shuffle."""
    dup_idx = rng.integers(0, len(rows), round(DUP_SHARE * len(rows)))
    out = rows + [rows[i] for i in dup_idx]
    return [out[i] for i in rng.permutation(len(out))]


def expected_report(rows: list, prior: list | None = None) -> dict:
    """The ``run_pipeline`` report the specification implies for loading
    ``rows`` into a warehouse that already holds ``prior`` (None = empty).

    Bronze holds every distinct row ever loaded. Invalid rows (measure
    coerced to <= 0) leave silver; bad-date rows stay in silver, so they
    feed the airline and airport dims, but leave dim_date and the fact.
    """
    kind = dict(rows)
    seen = dict(prior or [])
    bronze = {**seen, **kind}
    valid = {r: k for r, k in bronze.items() if k != _INVALID}
    fact = [r for r, k in valid.items() if k == _OK]
    deduped = len(bronze)
    loss_pct = round((deduped - len(fact)) * 100.0 / deduped, 4) if deduped else 0.0
    loss_ok = 0.0 <= loss_pct <= 1.0
    return {
        "ingested_new_rows": len(kind.keys() - seen.keys()),
        "rows_dropped_invalid": deduped - len(valid),
        "dims": {
            "dim_airlines": len({r[0].strip().lower() for r in valid}),
            "dim_airports": len({r[1] for r in valid} | {r[3] for r in valid}),
            "dim_date": len({r[5][:10] for r in fact}),
        },
        "source_rows": len(rows),
        "deduped_rows": deduped,
        "staged_rows": deduped,
        "fact_rows": len(fact),
        "staging_ok": True,
        "loss_pct": loss_pct,
        "loss_ok": loss_ok,
        "passed": loss_ok,
    }


def planted_record(rows: list) -> dict:
    """What was planted in one CSV, counted over its rows."""
    distinct = dict(rows)
    return {
        "source_rows": len(rows),
        "distinct_rows": len(distinct),
        "exact_duplicates": len(rows) - len(distinct),
        "invalid_rows": sum(k == _INVALID for k in distinct.values()),
        "bad_date_rows": sum(k == _BAD_DATE for k in distinct.values()),
        "zero_or_negative_fares": sum(
            k == _INVALID and r[14] in BAD_FARES for r, k in distinct.items()),
        "bad_date_strings": {
            s: sum(r[5] == s for r in distinct) for s in BAD_DATES},
    }


def _write_csv(path: str, rows: list) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(HEADER)
        w.writerows(r for r, _ in rows)


def write_flight_csvs(out_dir: str, seed: int, n_distinct: int) -> dict:
    """Write ``full.csv`` (``n_distinct`` planted rows plus duplicates) and
    ``incr.csv`` (the same rows plus ``INCR_SHARE`` new ones). Returns
    paths, the planted record of each file and the expected reports of
    loading full into an empty warehouse (``full``), incr on top of it
    (``incr``), and incr once more (``rerun``: nothing new)."""
    os.makedirs(out_dir, exist_ok=True)
    full = _with_dups(np.random.default_rng([seed, 1]),
                      _flight_rows(np.random.default_rng([seed, 0]), n_distinct))
    new = _flight_rows(np.random.default_rng([seed, 2]),
                       round(INCR_SHARE * n_distinct))
    incr = full + new
    incr = [incr[i] for i in np.random.default_rng([seed, 3]).permutation(len(incr))]
    paths = {"full": os.path.join(out_dir, "full.csv"),
             "incr": os.path.join(out_dir, "incr.csv")}
    _write_csv(paths["full"], full)
    _write_csv(paths["incr"], incr)
    return {
        "paths": paths,
        "planted": {"full": planted_record(full), "incr": planted_record(incr)},
        "expected": {"full": expected_report(full),
                     "incr": expected_report(incr, prior=full),
                     "rerun": expected_report(incr, prior=incr)},
    }


# ---------------------------------------------------------------------------
# TPC-H-shaped parquet tables
# ---------------------------------------------------------------------------

_WORDS = (
    "spark stream batch table query join sort hash group value key row "
    "column scan filter window data order part line vector fast slow big "
    "small merge agg customer"
).split()
_STOP = ["the", "a", "and", "of", "to", "in", "is", "for", "with", "on"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _ts(offsets: np.ndarray, base: dt.datetime, unit_us: int = 86_400_000_000) -> pa.Array:
    """Naive microsecond timestamps ``base + offsets * unit_us``."""
    us = np.datetime64(base, "us") + (offsets * unit_us).astype("timedelta64[us]")
    return pa.array(us, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents with planted exact duplicates, near-duplicates,
    PII strings and too-short docs, so every curation stage has work."""
    vocab = np.array(_WORDS + _STOP)
    p = np.r_[np.full(len(_WORDS), 0.7 / len(_WORDS)), np.full(len(_STOP), 0.3 / len(_STOP))]
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:        # exact duplicate modulo case/spacing
            t = texts[int(rng.integers(0, i))].upper() + "  "
        elif i > 10 and r < 0.10:      # near duplicate: one word swapped
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(vocab))
            t = " ".join(toks)
        elif r < 0.13:                 # too short to pass the quality gate
            t = " ".join(rng.choice(vocab, 3))
        else:
            t = " ".join(rng.choice(vocab, int(rng.integers(12, 90)), p=p))
            if r < 0.20:               # contact strings for the PII scrub
                t += (f" mail user{i}@example.com or call 555-{i % 900 + 100}-"
                      f"{i % 9000 + 1000} from 10.{i % 250}.{i % 7}.{i % 9 + 1}")
        texts.append(t)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[k] for k in rng.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale ``sf`` (sf 0.1 ≈ 600k lineitem rows)."""
    rng = np.random.default_rng([seed, 10])
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 10), max(int(1_500_000 * sf), 10)
    n_li, n_ev = 4 * n_ord, max(int(1_000_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 20)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(
            rng.choice(["large", "small", "hot", "blue", "red"], n_part), " "),
            rng.choice(["ring", "bolt", "nut", "gear", "pipe"], n_part))),
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": pa.array(rng.choice(["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": np.round(rng.uniform(1000, 450000, n_ord), 2),
        "o_orderdate": _ts(rng.integers(0, 2405, n_ord), dt.datetime(1995, 1, 1)),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord))})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": _ts(rng.integers(0, 2500, n_li), dt.datetime(1995, 1, 2))})
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev)),
                  dt.datetime(2024, 1, 1), unit_us=1),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 5), n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(["view", "click", "signup", "purchase", "error"], n_ev)),
        "value": np.round(rng.uniform(0, 500, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(np.random.default_rng([seed, 11]), n_doc)
    emb = rng.standard_normal((n_doc, 64)).astype(np.float32) * 0.1
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), pa.int32())})
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the ten tables as ``{out_dir}/{name}.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
    return out_dir
