"""Seeded input generation for the benchmark.

Everything a run reads is made here from ``--seed``, inside the run's
own work directory, so the same seed gives byte-identical inputs:

- the star schema TESTDATA.md describes (``region`` .. ``embeddings``,
  one parquet file per table) at a chosen scale factor;
- the footprint raw zone: one list of records per year, served to the
  REST extractor by an in-process ``fetch``;
- a revised year for ``upsert_partitions`` and a country-level update
  batch for ``merge_rowlevel``;
- market data in the ``data.csv`` shape for ``mkt_returns``.

Columns are independent uniform draws, as in the TESTDATA.md tables.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["small", "red", "blue", "hot", "old", "big", "green", "cold"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "the a fast slow key order sort table scan merge part window small hash"
    " join batch stream spark dup group query row data filter customer line"
    " value agg column big vector"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

YEARS = tuple(range(2000, 2025))  # the extractor's default year range
RECORD_TYPES = [
    "BiocapPerCap", "BiocapTotGHA", "EFConsPerCap", "EFConsTotGHA",
    "EFExportsTotGHA", "EFImportsTotGHA", "EFProdPerCap", "EFProdTotGHA",
]
N_COUNTRIES = 250
MEASURES = [
    "cropLand", "grazingLand", "forestLand", "fishingGround", "builtupLand",
    "carbon", "value",
]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per input, so adding an input never
    shifts the draws of another."""
    return np.random.default_rng([seed, int.from_bytes(stream.encode(), "little") % (2**32)])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten TESTDATA-shaped tables at scale ``sf``; returns row
    counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(200, int(50_000 * sf))
    n_vecs = max(256, int(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, "customer")
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })

    r = _rng(seed, "supplier")
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99),
    })

    r = _rng(seed, "part")
    names = np.array([f"{a} {b}" for a in ADJECTIVES for b in NOUNS])
    keys = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": keys,
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            r.integers(0, 25, n_part)
        ],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })

    r = _rng(seed, "orders")
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
    })

    r = _rng(seed, "lineitem")
    tables["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, n_line, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04"),
    })

    r = _rng(seed, "events")
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, month_us, n_ev)) + np.datetime64(
        "2024-01-01T00:00:00", "us"
    ).astype(np.int64)
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    tables["documents"] = _documents(_rng(seed, "documents"), n_docs)
    tables["embeddings"] = _embeddings(_rng(seed, "embeddings"), n_vecs)

    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _documents(r: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a small vocabulary; about one in
    twelve is a near-copy of an earlier document (a few words
    replaced), so the dedup operators have pairs to find."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and r.random() < 0.08:
            words = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = vocab[r.integers(0, len(vocab))]
        else:
            words = list(vocab[r.integers(0, len(vocab), int(r.integers(10, 100)))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(r: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around ten cluster centres; the label is the
    cluster."""
    centres = r.normal(size=(10, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = r.integers(0, 10, n)
    vecs = 0.15 * centres[labels] + r.normal(scale=0.12, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), dim).cast(
            pa.list_(pa.float32())
        ),
        "label": labels.astype(np.int32),
    })


# ---------------------------------------------------------------- ETL


def _countries() -> list[dict]:
    out = []
    for i in range(N_COUNTRIES):
        name = "Brazil" if i == 21 else f"Country {i:03d}"
        iso = chr(65 + i // 26 % 26) + chr(65 + i % 26)
        out.append({
            "countryCode": i + 1,
            "countryName": name,
            "shortName": name.upper(),
            "isoa2": iso,
        })
    return out


def _records(r: np.random.Generator, year: int, countries: list[dict]) -> list[dict]:
    """One API payload: every country x record type for one year."""
    n = len(countries) * len(RECORD_TYPES)
    vals = np.round(r.uniform(0.0, 5e6, (n, len(MEASURES))), 6)
    nulls = r.random((n, len(MEASURES))) < 0.02
    scores = r.integers(1, 4, n)
    out = []
    k = 0
    for c in countries:
        for rec in RECORD_TYPES:
            row = {"year": year, **c, "record": rec}
            for j, m in enumerate(MEASURES):
                row[m] = None if nulls[k, j] else float(vals[k, j])
            row["score"] = f"{scores[k]}A"
            out.append(row)
            k += 1
    return out


def footprint_inputs(seed: int) -> dict:
    """The footprint raw zone and its two revisions.

    Returns ``payloads`` (year -> records, as the API serves them),
    ``upsert_year`` / ``upsert_records`` (a revised delivery of one
    whole year) and ``merge_records`` (revised records for 25
    countries in each of two other years)."""
    r = _rng(seed, "footprint")
    countries = _countries()
    payloads = {y: _records(r, y, countries) for y in YEARS}
    years = [int(y) for y in r.choice(YEARS, 3, replace=False)]
    upsert_year, merge_years = years[0], years[1:]
    upsert_records = _records(r, upsert_year, countries)
    picked = sorted(int(i) for i in r.choice(N_COUNTRIES, 25, replace=False))
    merge_records = [
        rec
        for y in merge_years
        for rec in _records(r, y, [countries[i] for i in picked])
    ]
    return {
        "payloads": payloads,
        "upsert_year": upsert_year,
        "upsert_records": upsert_records,
        "merge_years": merge_years,
        "merge_codes": [countries[i]["countryCode"] for i in picked],
        "merge_records": merge_records,
    }


def write_json(records: list[dict], path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(records, f)


def write_market_csv(
    path: str, seed: int, n_funds: int = 200, start: str = "2021-01-01", years: int = 4
) -> int:
    """``data.csv``-shaped market data: funds x two return types x
    every calendar day; DAILY_RETURN is NULL exactly on weekends (the
    fixture invariant). Returns the row count."""
    r = _rng(seed, "market")
    d0 = dt.date.fromisoformat(start)
    days = [d0 + dt.timedelta(days=i) for i in range(365 * years + years // 4)]
    n = n_funds * 2 * len(days)
    vals = np.round(r.uniform(0.0005, 0.4988, n), 10)
    k = 0
    with open(path, "w") as f:
        f.write("FUND_CODE,MARKET_DATE,RETUNR_TYPE,DAILY_RETURN\n")
        for fund in range(1, n_funds + 1):
            for typ in ("TYPE_A", "TYPE_B"):
                code = f"FUND_{fund:03d}"
                lines = []
                for d in days:
                    v = "" if d.weekday() >= 5 else repr(float(vals[k]))
                    lines.append(f"{code},{d.isoformat()},{typ},{v}\n")
                    k += 1
                f.writelines(lines)
    return n
