"""Seeded inputs for the engine benchmark.

Two kinds of input:

* The TPC-H-style lake the registered queries read (``region`` ...
  ``embeddings``), at scale factor 0.1: 600k lineitem rows, 150k orders,
  100k events, 5k documents, 2k embeddings. The tables are fixed data
  (seed 42), generated once per checkout into the benchmark's work
  directory; the workload seed only orders the operations that read them.
* Census-API-shaped tract responses and TIGER-style boundary records for
  the ``census_etl`` workload, generated per (workload seed, state).

Nothing here imports Spark.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time
import urllib.parse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
LAKE_SEED = 42
SCALE = 0.1

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def lake_tables(seed: int = LAKE_SEED, scale: float = SCALE) -> dict[str, pa.Table]:
    """The query lake as Arrow tables (same schemas as the engine's lake)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc, n_emb = int(1_000_000 * scale), int(50_000 * scale), int(20_000 * scale)
    i32, i64 = pa.int32(), pa.int64()

    region = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = np.array([f"{a} {n}" for a in adjs for n in nouns])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li),
    })
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + start_us
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_cust // 10, n_ev), i64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    n_dup = n_doc // 20
    dup_at = set(rng.choice(np.arange(n_doc // 10, n_doc), n_dup, replace=False).tolist())
    words = np.array(_WORDS)
    for i in range(n_doc):
        if i in dup_at:  # a near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def ensure_lake(work_dir: str) -> str:
    """Write the lake under ``work_dir`` once; return its directory.

    The write goes to a temporary sibling that is renamed into place, so
    an interrupted run never leaves a half-written lake behind."""
    lake = os.path.join(work_dir, f"lake_sf{SCALE}_seed{LAKE_SEED}")
    if os.path.isdir(lake):
        return lake
    tmp = f"{lake}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, table in lake_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, lake)
    except OSError:  # another run wrote the same lake first
        shutil.rmtree(tmp)
    return lake


# ---------------------------------------------------------------------------
# Census API responses and TIGER boundaries (census_etl)
# ---------------------------------------------------------------------------

# The 14 variables of examples/tract_level_analysis.py.
VARIABLES = {
    "B01003_001E": "total_population",
    "B01002_001E": "median_age",
    "B02001_002E": "white_alone",
    "B02001_003E": "black_alone",
    "B03003_003E": "hispanic_latino",
    "B19013_001E": "median_household_income",
    "B19301_001E": "per_capita_income",
    "B17001_002E": "below_poverty_level",
    "B25001_001E": "total_housing_units",
    "B25077_001E": "median_home_value",
    "B25002_003E": "vacant_units",
    "B15003_022E": "bachelors_degree",
    "B15003_023E": "masters_degree",
    "B15003_025E": "doctorate_degree",
}
SENTINELS = ("-666666666", "-999999999", "-888888888")
JUNK = ("N/A", "", "(X)")
MEAN_TRACTS = 1640  # ~85k tracts over the 52 FIPS codes


def tract_count(seed: int, state: str) -> int:
    return random.Random(f"{seed}|{state}|n").randint(
        MEAN_TRACTS * 9 // 10, MEAN_TRACTS * 11 // 10)


def tract_response(seed: int, state: str, variables: list[str]) -> list[list[str]]:
    """A Census API tract response (header row + string rows) for one state,
    with sentinel codes (~3%) and junk strings (~1%) among the values."""
    rng = random.Random(f"{seed}|{state}|tract")
    header = ["NAME", *variables, "state", "county", "tract"]
    rows = []
    for i in range(tract_count(seed, state)):
        vals = []
        for _ in variables:
            roll = rng.random()
            if roll < 0.03:
                vals.append(rng.choice(SENTINELS))
            elif roll < 0.04:
                vals.append(rng.choice(JUNK))
            else:
                vals.append(str(rng.randint(0, 90_000)))
        county, tract = f"{i // 40 + 1:03d}", f"{i % 40 + 1:04d}00"
        rows.append([f"Census Tract {i}, State {state}", *vals, state, county, tract])
    return [header, *rows]


class Transport:
    """In-memory stand-in for the Census REST endpoint: the ``fetch``
    callable ``CensusSparkPipeline`` accepts. Records its own busy time."""

    def __init__(self, seed: int):
        self.seed = seed
        self.busy_s = 0.0
        self.calls = 0

    def __call__(self, url: str) -> list[list[str]]:
        t0 = time.perf_counter()
        q = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
        variables = q["get"][0].split(",")[1:]
        state = re.search(r"state:(\d+)", q["in"][0]).group(1)
        out = tract_response(self.seed, state, variables)
        self.busy_s += time.perf_counter() - t0
        self.calls += 1
        return out


def boundary_records(seed: int, state: str) -> list[tuple[str, str]]:
    """(GEOID, WKT) records for one state: ~5% of the tracts have no
    boundary, and ~2% extra GEOIDs match no tract."""
    rng = random.Random(f"{seed}|{state}|tiger")
    out = []
    n = tract_count(seed, state)
    for i in range(n):
        if rng.random() < 0.05:
            continue
        geoid = f"{state}{i // 40 + 1:03d}{i % 40 + 1:04d}00"
        out.append((geoid, f"POINT({i % 40} {i // 40})"))
    for j in range(n // 50):
        out.append((f"{state}999{j:04d}00", f"POINT(-{j} -{j})"))
    return out


def _num(s: str) -> float | None:
    if s in SENTINELS:
        return None
    try:
        return float(s.strip())
    except ValueError:
        return None


def expected_state_totals(seed: int, state: str) -> dict:
    """What the read-back of one exported state must hold, computed in
    pure Python: rows, non-null total population and poverty counts (sentinels
    and junk are null), and the tracts the boundary join could not match."""
    resp = tract_response(seed, state, list(VARIABLES))
    header = resp[0]
    i_pop = header.index("B01003_001E")
    i_pov = header.index("B17001_002E")
    have_boundary = {g for g, _ in boundary_records(seed, state)}
    pop = pov = 0.0
    unmatched = 0
    for row in resp[1:]:
        p, v = _num(row[i_pop]), _num(row[i_pov])
        pop += p or 0.0
        pov += v or 0.0
        if row[-3] + row[-2] + row[-1] not in have_boundary:
            unmatched += 1
    return {"rows": len(resp) - 1, "total_population": pop,
            "below_poverty_level": pov, "unmatched": unmatched}
