"""Benchmark inputs, generated in-process.

Two generators:

- :func:`write_tables` writes the ten relational tables the query
  registry reads (TPC-H-ish star schema plus ``events``, ``documents``
  and ``embeddings``) as one single-row-group parquet file each, with
  the column types and value ranges of the engine's reference test
  data, at TPC-H scale factor ``SF``. The dataset is fixed
  (``DATA_SEED``), like a TPC-H database at a given scale, so every run
  reads the same rows and rows-only query outputs can be pinned; the
  workload seed orders the requests instead.
- :func:`trend_grid` generates a pixel grid of observation series from
  the planted-truth recipes (annual trend component per recipe,
  seasonal cycle, N(0, 0.02) noise, bimonthly dates) and returns the
  truth per pixel. This one is drawn from the workload seed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: fixed generator seed of the relational dataset
DATA_SEED = 20240517
#: TPC-H scale factor of the relational dataset: its queries are bound
#: by per-query fixed cost at any of the reference test-data scales
SF = 0.001

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _day_stamps(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _cents(rng, n: int, lo: float, hi: float) -> np.ndarray:
    """Uniform money values with exactly two decimals."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _tables() -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * SF)
    n_supp = int(10_000 * SF)
    n_part = int(200_000 * SF)
    n_ord = int(1_500_000 * SF)
    n_line = int(6_000_000 * SF)
    n_evt = int(1_000_000 * SF)
    n_doc = 500  # the reference test data's floor for the text tables
    n_emb = 500
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust,
            ),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99),
        }
    )
    adj = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": _cents(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _day_stamps(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _day_stamps(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    # events: a month of traffic, exponential inter-arrival gaps
    gaps_us = rng.exponential(30 * 86400e6 / n_evt, n_evt).astype(np.int64)
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us),
            "user_id": rng.integers(0, 1500, n_evt).astype(np.int64),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    # documents: random word strings; 5% are an earlier document + " dup"
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(n_doc)
    ]
    for i in np.sort(rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False)):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(emb),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return t


def write_tables(out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, df in _tables().items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", table.column("embedding").cast(pa.list_(pa.float32()))
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# --------------------------------------------------------------------------
# trend grid

LON0, LAT0, STEP = 13.0, 52.0, 0.072
YEAR0, N_YEARS, OBS_PER_YEAR = 1990, 20, 24
BREAK_MONTH = 120
BREAK_STEP = 0.15
THRESHOLD = 0.1
#: DBEST request's first and second level-shift knobs: a planted
#: 0.15 step is abrupt under them (the form default 0.2 for the
#: second would call it gradual)
LEVEL_SHIFT = 0.1

#: recipe → (annual trend component f(yr), expected PolyTrend class);
#: class None means PolyTrend's class is not checked for that recipe
RECIPES = {
    "no_trend": (lambda yr: np.full(yr.shape, 0.45), 0),
    "linear_up": (lambda yr: 0.3 + 0.008 * yr, 1),
    "linear_down": (lambda yr: 0.5 - 0.008 * yr, 1),
    "quadratic": (lambda yr: 0.3 + 0.0168 * yr - 0.0006 * yr**2, 2),
    "cubic": (lambda yr: 0.5 + 0.0002 * (yr - 10) ** 3 - 0.007 * (yr - 10), 3),
    "concealed": (lambda yr: 0.35 + 0.001 * (yr - 9.5) ** 2, -1),
    "abrupt_break": (lambda yr: 0.45 + BREAK_STEP * (yr >= BREAK_MONTH / 12), None),
    "unqualified": (lambda yr: np.full(yr.shape, 0.45), None),
}


#: recipe tile (width, height) in pixels: one pixel per recipe
TILE = (4, 2)


def _obs_times(year0: int, n_years: int) -> np.ndarray:
    """Bimonthly acquisition dates: the 1st and 16th of every month."""
    k = np.arange(n_years * OBS_PER_YEAR)
    months = (np.datetime64(f"{year0}-01", "M") + k // 2).astype("datetime64[D]")
    return (months + np.where(k % 2, 15, 0)).astype("datetime64[us]")


def trend_grid(seed: int, side: int, year0: int = YEAR0, n_years: int = N_YEARS):
    """Observations of a ``side`` × ``side`` pixel grid (``side`` a
    multiple of the tile width).

    Returns ``(obs, truth)``: ``obs`` has columns longitude, latitude,
    time, value; ``truth`` has one row per pixel with its recipe. The
    grid is tiled by ``TILE`` blocks that each hold every recipe once,
    in an order the seed shuffles per tile, so any tile-aligned request
    box holds the same recipe mix for every seed and the work a request
    does does not vary with the seed. ``unqualified`` pixels have every
    value of two years at 0.05, below the 0.1 quality threshold, so
    their annual and monthly composites fail the gate."""
    rng = np.random.default_rng(seed)
    names = list(RECIPES)
    n_px = side * side
    tw, th = TILE
    tiles = rng.permuted(np.tile(np.arange(len(names)), ((side // tw) * (side // th), 1)), axis=1)
    x, y = np.arange(n_px) % side, np.arange(n_px) // side
    recipe = tiles[(y // th) * (side // tw) + x // tw, (y % th) * tw + x % tw]
    times = _obs_times(year0, n_years)
    k = np.arange(times.size)
    yr = (k // OBS_PER_YEAR).astype(np.float64)  # years since YEAR0
    season = 0.05 * np.sin(2 * np.pi * ((k // 2) % 12) / 12.0)
    values = np.empty((n_px, times.size))
    for i, name in enumerate(names):
        rows = recipe == i
        values[rows] = RECIPES[name][0](yr) + season
    values += rng.normal(0.0, 0.02, values.shape)
    low = np.isin(k // OBS_PER_YEAR, (3, 13))
    values[np.ix_(recipe == names.index("unqualified"), low)] = 0.05
    lon = LON0 + STEP * (np.arange(n_px) % side)
    lat = LAT0 + STEP * (np.arange(n_px) // side)
    obs = pd.DataFrame(
        {
            "longitude": np.repeat(lon, times.size),
            "latitude": np.repeat(lat, times.size),
            "time": np.tile(times, n_px),
            "value": values.ravel(),
        }
    )
    truth = pd.DataFrame(
        {"longitude": lon, "latitude": lat, "recipe": np.array(names)[recipe]}
    )
    return obs, truth


def ingest_batch(seed: int, side: int, year: int) -> pd.DataFrame:
    """One later year of observations for every pixel (a flat series
    plus noise: ingested years lie outside the requests' year range)."""
    rng = np.random.default_rng([seed, year])
    n_px = side * side
    times = _obs_times(year, 1)
    lon = LON0 + STEP * (np.arange(n_px) % side)
    lat = LAT0 + STEP * (np.arange(n_px) // side)
    return pd.DataFrame(
        {
            "longitude": np.repeat(lon, times.size),
            "latitude": np.repeat(lat, times.size),
            "time": np.tile(times, n_px),
            "value": 0.45 + rng.normal(0.0, 0.02, n_px * times.size),
        }
    )
