"""Seeded input generators for the three workloads.

Every table is a pure function of ``(seed, shape)``: numpy's PCG64
streams are keyed by ``[seed, <table tag>]`` and the parquet files are
written by pyarrow without wall-clock metadata, so the same seed gives
byte-identical files and any other seed gives different ones
(``tests/test_gen.py``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_US_PER_HOUR = 3_600_000_000
_US_2018 = 1_514_764_800_000_000  # 2018-01-01T00:00:00Z
_US_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_US_PER_DAY = 24 * _US_PER_HOUR


def _rng(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng([seed, *tag.encode()])


def write_parquet(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy",
                   row_group_size=row_group_size)


# ---------------------------------------------------------------------------
# project_query: a dsgrid-shaped load dataset plus its mapping tables
# ---------------------------------------------------------------------------

SUBSECTORS = ["com_office", "com_retail", "res_single", "res_multi",
              "ind_mfg", "ind_mining"]
METRICS = ["electricity_cooling", "electricity_heating"]
LOAD_TABLES = ("load", "ev", "county_to_state", "subsector_to_sector",
               "state_to_county", "county")
TIME_ZONES = ["America/New_York", "America/Chicago", "America/Denver",
              "America/Los_Angeles"]


@dataclass(frozen=True)
class LoadShape:
    """Dimension sizes of the generated load dataset. The fact table has
    ``states * counties_per_state * len(SUBSECTORS) * len(METRICS) * hours``
    rows; the second (state-level) dataset has ``states * ... * hours``."""

    states: int = 2
    counties_per_state: int = 2
    hours: int = 8760

    @property
    def counties(self) -> int:
        return self.states * self.counties_per_state

    @property
    def load_rows(self) -> int:
        return self.counties * len(SUBSECTORS) * len(METRICS) * self.hours

    @property
    def state_rows(self) -> int:
        return self.states * len(SUBSECTORS) * len(METRICS) * self.hours


def _state_id(s: int) -> str:
    return f"{s + 1:02d}"


def _county_id(s: int, c: int) -> str:
    return f"{s + 1:02d}{2 * c + 1:03d}"


def _profile(rng, n_series: int, hours: int) -> np.ndarray:
    """Hourly series with a diurnal and a seasonal swing around a
    per-series base level, shape (n_series, hours)."""
    h = np.arange(hours)
    base = rng.uniform(5.0, 500.0, n_series)[:, None]
    phase = rng.uniform(0, 2 * np.pi, n_series)[:, None]
    daily = 1.0 + 0.35 * np.sin(2 * np.pi * h / 24.0 + phase)
    season = 1.0 + 0.25 * np.cos(2 * np.pi * h / hours + phase / 3)
    noise = rng.lognormal(0.0, 0.1, (n_series, hours))
    return base * daily * season * noise


def _stacked(geos: list[str], hours: int, values: np.ndarray) -> pa.Table:
    """Long table in (geography, subsector, metric, timestamp) order."""
    n_geo = len(geos)
    n_ser = n_geo * len(SUBSECTORS) * len(METRICS)
    idx = np.arange(n_ser)
    geo_i = idx // (len(SUBSECTORS) * len(METRICS))
    sub_i = (idx // len(METRICS)) % len(SUBSECTORS)
    met_i = idx % len(METRICS)
    ts = _US_2018 + np.arange(hours, dtype=np.int64) * _US_PER_HOUR

    def dict_col(codes, vocab):
        return pa.DictionaryArray.from_arrays(
            pa.array(np.repeat(codes, hours).astype(np.int32)),
            pa.array(vocab))

    return pa.table({
        "geography": dict_col(geo_i, geos),
        "subsector": dict_col(sub_i, SUBSECTORS),
        "metric": dict_col(met_i, METRICS),
        "timestamp": pa.array(np.tile(ts, n_ser),
                              pa.timestamp("us", tz="UTC")),
        "value": pa.array(values.reshape(-1), pa.float64()),
    })


def load_tables(seed: int, shape: LoadShape) -> dict[str, pa.Table]:
    """The project_query inputs:

    - ``load``: county x subsector x metric x hourly 2018 fact table;
    - ``ev``: a second, state-level dataset (disaggregated to counties by
      the weighted ``state_to_county`` mapping);
    - ``county_to_state`` (aggregation), ``subsector_to_sector``,
      ``state_to_county`` (weighted disaggregation) mapping records;
    - ``county``: geography dimension records with per-county time zones.
    """
    states = [_state_id(s) for s in range(shape.states)]
    counties = [_county_id(s, c) for s in range(shape.states)
                for c in range(shape.counties_per_state)]
    county_state = [states[i // shape.counties_per_state]
                    for i in range(len(counties))]
    n_sub_met = len(SUBSECTORS) * len(METRICS)
    load = _stacked(counties, shape.hours, _profile(
        _rng(seed, "load"), len(counties) * n_sub_met, shape.hours))
    ev = _stacked(states, shape.hours, 0.1 * _profile(
        _rng(seed, "ev"), len(states) * n_sub_met, shape.hours))

    w = _rng(seed, "weights").uniform(0.5, 1.5, len(counties))
    for s in range(shape.states):
        sl = slice(s * shape.counties_per_state,
                   (s + 1) * shape.counties_per_state)
        w[sl] /= w[sl].sum()
    tz_rng = _rng(seed, "tz")
    state_tz = [TIME_ZONES[i] for i in tz_rng.integers(0, len(TIME_ZONES),
                                                       shape.states)]
    return {
        "load": load,
        "ev": ev,
        "county_to_state": pa.table({
            "from_id": counties, "to_id": county_state,
            "from_fraction": [1.0] * len(counties)}),
        "subsector_to_sector": pa.table({
            "from_id": SUBSECTORS,
            "to_id": [s.split("_")[0] for s in SUBSECTORS],
            "from_fraction": [1.0] * len(SUBSECTORS)}),
        "state_to_county": pa.table({
            "from_id": county_state, "to_id": counties,
            "from_fraction": w.tolist()}),
        "county": pa.table({
            "id": counties, "name": [f"County {c}" for c in counties],
            "time_zone": [state_tz[i // shape.counties_per_state]
                          for i in range(len(counties))]}),
    }


def write_load_tables(seed: int, shape: LoadShape, out_dir: str) -> dict[str, str]:
    paths = {}
    for name, table in load_tables(seed, shape).items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        write_parquet(table, paths[name], row_group_size=1 << 17)
    return paths


# ---------------------------------------------------------------------------
# headline_mix: the TPC-H-ish star schema + events/documents/embeddings
# tables the __spark_entry__ slots read, at the sf0.01 shape of the
# repository's test data (same column names, types and value domains)
# ---------------------------------------------------------------------------

TPCH_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "lineitem": 60000, "events": 10000,
             "documents": 500, "embeddings": 500}
_N_USERS = 150
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = ["a", "the", "row", "column", "table", "query", "join", "hash",
          "scan", "filter", "sort", "merge", "batch", "stream", "window",
          "group", "agg", "key", "value", "part", "line", "order",
          "customer", "data", "spark", "vector", "fast", "slow", "big",
          "small"]
_EMB_DIM = 64


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * _US_PER_DAY,
                    pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng) -> pa.Table:
    n = TPCH_ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus one extra token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[w] for w in words))
    langs = rng.choice(len(_LANGS), n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in langs],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    n = TPCH_ROWS["embeddings"]
    centers = rng.normal(size=(10, _EMB_DIM))
    label = rng.integers(0, 10, n)
    v = 0.15 * centers[label] + rng.normal(size=(n, _EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    r = {t: _rng(seed, t) for t in TPCH_ROWS}
    n = TPCH_ROWS
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    g = r["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": pa.array(g.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(g, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": [_SEGMENTS[i] for i in
                         g.integers(0, 5, n["customer"])]})
    g = r["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": pa.array(g.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(g, -999.99, 9999.99, n["supplier"])})
    g = r["part"]
    keys = np.arange(n["part"])
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(g.integers(0, 8, n["part"]), g.integers(0, 8, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n["part"])],
        "p_type": [_PTYPES[i] for i in g.integers(0, 6, n["part"])],
        "p_size": pa.array(g.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    g = r["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n["customer"], n["orders"]),
                              pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in
                          g.integers(0, 3, n["orders"])],
        "o_totalprice": _money(g, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(g, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": [_PRIORITIES[i] for i in
                            g.integers(0, 5, n["orders"])]})
    g = r["lineitem"]
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(g.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(g.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, m), pa.int32()),
        "l_quantity": g.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(g, 900.0, 105000.0, m),
        "l_discount": g.integers(0, 11, m) / 100.0,
        "l_tax": g.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in g.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in g.integers(0, 2, m)],
        "l_shipdate": _days(g, "1995-01-02", "2001-11-04", m)})
    g = r["events"]
    m = n["events"]
    gaps = g.exponential(30 * _US_PER_DAY / m, m).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": pa.array(_US_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, _N_USERS, m), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in g.integers(0, 5, m)],
        "value": np.maximum(np.round(g.exponential(50.0, m), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, m)]})
    out["documents"] = _documents(r["documents"])
    out["embeddings"] = _embeddings(r["embeddings"])
    return out


def write_tpch_tables(seed: int, out_dir: str) -> dict[str, str]:
    paths = {}
    for name, table in tpch_tables(seed).items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        write_parquet(table, paths[name])
    return paths


# ---------------------------------------------------------------------------
# index churn: clustered unit vectors for an IVF index
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class VectorShape:
    dim: int = 64
    clusters: int = 16
    base_rows: int = 4000
    batch_rows: int = 2000


def centroids(seed: int, shape: VectorShape) -> np.ndarray:
    c = _rng(seed, "centroids").normal(size=(shape.clusters, shape.dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def vector_batch(seed: int, shape: VectorShape, index: int) -> tuple[np.ndarray, np.ndarray]:
    """Batch ``index`` of the vector stream: batch 0 is the index's
    base build (``base_rows``), later batches are appends. Ids are
    contiguous across batches. Returns (ids, unit vectors)."""
    n = shape.base_rows if index == 0 else shape.batch_rows
    start = 0 if index == 0 else shape.base_rows + (index - 1) * shape.batch_rows
    rng = _rng(seed, f"vectors{index}")
    cent = centroids(seed, shape)
    v = cent[rng.integers(0, shape.clusters, n)] + rng.normal(
        scale=0.35, size=(n, shape.dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return np.arange(start, start + n, dtype=np.int64), v


def vector_table(ids: np.ndarray, vectors: np.ndarray) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vectors.reshape(-1), pa.float64()),
            vectors.shape[1]).cast(pa.list_(pa.float64())),
    })


def query_vectors(seed: int, shape: VectorShape, round_index: int,
                  pool: np.ndarray, n: int) -> np.ndarray:
    """``n`` search vectors near members of ``pool`` (the committed
    vectors), so searches land in populated clusters."""
    rng = _rng(seed, f"queries{round_index}")
    q = pool[rng.integers(0, len(pool), n)] + rng.normal(
        scale=0.05, size=(n, shape.dim))
    return q / np.linalg.norm(q, axis=1, keepdims=True)
