"""Seeded input generation for the graft benchmark.

Two datasets, both pure functions of the seed:

* the grid: one parquet file per 10-minute timestep in the reference's flat
  ``<ts>.parquet`` layout, each a dense lon x lat x h grid whose variables
  follow an analytic multilinear field, so every interpolated value has an
  exact expected answer (the JVM harness evaluates the same field from the
  coefficients this module returns);
* the corpus: the ten tables the operator suite reads, with the schemas and
  value distributions of the TPC-H-like test corpus (near-duplicate
  documents with a ``dup`` suffix, random unit embeddings, a sorted event
  stream), scaled by ``sf``.
"""
import datetime as dt
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GRID_T0 = dt.datetime(2024, 4, 9, 0, 0, 0)
CADENCE_S = 600
LON = np.arange(0.0, 360.0 + 1e-9, 5.0)                   # 73 planes
LAT = np.arange(-90.0, 90.0 + 1e-9, 5.0)                  # 37 planes
H = 250000.0 + 6250.0 * np.arange(25)                     # 25 planes


def ts_name(i):
    t = GRID_T0 + dt.timedelta(seconds=CADENCE_S * i)
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def grid_coefficients(seed):
    """Coefficients of the two multilinear fields, in normalised units:
    u = hours since GRID_T0, x = lon/360, y = lat/90, z = (h - 250 km)/150 km.
    f = c0 * (1 + c1 u/24 + c2 x + c3 y + c4 z + c5 x y + c6 u/24 z),
    every term bounded so that f stays strictly positive (0 is the fill
    value an out-of-hull point must return)."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for scale in (1.0e-12, 900.0):
        c = rng.uniform(-0.12, 0.12, size=6)
        out.append([scale * rng.uniform(1.0, 2.0)] + c.tolist())
    return out


def _field(c, u, x, y, z):
    return c[0] * (1.0 + c[1] * u / 24.0 + c[2] * x + c[3] * y + c[4] * z
                   + c[5] * x * y + c[6] * (u / 24.0) * z)


def write_grid(out_dir, coeffs, first, count):
    """Write timesteps first .. first+count-1 into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    lon, lat, h = np.meshgrid(LON, LAT, H, indexing="ij")
    lon, lat, h = lon.ravel(), lat.ravel(), h.ravel()
    x, y, z = lon / 360.0, lat / 90.0, (h - 250000.0) / 150000.0

    def write(i):
        u = i * CADENCE_S / 3600.0
        table = pa.table({
            "lon": lon, "lat": lat, "h": h,
            "rho[kg/m^3]": _field(coeffs[0], u, x, y, z),
            "T[K]": _field(coeffs[1], u, x, y, z),
        })
        pq.write_table(table, os.path.join(out_dir, ts_name(i) + ".parquet"))

    with ThreadPoolExecutor(4) as pool:
        list(pool.map(write, range(first, first + count)))


WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
PART_WORDS = (["large", "hot", "blue", "old", "cold", "red", "small", "new"],
              ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])


def _ts(start, seconds):
    return (np.datetime64(start, "us")
            + (np.asarray(seconds) * 1e6).astype("timedelta64[us]"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))


def write_corpus(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    # the text and vector tables keep a floor of 500 rows, as in the test corpus
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})

    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(PART_WORDS[0])[rng.integers(0, 8, n_part)]
    noun = np.array(PART_WORDS[1])[rng.integers(0, 8, n_part)]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})

    day0, n_days = np.datetime64("1995-01-01", "us"), 2404
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(day0 + (rng.integers(0, n_days, n_ord)
                                         * 86400 * 10**6).astype("timedelta64[us]")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(day0 + ((1 + rng.integers(0, n_days + 37, n_line))
                                        * 86400 * 10**6).astype("timedelta64[us]"))})

    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(_ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, n_ev)))),
        "user_id": rng.integers(0, int(15000 * sf), n_ev, dtype=np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    words = np.array(WORDS)
    lengths = rng.integers(10, 101, n_doc)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # one document in twenty is an exact copy of another plus a marker word,
    # the near-duplicate shape the dedup operators look for
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[rng.integers(0, n_doc)] + " dup"
    langs = np.array(["en", "en", "en", "en", "de", "es", "fr", "zh", "es", "fr",
                      "zh", "de", "en"])
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))})
