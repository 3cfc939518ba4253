"""Seeded input generators for the benchmark's workloads.

Every table is written as `<dir>/<name>.parquet`, the layout the engine's
`ParquetCatalog` and registry rows read. The same seed gives the same
bytes. Sizes are fixed per workload; the seed varies only the shape of
the data, so run time does not swing with the seed.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Registry rows read a fixed data set (the run seed only orders their
# executions): the per-row fingerprints stored in expected/registry.tsv
# hold for exactly this data.
REGISTRY_DATA_SEED = 20261017
REGISTRY_SCALE = 0.001         # rows relative to a TPC-H-ish scale factor 1

# trends_dag: rows per source table stay near this figure for every seed
TRENDS_ROWS = 24_000

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _write(out, name, table):
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


# ---------------------------------------------------------------- trends_dag

def trends(seed, out):
    """The reference's four Google-Trends sources (top_terms,
    top_rising_terms and their international twins). Varies with the
    seed: number of weeks vs. number of geos (their product is held
    near TRENDS_ROWS / 25 ranks), the Zipf skew of the term draw, and
    the NULL share of region_code/region_name."""
    rng = np.random.default_rng(seed)
    weeks = int(rng.integers(6, 15))
    skew = float(rng.uniform(1.05, 1.6))
    null_share = float(rng.uniform(0.05, 0.35))
    ranks = np.arange(1, 26, dtype=np.int64)
    geos = max(4, round(TRENDS_ROWS / (weeks * len(ranks))))
    vocab = np.array([f"term_{i:05d}" for i in range(4000)])
    first_week = dt.date(2024, 1, 1)
    week_days = [first_week + dt.timedelta(days=7 * w) for w in range(weeks)]

    def terms(n):
        return vocab[np.minimum(rng.zipf(skew, n) - 1, len(vocab) - 1)]

    def grid(n_geo):
        """(geo index, week index, rank) for every row, rank-major inside
        each (geo, week) so that every geo/week has ranks 1..25."""
        g, w, r = np.meshgrid(np.arange(n_geo), np.arange(weeks), ranks, indexing="ij")
        return g.ravel(), w.ravel(), r.ravel()

    def scores(r):
        base = 100 - 4 * (r - 1) + rng.integers(-6, 7, len(r))
        return np.clip(base, 0, 100).astype(np.int64)

    def gains(n):
        return np.round(np.exp(rng.uniform(np.log(20), np.log(5000), n)), 1)

    def dates(w):
        week = np.array(week_days, dtype="datetime64[D]")[w]
        return pa.array(week), pa.array(week + np.timedelta64(7, "D"))

    # US DMAs
    g, w, r = grid(geos)
    week, refresh = dates(w)
    dma_ids = 500 + g
    us = {
        "dma_id": pa.array(dma_ids.astype(np.int64)),
        "dma_name": pa.array([f"DMA {i:03d}" for i in g]),
    }
    for name in ("top_terms", "top_rising_terms"):
        cols = dict(us)
        cols.update({"term": pa.array(terms(len(g))), "refresh_date": refresh,
                     "week": week, "score": pa.array(scores(r)), "rank": pa.array(r)})
        if name == "top_rising_terms":
            cols["percent_gain"] = pa.array(gains(len(g)))
        _write(out, name, pa.table(cols))

    # international: (country, region) geos; a seeded share of geos has
    # NULL region columns
    countries = max(2, geos // 6)
    g, w, r = grid(geos)
    week, refresh = dates(w)
    country = g % countries
    null_geo = rng.random(geos) < null_share
    region_code = [None if null_geo[i] else f"C{c:02d}-{i:03d}" for i, c in zip(g, country)]
    region_name = [None if null_geo[i] else f"Region {i:03d}" for i in g]
    intl = {
        "country_code": pa.array([f"C{c:02d}" for c in country]),
        "country_name": pa.array([f"Country {c:02d}" for c in country]),
        "region_code": pa.array(region_code, pa.string()),
        "region_name": pa.array(region_name, pa.string()),
    }
    for name in ("international_top_terms", "international_top_rising_terms"):
        cols = dict(intl)
        cols.update({"term": pa.array(terms(len(g))), "refresh_date": refresh,
                     "week": week, "score": pa.array(scores(r)), "rank": pa.array(r)})
        if name == "international_top_rising_terms":
            cols["percent_gain"] = pa.array(gains(len(g)))
        _write(out, name, pa.table(cols))


# ----------------------------------------------------------------- documents

def documents(rng, n, near_dup_share, exact_dup_share, mean_words):
    """Harness-shaped documents: words from a small vocabulary, a share
    of near duplicates (an earlier document plus a marker word) and of
    exact duplicates (an earlier document verbatim)."""
    langs = np.array(["en", "de", "es", "fr", "zh"])
    texts = []
    for i in range(n):
        u = rng.random()
        if i > 30 and u < near_dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 30 and u < near_dup_share + exact_dup_share:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(np.clip(rng.normal(mean_words, mean_words / 2), 8, 3 * mean_words))
            texts.append(" ".join(rng.choice(WORDS, k)))
    lang = langs[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


# -------------------------------------------------------------- registry_mix

def registry(out, scale=REGISTRY_SCALE, seed=REGISTRY_DATA_SEED):
    """The harness star schema (region … lineitem), events, documents
    and embeddings, shaped like the engine's test data."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)])}))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))}))
    adj = np.array(["blue", "hot", "small", "old", "red", "new", "cold", "large"])
    noun = np.array(["bolt", "gear", "anvil", "ring", "widget", "rod", "gizmo", "plate"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                       noun[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(types[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1))}))

    day0 = np.datetime64("1995-01-01", "us")
    span_days = 7 * 365
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(status[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(money(1000, 500000, n_ord)),
        "o_orderdate": pa.array(day0 + rng.integers(0, span_days, n_ord) * np.timedelta64(1, "D")),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)])}))
    flags, lstat = np.array(["A", "N", "R"]), np.array(["F", "O"])
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(flags[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(lstat[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(day0 + rng.integers(0, span_days, n_line) * np.timedelta64(1, "D"))}))

    ev_types = np.array(["click", "signup", "error", "view", "purchase"])
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.exponential(30 * 86400e6 / max(n_ev, 1), n_ev).astype(np.int64)  # 30 days
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts0 + np.cumsum(gaps) * np.timedelta64(1, "us")),
        "user_id": pa.array(rng.integers(0, max(150, n_cust // 10), n_ev).astype(np.int64)),
        "event_type": pa.array(ev_types[rng.integers(0, 5, n_ev)]),
        "value": pa.array(money(0.01, 200, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}))

    _write(out, "documents", documents(rng, 500, near_dup_share=0.05,
                                       exact_dup_share=0.004, mean_words=55))
    n_vec, dim, k = 500, 64, 10
    centers = rng.normal(0, 1, (k, dim))
    label = rng.integers(0, k, n_vec)
    vecs = centers[label] + rng.normal(0, 1.2, (n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))}))


def generate(workload, seed, out):
    """Write the inputs of one run; returns the input directory."""
    if workload == "trends_dag":
        trends(seed, out)
    else:
        registry(out)
    return out
