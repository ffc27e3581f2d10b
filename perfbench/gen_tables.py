"""Seeded generator of the analytics_mix input tables.

Writes one parquet file per table (region nation customer supplier part
orders lineitem events documents embeddings) with the column names and
physical types the program's `Tables` readers and the gates' DuckDB
oracles expect: a TPC-H-like star schema, a 30-day event stream and a
word-level text corpus, all uniform draws. `sf` scales the row counts
(sf 0.1 gives 600 k lineitem rows). The same seed and sf give the same
files.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DAY_US = 86_400_000_000


def _days(rng, n, start, end):
    """Midnight timestamps (µs) drawn uniformly from [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, options, n):
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)],
                    pa.string())


def _text(rng, n):
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 100))
        words = list(np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), k)])
        if rng.random() < 0.05:
            words.insert(int(rng.integers(0, k)), "dup")
        texts.append(" ".join(words))
    # a few exact duplicates, so the dedup paths find something
    for i in rng.integers(0, n, max(1, n // 600)):
        texts[int(i)] = texts[int(rng.integers(0, n))]
    return texts


def generate(seed, out_dir, sf):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), i32),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, ["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                        "HOUSEHOLD", "BUILDING"], n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                np.asarray("blue cold hot red small new old large".split())[rng.integers(0, 8, n_part)],
                np.asarray("ring plate gear rod bolt anvil widget gizmo".split())[rng.integers(0, 8, n_part)])]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["O", "P", "F"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900, 105000),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["N", "A", "R"], n_line),
            "l_linestatus": _pick(rng, ["O", "F"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(np.sort(rng.integers(0, 30 * DAY_US, n_ev))
                           + np.datetime64("2024-01-01", "us").astype(np.int64),
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
            "event_type": _pick(rng, ["signup", "click", "error", "view", "purchase"], n_ev),
            "value": np.round(rng.exponential(60.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        },
    }
    texts = _text(rng, n_doc)
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    }
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

