"""Seeded input tables for the batch workloads.

The tables have the schemas of the repository's parquet testdata
(FIXTURES.md section 5) and distributions modelled on it: `events` is
the batch stand-in for the trade stream, `documents` and `embeddings`
feed the dedup and retrieval suites. The TPC-H-style tables are small;
they exist because `graft.Tables.registerAll` registers every table.
The same seed always yields byte-identical inputs.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "fr", "zh", "de", "es"])
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
T0_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def events(rng, n, days):
    span_us = days * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + T0_US
    value = np.round(rng.exponential(50.0, n), 2)
    props = ['{"k": %d}' % k for k in rng.integers(0, 100, n)]
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array(props),
    }


def documents(rng, n):
    """Random word sequences; about 5% are an earlier document plus the
    word "dup" (near duplicates) and 0.2% exact copies, as in the
    testdata, so the dedup suites find real pairs."""
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def tpch(rng, n_orders=1500):
    n_cust, n_part, n_supp = 150, 200, 10
    n_li = n_orders * 4
    day_us = 86400 * 1_000_000
    okey = np.sort(rng.integers(1, n_orders + 1, n_li))
    return {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                       "MIDDLE EAST"])},
        "nation": {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
                   "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))},
        "customer": {
            "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
            "c_name": pa.array(["Customer#%09d" % i for i in range(1, n_cust + 1)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                               "HOUSEHOLD", "MACHINERY"])[
                rng.integers(0, 5, n_cust)])},
        "supplier": {
            "s_suppkey": pa.array(np.arange(1, n_supp + 1, dtype=np.int64)),
            "s_name": pa.array(["Supplier#%09d" % i for i in range(1, n_supp + 1)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2))},
        "part": {
            "p_partkey": pa.array(np.arange(1, n_part + 1, dtype=np.int64)),
            "p_name": pa.array(["part %d" % i for i in range(1, n_part + 1)]),
            "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(11, 56, n_part)]),
            "p_type": pa.array(np.array(["STANDARD BRASS", "SMALL STEEL", "LARGE TIN",
                                         "PROMO COPPER"])[rng.integers(0, 4, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, n_part), 2))},
        "orders": {
            "o_orderkey": pa.array(np.arange(1, n_orders + 1, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, n_orders), 2)),
            "o_orderdate": pa.array((T0_US - rng.integers(0, 2400, n_orders) * day_us)
                                    .astype("datetime64[us]")),
            "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                  "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n_orders)])},
        "lineitem": {
            "l_orderkey": pa.array(okey.astype(np.int64)),
            "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n_li), 2)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": pa.array((T0_US - rng.integers(0, 2400, n_li) * day_us)
                                   .astype("datetime64[us]"))},
    }


def generate(out_dir, seed, n_events, days, n_docs, n_emb):
    """Write all ten tables under `out_dir`. Each table draws from its
    own stream of the seed, so resizing one leaves the others unchanged."""
    ss = np.random.SeedSequence(seed)
    r_ev, r_doc, r_emb, r_tpch = (np.random.default_rng(s) for s in ss.spawn(4))
    _write(f"{out_dir}/events.parquet", events(r_ev, n_events, days))
    _write(f"{out_dir}/documents.parquet", documents(r_doc, n_docs))
    _write(f"{out_dir}/embeddings.parquet", embeddings(r_emb, n_emb))
    for name, cols in tpch(r_tpch).items():
        _write(f"{out_dir}/{name}.parquet", cols)
