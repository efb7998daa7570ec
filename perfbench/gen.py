"""Seeded input generator for the perfbench workloads.

Every input a run needs is made here from the run's seed, under the run's
own work directory; the same seed gives byte-identical inputs.  Nothing is
read from or written to any shared test-data location.

  query_mix  - the ten testdata tables (TPC-H-ish star schema, `events`,
               `documents`, `embeddings`) at the sf0.01 row counts, one
               parquet file each, in the layout `graft.Tables` reads.
  migrate    - Hive-partitioned `lineitem` and `orders` copies with four
               `pt=` partitions; the latest partition holds the full table.
  ann_ingest - a clustered 64-d corpus, arrival files (some rows from
               shifted clusters) and a query set.  The exact top-10 answers
               are computed by `exact_topk` below, never by the program.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.01 row counts of the reference testdata
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500,
         "embeddings": 500}

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
FLAGS = [("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")]
ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "cog"]

DAY_US = 86400 * 1000000
EPOCH_1995 = 788918400 * 1000000          # 1995-01-01T00:00:00
EPOCH_2024 = 1704067200 * 1000000         # 2024-01-01T00:00:00


def _ts(us):
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def orders_table(rng, n, n_cust):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "P", "O"], n)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def lineitem_table(rng, n, n_orders, n_part, n_supp):
    flags = rng.integers(0, len(FLAGS), n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([FLAGS[i][0] for i in flags]),
        "l_linestatus": pa.array([FLAGS[i][1] for i in flags]),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n) * DAY_US),
    })


def documents_table(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 92))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n),
        "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def unit_rows(x):
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def vec_column(x):
    return pa.array(list(x), pa.list_(pa.float32()))


def query_mix(rng, out):
    n = SIZES
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"]),
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"], dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n["customer"])),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"], dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
    }), f"{out}/supplier.parquet")
    parts = np.arange(n["part"], dtype=np.int64)
    _write(pa.table({
        "p_partkey": pa.array(parts),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))]),
        "p_brand": pa.array([f"Brand#{int(b)}" for b in
                             rng.integers(1, 26, n["part"])]),
        "p_type": pa.array(rng.choice(PTYPES, n["part"])),
        "p_size": pa.array(rng.integers(1, 51, n["part"], dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (parts % 1000) * 0.1, 2)),
    }), f"{out}/part.parquet")
    _write(orders_table(rng, n["orders"], n["customer"]), f"{out}/orders.parquet")
    _write(lineitem_table(rng, n["lineitem"], n["orders"], n["part"],
                          n["supplier"]), f"{out}/lineitem.parquet")
    ne = n["events"]
    _write(pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, 150, ne, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.exponential(60.0, ne) + 0.01, 2)),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, ne)]),
    }), f"{out}/events.parquet")
    _write(documents_table(rng, n["documents"]), f"{out}/documents.parquet")
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.02, (10, 64))
    x = unit_rows(centers[labels] + rng.normal(0.0, 0.125, (nv, 64)))
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": vec_column(x),
        "label": pa.array(labels.astype(np.int32)),
    }), f"{out}/embeddings.parquet")
    return {}


# migrate: the latest partition is the full table; older ones are samples
MIGRATE_LINEITEM = 60000
MIGRATE_ORDERS = 15000
PARTITIONS = ["20240101", "20240102", "20240103", "20240104"]


def migrate(rng, out):
    orders = orders_table(rng, MIGRATE_ORDERS, 1500)
    lineitem = lineitem_table(rng, MIGRATE_LINEITEM, MIGRATE_ORDERS, 2000, 100)
    for name, full in (("orders", orders), ("lineitem", lineitem)):
        for i, pt in enumerate(PARTITIONS):
            t = full if i == len(PARTITIONS) - 1 else full.take(
                np.sort(rng.choice(full.num_rows, full.num_rows // 8,
                                   replace=False)))
            _write(t, f"{out}/{name}/pt={pt}/part-0.parquet")
    return {}


# ann_ingest sizes
ANN_DIMS = 64
ANN_CLUSTERS = 32
ANN_BASE = 10000
ANN_ARRIVAL = 500
ANN_ARRIVALS = 48          # more than any run can drain
ANN_QUERIES = 64
QID_BASE = 1_000_000_000   # query ids never collide with corpus ids


def _clustered(rng, centers, n, spread):
    idx = rng.integers(0, len(centers), n)
    return unit_rows(centers[idx] + rng.normal(0.0, spread, (n, ANN_DIMS)))


def ann_ingest(rng, out):
    centers = rng.normal(0.0, 1.0, (ANN_CLUSTERS, ANN_DIMS))
    shifted = centers + rng.normal(0.0, 0.6, centers.shape)
    spread = 0.35
    base = _clustered(rng, centers, ANN_BASE, spread)
    _write(pa.table({"vec_id": pa.array(np.arange(ANN_BASE, dtype=np.int64)),
                     "embedding": vec_column(base)}), f"{out}/base.parquet")
    vecs = [base]
    for r in range(ANN_ARRIVALS):
        n_shift = ANN_ARRIVAL // 5
        a = np.concatenate([_clustered(rng, centers, ANN_ARRIVAL - n_shift, spread),
                            _clustered(rng, shifted, n_shift, spread)])
        ids = ANN_BASE + r * ANN_ARRIVAL + np.arange(ANN_ARRIVAL, dtype=np.int64)
        _write(pa.table({"vec_id": pa.array(ids), "embedding": vec_column(a)}),
               f"{out}/arrivals/arrival-{r:03d}.parquet")
        vecs.append(a)
    q = _clustered(rng, np.concatenate([centers, shifted]), ANN_QUERIES, spread)
    _write(pa.table({"qid": pa.array(QID_BASE + np.arange(ANN_QUERIES, dtype=np.int64)),
                     "embedding": vec_column(q)}), f"{out}/queries.parquet")
    np.save(f"{out}/corpus.npy", np.concatenate(vecs))
    np.save(f"{out}/queries.npy", q)
    return {"base": ANN_BASE, "arrival": ANN_ARRIVAL, "arrivals": ANN_ARRIVALS,
            "queries": ANN_QUERIES, "dims": ANN_DIMS}


def exact_topk(corpus, queries, n_visible, k):
    """Exact cosine top-k ids over the first `n_visible` corpus rows
    (ids are row positions).  Rows are unit vectors, so cosine is a dot."""
    scores = queries @ corpus[:n_visible].T
    top = np.argpartition(-scores, k - 1, axis=1)[:, :k]
    return [set(row.tolist()) for row in top]


GENERATORS = {"query_mix": query_mix, "migrate": migrate, "ann_ingest": ann_ingest}


def generate(workload, seed, out):
    """Writes the workload's inputs for `seed` under `out`; returns the
    sizes the recall check needs (empty for the other workloads)."""
    rng = np.random.default_rng(seed)
    return GENERATORS[workload](rng, out)
