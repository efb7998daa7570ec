"""Output checks that run after the harness JVM has exited.

  oracle  - query_mix: every query's warm-up result, written as parquet
            by the harness, must equal the query's DuckDB oracle
            (`SparkEntry.oracleSql`) evaluated on the same generated
            tables: same columns, same row multiset, compared on a
            canonical text form of every cell.
  recall  - ann_ingest: recall@k of every probe against the exact top-k
            over the corpus visible at that round, computed here.
"""
import datetime
import decimal
import glob
import json
import math
import os

import numpy as np

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _lines(rel):
    cols = [c[0] for c in rel.description]
    rows = rel.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def oracle(work, queries):
    """Problems found comparing each query's output with its oracle."""
    import duckdb
    with open(f"{work}/oracle_sql.json") as f:
        sqls = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{work}/in/{t}.parquet')")
    problems = []
    for q in queries:
        files = sorted(glob.glob(f"{work}/out/{q}/*.parquet"))
        if not files:
            problems.append(f"{q}: no warm-up output")
            continue
        if q not in sqls:
            problems.append(f"{q}: no oracle SQL")
            continue
        mine = _lines(con.execute("SELECT * FROM read_parquet([" +
                                  ",".join(f"'{f}'" for f in files) + "])"))
        try:
            ref = _lines(con.execute(sqls[q]))
        except Exception as e:  # an oracle that cannot run is a failed check
            problems.append(f"{q}: oracle error {str(e)[:200]}")
            continue
        if mine[0] != ref[0]:
            problems.append(f"{q}: columns {mine[0]} vs oracle {ref[0]}")
        elif mine[1] != ref[1]:
            diff = next((a, b) for a, b in zip(mine[1] + [""], ref[1] + [""]) if a != b)
            problems.append(f"{q}: {len(mine[1])} rows vs oracle {len(ref[1])}, "
                            f"first difference {diff}")
    return problems


def recall(work, facts, k):
    """Mean recall@k over every probe of every measured round."""
    corpus = np.load(f"{work}/in/corpus.npy")
    queries = np.load(f"{work}/in/queries.npy")
    got = {}
    path = f"{work}/probes.txt"
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                r, qid, vid = (int(x) for x in line.split())
                got.setdefault(r, {}).setdefault(qid - gen.QID_BASE, set()).add(vid)
    if not got:
        return 0.0
    total, n = 0.0, 0
    for r, answers in sorted(got.items()):
        visible = facts["base"] + (r + 1) * facts["arrival"]
        exact = gen.exact_topk(corpus, queries, visible, k)
        for qi, want in enumerate(exact):
            total += len(answers.get(qi, set()) & want) / k
            n += 1
    return total / n
