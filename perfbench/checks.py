"""Result checks, run after the timed region on the run's own inputs.

- batch: every op's collected result against its DuckDB oracle
  (`SparkEntry.oracleSql`), compared as the engine's correctness gate does:
  same column names and dtypes, same row count, same values after sorting
  rows, floats equal or within 1e-9 relative.
- ingest_rw: labels are checked against the stub rule inside the driver;
  here every search's top-k is recomputed from the persisted codebook and
  lists with the engine's arithmetic (sequential dot products, values
  rounded to 6 places, ties broken by label / vec_id); every slice must
  come back whole and the lists zone must hold each vector exactly once.
Each returns a list of failure messages (empty = all correct).
"""
import math
import os

import duckdb
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check(workload, rec, inputs):
    if workload == "batch":
        return check_oracle(rec, inputs)
    return check_stores(rec) + check_search(rec, inputs)


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(sorted(df.columns), kind="mergesort").reset_index(drop=True)


def _cell_ok(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) / max(abs(a), abs(b), 1.0) < 1e-9
    return a == b


def compare(name, got, want):
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"{name}: columns differ: spark={gc} oracle={wc}"
    dt = [c for c in gc if str(got[c].dtype) != str(want[c].dtype)]
    if dt:
        return f"{name}: dtypes differ in {dt}"
    if len(got) != len(want):
        return f"{name}: {len(got)} rows, oracle has {len(want)}"
    a, b = _canon(got), _canon(want)
    for c in gc:
        bad = sum(not _cell_ok(x, y) for x, y in zip(a[c].tolist(), b[c].tolist()))
        if bad:
            return f"{name}: {bad} cells of column {c} differ from the oracle"
    return None


def check_oracle(rec, inputs):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inputs}/{t}.parquet/*.parquet')")
    out = []
    for name, sql in sorted(rec["extra"]["oracle_sql"].items()):
        path = os.path.join(rec["results_dir"], name)
        if not os.path.isdir(path):
            out.append(f"{name}: no result was written")
            continue
        msg = compare(name, pq.read_table(path).to_pandas(), con.execute(sql).df())
        if msg:
            out.append(msg)
    con.close()
    return out


def check_stores(rec):
    """Every labeled slice came back whole, and the lists zone holds each
    base and appended vector exactly once after compaction."""
    extra = rec["extra"]
    out = [f"label round {r['round']}: {r['label_rows']} rows for a "
           f"{m['slice_rows']}-row slice"
           for r, m in zip(extra["rounds"], extra["manifest"])
           if r["label_rows"] != m["slice_rows"]]
    ids = ds.dataset(os.path.join(extra["index_dir"], "lists"), format="parquet",
                     partitioning="hive").to_table(columns=["vec_id"])
    ids = ids.column("vec_id").to_pylist()
    want = extra["manifest"][-1]["max_vec_id"] + 1
    if len(ids) != want or len(set(ids)) != want:
        out.append(f"lists zone holds {len(ids)} rows / {len(set(ids))} vectors, "
                   f"expected {want}")
    return out


def _dot(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def check_search(rec, inputs):
    extra = rec["extra"]
    index = extra["index_dir"]
    cents = pq.read_table(os.path.join(index, "centroids")).to_pylist()
    lists = ds.dataset(os.path.join(index, "lists"), format="parquet",
                       partitioning="hive").to_table(
        columns=["vec_id", "v", "nrm", "bucket"]).to_pylist()
    queries = {}
    for r in {s["round"] for s in extra["searches"]}:
        path = os.path.join(inputs, "ingest", f"round_{r:03d}", "queries.parquet")
        for q in pq.read_table(path).to_pylist():
            queries[q["vec_id"]] = [float(x) for x in q["embedding"]]
    max_live = {r["round"]: m["max_vec_id"]
                for r, m in zip(extra["rounds"], extra["manifest"])}
    out = []
    for s in extra["searches"]:
        qv = queries[s["q_id"]]
        qn = math.sqrt(_dot(qv, qv))
        probes = sorted(cents, key=lambda c: (-round(_dot(qv, c["cv"]), 6),
                                              c["c_label"]))
        probed = {c["c_label"] for c in probes[:extra["nprobe"]]}
        best = {}
        for v in lists:
            if (v["bucket"] in probed and v["vec_id"] <= max_live[s["round"]]
                    and v["vec_id"] != s["q_id"]):
                best[v["vec_id"]] = round(_dot(qv, v["v"]) / (qn * v["nrm"]), 6)
        ranked = sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:extra["k"]]
        want = [[vid, cos, i + 1] for i, (vid, cos) in enumerate(ranked)]
        got = sorted(s["hits"], key=lambda h: h[2])
        if got != want:
            out.append(f"search round {s['round']} query {s['q_id']}: "
                       f"top-{extra['k']} differs from the reference")
    return out
