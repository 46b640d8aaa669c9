"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (the TPC-H-like star schema plus
`events`, `documents` and `embeddings`) with the same column names, types and
value ranges as the engine's test corpora.  Every value, the row order of
every table and the split of each table into files depend only on
(scale, seed), so the same seed always gives byte-identical inputs.

Referential integrity holds by construction, as the engine's join
elimination assumes: every l_orderkey has its order, every l_suppkey its
supplier, every o_custkey its customer, and doc ids are 0..n-1.

The ingest workload additionally gets per-round arrivals (a chunk-row slice
to label, fresh embedding vectors to index, query vectors to search) from
`ingest_rounds`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
ADJ = "large hot cold blue old small new red".split()
NOUN = "bolt plate rod anvil widget gizmo ring gear".split()
TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PRIORITIES = "1-URGENT 2-HIGH 3-MEDIUM 4-NOT SPECIFIED 5-LOW".split()
EVENT_TYPES = "signup click error view purchase".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
DIM = 64


def _days(start, n, rng, size):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n + 1, size)).astype("datetime64[us]")


def _write(table, path, rng, files):
    """Write `table` as a directory of `files` parquet files, rows shuffled
    and split at seeded cut points."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    table = table.take(pa.array(rng.permutation(n)))
    if files > 1 and n >= 2 * files:
        cuts = np.sort(rng.choice(np.arange(n // 4, n - n // 4), files - 1,
                                  replace=False))
    else:
        cuts = np.array([], dtype=np.int64)
    bounds = [0, *cuts.tolist(), n]
    for i in range(len(bounds) - 1):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _words(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def documents_table(rng, n_docs, dup_share=0.05):
    """Random-word documents; `dup_share` of them are near-duplicates of an
    earlier document (one word replaced by `dup`), as in the test corpora."""
    texts = []
    for _ in range(n_docs):
        if texts and rng.random() < dup_share:
            ws = texts[int(rng.integers(0, len(texts)))].split(" ")
            ws[int(rng.integers(0, len(ws)))] = "dup"
            texts.append(" ".join(ws))
        else:
            texts.append(_words(rng, int(rng.integers(10, 100))))
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def embeddings_table(vecs, first_id, rng):
    n = len(vecs)
    return pa.table({
        "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def corpus(out, sf, seed, files=2):
    """The star schema plus events/documents/embeddings at scale `sf`."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = 4 * n_ord, int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    def w(name, table, nfiles=1):
        _write(table, os.path.join(out, f"{name}.parquet"), rng, nfiles)

    w("region", pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                          "r_name": REGIONS}))
    w("nation", pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}))
    w("customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}))
    w("supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    pk = np.arange(n_part, dtype=np.int64)
    w("part", pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}))
    w("orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}),
      files)
    w("lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", 2498, rng, n_line)}), files)
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt))
    w("events", pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_evt)]}))
    w("documents", documents_table(rng, n_docs))
    w("embeddings", embeddings_table(unit_vectors(rng, n_vecs), 0, rng))


def ingest_rounds(out, corpus_dir, seed, rounds, slice_rows, new_vecs,
                  queries, repeat_share=0.5):
    """Per-round arrivals for the ingest workload, under `out/round_<r>/`:

    - `slice.parquet`: (sentence_id, entity_id, text) chunk rows to label;
      `repeat_share` of them repeat an (entity_id, text) pair of an earlier
      round, so the label cache has hits;
    - `vectors.parquet`: `new_vecs` jittered copies of corpus vectors with
      fresh vec_ids;
    - `queries.parquet`: `queries` query vectors (vec_id = -1 - index, so a
      query never matches itself).

    Returns one manifest entry per round: the slice's row and distinct
    (entity_id, text) counts and the highest vec_id live after the round.
    """
    rng = np.random.default_rng([seed, 2])
    seen, seen_set = [], set()
    manifest = []
    emb = pq.read_table(os.path.join(corpus_dir, "embeddings.parquet"))
    base = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    next_id = len(base)
    for r in range(rounds):
        d = os.path.join(out, f"round_{r:03d}")
        os.makedirs(d, exist_ok=True)
        ents, texts = [], []
        for i in range(slice_rows):
            if seen and rng.random() < repeat_share:
                e, t = seen[int(rng.integers(0, len(seen)))]
            else:
                e = f"s{int(rng.integers(0, 100))}"
                t = _words(rng, int(rng.integers(10, 60)))
            ents.append(e)
            texts.append(t)
        for p in zip(ents, texts):
            if p not in seen_set:
                seen_set.add(p)
                seen.append(p)
        pq.write_table(pa.table({
            "sentence_id": [f"r{r}-{i}" for i in range(slice_rows)],
            "entity_id": ents, "text": texts}),
            os.path.join(d, "slice.parquet"))
        src = base[rng.integers(0, len(base), new_vecs)]
        jit = src + rng.standard_normal(src.shape).astype(np.float32) * 0.05
        jit /= np.linalg.norm(jit, axis=1, keepdims=True)
        pq.write_table(embeddings_table(jit.astype(np.float32), next_id, rng),
                       os.path.join(d, "vectors.parquet"))
        next_id += new_vecs
        q = unit_vectors(rng, queries)
        pq.write_table(pa.table({
            "vec_id": -1 - np.arange(queries, dtype=np.int64) - r * queries,
            "embedding": pa.array(list(q), type=pa.list_(pa.float32()))}),
            os.path.join(d, "queries.parquet"))
        manifest.append({"slice_rows": slice_rows,
                         "unique_pairs": len(set(zip(ents, texts))),
                         "new_vectors": new_vecs, "max_vec_id": next_id - 1})
    return manifest
