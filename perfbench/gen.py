"""Seeded input generator for the graft benchmark.

Writes one workload's tables as single parquet files under a run
directory and records the input properties the engine's behaviour
depends on (rows, plaintext bytes, null-cell share, long-value share,
near-duplicate share) in `props.json` beside them.

The tables follow the shapes of the engine's test tables (lineitem of the
TPC-H-like star schema, the documents corpus and its embeddings), so the
query functions run on them unchanged. The same seed always gives
byte-identical tables.

Usage: python3 gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SF = 0.01
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

# secure_lake robustness inputs: sparse rows and long values
NULL_SHARE = 0.05
LONG_SHARE = 0.02
LONG_MAX_CHARS = 5000
# llm_pipeline: documents (and embeddings), and the share of them that
# are injected near-duplicates
DOCS = 250
DUP_SHARE = 0.05
# secure_lake: lineitem rows (a third of scale factor 0.01)
LAKE_ROWS = 20_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def lineitem(rng, n_orders, n):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * SF), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, int(10_000 * SF), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n).tolist(),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})


def documents_and_embeddings(rng, n=DOCS, dim=64):
    """Corpus with DUP_SHARE injected near-duplicates: a copy of an
    earlier document's text plus a marker word, under a new doc_id;
    its embedding is the original's vector plus small noise."""
    n_dup = int(round(n * DUP_SHARE))
    n_orig = n - n_dup
    texts = [" ".join(rng.choice(VOCAB, int(k)))
             for k in rng.integers(10, 100, n_orig)]
    vecs = rng.standard_normal((n_orig, dim))
    src = rng.integers(0, n_orig, n_dup)
    texts += [texts[s] + " dup" for s in src]
    vecs = np.vstack([vecs, vecs[src] + 0.05 * rng.standard_normal((n_dup, dim))])
    # shuffle so duplicates are not all at the tail of the id range
    perm = rng.permutation(n)
    texts = [texts[i] for i in perm]
    vecs = vecs[perm]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    ids = np.arange(n)
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return docs, emb, n_dup / n


def secure_lineitem(rng, n_orders, n):
    """lineitem plus a free-text comment column, with NULL_SHARE of the
    cells of every nullable column set to null and LONG_SHARE of the
    comments stretched to up to LONG_MAX_CHARS characters."""
    t = lineitem(rng, n_orders, n)
    words = rng.choice(VOCAB, (n, 6))
    comments = [" ".join(w) for w in words]
    long_rows = np.flatnonzero(rng.random(n) < LONG_SHARE)
    for i, k in zip(long_rows, rng.integers(500, LONG_MAX_CHARS + 1, len(long_rows))):
        comments[i] = (comments[i] + " ") * (k // (len(comments[i]) + 1) + 1)
        comments[i] = comments[i][:k]
    t = t.append_column("l_comment", pa.array(comments))
    cols = []
    for name in t.column_names:
        c = t.column(name).combine_chunks()
        if name not in ("l_orderkey", "l_linenumber"):
            mask = pa.array(rng.random(n) < NULL_SHARE)
            c = pc.if_else(mask, pa.nulls(n, c.type), c)
        cols.append(c)
    t = pa.table(cols, names=t.column_names)
    return t, len(long_rows) / n


def _plain_bytes(t):
    return int(t.nbytes)


def _null_share(t):
    cells = t.num_rows * t.num_columns
    return sum(c.null_count for c in t.columns) / cells if cells else 0.0


def generate(workload, seed, out_dir):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    props = {"workload": workload, "seed": seed}
    if workload == "secure_lake":
        tables["lineitem"], props["long_value_share"] = secure_lineitem(
            rng, int(1_500_000 * SF), LAKE_ROWS)
        props["long_value_max_chars"] = LONG_MAX_CHARS
    elif workload == "llm_pipeline":
        tables["documents"], tables["embeddings"], props["near_dup_share"] = \
            documents_and_embeddings(rng)
    else:
        raise SystemExit(f"unknown workload {workload!r}")
    props["tables"] = {}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        props["tables"][name] = {"rows": t.num_rows, "plain_bytes": _plain_bytes(t),
                                 "null_cell_share": round(_null_share(t), 6)}
    with open(os.path.join(out_dir, "props.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    return props


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
