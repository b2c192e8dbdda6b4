"""The 10x rung's corpus: a key-disjoint replica of the sf0.01 test corpus.

The registry corpus itself is the sf0.01 test corpus, committed under
perfbench/data/sf0.01 (the ten tables the query registry reads, one parquet
file with one row group each). `ladder` replicates its fact tables ten
times: lineitem/orders, documents and embeddings are copied with every key
shifted past the base key range; dimension tables and events are copied
once. Each replica after the first permutes the text vocabulary and the
embedding dimensions (with sign flips), so near-duplicate structure stays
inside a replica and the replicas do not collapse into 10-way duplicate
clusters. Every column keeps the type it has in the base corpus.

The replica seed is fixed, not the run's `--seed`: the expected result
digests in expected.json are computed over exactly these bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
REPLICA_SEED = 20240102
REPLICAS = 10


def read_base():
    return {t: pq.read_table(os.path.join(BASE, f"{t}.parquet")) for t in TABLES}


def embeddings_table(ids, emb, labels):
    # float32 elements: graft.Tables declares array<float>, and a replica
    # written as array<double> fails the scan with
    # PARQUET_COLUMN_DATA_TYPE_MISMATCH
    flat = pa.array(emb.astype(np.float32).reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, emb.size + 1, emb.shape[1]), pa.int32())
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32())})


def ladder_tables(base):
    """REPLICAS key-disjoint copies of the fact tables; dimensions copied."""
    rng = np.random.default_rng(REPLICA_SEED)
    t = {k: base[k] for k in ["region", "nation", "customer", "supplier",
                              "part", "events"]}
    o, li, d, e = (base[k] for k in ["orders", "lineitem", "documents", "embeddings"])
    o_span = pc_max(o["o_orderkey"]) + 1
    d_span = pc_max(d["doc_id"]) + 1
    e_span = pc_max(e["vec_id"]) + 1
    orders, lines, docs, embs = [], [], [], []
    vocab = sorted({w for text in d["text"].to_pylist() for w in text.split(" ")})
    emb = np.array(e["embedding"].to_pylist(), dtype=np.float32)
    for r in range(REPLICAS):
        orders.append(o.set_column(0, "o_orderkey",
                                   pa.array(o["o_orderkey"].to_numpy() + r * o_span)))
        lines.append(li.set_column(0, "l_orderkey",
                                   pa.array(li["l_orderkey"].to_numpy() + r * o_span)))
        perm = dict(zip(vocab, rng.permutation(vocab).tolist())) if r else None
        text = d["text"].to_pylist()
        if perm:
            text = [" ".join(perm.get(w, w) for w in s.split(" ")) for s in text]
        docs.append(pa.table({
            "doc_id": pa.array(d["doc_id"].to_numpy() + r * d_span),
            "text": text,
            "lang": d["lang"],
            "source": d["source"],
            "n_chars": pa.array([len(s) for s in text], pa.int64())}))
        if r:
            dims = rng.permutation(emb.shape[1])
            signs = rng.choice([-1.0, 1.0], emb.shape[1]).astype(np.float32)
            rep = emb[:, dims] * signs
        else:
            rep = emb
        embs.append(embeddings_table(e["vec_id"].to_numpy() + r * e_span, rep,
                                     e["label"].to_numpy()))
    t["orders"] = pa.concat_tables(orders)
    t["lineitem"] = pa.concat_tables(lines)
    t["documents"] = pa.concat_tables(docs)
    t["embeddings"] = pa.concat_tables(embs)
    return t


def pc_max(col):
    return int(col.to_numpy().max())


def write(tables, out):
    os.makedirs(out, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))


def generate(out):
    write(ladder_tables(read_base()), out)
