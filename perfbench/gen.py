"""Seeded input generator for the graft benchmark.

Everything a workload feeds the engine is made here from one seed: the
TPC-H-like star schema plus `events`, `documents` and `embeddings` (the same
schemas and value ranges as the engine's test data), the file tree whose
duplicate groups are known, the add/remove batches of the index lifecycle
and the request mix of the serving phase.  The same seed
and scale give byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "large hot blue old cold small red green".split()
NOUN = "ring bolt plate gear nut screw pipe valve".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64
# batch_mix's queries (names in graft.SparkEntry.queries): one per query
# pack, chosen from the pair-generation, q42, token-pipeline and PageRank
# paths where a pack has one
BATCH_QUERIES = ["q42_boxplot", "e05_session_stats", "d14_prefix_jaccard", "c11_bloom_decontam",
                 "t12_quality_clf", "g01_pagerank"]
US_PER_DAY = 86_400_000_000


def _ts(start, us):
    """Microsecond timestamps `us` after ISO date `start`."""
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _days(start, n_days, rng, n):
    return _ts(start, rng.integers(0, n_days, n) * US_PER_DAY)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="zstd")


def _doc_texts(rng, n):
    """Random word bags; 5% are a copy of an earlier doc plus " dup"."""
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return texts


def unit_vectors(rng, centers, labels, noise):
    v = centers[labels] + rng.normal(0.0, noise, (len(labels), DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def vec_array(v):
    return pa.array([row.tolist() for row in v], type=pa.list_(pa.float32()))


def tables(out, sf, rng, star=True):
    """`documents` and `embeddings`, plus (with `star`) the engine's eight
    star-schema and event tables."""
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    if star:
        _star_tables(out, sf, rng)
    texts = _doc_texts(rng, n_doc)
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(0.0, 1.0, (10, DIM))
    labels = rng.integers(0, 10, n_emb)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": vec_array(unit_vectors(rng, centers, labels, 0.6)),
        "label": labels.astype(np.int32)})
    return {"embeddings": n_emb, "centers": centers}


def _star_tables(out, sf, rng):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days("1995-01-02", 2498, rng, n_li)})
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def file_tree(out, rng, n_unique=160, n_groups=24):
    """Files of random bytes; `n_groups` contents are copied 2-4 times into
    other directories. Returns the duplicate groups as sorted path lists."""
    groups = []
    for i in range(n_unique):
        data = rng.bytes(int(rng.integers(64, 16_384)))
        copies = int(rng.integers(2, 5)) if i < n_groups else 1
        paths = []
        for c in range(copies):
            d = f"{out}/d{int(rng.integers(0, 8))}/s{c}"
            os.makedirs(d, exist_ok=True)
            paths.append(f"{d}/f{i}_{c}.bin")
            with open(paths[-1], "wb") as f:
                f.write(data)
        if copies > 1:
            groups.append(sorted(paths))
    return sorted(groups)


def lifecycle_inputs(out, rng, meta, n_add=200, n_remove=100):
    """An add batch (fresh ids past the corpus, same clusters) and a removal
    id set drawn from corpus and added ids."""
    centers = meta["centers"]
    add_ids = meta["embeddings"] + np.arange(n_add, dtype=np.int64)
    _write(f"{out}/add_vectors.parquet", {
        "vec_id": add_ids,
        "embedding": vec_array(unit_vectors(rng, centers, rng.integers(0, 10, n_add), 0.6))})
    pool = np.concatenate([np.arange(meta["embeddings"]), add_ids])
    return {"remove_vec_ids": sorted(int(i) for i in rng.choice(pool, n_remove, replace=False))}


def serve_inputs(out, rng, n_blocks=50):
    """Request mix in blocks of four, one request of each kind per block in
    seed order, so every run serves the same share of each kind. Query texts
    are 2-4 consecutive words of a corpus doc; vectors are corpus embeddings
    plus seeded noise."""
    docs = pq.read_table(f"{out}/documents.parquet", columns=["text"]).column(0).to_pylist()
    embs = pq.read_table(f"{out}/embeddings.parquet", columns=["embedding"]).column(0).to_pylist()
    reqs = []
    for _ in range(n_blocks):
        for kind in rng.permutation(["lexical", "ann", "hybrid", "phrase"]):
            toks = docs[int(rng.integers(0, len(docs)))].split()
            n = int(rng.integers(2, 5))
            at = int(rng.integers(0, max(1, len(toks) - n)))
            v = np.asarray(embs[int(rng.integers(0, len(embs)))]) + rng.normal(0.0, 0.05, DIM)
            reqs.append({"kind": str(kind), "q": " ".join(toks[at:at + n]),
                         "vec": [round(float(x), 6) for x in v]})
    return reqs


def generate(out, workload, seed, sf):
    """Write every input of `workload` under `out`; returns the manifest the
    harness JVM reads (also saved as `inputs.json`)."""
    rng = np.random.default_rng(seed)
    os.makedirs(f"{out}/tables", exist_ok=True)
    meta = tables(f"{out}/tables", sf, rng, star=workload == "batch_mix")
    manifest = {"seed": seed, "sf": sf, "tables": f"{out}/tables"}
    if workload == "batch_mix":
        manifest["file_tree"] = f"{out}/files"
        manifest["dup_groups"] = file_tree(f"{out}/files", rng)
        manifest["query_order"] = [str(q) for q in rng.permutation(BATCH_QUERIES)]
    else:
        manifest.update(lifecycle_inputs(f"{out}/tables", rng, meta))
        manifest["requests"] = serve_inputs(f"{out}/tables", rng)
    with open(f"{out}/inputs.json", "w") as f:
        json.dump(manifest, f)
    return manifest
