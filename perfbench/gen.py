"""Seeded input generators for the benchmark's workloads.

Every table has the column names and types of the engine's test fixtures
(the TPC-H-style star schema, `documents`, `embeddings`), so the
engine's queries run on them unchanged. The same seed always gives the
same bytes of data; nothing is read from outside the generator.

A fixture directory is finished only when `manifest.json` is in it: the
manifest lists every file with its row count and byte size, and
`check_manifest` re-reads both before each run, so a partial or stale
directory fails loudly instead of being reused.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated data changes: a fixture made by another version
# is refused rather than silently reused.
GENERATOR_VERSION = 2

# Workload input sizes. TPC-H row counts follow the spec's per-SF counts.
# The LLM corpus has the size and shape of the engine's SF 0.1 test
# fixture: about 5000 documents of 10 to 100 tokens (3750 originals plus
# their planted copies) and 2000 64-d embeddings. The upsert batch is 8%
# of the table.
TPCH_SF = 0.1
LLM_BASE_DOCS = 3750
LLM_TOKENS = (10, 101)
LLM_VECS = 2000
LLM_DIM = 64
LLM_QUERIES = 20
LLM_UPSERTS = 400

ROW_GROUP = 65_536


class FixtureError(Exception):
    pass


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _days(base, offsets):
    return (np.datetime64(base, "D") + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, name + ".parquet"), row_group_size=ROW_GROUP)


def _choice(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _shuffled(rng, table):
    return table.take(pa.array(rng.permutation(table.num_rows)))


# ------------------------------------------------------------------ TPC-H

def gen_tpch(out, seed, sf=TPCH_SF):
    rng = _rng(seed, 1)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    ck = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer", _shuffled(rng, pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"], n_cust)})))
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier", _shuffled(rng, pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})))
    pk = np.arange(n_part, dtype=np.int64)
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(out, "part", _shuffled(rng, pa.table({
        "p_partkey": pk,
        "p_name": [a + " " + b for a, b in zip(_choice(rng, adj, n_part),
                                               _choice(rng, noun, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1)})))
    _write(out, "orders", pa.table({
        "o_orderkey": rng.permutation(n_ord).astype(np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_ord)),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], n_ord)}))
    _write(out, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_line))}))


# ----------------------------------------------------------- LLM pipeline

def _vocab(rng, n=3000):
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "da", "fu",
            "gi", "ho", "je", "bu"]
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(syll[int(i)] for i in rng.integers(0, len(syll), k)))
    return sorted(words)


def _near_dup(rng, toks, vocab):
    """A near-duplicate: ~4% token substitutions and a few adjacent swaps."""
    t = list(toks)
    for i in rng.choice(len(t), max(1, len(t) // 25), replace=False):
        t[i] = vocab[int(rng.integers(0, len(vocab)))]
    for i in rng.integers(0, len(t) - 1, max(1, len(t) // 40)):
        t[i], t[i + 1] = t[i + 1], t[i]
    return t


def gen_llm(out, seed):
    """Documents with planted near-duplicate and exact-duplicate groups,
    clustered embeddings with planted near-duplicate vectors, the ANN query
    set and a Delta upsert batch. The planted groups are written to
    truth.json as the dedup ground truth."""
    rng = _rng(seed, 3)
    vocab = _vocab(rng)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()
    texts, groups = [], []
    for _ in range(LLM_BASE_DOCS):
        toks = [vocab[i] for i in rng.choice(len(vocab), int(rng.integers(*LLM_TOKENS)), p=zipf)]
        group = [len(texts)]
        texts.append(toks)
        r = rng.random()
        if r < 0.15:  # near-duplicate variants
            for _ in range(int(rng.integers(1, 3))):
                group.append(len(texts))
                texts.append(_near_dup(rng, toks, vocab))
        elif r < 0.22:  # verbatim copies
            for _ in range(int(rng.integers(1, 3))):
                group.append(len(texts))
                texts.append(list(toks))
        if len(group) > 1:
            groups.append(group)
    # doc ids are a seeded permutation, so planted copies are scattered
    ids = rng.permutation(len(texts)).astype(np.int64)
    text = [" ".join(t) for t in texts]
    n = len(text)
    _write(out, "documents", pa.table({
        "doc_id": ids,
        "text": text,
        "lang": _choice(rng, ["en", "de", "fr"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)}))

    centers = rng.normal(size=(32, LLM_DIM))
    vecs = centers[rng.integers(0, 32, LLM_VECS)] + rng.normal(scale=0.6, size=(LLM_VECS, LLM_DIM))
    dup_src = rng.choice(LLM_VECS, LLM_VECS // 10, replace=False)
    dup_dst = rng.choice(np.setdiff1d(np.arange(LLM_VECS), dup_src), len(dup_src), replace=False)
    vecs[dup_dst] = vecs[dup_src] + rng.normal(scale=0.05, size=(len(dup_src), LLM_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    vec_type = pa.list_(pa.float32())
    _write(out, "embeddings", pa.table({
        "vec_id": np.arange(LLM_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), vec_type),
        "label": pa.array(rng.integers(0, 10, LLM_VECS), pa.int32())}))
    q = rng.choice(LLM_VECS, LLM_QUERIES, replace=False)
    qv = vecs[q] + rng.normal(scale=0.02, size=(LLM_QUERIES, LLM_DIM)).astype(np.float32)
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    _write(out, "ann_queries", pa.table({
        "vec_id": np.arange(LLM_QUERIES, dtype=np.int64),
        "embedding": pa.array(list(qv.astype(np.float32)), vec_type)}))

    upd = rng.choice(ids, LLM_UPSERTS // 2, replace=False)
    new = np.arange(n, n + LLM_UPSERTS - len(upd), dtype=np.int64)
    up_ids = np.concatenate([upd, new])
    up_text = [" ".join(vocab[i] for i in rng.choice(len(vocab), 30, p=zipf))
               for _ in up_ids]
    _write(out, "upserts", pa.table({"doc_id": up_ids, "text": up_text}))

    lo = int(rng.integers(0, n // 2))
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"groups": [[int(ids[i]) for i in g] for g in groups],
                   "read_range": [lo, lo + n // 8]}, f)


GENERATORS = {"tpch": gen_tpch, "llm_pipeline": gen_llm}


# --------------------------------------------------------------- manifest

def _inventory(d):
    files = {}
    for name in sorted(os.listdir(d)):
        p = os.path.join(d, name)
        if name == "manifest.json" or not os.path.isfile(p):
            continue
        rows = pq.ParquetFile(p).metadata.num_rows if name.endswith(".parquet") else None
        files[name] = {"bytes": os.path.getsize(p), "rows": rows}
    return files


def check_manifest(d, workload, seed):
    """Return the manifest of a finished fixture, or raise FixtureError."""
    with open(os.path.join(d, "manifest.json")) as f:
        m = json.load(f)
    want = {"workload": workload, "seed": seed, "generator": GENERATOR_VERSION}
    got = {k: m.get(k) for k in want}
    if got != want:
        raise FixtureError(f"{d}: manifest is for {got}, expected {want}")
    have = _inventory(d)
    if have != m["files"]:
        raise FixtureError(f"{d}: files differ from manifest.json "
                           f"(partial or modified fixture); delete the directory")
    return m


def ensure(root, workload, seed):
    """Generate the fixture for (workload, seed) under `root` unless a
    finished one is there; return its directory."""
    d = os.path.join(root, f"{workload}-seed{seed}")
    if os.path.exists(os.path.join(d, "manifest.json")):
        check_manifest(d, workload, seed)
        return d
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "generator": GENERATOR_VERSION,
                   "files": _inventory(tmp)}, f, indent=1)
    os.rename(tmp, d)
    check_manifest(d, workload, seed)
    return d
