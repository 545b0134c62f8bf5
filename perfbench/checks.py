"""Result checks. Relational ops are compared with their DuckDB oracle
SQL (`SparkEntry.oracleSql`) run on the same generated files, with the
repository's oracle tolerance: columns sorted by name, rows sorted, floats
equal within 1e-7 relative or absolute. LLM-pipeline ops are checked
against the generator's planted groups and against exact answers
computed here with numpy."""
import datetime as dt
import json
import math
import os
import pickle

import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

# The minhash-LSH verification threshold the workload runs with.
MINHASH_JACCARD = 0.2


# ----------------------------------------------------------- value codec

def decode(v):
    """Undo the harness's tagged JSON values."""
    if isinstance(v, dict):
        if "$ts" in v:
            return dt.datetime.fromisoformat(v["$ts"])
        if "$date" in v:
            return dt.date.fromisoformat(v["$date"])
        if "$f" in v:
            return float(v["$f"])
        if "$bin" in v:
            return bytes.fromhex(v["$bin"])
        return {k: decode(x) for k, x in v.items()}
    if isinstance(v, list):
        return [decode(x) for x in v]
    return v


# ------------------------------------------------------ oracle comparison

def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0 else float("%.6g" % v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(_norm(x))) for x in r))
    return sorted(cols), out


def veq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, dt.datetime) and isinstance(b, dt.datetime):
        if a.tzinfo is not None:
            a = a.astimezone(dt.timezone.utc).replace(tzinfo=None)
        if b.tzinfo is not None:
            b = b.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return a == b
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return a == b
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=1e-7, abs_tol=1e-7)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(veq(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(veq(a[k], b[k]) for k in a)
    return a == b


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """None when the result matches the oracle, else the reason."""
    gc, gr = canon(got_rows, got_cols)
    ec, er = canon(exp_rows, exp_cols)
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return f"rows {len(gr)} != {len(er)}"
    for i, (g, e) in enumerate(zip(gr, er)):
        if len(g) != len(e) or not all(veq(x, y) for x, y in zip(g, e)):
            return f"value mismatch at row {i}: {g!r} != {e!r}"
    return None


def oracle_answers(data_dir, sqls, cache):
    """{op: (cols, rows)} for each oracle SQL, computed once per fixture
    and kept in `cache` (keyed by the SQL text, so a changed query is
    recomputed)."""
    import duckdb
    have = {}
    if os.path.exists(cache):
        with open(cache, "rb") as f:
            have = pickle.load(f)
    missing = {n: q for n, q in sqls.items() if have.get(n, (None,))[0] != q}
    if missing:
        con = duckdb.connect(config={"autoinstall_known_extensions": "false",
                                     "autoload_known_extensions": "false",
                                     "threads": "2"})
        con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            p = os.path.join(data_dir, t + ".parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        for n, q in missing.items():
            rel = con.execute(q)
            have[n] = (q, [d[0] for d in rel.description], [list(r) for r in rel.fetchall()])
        con.close()
        with open(cache + ".tmp", "wb") as f:
            pickle.dump(have, f)
        os.replace(cache + ".tmp", cache)
    return {n: (have[n][1], have[n][2]) for n in sqls}


def check_relational(op, oracle):
    if op["name"] not in oracle:
        return "no oracle answer"
    res = op["result"]
    cols, rows = oracle[op["name"]]
    return compare(res["cols"], [decode(r) for r in res["rows"]], cols, rows)


# ------------------------------------------------------------ LLM pipeline

# Quality floors: a pass whose pair recall/precision or ANN recall falls
# under these fails its op, so a faster but lossier dedup or ANN cannot
# count as a gain. Over 25 seeds at the workload's settings the
# lowest values seen were 0.980, 1.0, 0.990 and 1.0.
FLOORS = {"dedup_pair_recall": 0.9, "dedup_pair_precision": 0.99,
          "embed_pair_recall": 0.95, "ann_recall_at_10": 0.95}


def _pairs(rows):
    return {(min(a, b), max(a, b)) for a, b in rows}


def _shingles(text, n=3):
    t = text.split(" ")
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


class LlmTruth:
    """Ground truth for one LLM fixture, computed once per run."""

    def __init__(self, data_dir):
        import pyarrow.parquet as pq
        with open(os.path.join(data_dir, "truth.json")) as f:
            truth = json.load(f)
        docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pydict()
        self.text = dict(zip(docs["doc_id"], docs["text"]))
        self.planted = set()
        for g in truth["groups"]:
            self.planted |= {(min(a, b), max(a, b)) for i, a in enumerate(g) for b in g[i + 1:]}
        first = {}
        for i, t in sorted(self.text.items()):
            first.setdefault(t, i)
        self.survivors = set(first.values())
        self.exact_pairs = {p for p in self.planted if self.text[p[0]] == self.text[p[1]]}
        up = pq.read_table(os.path.join(data_dir, "upserts.parquet")).to_pydict()
        self.upserts = dict(zip(up["doc_id"], up["text"]))
        table = {i: self.text[i] for i in self.survivors}
        self.merge_counts = [1, sum(1 for i in self.upserts if i in table),
                             sum(1 for i in self.upserts if i not in table)]
        table.update(self.upserts)
        lo, hi = truth["read_range"]
        self.read_rows = {(i, t) for i, t in table.items() if lo <= i < hi}

        vec = pq.read_table(os.path.join(data_dir, "embeddings.parquet")).to_pydict()
        self.vec_ids = np.array(vec["vec_id"])
        self.vecs = np.array(vec["embedding"], dtype=np.float64)
        sims = self.vecs @ self.vecs.T
        a, b = np.nonzero(np.triu(sims >= 0.9, k=1))
        self.embed_pairs = {(int(self.vec_ids[i]), int(self.vec_ids[j])) for i, j in zip(a, b)}
        self.sims = sims
        q = pq.read_table(os.path.join(data_dir, "ann_queries.parquet")).to_pydict()
        qs = np.array(q["embedding"], dtype=np.float64) @ self.vecs.T
        self.ann_scores = {int(qid): qs[k] for k, qid in enumerate(q["vec_id"])}
        self.ann_top = {qid: {int(self.vec_ids[i]) for i in np.argsort(-s, kind="stable")[:10]}
                        for qid, s in self.ann_scores.items()}
        self.quality = {}

    def _jaccard(self, a, b):
        x, y = _shingles(self.text[a]), _shingles(self.text[b])
        return len(x & y) / len(x | y) if x | y else 0.0

    def _sim(self, a, b):
        ia, ib = np.searchsorted(self.vec_ids, [a, b])
        return self.sims[ia, ib]

    def _neighbours(self, rows):
        got = {}
        for q, n in rows:
            got.setdefault(q, set()).add(n)
        return got

    def check(self, op, state):
        """None when the op's result is right, else the reason. `state`
        carries the pass's minhash pairs to the cluster check."""
        name, res = op["name"], op["result"]
        rows = [tuple(r) for r in decode(res.get("rows", []))]
        if name == "dedup_exact":
            got = {r[0] for r in rows}
            return None if got == self.survivors and len(rows) == len(got) else \
                f"{len(got)} survivors, expected {len(self.survivors)}"
        if name == "dedup_minhash":
            got = _pairs(rows)
            state["pairs"] = got
            bad = [p for p in got if self._jaccard(*p) < MINHASH_JACCARD - 1e-9]
            if bad:
                return f"{len(bad)} pairs below the jaccard threshold, e.g. {bad[0]}"
            hit = len(got & self.planted)
            q = self.quality
            q["dedup_pair_recall"] = hit / len(self.planted) if self.planted else 1.0
            q["dedup_pair_precision"] = hit / len(got) if got else 1.0
            return self._floors("dedup_pair_recall", "dedup_pair_precision")
        if name == "dedup_simhash":
            got = _pairs(rows)
            if not self.exact_pairs <= got:
                return f"{len(self.exact_pairs - got)} verbatim duplicate pairs missed"
            self.quality["simhash_pair_recall"] = len(got & self.planted) / max(1, len(self.planted))
            extra = got - self.planted
            return f"{len(extra)} pairs outside the planted groups" if extra else None
        if name == "dedup_clusters":
            if "pairs" not in state:
                return "no minhash pairs in this pass"
            return _check_components(state["pairs"], rows)
        if name == "embed_lsh":
            got = _pairs(rows)
            bad = [p for p in got if self._sim(*p) < 0.9 - 1e-5]
            if bad:
                return f"{len(bad)} pairs below the cosine threshold, e.g. {bad[0]}"
            self.quality["embed_pair_recall"] = \
                len(got & self.embed_pairs) / len(self.embed_pairs) if self.embed_pairs else 1.0
            return self._floors("embed_pair_recall")
        if name == "ann_brute":
            got = self._neighbours(rows)
            for qid, s in self.ann_scores.items():
                n = got.get(qid, set())
                kth = np.sort(s)[-10]
                ids = np.searchsorted(self.vec_ids, sorted(n))
                if len(n) != 10 or (s[ids] < kth - 1e-6).any():
                    return f"query {qid}: top-10 differs from exact search"
            return None
        if name == "ann_ivf":
            got = self._neighbours(rows)
            hit = sum(len(got.get(q, set()) & t) for q, t in self.ann_top.items())
            self.quality["ann_recall_at_10"] = hit / (10 * len(self.ann_top))
            return self._floors("ann_recall_at_10")
        if name == "delta_write":
            return None if res.get("value") == 0 else f"commit version {res.get('value')}, expected 0"
        if name == "delta_merge":
            v = res.get("value")
            return None if v == self.merge_counts else f"merge returned {v}, expected {self.merge_counts}"
        if name == "delta_read":
            got = set(rows)
            return None if got == self.read_rows and len(got) == len(rows) else \
                f"{len(rows)} rows read, expected {len(self.read_rows)}"
        return f"no check for {name}"

    def _floors(self, *names):
        low = [f"{n} {self.quality[n]:.3f} < {FLOORS[n]}" for n in names
               if self.quality[n] < FLOORS[n]]
        return "; ".join(low) or None


def _check_components(pairs, rows):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in list(parent)}
    got = dict(rows)
    if len(got) != len(rows) or got != want:
        return f"{len(got)} cluster members, expected {len(want)} (or labels differ)"
    return None
