"""Statistics, trace arithmetic and result comparison for the graft benchmark.

Pure functions over plain Python values, so `test_harness.py` can pin each
rule without Spark.
"""
import json
import math
from collections import Counter, defaultdict


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n, cap=90, beyond=10):
    """Highest whole percentile, at most `cap` and at least the median, whose
    nearest-rank sample leaves at least `beyond` samples above it; None when
    `n` samples support no such tail."""
    for p in range(cap, 49, -1):
        if n - max(1, math.ceil(p / 100.0 * n)) >= beyond:
            return p
    return None


def median(values):
    xs = sorted(values)
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - covered(kids[s["id"]], s["start_ms"], s["end_ms"]) for s in spans}


def _canon(v, digits):
    if isinstance(v, float):
        return float(f"{v:.{digits}g}") if math.isfinite(v) else repr(v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x, digits)) for k, x in v.items()))
    if isinstance(v, list):
        return tuple(_canon(x, digits) for x in v)
    return v


def same_rows(got, want, digits=12):
    """Order-independent comparison of two row lists (dicts). Floats compare
    to `digits` significant digits; everything else exactly."""
    return Counter(_canon(r, digits) for r in got) == Counter(_canon(r, digits) for r in want)


def by_query(rows, key="q_id"):
    out = defaultdict(list)
    for r in rows:
        r = dict(r)
        out[r.pop(key)].append(r)
    return out


def recall(got, want, id_key="id"):
    """Mean over queries of |approx ∩ exact| / |exact|."""
    g, w = by_query(got), by_query(want)
    vals = [len({r[id_key] for r in g.get(q, [])} & {r[id_key] for r in rs}) / len(rs)
            for q, rs in w.items() if rs]
    return sum(vals) / len(vals) if vals else 0.0


def frames_equal(got, want):
    """Exact compare of two pandas frames, ignoring row and column order:
    the rule `tools/oracle_check.py` applies to the query packs."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns) or len(got) != len(want):
        return False
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        a, b = g[c], w[c] if w[c].dtype == g[c].dtype else w[c].astype(g[c].dtype)
        if not ((a == b) | (a.isna() & b.isna())).all():
            return False
    return True


# --------------------------------------------------------------- checks

# IVF recall@10 at the serving default nprobe=4 of nlist=16 cells
RECALL_FLOOR = 0.9


def exact_topk(ids, vecs, queries, k):
    """Exact cosine top-k per query (ties by id), as rows {q_id, id}."""
    import numpy as np
    v = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = []
    for qi, q in enumerate(queries):
        sims = v @ (q / np.linalg.norm(q))
        order = np.lexsort((ids, -sims))[:k]
        rows += [{"q_id": qi, "id": int(ids[j])} for j in order]
    return rows


def check_ids(chk, corpus):
    """The ids an index serves after add or remove -> error or None.
    `corpus` maps the state ("added"/"removed") to (ids, vectors)."""
    if chk["got"] != sorted(int(i) for i in corpus[chk["state"]][0]):
        return f"{chk['state']}: served ids differ from the corpus"
    return None


def ann_recall(chk, requests, corpus, k=10):
    """Mean recall@k of the served /search/ann answers against exact cosine
    top-k over the final corpus."""
    got, want = [], []
    for a in chk["got"]:
        if a["status"] == 200 and requests[a["req"]]["kind"] == "ann":
            ids, vecs = corpus["removed"]
            n = len(want) // k
            got += [{"q_id": n, "id": r["b_id"]} for r in json.loads(a["body"])["results"]]
            want += [dict(r, q_id=n) for r in exact_topk(ids, vecs, [requests[a["req"]]["vec"]], k)]
    return recall(got, want) if want else None


def check_serve(chk):
    """Every response is 200 and equals the direct operator answer for the
    same request. Returns the list of errors (one per bad response)."""
    want = by_query([json.loads(r) for r in chk["want"]])
    errors = []
    for a in chk["got"]:
        if a["status"] != 200:
            errors.append(f"request {a['req']}: HTTP {a['status']}: {a['body'][:120]}")
            continue
        got = json.loads(a["body"])["results"]
        if not same_rows(got, want.get(a["req"], [])):
            errors.append(f"request {a['req']}: answer differs from the direct operator call")
    return errors


def check_dup_groups(chk):
    strip = lambda p: p[len("file:"):] if p.startswith("file:") else p
    got = sorted(sorted(strip(p) for p in g) for g in chk["got"])
    return None if got == sorted(sorted(g) for g in chk["want"]) else "duplicate groups differ"
