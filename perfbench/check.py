"""Output checks. Every operation a run attempted is judged here; a wrong
answer counts exactly like an exception.

Registry queries and stream results are compared against their oracle SQL
in DuckDB with the canonicalization of tools/selfcheck.py (columns sorted
by name, rows sorted by value, floats at 6 decimals). Oracle answers are
computed after the run, outside the timed region, and cached by the hash
of the SQL and of the input files they read, so a repeated seed does not
recompute them. The other operations are checked against facts the
generator wrote or against an independent computation here.
"""
import glob
import hashlib
import json
import math
import os
import sys

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
from selfcheck import canon, connect_views  # noqa: E402


def _dir_version(path, memo={}):
    if path not in memo:
        h = hashlib.sha256()
        for f in sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True)):
            if os.path.isfile(f):
                h.update(os.path.relpath(f, path).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
        memo[path] = h.hexdigest()
    return memo[path]


def _digest(rows, cols):
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for r in canon(rows, cols):
        h.update(json.dumps(r).encode())
    return h.hexdigest(), len(rows)


class Oracles:
    """Oracle digests, cached on disk under cache_dir."""

    def __init__(self, cache_dir):
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self.cons = {}

    def digest(self, sql, data_dir):
        key = hashlib.sha256((sql + "\0" + _dir_version(data_dir)).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                return tuple(json.load(fh))
        if data_dir not in self.cons:
            self.cons[data_dir] = connect_views(data_dir)
        rel = self.cons[data_dir].sql(sql)
        d = _digest(rel.fetchall(), list(rel.columns))
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(d, fh)
        os.replace(tmp, path)
        return d


def read_out(root, rel):
    con = duckdb.connect()
    q = os.path.join(root, rel).replace("'", "''")
    r = con.sql(f"SELECT * FROM read_parquet('{q}/*.parquet')")
    return r.fetchall(), list(r.columns)


def _rows_as_dicts(root, rel):
    rows, cols = read_out(root, rel)
    return [dict(zip(cols, r)) for r in rows]


def check_topk(root, rel, vectors, k):
    """Each probe has ranks 1..k, and every reported cosine is the exact
    cosine of that pair at the operator's 4-decimal rounding."""
    by_q = _group(_rows_as_dicts(root, rel), "query_id")
    if not by_q:
        return "no rows"
    for q, rs in by_q.items():
        if sorted(r["rank"] for r in rs) != list(range(1, k + 1)):
            return f"probe {q}: ranks {sorted(r['rank'] for r in rs)}"
        for r in rs:
            a, b = vectors[q], vectors[r["neighbor_id"]]
            exact = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
            if abs(exact - r["cos"]) > 1.5e-4:
                return f"probe {q} neighbor {r['neighbor_id']}: cos {r['cos']} != {exact:.4f}"
    return None


def check_exact_topk(root, rel, vectors, k):
    """check_topk, plus: nothing outside the list beats its last entry."""
    err = check_topk(root, rel, vectors, k)
    if err:
        return err
    ids = np.array(sorted(vectors))
    mat = np.stack([vectors[i] for i in ids]).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    for q, rs in _group(_rows_as_dicts(root, rel), "query_id").items():
        cos = mat @ mat[np.searchsorted(ids, q)]
        cos[np.searchsorted(ids, q)] = -2
        kth = np.sort(cos)[-k]
        if min(r["cos"] for r in rs) < round(kth, 4) - 1.5e-4:
            return f"probe {q}: a closer neighbor than {min(r['cos'] for r in rs)} exists"
    return None


def _group(rows, key):
    out = {}
    for r in rows:
        out.setdefault(r[key], []).append(r)
    return out


def _vectors(data_dir):
    return {i: np.array(v, dtype=np.float64) for i, v in connect_views(data_dir).execute(
        "SELECT vec_id, embedding FROM embeddings").fetchall()}


def check_run(workload, root, result, cache_dir):
    """Returns {op key: None if correct, else the reason}."""
    oracles = Oracles(cache_dir)
    verdict = {}
    outs = {o["key"]: o.get("out") for o in result["ops"]}
    for o in result["ops"]:
        key = o["key"]
        if o.get("error"):
            verdict[key] = o["error"]
            continue
        try:
            verdict[key] = _check_one(workload, root, result, o, outs, oracles)
        except Exception as e:  # a check that cannot run is a failed check
            verdict[key] = f"check error: {type(e).__name__}: {e}"
    return verdict


def _check_one(workload, root, result, o, outs, oracles):
    key, out = o["key"], o.get("out")
    spec = result["oracles"].get(key)
    if spec is not None:
        rows, cols = read_out(root, out)
        want = oracles.digest(spec["sql"], os.path.join(root, spec["dir"]))
        got = _digest(rows, cols)
        if got != want:
            return f"differs from oracle: {got[1]} rows vs {want[1]} expected"
        return None
    if workload.startswith("corpus_"):
        return _check_corpus(root, key, out, outs)
    if workload == "catalogue_ingest":
        return _check_ingest(root, o)
    # remaining ops (stream start/batches, exports before the final read)
    # materialize nothing of their own: the state they leave is checked by
    # the ops that read it
    return None


def _check_corpus(root, key, out, outs):
    v1 = os.path.join(root, "inputs", "corpus_v1")
    v2 = os.path.join(root, "inputs", "corpus_v2")
    if key == "op_incremental_verdicts":
        a, ca = read_out(root, out)
        b, cb = read_out(root, outs["op_near_dup_verdicts"])
        if canon(a, ca) != canon(b, cb):
            return "incremental verdicts differ from the one-pass verdicts"
        return None
    if key == "op_near_dup_verdicts":
        rows = _rows_as_dicts(root, out)
        n_docs = connect_views(v1).execute("SELECT count(*) FROM documents").fetchone()[0]
        return None if len(rows) == n_docs else f"{len(rows)} verdicts for {n_docs} docs"
    if key == "op_minhash_pairs":
        rows = _rows_as_dicts(root, out)
        bad = [r for r in rows if not (r["d1"] < r["d2"] and r["jaccard"] >= 0.5)]
        if not rows:
            return "no pairs"
        return f"{len(bad)} pairs violate d1<d2, jaccard>=0.5" if bad else None
    if key == "op_cosine_topk":
        return check_exact_topk(root, out, _vectors(v1), 10)
    if key == "op_quantized_rescore_topk":
        return check_topk(root, out, _vectors(v1), 10)
    if key == "fn_projection":
        got = {r["doc_id"]: r["h60"] for r in _rows_as_dicts(root, out)}
        want = dict(connect_views(v1).execute(
            "SELECT doc_id, CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) "
            "FROM documents").fetchall())
        return None if got == want else "graft_hash60 differs from md5 prefix"
    if key == "export_delete":
        rows, cols = read_out(root, out)
        con = connect_views(v2)
        want = con.execute("SELECT doc_id, text, lang, source FROM documents")
        wcols = [d[0] for d in want.description]
        if canon(rows, cols) != canon(want.fetchall(), wcols):
            return "export zone differs from the refreshed corpus"
        return None
    return None


def _ingest_expect(root):
    with open(os.path.join(root, "inputs", "expect_ingest.json")) as fh:
        return json.load(fh)


def _check_ingest(root, o):
    exp = _ingest_expect(root)
    key = o["key"]
    if o["kind"] == "day":
        day = exp["days"][int(key[1:])]
        shr = os.path.join(root, "zones", "data", "shr", "products", "PnP")
        crops = 0
        for part in day["partitions"]:
            prov, slug = part.split("|")
            crops += len(glob.glob(os.path.join(shr, prov, slug, "*", "*.jpg")))
        if crops != day["crops"]:
            return f"{crops} crops written, {day['crops']} products have a valid box"
        clean = os.path.join(root, "zones", "data", "clean", "PnP")
        for part in day["partitions"]:
            prov, slug = part.split("|")
            if not glob.glob(os.path.join(clean, f"province={prov}", f"date_range={slug}", "*.parquet")):
                return f"partition {part} missing from the clean zone"
        return None
    if o["kind"] == "read":
        rows = _rows_as_dicts(root, o["out"])
        _, d, prov, slug = key.split(":")
        if slug == "*":
            want = {}
            for day in exp["days"][:int(d[1:]) + 1]:
                for part, v in day["partitions"].items():
                    p, s = part.split("|")
                    if p == prov:
                        want[s] = v["rows"]
            got = {r["date_range"]: r["n"] for r in rows}
            return None if got == want else f"rows per date_range {got} != {want}"
        v = exp["days"][int(d[1:])]["partitions"][f"{prov}|{slug}"]
        if len(rows) != 1 or rows[0]["n"] != v["rows"] or \
                not math.isclose(rows[0]["price_sum"], v["price_sum"], abs_tol=0.011):
            return f"partition read {rows} != rows {v['rows']}, price_sum {v['price_sum']:.2f}"
        return None
    return None
