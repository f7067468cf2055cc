"""Seeded input generator for the benchmark workloads.

Every input a run reads is made here from ``--seed``: the same seed gives
byte-identical files. The program under test sees only these files; the
generator also writes the facts the checks compare against (expected rows,
partitions and crop counts), which the program never reads.

Layout under the run's ``inputs/`` directory:

  lake/            sf0.1-shaped star schema + events (lake_queries)
  lake_warm/       the same at sf0.001, for the untimed warm-up pass
  corpus_v1/       documents + embeddings before the refresh (corpus_curation)
  corpus_v2/       the same tables after the seeded appends/replacements/deletes
  refresh/         upserts.parquet + deletes.json: the v1 -> v2 change set
  days/dN/         landed catalogue links for simulated day N (catalogue_ingest)
  fixture/         extractor answers (silver JSON) behind the page keys
  expect_ingest.json  per-day products, partitions and valid-bbox crop counts
  event_files/     events split into files, appended one at a time (event_stream)
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PROVINCES = [
    "Gauteng", "Western Cape", "Eastern Cape", "KwaZulu Natal", "Free State",
    "Limpopo", "Mpumalanga", "North West", "Northern Cape"]
MONTHS = [
    "January", "February", "March", "April", "May", "June", "July", "August",
    "September", "October", "November", "December"]
BRANDS = ["Clover", "Pick n Pay", "Albany", "Coca-Cola", "Koo", "Lays",
          "Sasko", "Rama", "Huggies", "Omo"]
UNITS = ["g", "kg", "ml", "l", "litres", "L", "each"]
DEALS = ["Smart Shopper", "All 3", "Buy 2", None]

# Sizes. The star schema is the sf0.1 shape; the corpus and the catalogue are
# sized so one run fits the run budget on a 4-core box (see README.md).
SF = 0.1
SF_WARM = 0.001
CORPUS_DOCS = 1000
CORPUS_PARTS = 4
CORPUS_VECS = 600
VEC_DIM = 64
VEC_LABELS = 10
INGEST_DAYS = 3
INGEST_PROVINCES = 3
INGEST_FLYERS = 2
INGEST_PAGES = 4
INGEST_PRODUCTS = 10
EVENT_ROWS = 27000
EVENT_FILES = 16
LATE_MINUTES = 30


def _ts(rng, start, span_s, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_s * 1_000_000, n).astype("timedelta64[us]")


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[i] for i in idx[at:at + ln]))
        at += ln
    return out


def gen_lake(rng, root, sf=SF):
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{root}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{root}/nation.parquet")
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        f"{root}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{root}/supplier.parquet")
    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail}),
        f"{root}/part.parquet")
    status = np.array(["O", "P", "F"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    odate = np.datetime64("1995-01-01", "us") + (
        rng.integers(0, 2404, n_ord) * 86400_000_000).astype("timedelta64[us]")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": status[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}),
        f"{root}/orders.parquet")
    okey = rng.integers(0, n_ord, n_line).astype(np.int64)
    pkey = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    flags = np.array([("A", "O"), ("N", "F"), ("R", "F"), ("N", "O"), ("A", "F"), ("R", "O")])
    fl = flags[rng.integers(0, 6, n_line)]
    ship = np.datetime64("1995-01-02", "us") + (
        rng.integers(0, 2498, n_line) * 86400_000_000).astype("timedelta64[us]")
    _write(pa.table({
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey] * rng.uniform(1.0, 2.1, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": fl[:, 0],
        "l_linestatus": fl[:, 1],
        "l_shipdate": ship}),
        f"{root}/lineitem.parquet")
    _write(events_table(rng, int(1000000 * sf)), f"{root}/events.parquet")


def events_table(rng, n):
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(rng, "2024-01-01", 30 * 86400, n),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.0, 560.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _docs(rng, ids, texts):
    n = len(ids)
    return {
        "doc_id": np.asarray(ids, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in ids]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def _with_near_dups(rng, texts, share):
    """Turn a fixed share of docs into near-duplicates (an original doc's
    text plus one word) and a fixed few into exact duplicates, like the
    sf0.1 corpus. Copies are made only of originals, so every duplicate
    cluster is a star of depth one and the clustering queries do the same
    number of rounds for every seed."""
    texts = list(texts)
    n = len(texts)
    copies = rng.choice(n, int(n * share) + max(2, n // 600), replace=False)
    originals = np.setdiff1d(np.arange(n), copies)
    for j, i in enumerate(copies):
        src = texts[int(rng.choice(originals))]
        texts[i] = src + " dup" if j < int(n * share) else src
    return texts


def _vectors(rng, n, centroids):
    labels = rng.integers(0, VEC_LABELS, n).astype(np.int32)
    v = centroids[labels] + rng.normal(0, 0.12, (n, VEC_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return labels, v


def _emb_table(ids, labels, v):
    return pa.table({
        "vec_id": np.asarray(ids, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels})


def _write_parts(table, root, name, parts):
    n = table.num_rows
    bounds = np.linspace(0, n, parts + 1).astype(int)
    for p in range(parts):
        _write(table.slice(bounds[p], bounds[p + 1] - bounds[p]),
               f"{root}/{name}.parquet/part-{p:05d}.parquet")


def gen_corpus(rng, root):
    """corpus_v1 -> corpus_v2: one part file of each table is rewritten in
    place (some rows replaced, some deleted) and one part file is appended.
    """
    n = CORPUS_DOCS
    texts = _with_near_dups(rng, _texts(rng, n), 0.05)
    docs = pa.table(_docs(rng, list(range(n)), texts))
    _write_parts(docs, f"{root}/corpus_v1", "documents", CORPUS_PARTS)
    centroids = rng.normal(0, 1, (VEC_LABELS, VEC_DIM))
    labels, v = _vectors(rng, CORPUS_VECS, centroids)
    emb = _emb_table(list(range(CORPUS_VECS)), labels, v)
    _write_parts(emb, f"{root}/corpus_v1", "embeddings", CORPUS_PARTS)

    # the refresh: part `rp` of documents gets replacements and deletions
    per = n // CORPUS_PARTS
    rp = int(rng.integers(0, CORPUS_PARTS))
    lo, hi = rp * per, (rp + 1) * per
    part = docs.slice(lo, per).to_pydict()
    ids = np.arange(lo, hi)
    deleted = set(int(i) for i in rng.choice(ids, per // 20, replace=False))
    rest = [i for i in ids if i not in deleted]
    replaced = set(int(i) for i in rng.choice(rest, per // 10, replace=False))
    new_part = {k: [] for k in part}
    for j, i in enumerate(ids):
        if int(i) in deleted:
            continue
        for k in part:
            new_part[k].append(part[k][j])
        if int(i) in replaced:
            t = " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 101))))
            new_part["text"][-1] = t
            new_part["n_chars"][-1] = len(t)
    appended_ids = list(range(n, n + per))
    app_texts = _texts(rng, per)
    # appended near-dups of the existing corpus exercise the incremental paths
    for j in rng.choice(per, per // 10, replace=False):
        app_texts[j] = texts[int(rng.integers(0, n))] + " dup"
    app = _docs(rng, appended_ids, app_texts)
    v2 = f"{root}/corpus_v2"
    for p in range(CORPUS_PARTS):
        if p == rp:
            _write(pa.table(new_part, schema=docs.schema),
                   f"{v2}/documents.parquet/part-{p:05d}.parquet")
        else:
            _write(docs.slice(p * per, per), f"{v2}/documents.parquet/part-{p:05d}.parquet")
    _write(pa.table(app, schema=docs.schema),
           f"{v2}/documents.parquet/part-{CORPUS_PARTS:05d}.parquet")
    upserts = pa.concat_tables([
        pa.table({k: [new_part[k][j] for j, i in enumerate(new_part["doc_id"]) if i in replaced]
                  for k in part}, schema=docs.schema),
        pa.table(app, schema=docs.schema)])
    _write(upserts, f"{root}/refresh/upserts.parquet")
    with open(f"{root}/refresh/deletes.json", "w") as f:
        json.dump(sorted(deleted), f)

    # embeddings: part `ep` has vectors replaced, plus one appended part
    vper = CORPUS_VECS // CORPUS_PARTS
    ep = int(rng.integers(0, CORPUS_PARTS))
    ev = v.copy()
    moved = rng.choice(np.arange(ep * vper, (ep + 1) * vper), vper // 10, replace=False)
    _, fresh = _vectors(rng, len(moved), centroids)
    ev[moved] = fresh
    for p in range(CORPUS_PARTS):
        sl = slice(p * vper, (p + 1) * vper)
        _write(_emb_table(list(range(p * vper, (p + 1) * vper)), labels[sl], ev[sl]),
               f"{v2}/embeddings.parquet/part-{p:05d}.parquet")
    al, av = _vectors(rng, vper, centroids)
    _write(_emb_table(list(range(CORPUS_VECS, CORPUS_VECS + vper)), al, av),
           f"{v2}/embeddings.parquet/part-{CORPUS_PARTS:05d}.parquet")


def _date_text(k):
    start = dt.date(2026, 1, 5) + dt.timedelta(days=7 * k)
    end = start + dt.timedelta(days=2)
    return (f"Valid {start.day} {MONTHS[start.month - 1]} - "
            f"{end.day} {MONTHS[end.month - 1]} {end.year}")


def _slug(date_text):
    s = date_text.replace("Valid", "").strip()
    return "".join(c if c.isalnum() or c in "_-" else "_" for c in s)


def gen_ingest(rng, root):
    """Per day: provinces x flyers catalogue links, each PDF with a seeded
    page count, and the extractor's product JSON for every page. A seeded
    share of products carries an invalid bounding box (no crop)."""
    provinces = list(rng.choice(PROVINCES, INGEST_PROVINCES, replace=False))
    expect = {"days": []}
    flyer_no = 0
    for day in range(INGEST_DAYS):
        links, day_exp = [], {"pages": 0, "products": 0, "crops": 0, "partitions": {}}
        for f in range(INGEST_FLYERS):
            text = _date_text(flyer_no)
            flyer_no += 1
            slug = _slug(text)
            for prov in provinces:
                pslug = prov.replace(" ", "_")
                pages = INGEST_PAGES
                links.append({"date_text": text, "province_text": prov,
                              "href": f"https://bench.test/{pslug}/{slug}.pdf?pages={pages}"})
                part = day_exp["partitions"].setdefault(
                    f"{pslug}|{slug}", {"rows": 0, "price_sum": 0.0})
                for page in range(1, pages + 1):
                    prods = []
                    for i in range(INGEST_PRODUCTS):
                        y0, x0 = int(rng.integers(0, 800)), int(rng.integers(0, 800))
                        box = [y0, x0, y0 + int(rng.integers(40, 200)),
                               x0 + int(rng.integers(40, 200))]
                        valid = rng.random() >= 0.1
                        if not valid:
                            box = [None, x0, y0, 300] if rng.random() < 0.5 else box[:3]
                        price = round(float(rng.uniform(5, 400)), 2)
                        prods.append({
                            "product_name": f"{BRANDS[i % len(BRANDS)]} item {int(rng.integers(0, 10**6))}",
                            "brand": BRANDS[int(rng.integers(0, len(BRANDS)))],
                            "current_price": price,
                            "was_price": round(price * 1.2, 2) if rng.random() < 0.5 else None,
                            "weight_volume": int(rng.integers(1, 1000)),
                            "unit": UNITS[int(rng.integers(0, len(UNITS)))],
                            "deal_type": DEALS[int(rng.integers(0, len(DEALS)))],
                            "multi_buy_quantity": int(rng.integers(1, 4)),
                            "bounding_box": box,
                            "group_id": None})
                        part["rows"] += 1
                        part["price_sum"] += price
                        day_exp["crops"] += int(valid)
                    p = f"{root}/fixture/{pslug}/{slug}/page_{page}.json"
                    os.makedirs(os.path.dirname(p), exist_ok=True)
                    with open(p, "w") as fh:
                        json.dump(prods, fh)
                    day_exp["pages"] += 1
                    day_exp["products"] += len(prods)
        os.makedirs(f"{root}/days/d{day}", exist_ok=True)
        with open(f"{root}/days/d{day}/links.json", "w") as fh:
            json.dump(links, fh)
        expect["days"].append(day_exp)
    with open(f"{root}/expect_ingest.json", "w") as fh:
        json.dump(expect, fh)


def gen_events(rng, root):
    """Events in EVENT_FILES files in arrival order. Rows from the last
    LATE_MINUTES of a file's event-time range may arrive in the next file
    instead (a seeded half of them: out of order, but inside the stateful
    operators' one-hour lateness bound, so no answer depends on the split),
    and a seeded fifth of them is delivered in both files (same event_id),
    so the dedup operator has work."""
    n = EVENT_ROWS
    t = events_table(rng, n).sort_by("ts")
    ts = t.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    file_of = (np.arange(n) * EVENT_FILES // n).astype(np.int64)
    file_end = np.array([ts[file_of == f].max() for f in range(EVENT_FILES)])
    tail = (ts >= file_end[file_of] - LATE_MINUTES * 60_000_000) & (file_of < EVENT_FILES - 1)
    pick = rng.random(n)
    late = tail & (pick < 0.5)
    dup = tail & (pick >= 0.5) & (pick < 0.6)
    arrive = file_of + late
    idx = np.concatenate([np.arange(n), np.flatnonzero(dup)])
    fidx = np.concatenate([arrive, file_of[dup] + 1])
    for f in range(EVENT_FILES):
        _write(t.take(pa.array(idx[fidx == f])), f"{root}/event_files/part-{f:05d}.parquet")


def generate(workload, seed, root):
    rng = np.random.default_rng(seed)
    if workload == "lake_queries":
        gen_lake(rng, f"{root}/lake")
        gen_lake(rng, f"{root}/lake_warm", SF_WARM)
    elif workload in ("corpus_curation", "corpus_refresh"):
        gen_corpus(rng, root)
    elif workload == "catalogue_ingest":
        gen_ingest(rng, root)
    elif workload == "event_stream":
        gen_events(rng, root)
    else:
        raise ValueError(f"unknown workload {workload}")
