"""Seeded input generation for the graft benchmark.

Every input the benchmark feeds the program is made here from the run's
seed, outside any timed phase; the program only ever sees the files.

  tables       - the ten star-schema + corpus tables the registered
                 queries read (region .. embeddings), one parquet file
                 with one row group per table, in the shape of the
                 repository's sf test tables: the star schema at
                 TABLES_SF = 0.01 (60k lineitem, 15k orders, 10k events),
                 `documents`/`embeddings` at CORPUS_SF = 0.1 (5k
                 documents of which ~5% are near-duplicates, 2k vectors).
  drops        - raw pipeline drops: erp_orders/crm_leads/products CSV
                 and web_events JSON-lines. Drop d covers the 7 days
                 starting 3*d days after 2024-06-01, so every drop after
                 the first overlaps its predecessor's window and merges
                 update existing (store_id, dt) keys.

Each generated directory carries `_content.sha256`, the hash of its
files, and `_sizes.json`, its row counts; `python3 perfbench/gen.py --check SEED` generates everything twice
and fails if the hashes differ.
"""
import datetime as _dt
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES_SF = 0.01
CORPUS_SF = 0.1
DROP_STORES = 60
DROP_WINDOW_DAYS = 7
DROP_STEP_DAYS = 3
DROP_ROWS = {"erp_orders": 4000, "crm_leads": 1500, "products": 600,
             "web_events": 5000}

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
HASH_FILE = "_content.sha256"


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _ts(days_lo, days_hi, n, rng):
    """Midnight timestamps on days [days_lo, days_hi) since the epoch."""
    d = rng.integers(days_lo, days_hi, n)
    return pa.array(d.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _day(y, m, d):
    return (_dt.date(y, m, d) - _dt.date(1970, 1, 1)).days


def base_tables(seed):
    rng = _rng(seed, 1)
    sf = TABLES_SF
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * CORPUS_SF), int(20_000 * CORPUS_SF)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
    noun = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(_day(1995, 1, 1), _day(2001, 8, 2), n_ord, rng),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(_day(1995, 1, 2), _day(2001, 11, 5), n_li, rng)})
    # 30 days of events with microsecond, strictly increasing times
    start_us = _day(2024, 1, 1) * 86_400_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + start_us
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev)
                                         .astype(str)), "}")})
    t["documents"] = _documents(rng, n_doc)
    emb = rng.normal(0.0, 1.0, (n_vec, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    return t


def _documents(rng, n):
    """Random-vocabulary documents; ~5% are an earlier document plus the
    token `dup`, the near-duplicates the dedup operators look for."""
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in np.nonzero(rng.random(n) < 0.05)[0]:
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def _write_tables(tables, out):
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out, f"{name}.parquet"),
                       row_group_size=max(1, tab.num_rows))


def drop_files(seed, d, stores=DROP_STORES):
    """The four raw files of drop `d` as {file name: text}."""
    rng = _rng(seed, 1000 + d)
    lo = _day(2024, 6, 1) + DROP_STEP_DAYS * d
    store = lambda n: [f"store_{s:03d}" for s in rng.integers(0, stores, n)]
    day = lambda n: [str(_dt.date(1970, 1, 1) + _dt.timedelta(days=int(x)))
                     for x in rng.integers(lo, lo + DROP_WINDOW_DAYS, n)]
    n = DROP_ROWS["erp_orders"]
    rows = zip(range(d * 1_000_000, d * 1_000_000 + n),
               (f"C{c:05d}" for c in rng.integers(0, 50_000, n)), store(n), day(n),
               (f"{v:.2f}" for v in rng.uniform(1.0, 1000.0, n)),
               rng.choice(["shipped", "processing", "cancelled"], n))
    erp = "order_id,customer_id,store_id,dt,order_value,status\n" + "".join(
        ",".join(map(str, r)) + "\n" for r in rows)
    n = DROP_ROWS["crm_leads"]
    first = rng.choice(["Alice", "Bob", "Carla", "Daniel", "Eve", "Farid"], n)
    last = rng.choice(["Smith", "Jones", "Gomez", "Ito", "Okafor", "Novak"], n)
    rows = zip((f"L{d:03d}{i:06d}" for i in range(n)),
               (f"{a} {b}" for a, b in zip(first, last)),
               (f"{a.lower()}.{i}@example.com" for i, a in enumerate(first)),
               rng.choice(["web", "event", "partner"], n),
               rng.choice(["contacted", "qualified", "converted", "new"], n),
               store(n), day(n))
    crm = "lead_id,name,email,source,status,store_id,dt\n" + "".join(
        ",".join(map(str, r)) + "\n" for r in rows)
    n = DROP_ROWS["products"]
    rows = zip((f"P{d:03d}{i:05d}" for i in range(n)),
               (f"Item {i}" for i in rng.integers(0, 5000, n)),
               rng.choice(["Audio", "Accessories", "Displays"], n),
               (f"{v:.2f}" for v in rng.uniform(5.0, 900.0, n)),
               rng.choice(["true", "false"], n), store(n), day(n))
    prod = "product_id,name,category,price,active,store_id,dt\n" + "".join(
        ",".join(map(str, r)) + "\n" for r in rows)
    n = DROP_ROWS["web_events"]
    metas = [{"utm_source": "newsletter"}, {"cta": "add_to_cart"},
             {"query": "monitor"}, {}]
    lines = (json.dumps({"event_id": f"E{d:03d}{i:07d}",
                         "visitor_id": f"V{v:06d}", "store_id": s, "dt": dt,
                         "page": p, "event_type": e, "metadata": metas[m]},
                        separators=(",", ":")) + "\n"
             for i, v, s, dt, p, e, m in zip(
                 range(n), rng.integers(0, 200_000, n), store(n), day(n),
                 rng.choice(["/home", "/search", "/product/P001", "/cart"], n),
                 rng.choice(["page_view", "click"], n), rng.integers(0, 4, n)))
    return {"erp_orders.csv": erp, "crm_leads.csv": crm,
            "products.csv": prod, "web_events.json": "".join(lines)}


def content_hash(root):
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for f in sorted(files):
            if f == HASH_FILE:
                continue
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def generate(kind, seed, out, n_drops=0):
    """Write the inputs of `kind` (tables | drops) for `seed`
    into `out` and return their content hash. `_sizes.json` records the
    row count of every table, or of every file of a drop."""
    os.makedirs(out)
    if kind == "tables":
        tables = base_tables(seed)
        _write_tables(tables, out)
        sizes = {n: t.num_rows for n, t in tables.items()}
    elif kind == "drops":
        sizes = {}
        for d in range(n_drops):
            sub = os.path.join(out, f"drop_{d:03d}")
            os.makedirs(sub)
            for name, text in drop_files(seed, d).items():
                with open(os.path.join(sub, name), "w") as fh:
                    fh.write(text)
                sizes[f"drop_{d:03d}/{name}"] = text.count("\n") - name.endswith(".csv")
    else:
        raise ValueError(kind)
    with open(os.path.join(out, "_sizes.json"), "w") as fh:
        json.dump(sizes, fh, sort_keys=True)
    digest = content_hash(out)
    with open(os.path.join(out, HASH_FILE), "w") as fh:
        fh.write(digest + "\n")
    return digest


def cached(kind, seed, cache_root, n_drops=0, keep=3):
    """The directory holding `kind` inputs for `seed`, generated once
    and reused while its recorded content hash still matches. Only the
    `keep` most recently used directories of a kind are kept."""
    prefix = f"{kind}-d{n_drops}-"
    out = os.path.join(cache_root, f"{prefix}s{seed}")
    hf = os.path.join(out, HASH_FILE)
    if os.path.exists(hf):
        with open(hf) as fh:
            if fh.read().strip() == content_hash(out):
                os.utime(out)
                return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(kind, seed, tmp, n_drops)
    os.rename(tmp, out)
    old = sorted((p for p in os.listdir(cache_root) if p.startswith(prefix)),
                 key=lambda p: os.path.getmtime(os.path.join(cache_root, p)))
    for p in old[:-keep]:
        shutil.rmtree(os.path.join(cache_root, p), ignore_errors=True)
    return out


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "--check":
        sys.exit("usage: gen.py --check SEED")
    import tempfile
    seed = int(sys.argv[2])
    with tempfile.TemporaryDirectory(dir=".") as tmp:
        for kind, nd in [("tables", 0), ("drops", 4)]:
            a = generate(kind, seed, os.path.join(tmp, kind + "_a"), nd)
            b = generate(kind, seed, os.path.join(tmp, kind + "_b"), nd)
            print(f"{kind}: {a} {'==' if a == b else '!='} {b}")
            if a != b:
                sys.exit(1)
