"""Seeded input generator for the lakebench workloads.

Every table the engine reads in a benchmark run comes from here. The same
seed gives byte-identical parquet files; the engine never sees anything
else. Schemas follow the engine's catalog tables (TPC-H-like star schema
plus `events`, `documents` and `embeddings`).

Layout under the cache directory, one directory per seed and generator
version:

    catalog/    every catalog table at CATALOG_SF
    curation/   CURATION_DOCS documents and CURATION_VECTORS vectors, each
                scaled CURATION_COPIES times; other tables as in catalog/
    acon/       lineitem (the full-load source) at ACON_SF plus
                ACON_BATCHES CDC batches cdc_<n>.parquet

Each set has a `<set>_check/` twin at CHECK_SHARE of its scale, with
CHECK_DOCS short, duplicate-rich documents and CHECK_VECTORS vectors (the
curation corpus: CURATION_CHECK_DOCS and CURATION_CHECK_VECTORS, two
copies). The untimed warm-up runs there and its outputs are checked
against the DuckDB oracles, which would take minutes per seed at the timed
scale.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_SF = 0.01
CURATION_DOCS = 150
CURATION_VECTORS = 60
CURATION_CHECK_DOCS = 30
CURATION_CHECK_VECTORS = 100
CHECK_DOCS = 150
CHECK_VECTORS = 100
CURATION_COPIES = 10
ACON_SF = 0.01
ACON_BATCHES = 3
ACON_BATCH_SHARE = 0.01
CHECK_SHARE = 0.1
# The CDC mix of a batch, measured from the reference's record_mode_cdc
# scenarios (the CSV delta parts after each scenario's initial load under
# src/test/resources/delta_load/record_mode_cdc/; tests/test_lakebench.py
# recomputes it). SAP record modes map N -> I, '' -> U, D and R -> D; X, a
# before-image that travels with its after-image, is left out.
CDC_MODES = {"I": 14, "U": 51, "D": 30}  # rows per mode, 95 in all
CDC_REPEATS = (8, 87)  # keys with a second row in their batch, of the keys changed
# Change rate per live key one ship year back over the latest year's:
# (7 of 18 keys of 2016) / (67 of 96 keys of 2017). Inserts are new keys in
# the latest year, as the scenarios' new sales order is.
CDC_YEAR_BACK = (7 / 18) / (67 / 96)

VOCAB = ("a the data row column table join merge filter group agg key value "
         "hash sort order scan query batch stream window vector spark line "
         "part customer small big fast slow").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EPOCH = np.datetime64("1970-01-01", "D")


def _rng(seed, *salt):
    return np.random.default_rng([seed, *salt])


def _write(path, cols):
    table = pa.table(cols)
    pq.write_table(table, path, compression="snappy")


def _ts_days(first, last, n, rng):
    lo = (np.datetime64(first, "D") - EPOCH).astype(np.int64)
    hi = (np.datetime64(last, "D") - EPOCH).astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def lineitem(sf, rng, first_key=0):
    """Lineitem rows with a unique (l_orderkey, l_linenumber) key: each
    order gets 1..7 lines."""
    n_orders = max(1, int(1_500_000 * sf))
    lines = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(first_key, first_key + n_orders), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(len(orderkey)) - starts + 1).astype(np.int32)
    perm = rng.permutation(len(orderkey))
    orderkey, linenumber = orderkey[perm], linenumber[perm]
    n = len(orderkey)
    return {
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), n),
        "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts_days("1995-01-02", "2001-11-04", n, rng),
    }


def documents(n, rng, check=False):
    """n documents over VOCAB. Check documents are shorter and five times
    as often near-duplicates, so a small check corpus still has pairs and
    its oracles stay cheap."""
    lens = rng.integers(10, 41 if check else 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    text = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    # 5% near-duplicates (an earlier document plus one token) and a few
    # exact copies, so the dedup operators have real pairs to find
    for i in np.flatnonzero(rng.random(n) < (0.25 if check else 0.05)):
        if i > 0:
            text[i] = text[rng.integers(0, i)] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        if i > 0:
            text[i] = text[rng.integers(0, i)]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


def _unit(v):
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def embeddings(n, rng, dim=64):
    label = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 0.5, (10, dim))
    vec = rng.normal(0, 1, (n, dim)) + centers[label]
    # 2% near-duplicate vectors
    for i in np.flatnonzero(rng.random(n) < 0.02):
        if i > 0:
            vec[i] = vec[rng.integers(0, i)] + rng.normal(0, 0.02, dim)
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": _unit(vec), "label": label}


def _embedding_column(vecs):
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def catalog_tables(sf, seed, check=False):
    rng = _rng(seed, 1)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_orders = max(10, int(1_500_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    adjectives = "small red blue hot cold old large new".split()
    nouns = "ring widget bolt gear plate rod anvil gizmo".split()
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                      "MACHINERY"])[rng.integers(0, 5, n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                       rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                "STANDARD"])[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        },
        "orders": {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000, 500_000, n_orders),
            "o_orderdate": _ts_days("1995-01-01", "2001-08-01", n_orders, rng),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                         "5-LOW"])[rng.integers(0, 5, n_orders)],
        },
        "lineitem": lineitem(sf, rng),
        "events": {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us").astype(np.int64) + ev_us,
                           pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": np.array(["click", "error", "purchase", "signup",
                                    "view"])[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
        # several queries hold out a fixed id range (doc_id < 100,
        # vec_id < 20) as their probe or batch side
        "documents": documents(CHECK_DOCS if check else max(500, int(50_000 * sf)),
                               _rng(seed, 2), check),
    }
    emb = embeddings(CHECK_VECTORS if check else max(500, int(20_000 * sf)), _rng(seed, 3))
    emb["embedding"] = _embedding_column(emb["embedding"])
    tables["embeddings"] = emb
    return tables


def write_tables(out, tables):
    os.makedirs(out, exist_ok=True)
    for name, cols in tables.items():
        _write(os.path.join(out, f"{name}.parquet"), cols)


def _salt(seed):
    return hashlib.sha256(f"lakebench-{seed}".encode()).hexdigest()[:6]


def curation_tables(seed, n_docs, n_vectors, copies, check=False):
    """Documents and embeddings scaled `copies` times. Copy i offsets
    the ids and suffixes every token with a seed-salted copy tag, and flips
    the sign of a seed-chosen set of embedding dimensions: near-duplicate
    structure inside a copy is kept, pairs across copies are not, so the
    pair workload grows linearly with the copies."""
    base_docs = documents(n_docs, _rng(seed, 2), check)
    base_emb = embeddings(n_vectors, _rng(seed, 3))
    salt = _salt(seed)
    n_docs, n_emb = len(base_docs["doc_id"]), len(base_emb["vec_id"])
    docs = {k: [] for k in base_docs}
    vecs, vec_ids, labels = [], [], []
    for i in range(copies):
        tag = "" if i == 0 else f"c{i}{salt}"
        docs["doc_id"].append(base_docs["doc_id"] + i * n_docs)
        text = base_docs["text"] if i == 0 else [
            " ".join(w + tag for w in t.split(" ")) for t in base_docs["text"]]
        docs["text"].append(np.array(text, dtype=object))
        docs["lang"].append(base_docs["lang"])
        docs["source"].append(np.array(base_docs["source"], dtype=object))
        docs["n_chars"].append(np.array([len(t) for t in text], dtype=np.int64))
        flip = np.ones(base_emb["embedding"].shape[1], dtype=np.float32)
        if i > 0:
            flip[_rng(seed, 4, i).random(len(flip)) < 0.5] = -1.0
        vecs.append(base_emb["embedding"] * flip)
        vec_ids.append(base_emb["vec_id"] + i * n_emb)
        labels.append(base_emb["label"])
    docs = {k: np.concatenate(v) for k, v in docs.items()}
    emb = {"vec_id": np.concatenate(vec_ids),
           "embedding": _embedding_column(np.concatenate(vecs)),
           "label": np.concatenate(labels)}
    return docs, emb


def acon_inputs(seed, sf):
    """The full-load source and ACON_BATCHES CDC batches over it. Each batch
    changes ACON_BATCH_SHARE of the live keys with the CDC_* mix: inserts
    of new keys in the latest ship year, updates and deletes of live keys,
    each year back CDC_YEAR_BACK times as likely to change, and a second
    row for some keys; ext_ts orders every change across all batches. A
    key keeps its ship date for life, so it never changes partition."""
    rng = _rng(seed, 5)
    base = lineitem(sf, rng)
    ship = np.asarray(base["l_shipdate"].cast(pa.int64()))
    # live key -> (partkey, suppkey, ship date in us)
    live = {(int(o), int(l)): (int(p), int(s), int(t)) for o, l, p, s, t in zip(
        base["l_orderkey"], base["l_linenumber"], base["l_partkey"], base["l_suppkey"], ship)}
    next_order = int(base["l_orderkey"].max()) + 1
    n_change = max(10, int(ACON_BATCH_SHARE * len(ship)))
    n_insert = round(n_change * CDC_MODES["I"] / sum(CDC_MODES.values()))
    p_delete = CDC_MODES["D"] / (CDC_MODES["U"] + CDC_MODES["D"])
    n_delete = round((n_change - n_insert) * p_delete)
    batches, ext = [], 0
    for b in range(1, ACON_BATCHES + 1):
        keys = sorted(live)
        year = np.array([live[k][2] for k in keys]).astype("datetime64[us]").astype(
            "datetime64[Y]").astype(np.int64)
        w = CDC_YEAR_BACK ** (year.max() - year)
        picked = rng.choice(len(keys), n_change - n_insert, replace=False, p=w / w.sum())
        records = [(keys[ki], "D" if j < n_delete else "U") for j, ki in enumerate(picked)]
        fresh = lineitem(n_insert / 4 / 1_500_000, rng, first_key=next_order)
        next_order = int(fresh["l_orderkey"].max()) + 1
        fresh_ship = np.asarray(_ts_days("2001-01-01", "2001-11-04",
                                         len(fresh["l_orderkey"]), rng).cast(pa.int64()))
        attrs = dict(live)
        for o, l, p, s, t in zip(fresh["l_orderkey"], fresh["l_linenumber"],
                                 fresh["l_partkey"], fresh["l_suppkey"], fresh_ship):
            attrs[(int(o), int(l))] = (int(p), int(s), int(t))
            records.append(((int(o), int(l)), "I"))
        repeat = rng.choice(len(records), round(len(records) * CDC_REPEATS[0] / CDC_REPEATS[1]),
                            replace=False)
        records += [(records[r][0], "D" if rng.random() < p_delete else "U") for r in repeat]
        records = [records[r] for r in rng.permutation(len(records))]
        m = len(records)
        ext_ts = b * 10_000_000 + ext + np.arange(1, m + 1)
        ext += m
        batches.append({
            "l_orderkey": pa.array([k[0] for k, _ in records], pa.int64()),
            "l_partkey": pa.array([attrs[k][0] for k, _ in records], pa.int64()),
            "l_suppkey": pa.array([attrs[k][1] for k, _ in records], pa.int64()),
            "l_linenumber": pa.array([k[1] for k, _ in records], pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
            "l_shipdate": pa.array([attrs[k][2] for k, _ in records], pa.timestamp("us")),
            "record_mode": [mode for _, mode in records],
            "ext_ts": ext_ts.astype(np.int64),
        })
        latest = {}
        for k, mode in records:
            latest[k] = mode
        for k, mode in latest.items():
            if mode == "D":
                live.pop(k, None)
            else:
                live[k] = attrs[k]
    return base, batches


SETS = ("catalog", "curation", "acon")


def write_set(out, name, seed, check):
    """One input set, at its timed scale or, with `check`, at CHECK_SHARE
    of it."""
    share = CHECK_SHARE if check else 1.0
    if name == "acon":
        base, batches = acon_inputs(seed, ACON_SF * share)
        tables = {"lineitem": base}
        tables.update({f"cdc_{i}": b for i, b in enumerate(batches, 1)})
    else:
        tables = catalog_tables(CATALOG_SF * share, seed, check)
        if name == "curation":
            tables["documents"], tables["embeddings"] = (
                curation_tables(seed, CURATION_CHECK_DOCS, CURATION_CHECK_VECTORS, 2, check=True)
                if check else
                curation_tables(seed, CURATION_DOCS, CURATION_VECTORS, CURATION_COPIES))
    write_tables(out, tables)


def generate(root, seed, sets=SETS):
    """Write the named input sets for `seed`, and their check twins, under
    root/seed-<seed>-<digest of this file>, each once; return that
    directory. A finished set holds a _DONE file, so an interrupted
    generation is redone, never reused; a changed generator writes anew."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(root, f"seed-{seed}-{version}")
    for name in sets:
        for sub, check in ((name, False), (f"{name}_check", True)):
            path = os.path.join(out, sub)
            if os.path.exists(os.path.join(path, "_DONE")):
                continue
            shutil.rmtree(path, ignore_errors=True)
            write_set(path, name, seed, check)
            open(os.path.join(path, "_DONE"), "w").close()
    return out


def digest(path):
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(path):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
