"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (seed, workload parameters): the same seed
writes byte-identical parquet files, a different seed writes different ones
(checked by test_gen.py). The shapes follow the library's fixture profiles
(TPC-H-ish star schema, an `events` stream table, a word-salad `documents`
corpus and unit-norm 64-d `embeddings`), so every query key runs unchanged.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def star_tables(seed, sf):
    """region/nation/customer/supplier/part/orders/lineitem at scale `sf`."""
    n_c, n_s, n_p = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_o, n_l = int(1_500_000 * sf), int(6_000_000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    r = _rng(seed, 1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_c)],
        "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_c),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "MACHINERY", "HOUSEHOLD"])[r.integers(0, 5, n_c)]})
    r = _rng(seed, 2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_s)],
        "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_s)})
    r = _rng(seed, 3)
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_p)], " "),
                              noun[r.integers(0, 8, n_p)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_p).astype(str)),
        "p_type": np.array(["ECONOMY", "MEDIUM", "SMALL", "PROMO", "STANDARD",
                            "LARGE"])[r.integers(0, 6, n_p)],
        "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900 + r.integers(0, 1000, n_p) / 10, 1)})
    r = _rng(seed, 4)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[r.integers(0, 3, n_o)],
        "o_totalprice": _money(r, 1000, 500_000, n_o),
        "o_orderdate": _ts(EPOCH_1995 + r.integers(0, 2404, n_o) * DAY_US),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[r.integers(0, 5, n_o)]})
    r = _rng(seed, 5)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_l), pa.int32()),
        "l_quantity": r.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105_000, n_l),
        "l_discount": np.round(r.uniform(0, 0.10, n_l), 2),
        "l_tax": np.round(r.uniform(0, 0.08, n_l), 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_l)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_l)],
        "l_shipdate": _ts(EPOCH_1995 + DAY_US + r.integers(0, 2499, n_l) * DAY_US)})
    return out


def events_table(seed, n, start_us=EPOCH_2024, span_us=30 * DAY_US,
                 first_id=0, users=150, stream=6):
    """`events`: sorted uniform timestamps over `span_us`, 150 users."""
    r = _rng(seed, stream)
    ts = np.sort(start_us + r.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n)]})


def _doc_texts(r, n):
    vocab = np.array(VOCAB)
    lens = r.integers(8, 96, n)
    texts = [" ".join(vocab[r.integers(0, len(vocab), m)]) for m in lens]
    # 5% near-duplicates (a copy of an earlier doc plus a marker token) and
    # a handful of exact duplicates, so dedup keys always have work to do
    for i in range(1, n):
        u = r.random()
        if u < 0.05:
            texts[i] = texts[int(r.integers(0, i))] + " dup"
        elif u < 0.052:
            texts[i] = texts[int(r.integers(0, i))]
    return texts


def documents_table(seed, n):
    r = _rng(seed, 7)
    texts = _doc_texts(r, n)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", r.integers(0, 20, n).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings_table(seed, n, dim=64):
    r = _rng(seed, 8)
    v = r.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32())})


def clone_corpus(seed, docs, embs, factor):
    """ScaleSmoke's near-duplicate shape: each base doc becomes a cluster of
    `factor` clones, each ending in three seeded letters-only tokens (the
    tokenizer drops digits, so the suffix must be letters to keep clones
    near- rather than exact duplicates). Embeddings clone unchanged."""
    r = _rng(seed, 9)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    n, m = docs.num_rows, embs.num_rows
    suffix = [" zz " + " ".join("q" + "".join(letters[r.integers(0, 26, 2)])
                                for _ in range(3)) for _ in range(factor)]
    text = docs.column("text").to_pylist()
    cols = {c: docs.column(c).to_pylist() for c in ("lang", "source")}
    ids, texts, langs, srcs = [], [], [], []
    for c in range(factor):
        ids.extend(range(c * n, (c + 1) * n))
        texts.extend(t + suffix[c] for t in text)
        langs.extend(cols["lang"])
        srcs.extend(cols["source"])
    cdocs = pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": texts, "lang": langs,
        "source": srcs, "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vec = embs.column("embedding")
    cembs = pa.table({
        "vec_id": pa.array(np.concatenate([np.arange(m) + c * m for c in range(factor)]),
                           pa.int64()),
        "embedding": pa.concat_arrays([vec.combine_chunks()] * factor),
        "label": pa.concat_arrays([embs.column("label").combine_chunks()] * factor)})
    return cdocs, cembs


def queries_table(seed, n, dim=64):
    """Seeded query vectors for the float_dot top-k retrieval."""
    r = _rng(seed, 10)
    v = r.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({"q_id": pa.array(np.arange(n), pa.int64()),
                     "q": pa.array(list(v), pa.list_(pa.float32()))})


SENTINEL_USER = 1_000_000


def stream_slices(seed, slices, per_slice):
    """`events` cloned along the time axis: slice k covers its own 6-hour
    span, 4 hours after the previous one ends, so the watermark advances and
    evicts between micro-batches. Two sentinel slices follow, 30 and 60 days
    later, one event per type by a user no real slice has: they move the
    watermark past every real window, so each pipeline's output over the
    real slices is final when the replay ends."""
    span = 6 * 3_600_000_000
    gap = span + 4 * 3_600_000_000
    out = []
    for k in range(slices):
        t = events_table(seed, per_slice, start_us=EPOCH_2024 + k * gap,
                         span_us=span, first_id=k * per_slice, stream=100 + k)
        out.append(t.cast(t.schema.set(1, pa.field("ts", pa.timestamp("us", tz="UTC")))))
    for j in (1, 2):
        t0 = EPOCH_2024 + slices * gap + 30 * j * DAY_US
        out.append(pa.table({
            "event_id": pa.array([10**9 * j + i for i in range(5)], pa.int64()),
            "ts": pa.array([t0 + i for i in range(5)], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([SENTINEL_USER] * 5, pa.int64()),
            "event_type": EVENT_TYPES,
            "value": [0.0] * 5,
            "props": ['{"k": 0}'] * 5}))
    return out


def lake_batches(seed, base_rows, batches, batch_rows):
    """orders-shaped (k, st, total) rows: the starting table plus `batches`
    change batches. Each batch carries updates of live keys, new keys and a
    delete range, all drawn from the seed."""
    r = _rng(seed, 11)
    st = np.array(["O", "P", "F"])
    base = pa.table({
        "k": pa.array(np.arange(base_rows), pa.int64()),
        "st": st[r.integers(0, 3, base_rows)],
        "total": _money(r, 1000, 500_000, base_rows)})
    out = []
    next_key = base_rows
    for b in range(batches):
        upd = np.sort(r.choice(next_key, batch_rows, replace=False))
        new = np.arange(next_key, next_key + batch_rows)
        next_key += batch_rows
        keys = np.concatenate([upd, new])
        out.append(pa.table({
            "k": pa.array(keys, pa.int64()),
            "st": st[r.integers(0, 3, len(keys))],
            "total": _money(r, 1000, 500_000, len(keys))}))
    return base, out


def generate(workload, seed, out_dir, p):
    """Write one workload's inputs under `out_dir`; returns the file list."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    if workload == "batch_read":
        tables.update(star_tables(seed, p["sf"]))
        tables["events"] = events_table(seed, p["events"])
        docs = documents_table(seed, p["docs"])
        embs = embeddings_table(seed, p["docs"])
        tables["documents"], tables["embeddings"] = clone_corpus(
            seed, docs, embs, p["factor"])
        tables["queries"] = queries_table(seed, p["queries"])
    elif workload == "lake_write":
        base, changes = lake_batches(seed, p["base_rows"], p["batches"],
                                     p["batch_rows"])
        tables["base"] = base
        for i, t in enumerate(changes):
            tables[f"change_{i:03d}"] = t
        ts = stream_slices(seed, p["slices"], p["per_slice"])
        for k, t in enumerate(ts):
            sub = f"slices/b{k:03d}" if k < p["slices"] else f"sentinel/s{k - p['slices']}"
            os.makedirs(f"{out_dir}/{sub}", exist_ok=True)
            tables[f"{sub}/part-0"] = t
    else:
        raise ValueError(f"unknown workload {workload}")
    files = []
    for name, t in sorted(tables.items()):
        path = f"{out_dir}/{name}.parquet"
        _write(t, path)
        files.append(path)
    return files
