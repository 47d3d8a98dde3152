"""Output checks for one benchmark run.

The harness writes every operation's output once, after the timed passes,
under <run>/check/, with a manifest of `kind<TAB>name` lines:

- oracle: a `SparkEntry.queries` key. Its output must equal the key's DuckDB
  oracle SQL (`SparkEntry.oracleSql`) over the same generated input, compared
  with scripts/preflight.py's compare (row count, schema, values in order).
- equal: <name>/actual must equal <name>/expected as a multiset of rows.
  The expected side is computed independently: the batch computation over
  the replayed input (streams), an in-memory replay of every statement (lake
  tables and lowerings), the submitted rows (sink).
- topk: the float_dot top-k, recomputed with numpy from the inputs.
"""
import glob
import importlib.util
import json
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

_preflight = None


def preflight():
    global _preflight
    if _preflight is None:
        path = os.path.join(os.getcwd(), "scripts", "preflight.py")
        spec = importlib.util.spec_from_file_location("preflight", path)
        _preflight = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(_preflight)
    return _preflight


def read(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet output in {path}")
    return pq.ParquetDataset(files).read()


def _key(v):
    if v is None:
        return (0, "")
    if isinstance(v, float) and math.isnan(v):
        return (1, "nan")
    return (2, repr(v) if isinstance(v, (dict, list)) else v)


def rows(tbl):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    return cols, sorted(zip(*data), key=lambda r: tuple(_key(v) for v in r)) if data else []


def check_equal(d):
    a, e = read(f"{d}/actual"), read(f"{d}/expected")
    ca, ra = rows(a)
    ce, re = rows(e)
    if ca != ce:
        return [f"columns actual={ca} expected={ce}"]
    if len(ra) != len(re):
        return [f"rows actual={len(ra)} expected={len(re)}"]
    for i, (x, y) in enumerate(zip(ra, re)):
        if x != y:
            return [f"row {i}: actual={x} expected={y}"]
    return []


def check_topk(d, input_dir):
    q = pq.read_table(f"{input_dir}/queries.parquet")
    e = pq.read_table(f"{input_dir}/embeddings.parquet")
    qv = np.array(q.column("q").to_pylist(), dtype=np.float32).astype(np.float64)
    ev = np.array(e.column("embedding").to_pylist(), dtype=np.float32).astype(np.float64)
    ids = np.array(e.column("vec_id").to_pylist())
    got = read(d).to_pydict()
    errs = []
    by_q = {}
    for qi, vi, s in zip(got["q_id"], got["vec_id"], got["score"]):
        by_q.setdefault(qi, []).append((vi, s))
    k = max(len(v) for v in by_q.values()) if by_q else 0
    for row, qid in enumerate(q.column("q_id").to_pylist()):
        scores = ev @ qv[row]
        order = sorted(range(len(ids)), key=lambda j: (-scores[j], ids[j]))[:k]
        want = [(int(ids[j]), float(scores[j])) for j in order]
        have = sorted(by_q.get(qid, []), key=lambda t: (-t[1], t[0]))
        if [w[0] for w in want] != [h[0] for h in have]:
            errs.append(f"q {qid}: ids {[h[0] for h in have]} != {[w[0] for w in want]}")
        elif any(abs(w[1] - h[1]) > 1e-9 * max(1.0, abs(w[1])) for w, h in zip(want, have)):
            errs.append(f"q {qid}: scores differ")
        if errs:
            break
    return errs


def check_all(check_dir, input_dir):
    """Returns {operation name: [errors]} for every manifest entry."""
    out = {}
    man = f"{check_dir}/manifest.tsv"
    if not os.path.exists(man):
        return {"<manifest>": ["harness wrote no check manifest"]}
    with open(man) as f:
        entries = [ln.rstrip("\n").split("\t") for ln in f if ln.strip()]
    con = None
    oracle = {}
    for kind, name in entries:
        if kind == "oracle" and con is None:
            con = duckdb.connect()
            con.execute("SET threads TO 1")
            for p in sorted(glob.glob(f"{input_dir}/*.parquet")):
                t = os.path.basename(p)[:-len(".parquet")]
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            with open(f"{check_dir}/oracle_sql.json") as f:
                oracle = json.load(f)
    for kind, name in entries:
        d = f"{check_dir}/{name}"
        try:
            if kind == "oracle":
                spark_tbl = read(d)
                ora_tbl = con.sql(oracle[name]).arrow()
                out[name] = preflight().compare(name, spark_tbl, ora_tbl)
            elif kind == "equal":
                out[name] = check_equal(d)
            elif kind == "topk":
                out[name] = check_topk(d, input_dir)
            else:
                out[name] = [f"unknown check kind {kind}"]
        except Exception as ex:  # a check that cannot run is a failed check
            out[name] = [f"{type(ex).__name__}: {ex}"]
    return out


def layer_unit(name):
    if name in ("error_rate", "sources.write_amp", "sources.space_amp",
                "sources.files_untouched_ratio") or name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or name.endswith("_mb_peak"):
        return "MB"
    return "count"
