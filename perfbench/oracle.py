"""Independent answers for every benchmark op, and the helpers that
compare them with the engine's output.

Nothing here imports the engine. Convert output is checked against a
pure-Python rendering of the generated Arrow table, KQL results against
DuckDB twins, and the dedup and kNN results against answers derived
from the generator's planted structure.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import hashlib
import io
import json
import math
import os
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq

TICKS_AT_UNIX_EPOCH = 621_355_968_000_000_000


# -- result multisets --------------------------------------------------

def canon(v) -> str:
    """Type-tagged text of one cell. Integers compare exactly; floats at
    12 significant digits, which absorbs summation-order noise."""
    if v is None:
        return "N"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        return "N" if math.isnan(v) else f"f:{float(v) + 0.0:.12g}"
    if isinstance(v, Decimal):
        return f"d:{v.normalize()}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (dt.datetime, dt.date)):
        return f"t:{v.isoformat()}"
    return f"s:{v}"


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns are sorted by name,
    then rows are sorted, so a plan that reorders either still matches."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def lines_hash(lines) -> str:
    """Order-insensitive hash of text lines."""
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


# -- convert: independent rendering -----------------------------------

def _ms(ns: int) -> int:
    return ns // 1_000_000


def _iso(ns: int) -> str:
    ms = _ms(ns)
    t = dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}000Z"


def _ticks(ns: int) -> int:
    return _ms(ns) * 10_000 + TICKS_AT_UNIX_EPOCH


def _finite(x):
    return None if x is None or not math.isfinite(x) else x


def _columns(path: str) -> dict[str, list]:
    t = pq.read_table(path)
    cols = {n: t.column(n).to_pylist() for n in t.column_names}
    cols["ts"] = t.column("ts").cast("int64").to_pylist()
    return cols


def _pruned_json_row(r: dict) -> dict:
    """One row as ConvertOptions.pruned(isostr) renders it: null fields,
    empty lists and empty maps are omitted; binary stays a byte array
    even when empty; an all-null struct is omitted, and a struct whose
    fields all render to null stays as {}."""
    out = {"id": r["id"]}
    if r["ts"] is not None:
        out["ts"] = _iso(r["ts"])
    for k in ("u64", "name", "flag"):
        if r[k] is not None:
            out[k] = r[k]
    if r["amount"] is not None:
        out["amount"] = f"{r['amount']:f}"
    if r["payload"] is not None:
        out["payload"] = list(r["payload"])
    if _finite(r["score"]) is not None:
        out["score"] = r["score"]
    if r["day"] is not None:
        out["day"] = r["day"].isoformat()
    st = r["st"]
    if st is not None and any(v is not None for v in st.values()):
        s = {k: st[k] for k in ("a", "b") if st[k] is not None}
        if st["c"]:
            s["c"] = st["c"]
        out["st"] = s
    if r["attrs"] is not None:
        m = {k: v for k, v in r["attrs"] if v is not None}
        if m:
            out["attrs"] = m
    if r["tags"]:
        out["tags"] = r["tags"]
    return out


def _csv_cells(r: dict) -> list:
    """One row as ConvertOptions(csv=True, ticks) renders it, with nested
    cells parsed back from their JSON text."""
    def opt(v, f):
        return None if v is None else f(v)
    st = r["st"]
    return [
        r["id"], opt(r["ts"], _ticks), r["u64"],
        opt(r["amount"], lambda d: f"{d:f}"),
        opt(r["payload"], list), r["name"], _finite(r["score"]),
        opt(r["flag"], lambda b: "true" if b else "false"),
        opt(r["day"], dt.date.isoformat),
        None if st is None else {"a": st["a"], "b": st["b"], "c": st["c"]},
        opt(r["attrs"], dict), r["tags"],
    ]


def _dump(v) -> str:
    return json.dumps(v, sort_keys=True)


def expected_convert(path: str) -> dict:
    """Content hashes of the JSON-Lines and CSV renderings of ``path``."""
    cols = _columns(path)
    names = list(cols)
    rows = [dict(zip(names, vals)) for vals in zip(*cols.values())]
    return {"rows": len(rows),
            "jsonl": lines_hash(_dump(_pruned_json_row(r)) for r in rows),
            "csv": lines_hash(_dump(_csv_cells(r)) for r in rows)}


def _part_files(out_dir: str, suffix: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out_dir, f"part-*{suffix}")))


def read_sink(out_dir: str, fmt: str) -> list[str]:
    """The records a text (``\\n``) or CSV (``\\r``) sink wrote."""
    sep = "\n" if fmt == "jsonl" else "\r"
    suffix = ".txt" if fmt == "jsonl" else ".csv"
    out = []
    for p in _part_files(out_dir, suffix):
        with open(p, encoding="utf-8", newline="") as f:
            text = f.read()
        out.extend(x for x in text.split(sep) if x)
    return out


def _csv_value(i: int, cell: str):
    if cell == "":
        return None
    if i in (0, 1, 2):
        return int(cell)
    if i == 6:
        return float(cell)
    if i in (4, 9, 10, 11):
        return json.loads(cell)
    return cell


def content_hash(out_dir: str, fmt: str) -> tuple[int, str]:
    """(record count, content hash) of a sink, comparable with
    ``expected_convert``."""
    recs = read_sink(out_dir, fmt)
    if fmt == "jsonl":
        return len(recs), lines_hash(_dump(json.loads(x)) for x in recs)
    rows = csv.reader(io.StringIO("\r".join(recs), newline=""),
                      lineterminator="\r")
    return len(recs), lines_hash(
        _dump([_csv_value(i, c) for i, c in enumerate(row)]) for row in rows)


# -- KQL: DuckDB twins ------------------------------------------------

KQL_TABLES = ("events", "orders", "customer", "nation", "region")


def duckdb_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect(config={"threads": "2"})
    for t in KQL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def duckdb_hash(con, sql: str) -> tuple[int, str]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return len(rows), result_hash(cols, rows)


# -- llm_curation: planted answers -------------------------------------

def shingles(text: str, n: int = 3) -> set:
    t = text.split()
    return {tuple(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0


def planted_pairs(texts: dict, clones: list, near: list,
                  clone_off: int, near_off: int,
                  threshold: float) -> dict:
    """Planted (id_a, id_b) -> Jaccard for every clone, and for every
    near-duplicate whose true shingle Jaccard reaches ``threshold``."""
    out = {(d, d + clone_off): 1.0 for d in clones}
    for d in near:
        j = jaccard(texts[d], texts[d + near_off])
        if j >= threshold:
            out[(d, d + near_off)] = j
    return out


def components(ids, pairs) -> dict:
    """Union-find: id -> min id of its connected component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def knn_truth(vecs: np.ndarray, qids: list, k: int) -> dict:
    """Exact cosine top-k per query id (self excluded) in float64."""
    u = vecs.astype(np.float64)
    u /= np.linalg.norm(u, axis=1, keepdims=True)
    out = {}
    for q in qids:
        s = u @ u[q]
        s[q] = -np.inf
        top = np.lexsort((np.arange(len(s)), -s))[:k]
        out[q] = [(int(i), float(s[i])) for i in top]
    return out
