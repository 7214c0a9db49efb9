"""Seeded input generators.

Every generator is a pure function of ``(seed, out_dir)``: the same seed
writes byte-identical Parquet files. Generation runs in this process only,
before Spark starts, with Arrow limited to two threads, so its time is
part of ``setup_s`` and does not compete with the timed passes.

``PROPERTIES`` is the single source of the input shapes, with the reason
each was chosen; ``WORKLOAD_INPUTS`` says which inputs a workload reads.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Input properties, with the reason each was chosen.
PROPERTIES = {
    "wide_table": {
        "rows": 6_000,
        "files": 2,
        "row_groups_per_file": 8,
        "nesting": "struct<int,string,list<int64>>, map<string,double>, "
                   "list<string>; depth 2",
        "null_share": 0.08,
        "duplicate_rate": 0.0,
        "text_length": "names of 1-4 words, some with commas and quotes",
        "why": "Each file is under 1 MB in 8 row groups. Spark reads a "
               "file this small as one task, so one of the 2 cores idles "
               "during the scan; a scan that splits by row group would "
               "show here. Every Kusto rendering path runs: ns timestamps, "
               "uint64 above 2^63, decimals, binary, NaN, and pruning of "
               "empty bags and lists.",
    },
    "star": {
        "rows": {"events": 12_000, "orders": 5_000, "customer": 1_000,
                 "nation": 25, "region": 5},
        "files": 5,
        "row_groups_per_file": 1,
        "nesting": "flat; props is JSON text that KQL parses",
        "null_share": 0.0,
        "duplicate_rate": 0.0,
        "text_length": "props of about 10 chars",
        "why": "A star small enough that compile time, at 0.05-0.3 s, "
               "is a visible share of each pipeline's wall time. Event "
               "times span 45 days, so bin, make-series and the 7-day "
               "funnel periods all have several buckets.",
    },
    "corpus": {
        "rows": {"documents": 400, "embeddings": 1_000,
                 "queries": 20},
        "files": 2,
        "row_groups_per_file": 1,
        "nesting": "embedding is list<float> of dim 32",
        "null_share": 0.0,
        "duplicate_rate": {"exact_clones": 0.05, "near_duplicates": 0.05},
        "text_length": "20-120 tokens from a 3000-word vocabulary",
        "why": "Planted clones and near-duplicates at known rates give "
               "the dedup chain a known answer. Clustered embeddings give "
               "IVF a known recall. Each file is one row group, the shape "
               "of a pandas-written corpus shard.",
    },
}

_EPOCH_2024_NS = 1_704_067_200 * 10**9


def _limit_threads() -> None:
    pa.set_cpu_count(2)
    pa.set_io_thread_count(2)


def _words(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n)
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(letters, lens[len(out)]))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _nullify(rng: np.random.Generator, values: list, share: float) -> list:
    mask = rng.random(len(values)) < share
    return [None if m else v for v, m in zip(values, mask)]


# -- wide_table: the convert input -----------------------------------------

CONVERT_SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("ts", pa.timestamp("ns")),
    ("u64", pa.uint64()),
    ("amount", pa.decimal128(18, 4)),
    ("payload", pa.binary()),
    ("name", pa.string()),
    ("score", pa.float64()),
    ("flag", pa.bool_()),
    ("day", pa.date32()),
    ("st", pa.struct([("a", pa.int32()), ("b", pa.string()),
                      ("c", pa.list_(pa.int64()))])),
    ("attrs", pa.map_(pa.string(), pa.float64())),
    ("tags", pa.list_(pa.string())),
])


def _convert_table(rng: np.random.Generator, first_id: int,
                   n: int, vocab: list[str], null: float) -> pa.Table:
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    ts = _EPOCH_2024_NS + rng.integers(0, 30 * 86400 * 10**9, n)
    u64 = rng.integers(0, np.iinfo(np.uint64).max, n, dtype=np.uint64,
                       endpoint=True)
    cents = rng.integers(-10**9, 10**9, n)
    amount = [decimal.Decimal(int(c)).scaleb(-4) for c in cents]
    blen = rng.integers(0, 9, n)
    ends = np.cumsum(blen).tolist()
    blob = rng.bytes(ends[-1])
    payload = [blob[e - k:e] for e, k in zip(ends, blen.tolist())]
    wl = rng.integers(1, 5, n)
    wi = rng.integers(0, len(vocab), (n, 4))
    odd = rng.random(n)
    names = []
    for i in range(n):
        s = " ".join(vocab[j] for j in wi[i, :wl[i]])
        if odd[i] < 0.05:
            s = s + ", " + vocab[wi[i, 0]]
        elif odd[i] < 0.08:
            s = '"' + s + '"'
        names.append(s)
    score = rng.integers(0, 10**7, n) / 1000.0
    score[rng.random(n) < 0.03] = np.nan
    flag = (rng.random(n) < 0.5).tolist()
    day = [dt.date(2024, 1, 1) + dt.timedelta(days=int(d))
           for d in rng.integers(0, 365, n)]
    sa = rng.integers(-1000, 1000, n)
    clen = rng.integers(0, 4, n)
    cvals = rng.integers(-10**12, 10**12, (n, 3))
    st = []
    for i in range(n):
        st.append({"a": None if odd[i] > 0.9 else int(sa[i]),
                   "b": None if odd[i] < 0.1 else vocab[wi[i, 1]],
                   "c": None if 0.45 < odd[i] < 0.5
                   else [int(x) for x in cvals[i, :clen[i]]]})
    mlen = rng.integers(0, 4, n).tolist()
    mkeys = [f"k{j}" for j in range(6)]
    mperm = np.argsort(rng.random((n, 6)), axis=1)[:, :3].tolist()
    mvals = (rng.integers(0, 10**5, (n, 3)) / 100.0).tolist()
    mnull = (rng.random((n, 3)) < 0.1).tolist()
    attrs = [[(mkeys[k], None if mnull[i][j] else mvals[i][j])
              for j, k in enumerate(mperm[i][:mlen[i]])] for i in range(n)]
    tlen = rng.integers(0, 5, n)
    tnull = rng.random((n, 4)) < 0.05
    tags = [[None if tnull[i, j] else vocab[wi[i, j]]
             for j in range(tlen[i])] for i in range(n)]
    cols = {
        "id": ids,
        "ts": _nullify(rng, ts.tolist(), null),
        "u64": _nullify(rng, u64.tolist(), null),
        "amount": _nullify(rng, amount, null),
        "payload": _nullify(rng, payload, null),
        "name": _nullify(rng, names, null),
        "score": _nullify(rng, score.tolist(), null),
        "flag": _nullify(rng, flag, null),
        "day": _nullify(rng, day, null),
        "st": _nullify(rng, st, null),
        "attrs": _nullify(rng, attrs, null),
        "tags": _nullify(rng, tags, null),
    }
    return pa.table({f.name: pa.array(cols[f.name], f.type)
                     for f in CONVERT_SCHEMA}, schema=CONVERT_SCHEMA)


def gen_wide_table(seed: int, out_dir: str) -> dict:
    p = PROPERTIES["wide_table"]
    rng = np.random.default_rng([seed, 1])
    vocab = _words(rng, 500)
    per_file = p["rows"] // p["files"]
    files = []
    for k in range(p["files"]):
        t = _convert_table(rng, k * per_file, per_file, vocab,
                           p["null_share"])
        path = os.path.join(out_dir, f"wide_{k}.parquet")
        pq.write_table(t, path,
                       row_group_size=per_file // p["row_groups_per_file"])
        files.append(path)
    return {"files": files}


# -- star: the KQL input --------------------------------------------------

EVENT_TYPES = ["view", "click", "signup", "purchase", "logout"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def gen_star(seed: int, out_dir: str) -> dict:
    rows = PROPERTIES["star"]["rows"]
    rng = np.random.default_rng([seed, 2])
    n_reg, n_nat, n_cust = rows["region"], rows["nation"], rows["customer"]
    n_ord, n_ev = rows["orders"], rows["events"]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(n_reg, dtype=np.int32)),
            "r_name": REGIONS[:n_reg]}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(n_nat, dtype=np.int32)),
            "n_name": [f"NATION_{i:02d}" for i in range(n_nat)],
            "n_regionkey": pa.array(
                np.arange(n_nat, dtype=np.int32) % n_reg)}),
        "customer": pa.table({
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:06d}" for i in range(1, n_cust + 1)],
            "c_nationkey": pa.array(
                rng.integers(0, n_nat, n_cust).astype(np.int32)),
            "c_acctbal": rng.integers(-99_999, 999_999, n_cust) / 100.0,
            "c_mktsegment": [SEGMENTS[i] for i in
                             rng.integers(0, len(SEGMENTS), n_cust)]}),
        "orders": pa.table({
            "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64) * 4,
            "o_custkey": rng.integers(1, n_cust + 1, n_ord),
            "o_orderstatus": [("F", "O", "P")[i] for i in
                              rng.integers(0, 3, n_ord)],
            # distinct prices, so `top` has one right answer
            "o_totalprice": (rng.permutation(n_ord) * 2_000
                             + rng.integers(100, 2_000, n_ord)) / 100.0,
            "o_orderdate": pa.array(
                (_EPOCH_2024_NS // 1000
                 + rng.integers(0, 365, n_ord) * 86_400_000_000),
                pa.timestamp("us")),
            "o_orderpriority": [f"{i}-PRIO" for i in
                                rng.integers(1, 6, n_ord)]}),
    }
    et = rng.choice(len(EVENT_TYPES), n_ev, p=[0.45, 0.3, 0.08, 0.1, 0.07])
    k = rng.integers(0, 1000, n_ev)
    has_k = rng.random(n_ev) < 0.8
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024_NS // 1000
                       + rng.integers(0, 45 * 86_400_000_000, n_ev),
                       pa.timestamp("us")),
        "user_id": rng.integers(1, n_cust + 1, n_ev),
        "event_type": [EVENT_TYPES[i] for i in et],
        "value": rng.integers(0, 100_000, n_ev) / 100.0,
        "props": [f'{{"k": {v}}}' if h else "none"
                  for v, h in zip(k.tolist(), has_k.tolist())],
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {"sf_dir": out_dir}


# -- corpus: the llm_curation input ---------------------------------------

CLONE_OFFSET = 1_000_000
NEAR_OFFSET = 2_000_000


def gen_corpus(seed: int, out_dir: str) -> dict:
    p = PROPERTIES["corpus"]
    rows, rates = p["rows"], p["duplicate_rate"]
    rng = np.random.default_rng([seed, 3])
    vocab = _words(rng, 3000)
    n_base = rows["documents"]
    lens = rng.integers(20, 121, n_base)
    toks = [rng.integers(0, len(vocab), k) for k in lens]
    ids = list(range(n_base))
    texts = [" ".join(vocab[j] for j in t) for t in toks]
    pick = rng.permutation(n_base)
    n_clone = int(n_base * rates["exact_clones"])
    n_near = int(n_base * rates["near_duplicates"])
    clones = sorted(pick[:n_clone].tolist())
    near = sorted(pick[n_clone:n_clone + n_near].tolist())
    for d in clones:
        ids.append(d + CLONE_OFFSET)
        texts.append(texts[d])
    near_texts = []
    for d in near:
        t = toks[d].copy()
        for pos in rng.choice(len(t), max(1, len(t) // 40), replace=False):
            t[pos] = rng.integers(0, len(vocab))
        ids.append(d + NEAR_OFFSET)
        near_texts.append(" ".join(vocab[j] for j in t))
    texts.extend(near_texts)
    order = rng.permutation(len(ids))
    docs = pa.table({
        "doc_id": pa.array([ids[i] for i in order], pa.int64()),
        "text": [texts[i] for i in order],
        "lang": ["en"] * len(ids),
        "source": [("web", "books", "code")[ids[i] % 3] for i in order],
    })
    n_vec, dim = rows["embeddings"], 32
    centers = rng.normal(size=(32, dim))
    member = rng.integers(0, len(centers), n_vec)
    vecs = (centers[member] + 0.35 * rng.normal(size=(n_vec, dim)))
    vecs = vecs.astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(member.astype(np.int32)),
    })
    docs_path = os.path.join(out_dir, "documents.parquet")
    emb_path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(docs, docs_path)
    pq.write_table(emb, emb_path)
    return {"docs": docs_path, "embeddings": emb_path,
            "n_queries": rows["queries"], "clones": clones, "near": near}


GENERATORS = {"wide_table": gen_wide_table, "star": gen_star,
              "corpus": gen_corpus}

WORKLOAD_INPUTS = {
    "kql_analytics": ("wide_table", "star"),
    "llm_curation": ("corpus",),
}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out_dir``."""
    _limit_threads()
    os.makedirs(out_dir, exist_ok=True)
    out: dict = {}
    for name in WORKLOAD_INPUTS[workload]:
        out.update(GENERATORS[name](seed, out_dir))
    return out
