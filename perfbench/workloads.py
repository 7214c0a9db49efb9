"""The ops each workload runs, in fixed order, and their output checks.

An op's ``run(ctx)`` calls the engine's public functions and drains the
result the way a user would: convert and the MinHash pairs write files,
every other op collects its result to the driver. ``check(ctx, out)``
runs after the op's timed window, on every pass, and raises
``CheckFailed``.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow.parquet as pq

import datagen
import oracle


class CheckFailed(Exception):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


@dataclass
class Ctx:
    spark: Any
    work: str
    inputs: dict
    tr: Any
    pass_no: int = 0
    py4j: Any = None
    #: answers derived once per run, outside the timed window
    expected: dict = field(default_factory=dict)
    #: per-op numbers a check derives (recall), keyed by metric name
    quality: dict = field(default_factory=dict)
    #: per-op py4j counts of the last compile
    rpc: dict = field(default_factory=dict)


@dataclass
class Op:
    name: str
    run: Callable[[Ctx], Any]
    check: Callable[[Ctx, Any], None]


@dataclass
class Collected:
    """A collected result and the DataFrame whose own query execution
    produced it, so that its Catalyst phase times can be read later."""
    df: Any
    rows: list

    @property
    def columns(self) -> list:
        return self.df.columns  # a py4j call: read outside the timed window


def plan_ms(out) -> float:
    """Catalyst analysis + optimization + planning milliseconds of the
    query execution that ran, for ops that collect; 0 for ops that write
    (a write plans a new query execution the caller cannot reach)."""
    if not isinstance(out, Collected):
        return 0.0
    phases = out.df._jdf.queryExecution().tracker().phases()  # Scala map
    return sum(phases.apply(k).durationMs()
               for k in ("analysis", "optimization", "planning")
               if phases.contains(k))


def _pass_dir(ctx: Ctx, name: str) -> str:
    return os.path.join(ctx.work, "out", f"p{ctx.pass_no}", name)


def _collect(ctx: Ctx, df) -> Collected:
    with ctx.tr.span("spark.exec"):
        return Collected(df, df.collect())


# -- kql_analytics, part 1: Parquet -> Kusto JSON-Lines / CSV -------------

def _convert_op(path: str, fmt: str) -> Op:
    from azure_kusto_parquet_conv_spark import (ConvertOptions,
                                                TimestampRendering, convert)
    opts = (ConvertOptions.pruned(
                timestamp_rendering=TimestampRendering.ISO_STR)
            if fmt == "jsonl" else
            ConvertOptions(csv=True,
                           timestamp_rendering=TimestampRendering.TICKS))
    base = os.path.basename(path).removesuffix(".parquet")
    name = f"convert.{fmt}.{base}"

    def run(ctx: Ctx):
        out = _pass_dir(ctx, name)
        with ctx.tr.span("operators.convert"):
            convert(ctx.spark, path, out, opts)
        return out

    def check(ctx: Ctx, out: str) -> None:
        if path not in ctx.expected:
            ctx.expected[path] = oracle.expected_convert(path)
        want = ctx.expected[path]
        raw = oracle.read_sink(out, fmt)
        expect(len(raw) == want["rows"],
               f"{name}: {len(raw)} records, want {want['rows']}")
        got_raw = oracle.lines_hash(raw)
        # the first pass is checked against the independent rendering;
        # every later pass must write the same bytes
        if name not in ctx.expected:
            n, h = oracle.content_hash(out, fmt)
            expect(h == want[fmt], f"{name}: content differs from the "
                                   "independent rendering")
            ctx.expected[name] = got_raw
        expect(got_raw == ctx.expected[name],
               f"{name}: output bytes changed between passes")
        shutil.rmtree(out, ignore_errors=True)
    return Op(name, run, check)


def _introspect_op(paths: list[str]) -> Op:
    from azure_kusto_parquet_conv_spark.sources import metadata as M

    def run(ctx: Ctx):
        with ctx.tr.span("sources.introspect"):
            return [(M.schema_text(p), M.csl_schema(p),
                     M.row_groups_metadata(p)) for p in paths]

    def check(ctx: Ctx, out) -> None:
        want_rg = datagen.PROPERTIES["wide_table"]["row_groups_per_file"]
        for p, (text, csl, rgs) in zip(paths, out):
            rows = pq.ParquetFile(p).metadata.num_rows
            expect(f"num_rows: {rows}" in text, f"schema_text({p})")
            expect([c["name"] for c in csl] == datagen.CONVERT_SCHEMA.names,
                   f"csl_schema({p}) columns")
            expect(len(rgs) == want_rg, f"row_groups_metadata({p})")
    return Op("sources.introspect", run, check)


def _convert_ops(files: list[str]) -> list[Op]:
    # each file in one format: both render paths run, at half the cost of
    # every file in both (see RATIONALE.md, time budget)
    fmts = ["jsonl", "csv"]
    ops = [_convert_op(p, fmts[i % 2]) for i, p in enumerate(files)]
    return ops + [_introspect_op(files)]


# -- kql_analytics, part 2: KQL pipelines ---------------------------------

# (name, KQL text, DuckDB twin). One pipeline per stage family.
KQL_PIPELINES = [
    ("summarize_bin", """
      events
        | summarize n=count(), v=sum(tolong(round(value * 100, 0)))
            by win=bin(ts, 1h), event_type
        | project win_us=unix_micros(win), event_type, n, v
    """, """
      SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS win_us,
             event_type, COUNT(*) AS n,
             SUM(CAST(round(value * 100) AS BIGINT)) AS v
      FROM events GROUP BY 1, 2
    """),
    ("join", """
      orders
        | join kind=inner hint.broadcast
            (customer | where c_mktsegment == 'BUILDING')
            on $left.o_custkey == $right.c_custkey
        | summarize n_orders=count(),
                    revenue=sum(tolong(round(o_totalprice * 100, 0)))
            by c_nationkey
    """, """
      SELECT c_nationkey, COUNT(*) AS n_orders,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey
    """),
    ("top", """
      orders | top 10 by o_totalprice desc | project o_orderkey, o_totalprice
    """, """
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC LIMIT 10
    """),
    ("parse", """
      events
        | parse props with '{"k": ' k:long '}'
        | summarize n=count(), k_sum=sum(k), k_max=max(k) by event_type
    """, r"""
      WITH p AS (
        SELECT event_type,
               TRY_CAST(nullif(regexp_extract(props, '^\{"k": (.*?)\}', 1),
                               '') AS BIGINT) AS k
        FROM events)
      SELECT event_type, COUNT(*) AS n, SUM(k) AS k_sum, MAX(k) AS k_max
      FROM p GROUP BY event_type
    """),
    ("partition_prev", """
      events
        | partition by user_id (
            sort by ts asc, event_id asc
            | extend dv = value - prev(value), rn = row_number()
            | where rn <= 3
          )
        | project user_id, event_id, rn, dv = round(dv, 4)
    """, """
      WITH w AS (
        SELECT user_id, event_id,
               value - lag(value) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS dv,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events)
      SELECT user_id, event_id, rn, ROUND(dv, 4) AS dv FROM w WHERE rn <= 3
    """),
    ("make_series", """
      events
        | extend b=tolong(user_id % 10)
        | make-series n=count() on ts step 1d by b
        | project b, series=strcat_array(n, ',')
    """, """
      WITH du AS (SELECT user_id % 10 AS b, epoch_us(ts) // 86400000000 AS day,
                         COUNT(*) AS n
                  FROM events GROUP BY b, day),
      days AS (SELECT unnest(range((SELECT MIN(day) FROM du),
                                   (SELECT MAX(day) FROM du) + 1)) AS day),
      grid AS (SELECT b, day FROM (SELECT DISTINCT b FROM du) CROSS JOIN days),
      g AS (SELECT grid.b, grid.day, COALESCE(du.n, 0) AS n
            FROM grid LEFT JOIN du USING (b, day))
      SELECT b, string_agg(CAST(n AS VARCHAR), ',' ORDER BY day) AS series
      FROM g GROUP BY b
    """),
    ("mv_expand", """
      events
        | extend ws=extract_all('([a-z0-9]+)', tolower(props))
        | mv-expand w=ws
        | summarize n=count() by w
    """, """
      SELECT w, COUNT(*) AS n
      FROM (SELECT unnest(regexp_extract_all(lower(props), '([a-z0-9]+)', 1))
              AS w FROM events)
      GROUP BY w
    """),
    ("funnel", """
      events
        | evaluate funnel_sequence_completion(user_id, ts,
            datetime(2024-01-01), datetime(2024-02-01), 7d,
            event_type,
            dynamic(['signup', 'click', 'purchase']),
            dynamic([7d, 1d, 2d]))
        | project period_us = tolong(unix_micros(period)),
                  prefix_len, prefix, n_ids
    """, """
      WITH b AS (SELECT user_id AS id, epoch_us(ts) AS t, event_type AS s
                 FROM events
                 WHERE ts >= TIMESTAMP '2024-01-01'
                   AND ts < TIMESTAMP '2024-02-01'),
      lo AS (SELECT epoch_us(TIMESTAMP '2024-01-01') AS lo),
      t0 AS (SELECT id, MIN(t) AS t0 FROM b WHERE s = 'signup' GROUP BY id),
      p0 AS (SELECT id, t0,
                    (SELECT lo FROM lo)
                    + ((t0 - (SELECT lo FROM lo)) // 604800000000)
                      * 604800000000 AS period_us
             FROM t0),
      t1 AS (SELECT p.id, p.t0, p.period_us, MIN(b.t) AS t1
             FROM p0 p JOIN b ON b.id = p.id AND b.s = 'click'
                             AND b.t > p.t0
             GROUP BY p.id, p.t0, p.period_us),
      t2 AS (SELECT t1.id, t1.t0, t1.period_us, MIN(b.t) AS t2
             FROM t1 JOIN b ON b.id = t1.id AND b.s = 'purchase'
                           AND b.t > t1.t1
             GROUP BY t1.id, t1.t0, t1.period_us)
      SELECT period_us, 1 AS prefix_len, 'signup' AS prefix,
             COUNT(DISTINCT id) AS n_ids
      FROM p0 GROUP BY period_us
      UNION ALL
      SELECT period_us, 2, 'signup -> click', COUNT(DISTINCT id)
      FROM t1 WHERE t1 - t0 <= 86400000000 GROUP BY period_us
      UNION ALL
      SELECT period_us, 3, 'signup -> click -> purchase', COUNT(DISTINCT id)
      FROM t2 WHERE t2 - t0 <= 172800000000 GROUP BY period_us
    """),
    ("graph_match", """
      let CN = customer | where c_custkey <= 300
        | project src = strcat('C', tostring(c_custkey)),
                  dst = strcat('N', tostring(c_nationkey));
      let NR = nation
        | project src = strcat('N', tostring(n_nationkey)),
                  dst = strcat('R', tostring(n_regionkey));
      let V = customer | where c_custkey <= 300
        | project id = strcat('C', tostring(c_custkey)), name = c_name
        | union (nation | project id = strcat('N', tostring(n_nationkey)),
                                   name = n_name),
                (region | project id = strcat('R', tostring(r_regionkey)),
                                   name = r_name);
      CN
      | union NR
      | make-graph src --> dst with V on id
      | graph-match (c)-[e1]->(n)-[e2]->(r)
          where r.name == 'EUROPE'
          project customer_name = c.name, nation_name = n.name
    """, """
      SELECT c.c_name AS customer_name, n.n_name AS nation_name
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE' AND c.c_custkey <= 300
    """),
]


def _kql_op(name: str, text: str, twin: str) -> Op:
    from azure_kusto_parquet_conv_spark.kql import kql

    def run(ctx: Ctx):
        sf_dir = ctx.inputs["sf_dir"]
        if ctx.py4j is not None:
            with ctx.tr.span("kql.compile"), ctx.py4j.counting():
                df = kql(ctx.spark, sf_dir, text)
            ctx.rpc[name] = ctx.py4j.last
        else:
            with ctx.tr.span("kql.compile"):
                df = kql(ctx.spark, sf_dir, text)
        with ctx.tr.span("kql.exec"):
            return _collect(ctx, df)

    def check(ctx: Ctx, out: Collected) -> None:
        key = f"twin.{name}"
        if key not in ctx.expected:
            con = ctx.expected.get("duckdb")
            if con is None:
                con = ctx.expected["duckdb"] = oracle.duckdb_connection(
                    ctx.inputs["sf_dir"])
            ctx.expected[key] = oracle.duckdb_hash(con, twin)
        n, want = ctx.expected[key]
        rows = out.rows
        expect(len(rows) == n, f"kql.{name}: {len(rows)} rows, twin {n}")
        expect(n > 0, f"kql.{name}: empty result proves nothing")
        expect(oracle.result_hash(out.columns, rows) == want,
               f"kql.{name}: result multiset differs from the DuckDB twin")
    return Op(f"kql.{name}", run, check)


def kql_analytics_ops(inputs: dict) -> list[Op]:
    return (_convert_ops(inputs["files"])
            + [_kql_op(*p) for p in KQL_PIPELINES])


# -- llm_curation ----------------------------------------------------------

DEDUP_THRESHOLD = 0.8
KNN_K = 5
KNN_RECALL_FLOOR = 0.8


def _read(ctx: Ctx, key: str):
    from azure_kusto_parquet_conv_spark import read_parquet
    with ctx.tr.span("sources.read_parquet"):
        return read_parquet(ctx.spark, ctx.inputs[key])


def _text_op() -> Op:
    from azure_kusto_parquet_conv_spark.functions import text as X

    def run(ctx: Ctx):
        docs = _read(ctx, "docs")
        with ctx.tr.span("functions.text"):
            df = docs.select(
                "doc_id", X.quality_score("text").alias("quality"),
                X.token_count("text").alias("n_tok"))
        return _collect(ctx, df)

    def check(ctx: Ctx, out: Collected) -> None:
        cols, rows = out.columns, out.rows
        want = _doc_texts(ctx)
        expect(len(rows) == len(want), "text: one score per document")
        i_id, i_q, i_n = (cols.index(c) for c in ("doc_id", "quality", "n_tok"))
        for r in rows:
            expect(0.0 <= r[i_q] <= 1.0, f"text: quality {r[i_q]} out of [0,1]")
            expect(r[i_n] == len(want[r[i_id]].split()),
                   f"text: token count of doc {r[i_id]}")
    return Op("text.score", run, check)


def _doc_texts(ctx: Ctx) -> dict:
    if "texts" not in ctx.expected:
        t = pq.read_table(ctx.inputs["docs"], columns=["doc_id", "text"])
        ctx.expected["texts"] = dict(zip(t.column("doc_id").to_pylist(),
                                         t.column("text").to_pylist()))
    return ctx.expected["texts"]


def _exact_op() -> Op:
    from azure_kusto_parquet_conv_spark.operators import dedup as D

    def run(ctx: Ctx):
        docs = _read(ctx, "docs")
        with ctx.tr.span("operators.dedup"):
            df = D.exact_dedup(docs)
        return _collect(ctx, df.select("doc_id", "n_copies"))

    def check(ctx: Ctx, out: Collected) -> None:
        cols, rows = out.columns, out.rows
        texts = _doc_texts(ctx)
        first: dict[str, int] = {}
        for i, t in texts.items():
            first[t] = min(i, first.get(t, i))
        got = {r[cols.index("doc_id")]: r[cols.index("n_copies")]
               for r in rows}
        expect(set(got) == set(first.values()),
               "exact_dedup: representatives differ from the distinct texts")
        expect(sum(got.values()) == len(texts), "exact_dedup: copy counts")
    return Op("dedup.exact", run, check)


def _minhash_op() -> Op:
    from azure_kusto_parquet_conv_spark.operators import dedup as D

    def run(ctx: Ctx):
        docs = _read(ctx, "docs")
        out = _pass_dir(ctx, "pairs")
        with ctx.tr.span("operators.dedup"):
            pairs = D.minhash_dedup_pairs(docs, threshold=DEDUP_THRESHOLD)
        # staged as Parquet for dedup.clusters, as a pipeline would
        with ctx.tr.span("spark.exec"):
            pairs.write.mode("overwrite").parquet(out)
        ctx.inputs["pairs"] = out
        return out

    def check(ctx: Ctx, out: str) -> None:
        texts = _doc_texts(ctx)
        planted = ctx.expected.get("planted")
        if planted is None:
            planted = ctx.expected["planted"] = oracle.planted_pairs(
                texts, ctx.inputs["clones"], ctx.inputs["near"],
                datagen.CLONE_OFFSET, datagen.NEAR_OFFSET, DEDUP_THRESHOLD)
        t = pq.read_table(out)
        got = {(a, b): j for a, b, j in zip(t.column("id_a").to_pylist(),
                                            t.column("id_b").to_pylist(),
                                            t.column("jaccard").to_pylist())}
        for (a, b), j in got.items():
            expect((a, b) in planted, f"minhash: pair {(a, b)} not planted")
            # the engine rounds half-up to 4 places
            expect(abs(j - planted[(a, b)]) <= 5.001e-5,
                   f"minhash: jaccard {j} of {(a, b)}, want "
                   f"{planted[(a, b)]:.6f}")
        clones = [(d, d + datagen.CLONE_OFFSET) for d in ctx.inputs["clones"]]
        expect(all(p in got for p in clones),
               "minhash: a planted exact clone was missed")
        ctx.quality["dedup.recall"] = len(got) / len(planted)
        ctx.expected["pairs_found"] = sorted(got)
    return Op("dedup.minhash", run, check)


def _clusters_op() -> Op:
    from azure_kusto_parquet_conv_spark.operators import dedup as D

    def run(ctx: Ctx):
        docs, pairs = _read(ctx, "docs"), _read(ctx, "pairs")
        with ctx.tr.span("operators.dedup"):
            clusters = D.dedup_clusters(docs.select("doc_id"), pairs)
            kept = D.canonical_keep(docs, clusters)
        return _collect(ctx, kept.select("doc_id", "cluster_id"))

    def check(ctx: Ctx, out: Collected) -> None:
        shutil.rmtree(ctx.inputs.pop("pairs"), ignore_errors=True)
        rows = out.rows
        found = ctx.expected.get("pairs_found")
        expect(found is not None, "canonical_keep: no checked pairs to compare")
        comp = oracle.components(_doc_texts(ctx), found)
        want = {(r, r) for r in set(comp.values())}
        expect({(r[0], r[1]) for r in rows} == want,
               "canonical_keep: kept ids differ from the component minima")
    return Op("dedup.clusters", run, check)


def _knn_op(kind: str) -> Op:
    from pyspark.sql import functions as F
    from azure_kusto_parquet_conv_spark.operators import similarity as S

    def run(ctx: Ctx):
        emb = _read(ctx, "embeddings")
        q = emb.where(F.col("vec_id") < ctx.inputs["n_queries"])
        with ctx.tr.span("operators.similarity"):
            if kind == "ivf":
                # the index is built once and reused, as a deployment would
                if "centroids" not in ctx.expected:
                    ctx.expected["centroids"] = S.train_ivf_centroids(
                        emb, n_lists=16)
                res = S.knn_ivf(q, emb, k=KNN_K, n_lists=16, n_probe=4,
                                centroids=ctx.expected["centroids"])
            else:
                res = S.knn_bruteforce(q, emb, k=KNN_K)
        return _collect(ctx, res.select("query_id", "neighbor_id", "cosine"))

    def check(ctx: Ctx, out: Collected) -> None:
        truth = ctx.expected.get("knn")
        if truth is None:
            t = pq.read_table(ctx.inputs["embeddings"])
            vecs = np.array(t.column("embedding").to_pylist(), np.float32)
            truth = ctx.expected["knn"] = oracle.knn_truth(
                vecs, list(range(ctx.inputs["n_queries"])), KNN_K)
        got: dict[int, list] = {}
        for q, n, c in out.rows:
            got.setdefault(q, []).append((n, c))
        expect(set(got) == set(truth), f"knn_{kind}: queries answered")
        hits = 0
        for q, want in truth.items():
            expect(len(got[q]) == KNN_K, f"knn_{kind}: {q} has != k rows")
            ids = {n for n, _ in want}
            hits += len(ids & {n for n, _ in got[q]})
            if kind == "bruteforce":
                cos = sorted((round(c, 4) for _, c in got[q]), reverse=True)
                ref = [round(c, 4) for _, c in want]
                expect(np.allclose(cos, ref, atol=2e-4),
                       f"knn_bruteforce: cosines of query {q}")
        recall = hits / (KNN_K * len(truth))
        # brute force may swap a near-tie between float32 and float64
        floor = 0.99 if kind == "bruteforce" else KNN_RECALL_FLOOR
        expect(recall >= floor, f"knn_{kind}: recall@{KNN_K} {recall:.3f} "
                                f"below {floor}")
        if kind == "ivf":
            ctx.quality["similarity.recall_at_k"] = recall
    return Op(f"similarity.knn_{kind}", run, check)


def llm_curation_ops(inputs: dict) -> list[Op]:
    return [_text_op(), _exact_op(), _minhash_op(), _clusters_op(),
            _knn_op("ivf"), _knn_op("bruteforce")]


OPS = {
    "kql_analytics": kql_analytics_ops,
    "llm_curation": llm_curation_ops,
}
