"""KQL query-runner CLI — the interactive face of the engine.

The reference ``pq2json`` is a file converter (``cli.py`` mirrors it
flag-for-flag); this sibling entry point runs any KQL pipeline or
catalog query from the shell over a scale-factor directory of parquet
tables::

    python -m azure_kusto_parquet_conv_spark.query_cli \
        'nation | where n_regionkey == 2 | count'
    python -m azure_kusto_parquet_conv_spark.query_cli \
        'events | summarize n=count() by event_type' \
        --sf-dir /root/testdata/sf0.01 --format jsonl -o out.jsonl
    python -m azure_kusto_parquet_conv_spark.query_cli --list-queries

Output formats: ``table`` (aligned text, default), ``jsonl`` (one JSON
object per row — the engine's convert JSONL conventions), ``csv``
(header row + comma-separated, embedded JSON for nested values).
``--list-queries`` prints the query catalog's inventory (name, oracled,
summary) as JSON-Lines instead of running a query.
Errors print to stderr and exit 255, matching the converter CLI's
reference-derived convention.

Scale note: ``--limit`` caps what the DRIVER collects (a plan-level
limit, so the cluster never materializes more than N rows into the
driver); it defaults to 10k as a guard against accidentally
collecting a 100 TB result — pass ``--limit 0`` to stream everything
(only sensible with ``-o`` and an aggregated query).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_DEFAULT_SF = os.environ.get("SPARK_GRAFT_SF_DIR",
                             "/root/testdata/sf0.001")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="kql-spark",
        description="Run a KQL query over parquet tables via Spark")
    p.add_argument("query", nargs="?",
                   help="KQL text, e.g. 'nation | count'")
    p.add_argument("--list-queries", action="store_true",
                   help="print the query-catalog inventory (name, "
                        "oracled, summary) as JSON-Lines and exit")
    p.add_argument("--sf-dir", default=_DEFAULT_SF,
                   help=f"table directory (default {_DEFAULT_SF}; "
                        f"env SPARK_GRAFT_SF_DIR)")
    p.add_argument("--format", choices=["table", "jsonl", "csv"],
                   default="table", help="output format")
    p.add_argument("--limit", type=int, default=10000,
                   help="max rows collected to the driver "
                        "(0 = unlimited)")
    p.add_argument("-o", "--out-file", metavar="FILE",
                   help="write to FILE instead of stdout")
    p.add_argument("--explain", action="store_true",
                   help="print the physical plan instead of rows")
    return p


def _render_cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"))
    return str(v)


def _emit(lines, out_file: str | None) -> None:
    if out_file:
        with open(out_file, "w", encoding="utf-8") as f:
            for ln in lines:
                f.write(ln + "\n")
    else:
        for ln in lines:
            print(ln)


def run(args: argparse.Namespace) -> int:
    if args.list_queries:
        from azure_kusto_parquet_conv_spark.queries import catalog
        _emit([json.dumps(row) for row in catalog()], args.out_file)
        return 0
    from azure_kusto_parquet_conv_spark.kql import kql
    from azure_kusto_parquet_conv_spark.session import get_spark

    spark = get_spark("kql-spark")
    df = kql(spark, args.sf_dir, args.query)
    if args.explain:
        import contextlib
        import io
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        _emit([buf.getvalue().rstrip("\n")], args.out_file)
        return 0
    if args.limit and args.limit > 0:
        df = df.limit(args.limit)
    if args.format == "jsonl":
        # the engine's JSONL conventions ride Spark's JSON encoder
        lines = [r for r in df.toJSON().collect()]
        _emit(lines, args.out_file)
        return 0
    rows = df.collect()
    cols = df.columns
    if args.format == "csv":
        def esc(s: str) -> str:
            if any(ch in s for ch in ",\"\r\n"):
                return '"' + s.replace('"', '""') + '"'
            return s
        lines = [",".join(esc(c) for c in cols)]
        lines += [",".join(esc(_render_cell(r[c])) for c in cols)
                  for r in rows]
        _emit(lines, args.out_file)
        return 0
    # aligned text table
    cells = [[_render_cell(r[c]) for c in cols] for r in rows]
    widths = [max([len(c)] + [len(row[i]) for row in cells])
              for i, c in enumerate(cols)]
    sep = "-+-".join("-" * w for w in widths)
    lines = [" | ".join(c.ljust(w) for c, w in zip(cols, widths)), sep]
    lines += [" | ".join(v.ljust(w) for v, w in zip(row, widths))
              for row in cells]
    lines.append(f"({len(rows)} rows)")
    _emit(lines, args.out_file)
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if args.query is None and not args.list_queries:
        parser.error("provide a KQL query or --list-queries")
    try:
        return run(args)
    except Exception as e:  # reference convention: message + 255
        print(f"kql-spark error: {e}", file=sys.stderr)
        return 255


if __name__ == "__main__":
    sys.exit(main())
