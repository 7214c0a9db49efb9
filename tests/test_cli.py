"""CLI parity: flag surface, dispatch order, output bytes
(pq2json/src/main.rs:10-157 behavior through the Spark engine)."""

import json

import pytest

from azure_kusto_parquet_conv_spark.cli import main


@pytest.fixture(autouse=True)
def _reuse_session(spark):
    """get_spark().getOrCreate() inside the CLI reuses the test session."""
    yield


def test_cli_jsonl_stdout(sf_dir, capsysbinary):
    rc = main([f"{sf_dir}/region.parquet"])
    assert rc == 0
    lines = capsysbinary.readouterr().out.decode().strip().split("\n")
    assert len(lines) == 5
    row = json.loads(lines[0])
    assert set(row) == {"r_regionkey", "r_name"}


def test_cli_csv_to_file(sf_dir, tmp_path):
    out = tmp_path / "region.csv"
    rc = main(["--csv", "-o", str(out), f"{sf_dir}/region.parquet"])
    assert rc == 0
    data = out.read_bytes()
    assert b"\r" in data and b"\n" not in data  # \r-only terminator
    assert b"AFRICA" in data


def test_cli_columns_projection_and_missing(sf_dir, capsysbinary):
    rc = main(["--columns", '["r_name","nope"]', f"{sf_dir}/region.parquet"])
    assert rc == 0
    row = json.loads(capsysbinary.readouterr().out.decode().split("\n")[0])
    assert row == {"r_name": "AFRICA", "nope": None}


def test_cli_malformed_columns_errors(sf_dir, capsysbinary):
    rc = main(["--columns", "not json", f"{sf_dir}/region.parquet"])
    assert rc == 255  # reference exits -1 on the parse panic


def test_cli_cslschema(sf_dir, capsysbinary):
    rc = main(["--cslschema", f"{sf_dir}/lineitem.parquet"])
    assert rc == 0
    out = json.loads(capsysbinary.readouterr().out.decode())
    by_name = {d["name"]: d["type"] for d in out}
    assert by_name["l_orderkey"] == "long"
    assert by_name["l_quantity"] == "real"
    assert by_name["l_returnflag"] == "string"
    assert by_name["l_shipdate"] == "datetime"


def test_cli_rowgroups(sf_dir, capsysbinary):
    rc = main(["--rowgroups", f"{sf_dir}/lineitem.parquet"])
    assert rc == 0
    out = json.loads(capsysbinary.readouterr().out.decode())
    assert out and set(out[0]) == {"numberOfRows", "totalByteSize"}
    assert all(isinstance(v, str) for v in out[0].values())  # strings, as ref


def test_cli_schema_priority_over_convert(sf_dir, capsysbinary):
    """--schema wins over conversion flags (dispatch order main.rs:149-157)."""
    rc = main(["--schema", "--csv", f"{sf_dir}/region.parquet"])
    assert rc == 0
    out = capsysbinary.readouterr().out.decode()
    assert "num_rows" in out and "Schema:" in out


def test_cli_timestamp_modes(sf_dir, capsysbinary):
    rc = main(["--timestamp", "unixms", f"{sf_dir}/events.parquet"])
    assert rc == 0
    row = json.loads(capsysbinary.readouterr().out.decode().split("\n")[0])
    assert isinstance(row["ts"], int)  # raw ms, not ISO text


def test_kql_cli_jsonl(spark, sf_dir, capsys):
    from azure_kusto_parquet_conv_spark.query_cli import main as kql_main
    rc = kql_main(["nation | where n_regionkey == 0 "
                   "| project n_name | sort by n_name asc",
                   "--sf-dir", sf_dir, "--format", "jsonl"])
    assert rc == 0
    import json as _json
    lines_out = [l for l in capsys.readouterr().out.splitlines() if l]
    names = [_json.loads(l)["n_name"] for l in lines_out]
    assert names == sorted(names) and len(names) == 5


def test_kql_cli_error_exit(spark, sf_dir, capsys):
    from azure_kusto_parquet_conv_spark.query_cli import main as kql_main
    rc = kql_main(["nation | facet by x", "--sf-dir", sf_dir])
    assert rc == 255
    assert "kql-spark error:" in capsys.readouterr().err


def test_cli_gzip_output(spark, sf_dir, tmp_path, capsys):
    import gzip as _gzip
    import json as _json

    from azure_kusto_parquet_conv_spark.cli import main as cli_main
    out = str(tmp_path / "r.jsonl.gz")
    rc = cli_main([f"{sf_dir}/region.parquet", "--compression", "gzip",
                   "-o", out])
    assert rc == 0
    lines_out = _gzip.open(out, "rb").read().splitlines()
    assert len(lines_out) == 5
    assert _json.loads(lines_out[0])["r_regionkey"] in range(5)


def test_kql_cli_list_queries(capsys):
    import json as _json

    from azure_kusto_parquet_conv_spark.query_cli import main as kql_main
    rc = kql_main(["--list-queries"])
    assert rc == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert len(rows) > 120
    byname = {r["name"]: r for r in rows}
    assert byname["q1_pricing_summary"]["oracled"] is True
    assert byname["q_freq_items"]["oracled"] is False
    assert all(set(r) == {"name", "oracled", "summary"} for r in rows)


def test_kql_cli_csv_and_limit(spark, sf_dir, capsys):
    from azure_kusto_parquet_conv_spark.query_cli import main as kql_main
    rc = kql_main(["nation | sort by n_nationkey asc "
                   "| project n_nationkey, n_name",
                   "--sf-dir", sf_dir, "--format", "csv", "--limit", "2"])
    assert rc == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "n_nationkey,n_name"
    assert out[1].startswith("0,") and len(out) == 3


def test_kql_cli_explain(spark, sf_dir, capsys):
    """--explain prints the formatted physical plan (the pre-run scale
    review: pushdown visible) and executes nothing."""
    from azure_kusto_parquet_conv_spark.query_cli import build_parser, run
    rc = run(build_parser().parse_args(
        ["--explain", "--sf-dir", sf_dir,
         "region | where r_regionkey > 1 | count"]))
    out = capsys.readouterr().out
    assert rc == 0
    assert "Physical Plan" in out
    assert "PushedFilters" in out and "GreaterThan(r_regionkey,1)" in out


# --------------------------------------------------- KQL query runner

def test_query_cli_formats(spark, sf_dir, tmp_path, capsys):
    """The kql-spark query runner: table/jsonl/csv formats, -o, the
    driver-side --limit guard, --explain, and the 255 error exit."""
    import json

    from azure_kusto_parquet_conv_spark import query_cli

    rc = query_cli.main(["nation | summarize n = count()",
                         "--sf-dir", sf_dir])
    out = capsys.readouterr().out
    assert rc == 0 and "n" in out and "25" in out and "(1 rows)" in out

    f = str(tmp_path / "out.jsonl")
    rc = query_cli.main(["region | project r_name | sort by r_name asc",
                         "--sf-dir", sf_dir, "--format", "jsonl",
                         "-o", f])
    assert rc == 0
    lines = open(f).read().splitlines()
    assert len(lines) == 5
    assert json.loads(lines[0]) == {"r_name": "AFRICA"}

    rc = query_cli.main(["nation | project n_name | take 3",
                         "--sf-dir", sf_dir, "--format", "csv",
                         "--limit", "2"])
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "n_name" and len(out) == 3  # header + limit 2

    rc = query_cli.main(["nation | count", "--sf-dir", sf_dir,
                         "--explain"])
    out = capsys.readouterr().out
    assert rc == 0 and "Physical Plan" in out

    rc = query_cli.main(["nation | frobnicate", "--sf-dir", sf_dir])
    err = capsys.readouterr().err
    assert rc == 255 and "unsupported operator" in err
