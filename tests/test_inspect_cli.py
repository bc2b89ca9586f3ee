"""Inspect listing/preview and the CLI subcommands."""

import pyarrow as pa
import pyarrow.parquet
import pytest

from kukur_spark.cli import main
from kukur_spark.inspect import inspect_path, preview


def setup_tree(tmp_path):
    (tmp_path / "a.csv").write_text("x,y\n1,2\n")
    pa.parquet.write_table(pa.table({"v": [1, 2, 3]}), str(tmp_path / "b.parquet"))
    sub = tmp_path / "nested"
    sub.mkdir()
    (sub / "c.ndjson").write_text('{"k": 1}\n')
    delta_dir = tmp_path / "dtable"
    (delta_dir / "_delta_log").mkdir(parents=True)
    return tmp_path


def test_inspect_path_classification(tmp_path):
    setup_tree(tmp_path)
    items = {i.path.split("/")[-1]: i.resource_type for i in inspect_path(str(tmp_path))}
    assert items["a.csv"] == "csv"
    assert items["b.parquet"] == "parquet"
    assert items["nested"] == "directory"
    assert items["dtable"] == "delta"


def test_inspect_recursive(tmp_path):
    setup_tree(tmp_path)
    items = inspect_path(str(tmp_path), recursive=True)
    assert any(i.resource_type == "ndjson" for i in items)


def test_preview_limit(spark, tmp_path):
    setup_tree(tmp_path)
    from kukur_spark.inspect import InspectedPath

    df = preview(spark, InspectedPath(str(tmp_path / "b.parquet"), "parquet"), 2)
    assert df.count() == 2


def test_cli_inspect(tmp_path, capsys):
    setup_tree(tmp_path)
    assert main(["inspect", "--path", str(tmp_path)]) == 0
    out = capsys.readouterr().out
    assert "parquet" in out and "csv" in out and "delta" in out


def test_cli_test_source(tmp_path, capsys, spark):
    (tmp_path / "d.csv").write_text(
        "s1,2020-01-01T00:00:00Z,1\ns1,2020-02-01T00:00:00Z,2\n"
    )
    (tmp_path / "conf.toml").write_text(
        f"""
[source.demo]
type = "csv"
path = "{tmp_path}/d.csv"
"""
    )
    code = main(
        [
            "test",
            "--config",
            str(tmp_path / "conf.toml"),
            "--source",
            "demo",
            "--data",
            "--start",
            "2020-01-01",
            "--end",
            "2021-01-01",
        ]
    )
    assert code == 0
    out = capsys.readouterr().out
    assert "series: s1" in out
    assert "2020-01-01T00:00:00" in out


def test_inspect_hadoop_fs_scheme(spark, tmp_path):
    """URI paths list through Hadoop FileSystem — the same code path
    serves s3a:// and abfss:// with the right jars/credentials."""
    (tmp_path / "a.parquet").write_bytes(b"")
    (tmp_path / "b.csv").write_text("x\n1\n")
    sub = tmp_path / "table"
    (sub / "_delta_log").mkdir(parents=True)
    from kukur_spark.inspect import inspect_path

    items = {
        i.path.rsplit("/", 1)[-1]: i.resource_type
        for i in inspect_path(f"file://{tmp_path}", spark=spark)
    }
    assert items["a.parquet"] == "parquet"
    assert items["b.csv"] == "csv"
    assert items["table"] == "delta"


def test_inspect_uri_without_session_raises(tmp_path):
    from kukur_spark.inspect import inspect_path

    with pytest.raises(ValueError):
        inspect_path(f"file://{tmp_path}")


def test_preview_excel(spark, tmp_path):
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent))
    from test_sources_exotic import _write_xlsx
    from kukur_spark.inspect import InspectedPath
    from kukur_spark.inspect import preview as preview_fn

    path = str(tmp_path / "p.xlsx")
    _write_xlsx(path)
    df = preview_fn(spark, InspectedPath(path, "excel"), num_rows=10)
    rows = df.collect()
    assert len(rows) == 2
    assert {r["series name"] for r in rows} == {"alpha", "beta"}


def test_cli_sql_subcommand(spark, tmp_path, capsys):
    from kukur_spark import cli

    (tmp_path / "d.csv").write_text(
        "s1,2024-01-01T00:00:00Z,1.0\ns2,2024-01-02T00:00:00Z,2.5\n"
    )
    (tmp_path / "c.toml").write_text(
        f'[source.sqldemo]\ntype = "csv"\npath = "{tmp_path}/d.csv"\n'
    )
    rc = cli.main(
        [
            "sql",
            "--config",
            str(tmp_path / "c.toml"),
            "--sources",
            "sqldemo",
            "SELECT COUNT(*) AS n, SUM(value) AS t FROM sqldemo",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "'n': 2" in out and "'t': 3.5" in out


def test_inspect_detect_delta_toggle(tmp_path):
    """Reference FileOptions.detect_delta parity: with detection off a
    Delta dir lists as a plain directory (reference
    tests/inspect/test_filesystem.py::test_inspect_filesystem_detect_delta_table)."""
    from kukur_spark.inspect import inspect_path

    delta = tmp_path / "tbl"
    (delta / "_delta_log").mkdir(parents=True)
    on = {i.path: i.resource_type for i in inspect_path(str(tmp_path))}
    assert on[str(delta)] == "delta"
    off = {
        i.path: i.resource_type
        for i in inspect_path(str(tmp_path), detect_delta=False)
    }
    assert off[str(delta)] == "directory"


def test_inspect_default_resource_type(tmp_path):
    """Extensionless files classify as the caller's default type
    (reference test_default_resource_type); without one they are
    skipped."""
    from kukur_spark.inspect import inspect_path

    (tmp_path / "no_extension").write_text("series name,ts,value\n")
    assert inspect_path(str(tmp_path)) == []
    items = inspect_path(str(tmp_path), default_resource_type="csv")
    assert len(items) == 1 and items[0].resource_type == "csv"


def test_preview_csv_data_options(spark, tmp_path):
    """DataOptions parity: semicolon delimiter and headerless CSVs
    (reference test_read_filesystem_csv_delimiter_semicolon /
    _csv_no_header_row), plus column selection."""
    from kukur_spark.inspect import InspectedPath, preview

    semi = tmp_path / "semi.csv"
    semi.write_text("series name;ts;value\na;2024-01-01T00:00:00Z;1.0\n")
    df = preview(
        spark, InspectedPath(str(semi), "csv"), csv_delimiter=";"
    )
    assert df.columns == ["series name", "ts", "value"]
    assert df.count() == 1

    headerless = tmp_path / "raw.csv"
    headerless.write_text("2024-01-01T00:00:00Z,1.0\n2024-01-02T00:00:00Z,2.0\n")
    df = preview(
        spark, InspectedPath(str(headerless), "csv"), csv_header_row=False
    )
    assert len(df.columns) == 2
    assert df.count() == 2

    one_col = preview(
        spark,
        InspectedPath(str(semi), "csv"),
        csv_delimiter=";",
        columns=["series name"],
    )
    assert one_col.columns == ["series name"]


def test_cli_inspect_option_passthrough(tmp_path, capsys):
    """CLI flags reach inspect_path: --no-detect-delta and
    --default-type change the listing classification."""
    from kukur_spark.cli import main

    delta = tmp_path / "tbl"
    (delta / "_delta_log").mkdir(parents=True)
    (tmp_path / "raw").write_text("a,b\n")
    main(["inspect", "--path", str(tmp_path)])
    out = capsys.readouterr().out
    assert "delta" in out and "raw" not in out
    main([
        "inspect", "--path", str(tmp_path),
        "--no-detect-delta", "--default-type", "csv",
    ])
    out = capsys.readouterr().out
    assert "directory" in out and "delta" not in out
    assert "raw" in out


def test_inspect_hadoop_honors_file_options(spark, tmp_path):
    """--no-detect-delta / --default-type must work for URI (blob-store)
    paths exactly as for plain paths: the options thread through the
    Hadoop FileSystem listing."""
    (tmp_path / "noext").write_text("x\n1\n")
    sub = tmp_path / "table"
    (sub / "_delta_log").mkdir(parents=True)
    uri = f"file://{tmp_path}"
    # defaults: delta detected, extensionless skipped
    base = {
        i.path.rsplit("/", 1)[-1]: i.resource_type
        for i in inspect_path(uri, spark=spark)
    }
    assert base["table"] == "delta"
    assert "noext" not in base
    # detect_delta=False: the dir is a plain directory (reference
    # FileOptions default), and default_resource_type classifies the
    # extensionless file
    opt = {
        i.path.rsplit("/", 1)[-1]: i.resource_type
        for i in inspect_path(
            uri,
            spark=spark,
            detect_delta=False,
            default_resource_type="csv",
        )
    }
    assert opt["table"] == "directory"
    assert opt["noext"] == "csv"
    # recursive URI listing keeps honoring the options below the root
    nested = tmp_path / "table" / "inner"
    nested.mkdir()
    (nested / "plain").write_text("y\n2\n")
    rec = {
        i.path.rsplit("/", 1)[-1]: i.resource_type
        for i in inspect_path(
            uri,
            spark=spark,
            recursive=True,
            detect_delta=False,
            default_resource_type="csv",
        )
    }
    assert rec["plain"] == "csv"
