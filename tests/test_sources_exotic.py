"""GPX, plugin subprocess, kukur-remote, Excel gate, hive-partitioned dirs."""

import os
import stat
import textwrap
from datetime import datetime, timezone

import pytest

from pyspark.sql import functions as F

from kukur_spark.base import SERIES_NAME_TAG, SeriesSearch, SeriesSelector
from kukur_spark.sources.excel import ExcelSource
from kukur_spark.sources.file_source import FileSource, FileSourceOptions
from kukur_spark.sources.gpx import GpxSource
from kukur_spark.sources.plugin import PluginSource

START = datetime(2020, 1, 1, tzinfo=timezone.utc)
END = datetime(2021, 1, 1, tzinfo=timezone.utc)

GPX_XML = """<?xml version="1.0" encoding="UTF-8"?>
<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1" creator="test">
 <trk><name>ride</name><trkseg>
  <trkpt lat="51.0" lon="4.0"><ele>10</ele><time>2020-06-01T10:00:00Z</time></trkpt>
  <trkpt lat="51.001" lon="4.0"><ele>11</ele><time>2020-06-01T10:01:00Z</time></trkpt>
  <trkpt lat="51.002" lon="4.0"><ele>12</ele><time>2020-06-01T10:02:00Z</time></trkpt>
 </trkseg></trk>
</gpx>
"""


def test_gpx_fields_and_derived_series(spark, tmp_path):
    (tmp_path / "ride.gpx").write_text(GPX_XML)
    source = GpxSource(spark, "gpx", {"path": str(tmp_path)})
    series = list(source.search(SeriesSearch("gpx")))
    fields = {s.field for s in series}
    assert fields == {"lat", "lon", "elevation", "distance", "speed", "time"}
    time = source.get_data(
        SeriesSelector.from_name("gpx", "ride::time"), START, END
    ).collect()
    assert [r["value"] for r in time] == [0.0, 60.0, 120.0]
    # 0.001° latitude ≈ 111.3 m per segment (reference ECEF chord, R=6378137)
    dist = source.get_data(
        SeriesSelector.from_name("gpx", "ride::distance"), START, END
    ).collect()
    assert dist[0]["value"] == pytest.approx(0.0)
    assert dist[1]["value"] == pytest.approx(111.3, rel=0.01)
    assert dist[2]["value"] == pytest.approx(222.6, rel=0.01)
    speed = source.get_data(
        SeriesSelector.from_name("gpx", "ride::speed"), START, END
    ).collect()
    # km/h, reference units: 111.3 m over 60 s ≈ 6.68 km/h
    assert speed[1]["value"] == pytest.approx(111.3 * 3.6 / 60, rel=0.01)
    assert source.get_metadata(
        SeriesSelector.from_name("gpx", "ride::speed")
    )["unit"] == "km/h"


PLUGIN_SCRIPT = r"""#!/usr/bin/env python
import json, sys
import pyarrow as pa, pyarrow.ipc
from datetime import datetime, timezone

request = json.load(sys.stdin)
if request["action"] == "search":
    print(json.dumps([{"tags": {"series name": "plug-1"}, "field": "value"}]))
elif request["action"] == "get_metadata":
    print(json.dumps({"description": "from plugin"}))
elif request["action"] == "get_data":
    table = pa.table({
        "ts": pa.array([datetime(2020, 1, 1, tzinfo=timezone.utc),
                        datetime(2020, 1, 2, tzinfo=timezone.utc)],
                       type=pa.timestamp("us", tz="UTC")),
        "value": [1.5, 2.5],
    })
    with pa.ipc.new_stream(sys.stdout.buffer, table.schema) as writer:
        writer.write_table(table)
"""


def test_plugin_subprocess(spark, tmp_path):
    script = tmp_path / "plugin.py"
    script.write_text(PLUGIN_SCRIPT)
    script.chmod(script.stat().st_mode | stat.S_IEXEC)
    import sys

    source = PluginSource(
        spark, "plug", {"cmd": [sys.executable, str(script)]}
    )
    names = [s.name for s in source.search(SeriesSearch("plug"))]
    assert names == ["plug-1"]
    metadata = source.get_metadata(SeriesSelector.from_name("plug", "plug-1"))
    assert metadata["description"] == "from plugin"
    rows = source.get_data(
        SeriesSelector.from_name("plug", "plug-1"), START, END
    ).collect()
    assert [r["value"] for r in rows] == [1.5, 2.5]


def test_remote_source_via_flight(spark, tmp_path):
    pytest.importorskip("pyarrow.flight")
    from kukur_spark.app import Engine
    from kukur_spark.flight import serve
    from kukur_spark.sources.remote import RemoteSource

    (tmp_path / "r.csv").write_text(
        "s1,2020-01-01T00:00:00Z,1\ns1,2020-02-01T00:00:00Z,2\n"
    )
    engine = Engine(
        {"source": {"origin": {"type": "csv", "path": str(tmp_path / "r.csv")}}},
        spark,
    )
    server = serve(engine, port=18085, background=True)
    try:
        source = RemoteSource(
            spark,
            "proxy",
            {"host": "localhost", "port": 18085, "source": "origin"},
        )
        names = [s.name for s in source.search(SeriesSearch("proxy"))]
        assert names == ["s1"]
        rows = source.get_data(
            SeriesSelector.from_name("proxy", "s1"), START, END
        ).collect()
        assert [r["value"] for r in rows] == [1.0, 2.0]
    finally:
        server.shutdown()


def _write_xlsx(path, date1904=False):
    """Hand-built SpreadsheetML workbook: shared strings (incl. a rich-text
    run), date-styled serial timestamps, numerics, a bool and a sparse row."""
    import zipfile

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pr = '<workbookPr date1904="1"/>' if date1904 else ""
    workbook = f"""<?xml version="1.0"?>
<workbook {ns} xmlns:r="{rns}">{pr}
  <sheets><sheet name="data" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""
    rels = f"""<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
  <Relationship Id="rId1"
    Type="{rns}/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""
    shared = f"""<?xml version="1.0"?>
<sst {ns} count="4" uniqueCount="4">
  <si><t>series name</t></si><si><t>ts</t></si><si><t>value</t></si>
  <si><r><t>al</t></r><r><t>pha</t></r></si>
</sst>"""
    # style 1 = builtin datetime format 22
    styles = f"""<?xml version="1.0"?>
<styleSheet {ns}>
  <cellXfs count="2">
    <xf numFmtId="0"/><xf numFmtId="22" applyNumberFormat="1"/>
  </cellXfs>
</styleSheet>"""
    # serial 43831.5 = 2020-01-01T12:00 (1900 system, epoch 1899-12-30)
    sheet = f"""<?xml version="1.0"?>
<worksheet {ns}><sheetData>
  <row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>
    <c r="C1" t="s"><v>2</v></c></row>
  <row r="2"><c r="A2" t="s"><v>3</v></c><c r="B2" s="1"><v>43831.5</v></c>
    <c r="C2"><v>1.5</v></c></row>
  <row r="3"><c r="A3" t="inlineStr"><is><t>beta</t></is></c>
    <c r="B3" s="1"><v>43832.25</v></c><c r="C3"><v>2</v></c></row>
</sheetData></worksheet>"""
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/sharedStrings.xml", shared)
        zf.writestr("xl/styles.xml", styles)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)


def test_excel_reads_without_openpyxl(spark, tmp_path):
    """S19 ungated: stdlib SpreadsheetML parser — shared/rich/inline
    strings, date-styled serials, numeric column typing."""
    path = str(tmp_path / "data.xlsx")
    _write_xlsx(path)
    source = ExcelSource(spark, "xl", {"path": path})
    assert source.list_sheets() == ["data"]
    names = sorted(
        s.tags["series name"] for s in source.search(SeriesSearch("xl"))
    )
    assert names == ["alpha", "beta"]
    rows = source.get_data(
        SeriesSelector.from_name("xl", "alpha"), START, END
    ).collect()
    assert len(rows) == 1
    assert rows[0]["ts"] == datetime(2020, 1, 1, 12, 0)
    assert rows[0]["value"] == 1.5


def test_excel_1904_date_system(spark, tmp_path):
    from kukur_spark.sources.xlsx import read_sheet

    path = str(tmp_path / "data1904.xlsx")
    _write_xlsx(path, date1904=True)
    rows = read_sheet(path)
    # serial 43831.5 under the 1904 epoch lands 4 years + 1 day later
    assert rows[1][1] == datetime(2024, 1, 2, 12, 0)


def test_hive_partitioned_layout(spark, tmp_path):
    """Tag-partitioned directory trees read natively with partition pruning
    (the Spark equivalent of the reference's Delta partition enumeration,
    kukur/source/delta/delta_lake.py:298-356)."""
    base = tmp_path / "warehouse"
    for location, plant, value in [
        ("Antwerp", "P1", 1.0),
        ("Antwerp", "P2", 2.0),
        ("Barcelona", "P1", 3.0),
    ]:
        df = spark.createDataFrame(
            [(datetime(2020, 1, 1), value), (datetime(2020, 2, 1), value + 10)],
            "ts timestamp, value double",
        )
        df.coalesce(1).write.mode("overwrite").parquet(
            str(base / f"location={location}" / f"plant={plant}")
        )
    source = FileSource(
        spark,
        "wh",
        FileSourceOptions(
            path=str(base),
            file_format="parquet",
            tag_columns=["location", "plant"],
        ),
    )
    series = sorted(s.name for s in source.search(SeriesSearch("wh")))
    assert series == [
        "location=Antwerp,plant=P1",
        "location=Antwerp,plant=P2",
        "location=Barcelona,plant=P1",
    ]
    selector = SeriesSelector.from_name("wh", "location=Antwerp,plant=P2")
    df = source.get_data(selector, START, END)
    assert [r["value"] for r in df.collect()] == [2.0, 12.0]
    # partition pruning: the physical plan must show partition filters
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
