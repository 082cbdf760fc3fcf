"""Tests: config loader guard, CSV sources/sinks, sheet-name validation,
spreadsheet-formula escaping."""

import json

import pytest
from pyspark.sql import functions as F

from series_correction_project_updated_spark.config import load_config, merge_config
from series_correction_project_updated_spark.functions.safety import validate_sheet_name


def test_config_load_and_guard(tmp_path):
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({"window_size": 7}))
    cfg = merge_config(load_config(str(p)))
    assert cfg["window_size"] == 7 and cfg["threshold"] == 3.0
    with pytest.raises(ValueError):
        load_config(str(tmp_path / ".." / "escape.json"), base_dir=str(tmp_path))


def test_sheet_name_validation():
    assert validate_sheet_name("Year_1995 (Y01)") == "Year_1995 (Y01)"
    for bad in ["", "x" * 32, "a:b", "a]b"]:
        with pytest.raises(ValueError):
            validate_sheet_name(bad)


def test_yty_diff_csv_melt(spark, tmp_path):
    from series_correction_project_updated_spark.sources.tables import load_yty_diff_csv

    csv = tmp_path / "yty.csv"
    csv.write_text(
        "Year_Pair,Sensor 1,Sensor 2\n"
        '"1995 (Y01) to 1996 (Y02)",0.5,-0.05\n'
        '"1996 (Y02) to 1997 (Y03)",,0.2\n'
    )
    out = load_yty_diff_csv(spark, str(csv)).toPandas()
    # |0.5| and |0.2| pass; -0.05 and the empty cell are dropped
    assert len(out) == 2
    assert set(out["Sensor"]) == {"Sensor 1", "Sensor 2"}


def test_write_csv_safely_escapes(spark, tmp_path):
    from series_correction_project_updated_spark.sources.tables import write_csv_safely

    df = spark.createDataFrame([(1, "=EVIL()"), (2, "fine")], "id long, note string")
    out = str(tmp_path / "out")
    write_csv_safely(df, out)
    back = spark.read.csv(out, header=True).orderBy("id").toPandas()
    assert back["note"].tolist() == ["'=EVIL()", "fine"]


def test_formula_escape_semantics(spark):
    from series_correction_project_updated_spark.functions.safety import sanitize_for_export

    rows = [
        (0, "=HYPERLINK(evil)"),
        (1, "  +SUM(A1)"),
        (2, "-2+3"),
        (3, "@cmd"),
        (4, "normal text"),
        (5, "'=already escaped"),
    ]
    df = spark.createDataFrame(rows, "id long, cell string")
    out = sanitize_for_export(df, ["cell"]).orderBy("id").toPandas()["cell"].tolist()
    assert out[0] == "'=HYPERLINK(evil)"
    assert out[1] == "'  +SUM(A1)"
    assert out[2] == "'-2+3"
    assert out[3] == "'@cmd"
    assert out[4] == "normal text"
    assert out[5] == "'=already escaped"  # idempotent
