"""The ordered ``load_*`` catalog loaders build their frames from one Arrow
table (``schemas.local_frame``). Each must return exactly the rows the
list-based ``createDataFrame(rows, schema)`` path returns on the same input;
that path is kept here as the oracle."""

from __future__ import annotations

import csv
import json
import warnings

import pytest

from kgspark import schemas
from kgspark.sources import structured as src

# StructuredSources field -> loader
LOADERS = {
    "diseases": src.load_diseases,
    "drugs": src.load_drugs,
    "nursing_homes": src.load_nursing_homes,
    "insurances": src.load_insurances,
}


def _list_frame(spark, rows, schema):
    """The reference path: the rows passed as a list to ``createDataFrame``."""
    return spark.createDataFrame(rows, schema=schema)


def _both(spark, monkeypatch, load, path):
    """(schema, rows) from the Arrow path and from the list-based oracle."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # absent files warn on both paths
        got = load(spark, path)
        with monkeypatch.context() as m:
            m.setattr(schemas, "local_frame", _list_frame)
            want = load(spark, path)
    return (got.schema, got.collect()), (want.schema, want.collect())


@pytest.mark.parametrize("source", sorted(LOADERS))
def test_loader_matches_list_path_on_miniature(spark, mini_sources, monkeypatch, source):
    got, want = _both(spark, monkeypatch, LOADERS[source], getattr(mini_sources, source))
    assert got == want
    assert len(got[1]) > 0


@pytest.mark.parametrize("source", sorted(LOADERS))
def test_loader_matches_list_path_on_absent_file(spark, tmp_path, monkeypatch, source):
    got, want = _both(spark, monkeypatch, LOADERS[source], str(tmp_path / "absent.json"))
    assert got == want and got[1] == []


def _write_json(path, data):
    path.write_text(json.dumps(data, ensure_ascii=False), "utf-8")
    return str(path)


def test_diseases_with_nulls_missing_keys_and_arrays(spark, tmp_path, monkeypatch):
    path = _write_json(tmp_path / "diseases.json", [
        {"name": "甲病", "intro": None, "symptom": [], "drug": ["药1", 2], "cure_dept": " 内科 "},
        {"name": None, "symptom": ["咳嗽"], "neopathy": []},  # missing keys, null name
        {},  # every key missing: empty arrays, empty dept
        {"name": "乙病", "cure_dept": None, "neopathy": ["丙病", "丁病"]},
    ])
    got, want = _both(spark, monkeypatch, src.load_diseases, path)
    assert got == want
    assert [r["symptom"] for r in got[1]] == [[], ["咳嗽"], [], []]
    assert got[1][0]["drug"] == ["药1", "2"]


def test_drugs_with_nulls_missing_keys_and_empty_sheets(spark, tmp_path, monkeypatch):
    path = _write_json(tmp_path / "medicine.json", {
        "西药": {"medicines": [{"name": "药A", "dosage": None}, {"category_code": "X"}]},
        "空表": {"medicines": []},
        "无药": {"categories": {}},
        "中成药": {"medicines": [{"name": "药B", "subcategory_name": "子类"}]},
    })
    got, want = _both(spark, monkeypatch, src.load_drugs, path)
    assert got == want
    assert [(r["name"], r["sheet"]) for r in got[1]] == [("药A", "西药"), (None, "西药"), ("药B", "中成药")]


def test_nursing_homes_with_blank_names_and_short_rows(spark, tmp_path, monkeypatch):
    path = tmp_path / "nursing_homes.csv"
    with open(path, "w", encoding="utf-8-sig", newline="") as f:
        w = csv.writer(f)
        w.writerow(["城市", "名称", "性质", "床位", "价格(元/月)", "特色服务", "地址"])
        w.writerow(["北京", "院甲", "民营", "", "3000", "康复", "路1号"])
        w.writerow(["上海", "  ", "民营", "10张", "1000", "无", "路2号"])  # blank name: dropped
        w.writerow(["广州", " 院乙 "])  # short row: missing columns are None
    got, want = _both(spark, monkeypatch, src.load_nursing_homes, str(path))
    assert got == want
    assert [r["name"] for r in got[1]] == ["院甲", "院乙"]
    assert got[1][1]["price"] is None


def test_insurances_with_nulls_and_missing_keys(spark, tmp_path, monkeypatch):
    path = _write_json(tmp_path / "insurance_info.json", [
        {"产品名称": "保A", "价格": None, "产品描述": None},
        {"险种分类": "医疗险"},  # no name, no description: description ""
        {"产品名称": "保B", "承保年龄": "60周岁以下", "产品描述": "覆盖高血压"},
    ])
    got, want = _both(spark, monkeypatch, src.load_insurances, path)
    assert got == want
    assert [r["description"] for r in got[1]] == [None, "", "覆盖高血压"]


@pytest.mark.parametrize("bad", [123, 1.5, True, {"k": "v"}, ["x"]])
def test_wrong_value_types_are_rejected(spark, tmp_path, monkeypatch, bad):
    """A non-string value in a string field raises ``TypeError``. The list
    path does not reject it: it stores a string rendering of the value
    (``True`` -> ``'true'``, a dict -> its Python repr), so only such
    malformed input gives different results on the two paths."""
    diseases = _write_json(tmp_path / "diseases.json", [{"name": "甲病", "intro": bad}])
    insurances = _write_json(tmp_path / "insurance_info.json", [{"产品名称": bad}])
    for load, path, field in ((src.load_diseases, diseases, "intro"),
                              (src.load_insurances, insurances, "name")):
        with pytest.raises(TypeError):
            load(spark, path)
        with monkeypatch.context() as m:
            m.setattr(schemas, "local_frame", _list_frame)
            assert isinstance(load(spark, path).collect()[0][field], str)
