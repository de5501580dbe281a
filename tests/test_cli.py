"""CLI end-to-end: fixture parquet -> python -m g1_etl_spark -> the
reference-shaped mmj-{org}.json / distributed entity json."""

from __future__ import annotations

import datetime
import json
import os
import uuid

import pytest

from g1_etl_spark.__main__ import load_sources, main
from g1_etl_spark.entities import schemas as S
from tests.test_entities import org_fixture

TS1 = datetime.datetime(2020, 1, 2, 3, 4, 5)


def _write_customers(spark, data_dir):
    defaults = {f.name: None for f in S.CUSTOMERS.fields}
    rows = [dict(defaults, id=1, dispensary_id=1, name="Solo",
                 license_type=1, created_at=TS1, updated_at=TS1),
            dict(defaults, id=2, dispensary_id=9, name="OtherShop",
                 license_type=1, created_at=TS1, updated_at=TS1)]
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in S.CUSTOMERS.fields) for r in rows],
        S.CUSTOMERS)
    df.write.mode("overwrite").parquet(str(data_dir / "customers.parquet"))


def test_cli_extract_payload(spark, tmp_path):
    data, out = tmp_path / "data", tmp_path / "out"
    data.mkdir()
    _write_customers(spark, data)
    path = main(["extract", "--dispensary", "1", "--org", "420",
                 "--data", str(data), "--out", str(out)])
    assert os.path.basename(path) == "mmj-420.json"
    payload = json.load(open(path))
    assert payload["organizationId"] == "420"
    # dispensary filter applied: only the dispensary-1 customer survives
    assert [m["name"] for m in payload["members"]] == ["Solo"]
    assert payload["products"] == [] and payload["physicians"] == []
    assert payload["summary"]["members"] == {"valid": 0, "invalid": 0}


def test_cli_entity_distributed_json(spark, tmp_path):
    data, out = tmp_path / "data", tmp_path / "out"
    data.mkdir()
    _write_customers(spark, data)
    path = main(["entity", "--entity", "members", "--dispensary", "1",
                 "--org", "420", "--data", str(data), "--out", str(out)])
    docs = [json.loads(line)
            for line in spark.read.text(path).toPandas()["value"]]
    assert [d["name"] for d in docs] == ["Solo"]


def test_cli_unknown_entity(spark, tmp_path):
    with pytest.raises(SystemExit):
        main(["entity", "--entity", "nope", "--dispensary", "1",
              "--org", "420", "--out", str(tmp_path)])


def test_cli_sql_adhoc(spark, capsys):
    from tests.conftest import SF_SMOKE

    assert main(["sql",
                 "SELECT COUNT(*) AS n FROM documents",
                 "--data", SF_SMOKE]) == "sql"
    out = capsys.readouterr().out
    assert "500" in out and "n" in out


def _write_org_fixture(spark, data_dir):
    for name, df in org_fixture(spark).items():
        df.write.mode("overwrite").parquet(str(data_dir / f"{name}.parquet"))


def _jobs_in_group(spark, fn):
    """(fn(), number of Spark jobs fn launched), read from the status
    tracker through a job group of its own."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_org_extract_job_budget(spark, tmp_path):
    """Sources read with their declared schemas launch no job; the
    payload is one query, not one action per entity."""
    from g1_etl_spark.entities.assemble import build_payload

    _write_org_fixture(spark, tmp_path)
    sources, n_load = _jobs_in_group(
        spark, lambda: load_sources(spark, str(tmp_path)))
    assert n_load == 0
    payload, n_build = _jobs_in_group(
        spark, lambda: build_payload(sources, 1, 420, extracted_date=1))
    assert len(payload["members"]) == 3
    assert n_build <= 20


def test_load_sources_contract_schemas(spark, tmp_path):
    """Every source frame carries exactly its schemas.py schema, whether
    the file is present or not."""
    _write_org_fixture(spark, tmp_path)
    present = load_sources(spark, str(tmp_path))
    absent = load_sources(spark, None)
    for name, schema in S.ALL_SCHEMAS.items():
        assert present[name].schema == schema, name
        assert absent[name].schema == schema, name


def test_load_sources_missing_column_null_bad_type_fails(spark, tmp_path):
    """A contract column missing from the file reads as NULL; a file
    column of an incompatible type fails at read."""
    spark.createDataFrame([(1, 1, "Solo")],
                          "id long, dispensary_id long, name string") \
        .write.parquet(str(tmp_path / "customers.parquet"))
    spark.createDataFrame([("x", 1)], "id string, dispensary_id long") \
        .write.parquet(str(tmp_path / "vendors.parquet"))
    sources = load_sources(spark, str(tmp_path))
    row = sources["customers"].collect()[0]
    assert row["name"] == "Solo" and row["email"] is None
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        sources["vendors"].collect()
