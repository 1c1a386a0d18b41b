"""Footer-answered catalog metadata: schemas and row counts of Spark-written
tables come from their parquet footers, so resolving a view, listing its
columns, building the docs artifact or skipping a fresh model runs no Spark
job (the reference's ``LIMIT 0`` schema probe, impl.py:97-103, and its
``parquet_metadata()`` docs catalog, macros/catalog.sql).

Jobs are counted with the status tracker: the calling thread's job group
plus every new ungrouped job (``Project.run``'s pool threads set none)."""

from __future__ import annotations

import contextlib
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dbt_parquet_spark.catalog import FilesystemCatalog
from dbt_parquet_spark.incremental import incremental_append
from dbt_parquet_spark.materialize import create_table_as
from dbt_parquet_spark.project import Model, Project
from dbt_parquet_spark.sources import readers
from dbt_parquet_spark.sources.readers import read_parquet


@contextlib.contextmanager
def spark_jobs(spark):
    """Yields a one-element list that holds, on exit, the number of Spark
    jobs the block ran."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    group = f"footer-gate-{uuid.uuid4().hex[:8]}"
    bus.waitUntilEmpty()
    before = set(st.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    out: list[int] = []
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        bus.waitUntilEmpty()
        ungrouped = set(st.getJobIdsForGroup(None)) - before
        out.append(len(st.getJobIdsForGroup(group)) + len(ungrouped))


def _typed(spark):
    """Every column family the footer schema must carry exactly: arrays,
    structs, maps, decimals, timestamps and TIMESTAMP_NTZ."""
    return spark.sql(
        """SELECT id, CAST(id AS DECIMAL(18, 4)) AS amount,
                  array(id, id + 1) AS arr,
                  named_struct('a', id, 'b', CAST(id AS STRING)) AS st,
                  map('k', id) AS mp,
                  TIMESTAMP'2024-01-01 12:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
                  TIMESTAMP_NTZ'2024-01-01 12:00:00' AS ntz,
                  CAST(id % 3 AS INT) AS p
           FROM range(12)"""
    )


def _inferred(monkeypatch, spark, path, **kw):
    """read_parquet with the footer schema withheld: Spark's inference, the
    path every read took before footers answered."""
    probe = readers._footer_probe
    with monkeypatch.context() as m:
        m.setattr(readers, "_footer_probe", lambda p: (probe(p)[0], None))
        return read_parquet(spark, path, **kw)


@pytest.mark.parametrize(
    "layout",
    [dict(single_file=True), dict(), dict(partition_by=["p"])],
    ids=["single_file", "multi_part", "partition_by"],
)
def test_ctas_schema_from_footer_matches_inference(spark, tmp_path, monkeypatch, layout):
    cat = FilesystemCatalog(str(tmp_path))
    rel = cat.relation("t")
    df = _typed(spark)
    create_table_as(spark, cat, rel, df if layout else df.repartition(3), register=False, **layout)
    with spark_jobs(spark) as jobs:
        got = read_parquet(spark, rel.path)
        schema = got.schema
    assert jobs[0] == 0
    assert readers._footer_probe(rel.path)[1] is not None
    want = _inferred(monkeypatch, spark, rel.path)
    assert schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_pyarrow_nanos_file_keeps_inference(spark, tmp_path, monkeypatch):
    """No Spark row metadata in the footer: Spark infers, and the
    TIMESTAMP(NANOS) column still reads as microsecond timestamps."""
    path = str(tmp_path / "ns.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_001], pa.timestamp("ns")),
            }
        ),
        path,
    )
    assert readers._footer_probe(path) == (["ts"], None)
    got = read_parquet(spark, path)
    assert got.schema == _inferred(monkeypatch, spark, path).schema
    assert dict(got.dtypes) == {"id": "bigint", "ts": "timestamp"}


def test_merge_schema_over_evolved_append_keeps_inference(spark, tmp_path, monkeypatch):
    cat = FilesystemCatalog(str(tmp_path))
    rel = cat.relation("ev")
    incremental_append(spark, cat, rel, spark.range(5).withColumn("a", F.col("id") * 2))
    incremental_append(
        spark, cat, rel,
        spark.range(5, 8).withColumn("a", F.col("id") * 2).withColumn("b", F.lit("x")),
        schema_evolution=True,
    )
    got = read_parquet(spark, rel.path, merge_schema=True)
    assert got.schema == _inferred(monkeypatch, spark, rel.path, merge_schema=True).schema
    assert got.columns == ["id", "a", "b"]
    assert got.filter("b IS NULL").count() == 5


def test_catalog_metadata_runs_no_spark_job(spark, tmp_path):
    """register_view, get_columns and docs_artifact over Spark-written
    tables (multi-part, hive-partitioned, versioned with a merge-on-read
    deletion vector) answer from footers and manifests alone."""
    from dbt_parquet_spark.versioned import delete_versioned, write_versioned

    cat = FilesystemCatalog(str(tmp_path))
    plain, parted, ver = cat.relation("plain"), cat.relation("parted"), cat.relation("ver")
    create_table_as(spark, cat, plain, _typed(spark).repartition(3))
    create_table_as(spark, cat, parted, _typed(spark), partition_by=["p"])
    write_versioned(spark, cat, ver, spark.range(20).withColumn("v", F.col("id") % 4))
    delete_versioned(spark, cat, ver, F.col("id") < 5, mode="mor")

    with spark_jobs(spark) as jobs:
        cat.register_view(spark, plain)
        cols = cat.get_columns(spark, plain)
        cat.register_view(spark, ver)
    assert jobs[0] == 0
    assert [f.name for f in cols] == _typed(spark).columns

    with spark_jobs(spark) as jobs:
        art = cat.docs_artifact(spark)
    assert jobs[0] == 0
    rows = {n["metadata"]["name"]: n["stats"]["num_rows"]["value"] for n in art["nodes"].values()}
    assert rows == {"plain": 12, "parted": 12, "ver": 15}
    parted_files = cat.part_files(cat.fs_path(parted))  # under p=0/, p=1/, p=2/
    assert len(parted_files) >= 3
    assert art["nodes"]["model.dbt_parquet_spark.parted"]["stats"]["num_bytes"]["value"] == sum(
        os.path.getsize(f) for f in parted_files
    )
    assert list(art["nodes"]["model.dbt_parquet_spark.parted"]["columns"])[-1] == "p"
    assert spark.table("ver").count() == 15


def test_fresh_state_modified_run_runs_no_spark_job(spark, tmp_path):
    """A fully fresh incremental rerun registers each relation once and
    skips every model: no Spark job. The full run's row counts come from
    the written footers and equal both the data and the docs artifact."""
    cat = FilesystemCatalog(str(tmp_path))
    create_table_as(
        spark, cat, cat.relation("src", "raw"),
        spark.range(30).withColumn("g", F.col("id") % 3),
    )
    proj = Project(cat)
    proj.add(Model("evens", "SELECT * FROM {{ source('raw', 'src') }} WHERE id % 2 = 0"))
    proj.add(Model("by_g", "SELECT g, COUNT(*) AS n FROM {{ ref('evens') }} GROUP BY g"))
    first = proj.run(spark, threads=2)
    assert {n: r.rows for n, r in first.items()} == {"evens": 15, "by_g": 3}
    docs = cat.docs_artifact(spark)["nodes"]
    for name, res in first.items():
        assert docs[f"model.dbt_parquet_spark.{name}"]["stats"]["num_rows"]["value"] == res.rows

    with spark_jobs(spark) as jobs:
        rerun = proj.run(spark, threads=2, state="modified")
    assert all(r.skipped for r in rerun.values())
    assert jobs[0] == 0
    assert spark.table("by_g").count() == 3

