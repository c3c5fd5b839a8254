"""Local oracle gate for queries retired from the driver registry.

queries() is capped at 50 entries because the driver's correctness
harness only checks the first 50 (VERDICT r4 #1).  The retired queries
(extra_queries()) must not silently rot, so this test replays the SAME
comparison the driver runs — row count + column set + sorted stringified
values against a DuckDB oracle — at sf0.001, plus the two per-mode
round-trip 0-row contracts.
"""

import os

import duckdb
import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"create view {t} as select * from '{SF}/{t}.parquet'")
    yield c
    c.close()


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return sorted(tuple(r) for r in df.astype(str).itertuples(index=False))


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
@pytest.mark.parametrize("name", sorted(E.extra_oracle_sql()))
def test_extra_query_matches_oracle(spark, con, name):
    sdf = E.extra_queries()[name](spark, SF).toPandas()
    odf = con.sql(E.extra_oracle_sql()[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    assert _canon(sdf) == _canon(odf)


@pytest.mark.parametrize(
    "name", ["pipeline_roundtrip_violations_i64",
             "pipeline_roundtrip_violations_4byte",
             "pipeline_roundtrip_violations_archive"]
)
def test_roundtrip_gates_zero_rows(spark, name):
    assert E.extra_queries()[name](spark, SF).count() == 0


def test_registry_fits_driver_window():
    """The driver hash-checks only the first 50 queries() entries; every
    registered query must sit inside that window, and every oracle key
    must be registered."""
    qs = list(E.queries())
    assert len(qs) <= 50
    assert set(E.oracle_sql()) <= set(qs)


def test_parallel_counts_scan_partitions_once(spark, tmp_path, monkeypatch):
    """``_parallel`` plans a table's scan once per application; later
    query builds over the same files reuse the count."""
    path = str(tmp_path / "one_file.parquet")
    spark.range(100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, *df.inputFiles())
    monkeypatch.delitem(E._SCAN_PARTITIONS, key, raising=False)

    spread = E._parallel(df.select("id"), "id")
    assert E._SCAN_PARTITIONS[key] == 1
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    # a cached count at or above the core count means "already parallel"
    monkeypatch.setitem(E._SCAN_PARTITIONS, key, 10**6)
    again = spark.read.parquet(path)
    assert E._parallel(again, "id") is again


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_encode_plan_udf_placement_and_id_pruning(spark):
    """The non-deterministic encode UDF stays above e1_search's
    ``_parallel`` exchange (a pushed-down filter would drag it into the
    single scan task), and the id expressions are pruned where the
    archive layout drops the ids."""
    from fluent_bit_clp_spark.functions.clp_pandas import clp_encode_pandas
    from fluent_bit_clp_spark.operators.archive import to_archive

    plan = (
        E.queries()["e1_search"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # tree strings print a parent before its children
    assert plan.index("ArrowEvalPython") < plan.index(
        "Exchange hashpartitioning(event_id"
    )

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    enc = clp_encode_pandas(
        spark.createDataFrame([("a 1 b0x",), (None,)], "text string")
    )
    assert "xxhash64" in optimized(enc)
    assert "xxhash64" not in optimized(to_archive(enc))
