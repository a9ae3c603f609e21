"""Differential test: every catalog query vs its DuckDB oracle at sf0.001.

This mirrors the driver's t2 correctness gate (row count + sorted column
names + order-insensitive canonical values) — see tools/check_oracle.py.
"""

from __future__ import annotations

import re

import pytest

from event_streaming_spark.plans import REGISTRY
from event_streaming_spark.plans.catalog import load
from tools.check_oracle import normalize

from tests.conftest import SF_SMALL
from tests.test_versioned import _job_ids


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, duck):
    q = REGISTRY[name]
    sdf = q.fn(spark, SF_SMALL)
    srows = [tuple(r) for r in sdf.collect()]
    if q.oracle is None:
        # rows-only contract: runs, stable schema, deterministic row count
        assert isinstance(srows, list)
        assert len(sdf.columns) > 0
        return
    rel = duck.sql(q.oracle)
    ocols, orows = list(rel.columns), rel.fetchall()
    sc, sv = normalize(sdf.columns, srows)
    oc, ov = normalize(ocols, orows)
    assert sc == oc, f"column names differ: {sc} vs {oc}"
    assert len(sv) == len(ov), f"row count differs: {len(sv)} vs {len(ov)}"
    assert sv == ov


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_output_types_no_hugeint(name, duck):
    """No oracle may output a HUGEINT/UHUGEINT column.

    DuckDB widens sum() over integers to int128; Spark's widest integral
    type is BIGINT, and value hashers that normalize via pandas/arrow
    render the two differently (the r2 `corpus_curation_end_to_end`
    driver-red row).  Every aggregate an oracle outputs must therefore be
    cast to BIGINT (or DOUBLE/DECIMAL) explicitly.
    """
    q = REGISTRY[name]
    if q.oracle is None:
        return
    rel = duck.sql(q.oracle)
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if "HUGEINT" in str(t).upper()
    ]
    assert not bad, f"{name}: HUGEINT output columns {bad} — cast to BIGINT in the oracle"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_registry_order_guard_rejects_missing_unknown_and_repeated_names():
    """``plans.ORDER`` alone fixes the registry (= grading) order: the
    import-time check refuses an ORDER that leaves a registered query out,
    names an unregistered one, or repeats a name."""
    from event_streaming_spark.plans import ORDER, _in_order

    assert list(_in_order(REGISTRY, ORDER)) == list(REGISTRY) == list(ORDER)
    first = ORDER[0]
    for bad, why in (
        (ORDER[1:], f"missing=['{first}']"),
        (ORDER + ("no_such_query",), "unknown=['no_such_query']"),
        (ORDER + (first,), f"repeated=['{first}']"),
    ):
        with pytest.raises(RuntimeError, match=re.escape(why)):
            _in_order(REGISTRY, bad)


def test_load_infers_a_table_schema_once(spark):
    """Only the first load of a fixture file infers its schema (a Spark
    job); a second load reads with the kept schema and starts none."""
    first, _ = _job_ids(spark, lambda: load(spark, SF_SMALL, "events"))
    again, jobs = _job_ids(spark, lambda: load(spark, SF_SMALL, "events"))
    assert jobs == []
    assert again.schema == first.schema
    assert again.count() == first.count() > 0


def test_load_reinfers_a_rewritten_file(spark, tmp_path):
    """A parquet file rewritten at the same path with another schema is
    read with the new schema, not the kept one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    old, _ = _job_ids(spark, lambda: load(spark, str(tmp_path), "t"))
    assert old.columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    new, jobs = _job_ids(spark, lambda: load(spark, str(tmp_path), "t"))
    assert jobs, "a rewritten file must be inferred afresh"
    assert [tuple(r) for r in new.collect()] == [(3, "x")]
