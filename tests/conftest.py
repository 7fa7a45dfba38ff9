"""Shared pytest fixtures: one local SparkSession and the reference's
golden-test fixture tables (loaded from /root/reference/testdata/Tables
at run time with explicit schemas from FIXTURES.md — nothing is copied
into this repo)."""

from __future__ import annotations

import csv
import json
import os
from pathlib import Path

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import types as T

REFERENCE_TESTDATA = Path(
    os.environ.get("PQL_REFERENCE_TESTDATA", "/root/reference/testdata")
)
SF_SMOKE = Path(os.environ.get("PQL_SF_SMOKE", "/root/testdata/sf0.001"))


def cache_entries(spark: SparkSession) -> int:
    """Entries in the session's ``CacheManager``.  Tests compare counts
    before and after instead of asserting emptiness: a module-scoped
    fixture elsewhere may hold a cache of its own in the shared session."""
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder.appName("pql_spark-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield session
    session.stop()


_LONG = T.LongType()
_STR = T.StringType()

# explicit Spark schemas for the reference fixture tables (FIXTURES.md)
FIXTURE_SCHEMAS: dict[str, list[tuple[str, T.DataType]]] = {
    "StormEvents": [
        ("EventId", _LONG),
        ("State", _STR),
        ("EventType", _STR),
        ("DamageProperty", _LONG),
    ],
    "Storm Events": [
        ("State", _STR),
        ("EventType", _STR),
        ("DamageProperty", _LONG),
    ],
    "StateCapitals": [("State", _STR), ("StateCapital", _STR)],
    "Tokens": [("Kind", _LONG), ("TokenConstant", _STR)],
    "LexResults": [
        ("Kind", _LONG),
        ("SpanStart", _LONG),
        ("SpanEnd", _LONG),
        ("Value", _STR),
    ],
    "MyLogTable": [
        ("EventId", _LONG),
        ("EventType", _STR),
        ("TargetType", _STR),
        ("TargetId", _LONG),
    ],
    "SourceFiles": [
        ("Directory", _STR),
        ("FileName", _STR),
        ("LineCount", _LONG),
    ],
}


def _load_csv_table(spark: SparkSession, path: Path, name: str):
    schema_fields = FIXTURE_SCHEMAS[name]
    schema = T.StructType(
        [T.StructField(n, t, True) for n, t in schema_fields]
    )
    with open(path, newline="", encoding="utf-8") as f:
        reader = csv.reader(f)
        header = next(reader)
        assert header == [n for n, _ in schema_fields], (name, header)
        rows = []
        for raw in reader:
            row = []
            for value, (_, typ) in zip(raw, schema_fields):
                if isinstance(typ, T.LongType):
                    row.append(int(value) if value != "" else None)
                else:
                    row.append(value)  # empty string stays "", not NULL
            rows.append(tuple(row))
    # single partition so row order (significant for the Limit golden,
    # FIXTURES.md) survives into limit()
    rdd = spark.sparkContext.parallelize(rows, 1)
    return spark.createDataFrame(rdd, schema)


def _load_map_table(spark: SparkSession, path: Path):
    # MapTable.json: ClickHouse JSON table descriptor {Int32, Map(String,UInt64)}
    payload = json.loads(path.read_text())
    rows = [
        (int(r["id"]), {k: int(v) for k, v in r["a"].items()})
        for r in payload["data"]
    ]
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), True),
            T.StructField("a", T.MapType(_STR, _LONG), True),
        ]
    )
    rdd = spark.sparkContext.parallelize(rows, 1)
    return spark.createDataFrame(rdd, schema)


@pytest.fixture(scope="session")
def fixture_tables(spark):
    """name → DataFrame catalog of the reference's test tables."""
    tables = {}
    tables_dir = REFERENCE_TESTDATA / "Tables"
    if not tables_dir.is_dir():
        pytest.skip(f"reference testdata not available at {tables_dir}")
    for path in sorted(tables_dir.iterdir()):
        if path.suffix == ".csv":
            name = path.stem
            if name in FIXTURE_SCHEMAS:
                tables[name] = _load_csv_table(spark, path, name).cache()
        elif path.suffix == ".json":
            tables[path.stem] = _load_map_table(spark, path).cache()
    return tables


@pytest.fixture(scope="session")
def sf_catalog(spark):
    """Synthetic TPC-H-ish tables at the smoke scale factor."""
    from pql_spark.sources import parquet_catalog

    if not SF_SMOKE.is_dir():
        pytest.skip(f"testdata not available at {SF_SMOKE}")
    return parquet_catalog(spark, SF_SMOKE)
