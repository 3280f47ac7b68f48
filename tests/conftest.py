"""Shared fixtures: one SparkSession and one built warehouse per session."""

from __future__ import annotations

import os
import sys

import pytest

try:  # engine import: resolves via `pip install -e .` / `setup.py develop`
    import super_store_datawarehouse_spark  # noqa: F401
except ImportError:  # raw checkout without an editable install
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
else:
    # __spark_entry__ (the driver-contract adapter) lives at the repo
    # root by contract, outside the installed package — always reachable
    # relative to this script, installed or not.
    if os.path.dirname(os.path.dirname(os.path.abspath(__file__))) not in sys.path:
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from super_store_datawarehouse_spark.session import get_spark  # noqa: E402

REFERENCE_CSV = "/root/reference/Sample - Superstore.csv"
TESTDATA_SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True, scope="module")
def _release_scoped_caches_per_module():
    """Release operator-registered scoped caches between test modules.

    Without this, every scoped_cache() an operator takes during a test
    stays in the block manager for the rest of the pytest session — the
    exact accumulation the mechanism exists to prevent. Module scope
    (not per-test) keeps intra-module cache reuse, which some tests
    lean on for speed, while bounding session-wide growth.
    """
    from super_store_datawarehouse_spark.session import release_scoped_caches

    yield
    release_scoped_caches()


@pytest.fixture(scope="session")
def generated_csv(tmp_path_factory):
    """A seeded Superstore-shaped CSV of the reference export's size
    (``perfbench.gen_superstore``) and its ground-truth counts."""
    from perfbench.gen_superstore import generate

    path = str(tmp_path_factory.mktemp("superstore") / "superstore_seed1.csv")
    return path, generate(path, 9994, 1)


@pytest.fixture(scope="session")
def superstore_csv(request):
    """The warehouse source: the reference CSV when present, else the
    generated one. ``truth`` is None for the reference CSV (its golden
    cardinalities live in test_warehouse) and the generator's ground
    truth otherwise."""
    if os.path.exists(REFERENCE_CSV):
        return REFERENCE_CSV, None
    return request.getfixturevalue("generated_csv")


@pytest.fixture(scope="session")
def csv_utf8(superstore_csv, tmp_path_factory):
    """UTF-8 transcoding of the cp1252 source CSV (DuckDB reads UTF-8 only)."""
    out = tmp_path_factory.mktemp("csv") / "superstore_utf8.csv"
    out.write_text(open(superstore_csv[0], encoding="windows-1252").read(), encoding="utf-8")
    return str(out)


# Generated data has no golden export: its counts are the generator's
# ground truth where it records one, and DuckDB distinct counts of each
# table's grain over the same CSV otherwise.
_DATES = """(SELECT strptime(d, '%m/%d/%Y') AS d FROM (
    SELECT "Order Date" AS d FROM src UNION ALL SELECT "Ship Date" FROM src))"""
_GRAIN_SQL = {
    "Calendar": f"SELECT DISTINCT d FROM {_DATES}",
    "CalendarMonth": f"SELECT DISTINCT year(d), month(d) FROM {_DATES}",
    "Region": 'SELECT DISTINCT "Region", "Country" FROM src',
    "State": 'SELECT DISTINCT "State", "Region", "Country" FROM src',
    "Location": 'SELECT DISTINCT "Postal Code", "City", "State", "Country", "Region" FROM src',
    "Category": 'SELECT DISTINCT "Category" FROM src',
    "Shipping": 'SELECT DISTINCT "Ship Mode" FROM src',
    "OrderM": """SELECT DISTINCT year(od), month(od), "State" FROM
        (SELECT *, strptime("Order Date", '%m/%d/%Y') AS od FROM src)""",
    "ProductPerformance": """SELECT DISTINCT "Category", "State", year(od), month(od) FROM
        (SELECT *, strptime("Order Date", '%m/%d/%Y') AS od FROM src)""",
    "ShippingBehavior": 'SELECT DISTINCT "Ship Mode", "Category", "Region" FROM src',
    "ShippingBehaviorS": 'SELECT DISTINCT "Ship Mode", "Category", "State" FROM src',
}
_TRUTH_KEYS = {
    "Item": "distinct_lines",
    "Orders": "orders",
    "Customer": "customers",
    "Product": "product_tuples",
}


@pytest.fixture(scope="session")
def cardinalities(superstore_csv, csv_utf8):
    """Expected row count of each of the 15 warehouse tables."""
    _, truth = superstore_csv
    if truth is None:
        from tests.test_warehouse import GOLDEN_CARDINALITIES

        return dict(GOLDEN_CARDINALITIES)
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW src AS SELECT * FROM read_csv('{csv_utf8}', header=true, all_varchar=true)"
    )
    out = {t: truth[k] for t, k in _TRUTH_KEYS.items()}
    for t, q in _GRAIN_SQL.items():
        out[t] = con.sql(f"SELECT COUNT(*) FROM ({q})").fetchone()[0]
    return out


@pytest.fixture(scope="session")
def warehouse(spark, superstore_csv):
    from super_store_datawarehouse_spark.warehouse import build_warehouse

    return build_warehouse(spark, superstore_csv[0])
