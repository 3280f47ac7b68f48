"""Pinned dimension outputs.

For each of the nine dimensions, on three inputs, this module stores the
row count, a canonical value hash and the schema with nullability
(``!`` marks NOT NULL; the parquet writer keeps it). The values were
recorded from the per-dimension ``distinct`` + ``row_number`` +
broadcast-join builders that the one-aggregate builder replaced:

- ``generated``: the seed-1 generated CSV (9,994 lines), read and merged
  as ``build_warehouse`` does;
- ``dirty``: a hand-built frame with NULL ship mode, region, category
  and dates, a state under two regions, a product code with two names
  and a duplicated line;
- ``dirty_consistent``: the same frame without the second region of that
  state.

On ``dirty`` the old State and Location depended on row order: the two
``S1`` states tied in ``row_number`` over ``state_name``, and each
Location in ``S1`` joined both, so one location_id appeared twice. Those
two dimensions must now fail with ``DimensionKeyConflict`` instead.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest

CONFLICT = "DimensionKeyConflict"

_COLS = (
    "row_id order_id order_date ship_date ship_mode customer_code customer_name "
    "segment country city state postal_code region product_code category "
    "sub_category product_name sales quantity discount profit"
).split()
_TYPES = {"row_id": "int", "quantity": "int", "sales": "double", "discount": "double",
          "profit": "double", "order_date": "date", "ship_date": "date"}
_DDL = ", ".join(f"{c} {_TYPES.get(c, 'string')}" for c in _COLS)


def _line(rid, oid, od, sd, mode, cust, city, state, postal, region, pcode, cat, sub, pname):
    def day(s):
        return dt.date.fromisoformat(s) if s else None

    return (rid, oid, day(od), day(sd), mode, cust, f"Name {cust}", "Consumer",
            "United States", city, state, postal, region, pcode, cat, sub, pname,
            10.0, 2, 0.2, 1.5)


_DIRTY = [
    _line(1, "O1", "2015-01-03", "2015-01-05", "Standard Class", "C1", "Alpha", "S1", "10001", "East", "P1", "Furniture", "Chairs", "Chair A"),
    _line(2, "O1", "2015-01-03", "2015-01-05", "Standard Class", "C1", "Alpha", "S1", "10001", "East", "P1", "Furniture", "Chairs", "Chair A"),
    _line(3, "O2", "2015-02-10", "2015-03-02", None, "C2", "Beta", "S2", "20002", "West", "P2", "Furniture", "Tables", "Desk B"),
    _line(4, "O3", "2016-05-01", "2016-05-04", "First Class", "C3", "Beta", "S2", "20002", "West", "P2", "Furniture", "Tables", "Desk B v2"),
    _line(5, "O4", "2016-05-02", "2016-05-06", "Second Class", "C1", "Gamma", "S3", "30003", None, "P3", "Technology", "Phones", "Phone C"),
    _line(6, "O5", "2016-06-11", "2016-06-12", "Same Day", "C2", "Alpha", "S1", "10001", "East", "P4", None, "Paper", "Paper D"),
    _line(7, "O6", None, "2016-07-01", "Standard Class", "C3", "Beta", "S2", "20002", "West", "P1", "Furniture", "Chairs", "Chair A"),
    _line(8, "O7", "2016-07-02", None, "Standard Class", "C4", "Delta", "S1", "40004", "West", "P5", "Office Supplies", "Paper", "Paper E"),
    _line(9, "O8", "2017-12-30", "2018-01-02", "First Class", "C4", "Delta", "S1", "40004", "West", "P3", "Technology", "Phones", "Phone C"),
]
_DIRTY_CONSISTENT = [r for r in _DIRTY if (r[10], r[12]) != ("S1", "West")]


def canonical_hash(df) -> str:
    """sha256 prefix over the sorted text of every row; NULL is ``\\N``."""
    rows = sorted(
        "\x1f".join("\\N" if v is None else str(v) for v in r) for r in df.collect()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def schema_string(df) -> str:
    return ",".join(
        f"{f.name}:{f.dataType.simpleString()}{'' if f.nullable else '!'}"
        for f in df.schema.fields
    )


_S = {
    "Calendar": "calendar_id:bigint!,full_date:date,year_id:int!,year_number:int,month_id:bigint!,"
                "month_number:int,month_name:string,day_id:int,day_number:int",
    "CalendarMonth": "calendar_month_id:bigint!,calendar_month_number:int,"
                     "calendar_month_name:string,year_id:int!,year_number:int",
    "Customer": "customer_id:bigint!,customer_code:string,customer_name:string,segment:string",
    "Region": "region_id:bigint!,region_name:string,country_id:int!,country_name:string",
    "State": "state_id:bigint!,state_name:string,region_id:bigint!,region_name:string,"
             "country_id:int!,country_name:string",
    "Location": "location_id:bigint!,location_code:string,country_id:int!,country_name:string,"
                "region_id:bigint!,region_name:string,state_id:bigint!,state_name:string,"
                "city_id:int!,city_name:string,postal_code:string",
    "Category": "category_id:bigint!,category_name:string",
    "Product": "product_id:bigint!,product_code:string,product_name:string,category_id:bigint!,"
               "category_name:string,sub_category_id:int!,sub_category_name:string",
    "Shipping": "shipping_id:bigint!,ship_mode:string",
}

# (rows, canonical hash) per input and dimension, or the error it raises
PINS = {
    "generated": {
        "Calendar": (1446, "cc26299b5d5bcc6e"),
        "CalendarMonth": (49, "3c65c7aae6338fb8"),
        "Customer": (824, "97b010890ada3ab0"),
        "Region": (4, "7789ac467e78e96a"),
        "State": (40, "c22e1b58ff282288"),
        "Location": (372, "f7b55ec552817f99"),
        "Category": (3, "c0e109c3379feb3b"),
        "Product": (1698, "89de8ee833c0705b"),
        "Shipping": (4, "d463f166cba06d84"),
    },
    "dirty": {
        "Calendar": (14, "855c0c9fa420bd89"),
        "CalendarMonth": (9, "8cc5ee5adb3cd1e1"),
        "Customer": (4, "66f629aac59afb76"),
        "Region": (3, "a5e25a635914929e"),
        "State": f"{CONFLICT}: State key",  # was 3 rows: S1 twice, ids in tie order
        "Location": f"{CONFLICT}: State key",  # was 5 rows: location_id 1 and 4 twice
        "Category": (4, "a16b26f035c62897"),
        "Product": (5, "9c653bccebfb2884"),
        "Shipping": (5, "055b2f05a9c4cb18"),
    },
    "dirty_consistent": {
        "Calendar": (11, "011ad030863d954b"),
        "CalendarMonth": (7, "55bf8c02ffdbb254"),
        "Customer": (3, "d36b19ccb440a75b"),
        "Region": (3, "a5e25a635914929e"),
        "State": (2, "567a10a0186e99a6"),
        "Location": (2, "03a3e73c6bf8d773"),
        "Category": (3, "8daddd1c87fd551f"),
        "Product": (4, "9efd94c95993a766"),
        "Shipping": (5, "055b2f05a9c4cb18"),
    },
}


@pytest.fixture(scope="module")
def inputs(spark, generated_csv):
    from super_store_datawarehouse_spark.sources.superstore import read_superstore_csv
    from super_store_datawarehouse_spark.warehouse.ingest import merge_duplicate_order_lines

    return {
        "generated": merge_duplicate_order_lines(read_superstore_csv(spark, generated_csv[0])),
        "dirty": spark.createDataFrame(_DIRTY, _DDL),
        "dirty_consistent": spark.createDataFrame(_DIRTY_CONSISTENT, _DDL),
    }


@pytest.mark.parametrize("source", sorted(PINS))
def test_dimensions_match_pins(inputs, source):
    from super_store_datawarehouse_spark.warehouse import dims

    built = dims.build_dimensions(inputs[source])
    assert list(built) == list(_S)
    for name, df in built.items():
        assert schema_string(df) == _S[name], name
        pin = PINS[source][name]
        if isinstance(pin, str):
            with pytest.raises(Exception, match=pin):
                df.collect()
        else:
            assert (df.count(), canonical_hash(df)) == pin, name


def test_domain_collect_is_bounded_per_dimension(inputs, monkeypatch):
    """Each dimension's member array is checked against ``MAX_MEMBERS``
    before the domain row leaves the executors; the error names the
    dimension. The dirty frame's largest domain is Calendar: 15 dates,
    one of them NULL."""
    from super_store_datawarehouse_spark.warehouse import dims

    monkeypatch.setattr(dims, "MAX_MEMBERS", 14)
    with pytest.raises(Exception, match="dimension Calendar has more than MAX_MEMBERS=14 "):
        dims.build_dimensions(inputs["dirty"])
    monkeypatch.setattr(dims, "MAX_MEMBERS", 15)
    assert dims.build_dimensions(inputs["dirty"])["Calendar"].count() == 14
