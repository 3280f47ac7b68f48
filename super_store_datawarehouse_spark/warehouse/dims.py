"""The nine dimensions from one aggregate (SURVEY §2 P1/P4/U1/F12;
reference etl.py:137-441).

One pass over the (merged) source lines collects every dimension's
natural-key domain as ``array_sort(collect_set(struct(...)))``. Single
columns are wrapped in a struct too: ``collect_set`` drops NULL scalars,
and a struct keeps a NULL key as a member that sorts first, as a
``row_number`` over the key did. The one-row result is materialized once
with :func:`~super_store_datawarehouse_spark.session.localize`, and every
dimension is a narrow projection of that row:

- membership is a ``posexplode`` of the dimension's array, and the
  surrogate key is position + 1 — the 1-based rank in natural-key order
  (SURVEY §7.3: deterministic and stable across runs, unlike the
  reference's insertion-order AUTO_INCREMENT; all correctness
  comparisons join on natural keys);
- level and parent ids (year, month, country, region, state, city,
  category, sub-category) are ``array_position`` lookups into the same
  row. They replace the reference's read-back-after-insert round-trips
  (etl.py:296-297, 321-322, 390-391) and need no join.

So the dimensions need no exchange, no global window and no join; each
is one partition over a ``LocalRelation`` and writes one file.

Parent lookups drop rows whose parent key is NULL (a State with no
region, a Product with no category), as the inner joins they replace
did. Where a dimension's id order key is narrower than its member tuple
(a state under two regions, a product code and name under two
categories, ...), a row-order-dependent id would follow, so that
dimension and those keyed on it fail with ``DimensionKeyConflict``
when evaluated.

Scale: the domain row is a driver-side collect. Each dimension's array is
bounded by ``MAX_MEMBERS`` before it leaves the executors, and a larger
domain fails naming the dimension (the largest at reference scale is
Product at 1,894 members). Parent lookups scan their parent array, so a
dimension costs O(members × parent size).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.session import localize

# member tuples of the domain arrays, as source columns; a struct field
# takes the dimension's column name (``country`` -> ``country_name``)
_MEMBERS = {
    "customers": "customer_code customer_name segment",
    "countries": "country",
    "regions": "region country",
    "states": "state region country",
    "cities": "city state",
    "locations": "postal_code city state country region",
    "ship_modes": "ship_mode",
    "categories": "category",
    "sub_categories": "sub_category",
    "products": "product_code product_name category sub_category",
}
_NAMED = ("country", "region", "state", "city", "category", "sub_category")
_FIELDS = {
    arr: [f"{c}_name" if c in _NAMED else c for c in cols.split()]
    for arr, cols in _MEMBERS.items()
} | {"years": ["year_number"], "months": ["year_number", "month_number", "month_name"]}

# (dimension, id order key length) where the order key is a proper
# prefix of the member tuple: a repeated key makes ids order-dependent
_ORDER_KEYS = {"regions": ("Region", 1), "states": ("State", 1),
               "locations": ("Location", 3), "products": ("Product", 2)}

# bound on each dimension's member count: the domain row is a driver-side
# collect, held to localize's default row bound
MAX_MEMBERS = 100_000

# the array each dimension explodes, bounded by MAX_MEMBERS
_DIM_ARRAYS = {"Calendar": "dates", "CalendarMonth": "months", "Customer": "customers",
               "Region": "regions", "State": "states", "Location": "locations",
               "Category": "categories", "Product": "products", "Shipping": "ship_modes"}


def _fail_if(cond: Column, msg: str, value: Column) -> Column:
    """``value``, or a raised error where ``cond`` holds; keeps
    ``value``'s nullability."""
    return F.coalesce(F.when(cond, F.raise_error(F.lit(msg))), value)


def _date_parts(d: Column) -> list[Column]:
    return [F.year(d), F.month(d), F.date_format(d, "MMMM")]


def _struct(arr: str, cols: list[Column]) -> Column:
    return F.struct(*[c.alias(f) for f, c in zip(_FIELDS[arr], cols)])


def _date_keys(arr: str) -> Column:
    """Sorted distinct years (or year-months) of the date domain."""
    n = len(_FIELDS[arr])
    keys = F.transform("dates", lambda d: _struct(arr, _date_parts(d["full_date"])[:n]))
    return F.array_sort(F.array_distinct(keys))


def _order_key_repeats(arr: str, n: int) -> Column:
    keys = F.transform(arr, lambda x: F.struct(*[x[f] for f in _FIELDS[arr][:n]]))
    return F.size(F.array_distinct(keys)) < F.size(arr)


def _domain(lines: DataFrame) -> DataFrame:
    """Every dimension's sorted natural-key domain, in one row."""
    sets = {
        arr: F.array_sort(F.collect_set(_struct(arr, [F.col(c) for c in cols.split()])))
        for arr, cols in _MEMBERS.items()
    }
    # the date domain is set(order) ∪ set(ship) (reference U1)
    sets["dates"] = F.array_sort(F.array_union(
        F.collect_set(F.struct(F.col("order_date").alias("full_date"))),
        F.collect_set(F.struct(F.col("ship_date").alias("full_date"))),
    ))
    cols = {n: F.col(n) for n in sets}
    cols |= {arr: _date_keys(arr) for arr in ("years", "months")}
    for dim, arr in _DIM_ARRAYS.items():
        cols[arr] = _fail_if(
            F.size(cols[arr]) > MAX_MEMBERS,
            f"dimension {dim} has more than MAX_MEMBERS={MAX_MEMBERS} members; "
            "the one-row domain is a bounded driver-side collect",
            cols[arr],
        )
    cols |= {f"{arr}_conflict": _order_key_repeats(arr, n) for arr, (_, n) in _ORDER_KEYS.items()}
    return lines.agg(*[c.alias(n) for n, c in sets.items()]).select(
        *[c.alias(n) for n, c in cols.items()]
    )


def _explode(domain: DataFrame, arr: str) -> DataFrame:
    return domain.select(F.posexplode(arr).alias("pos", "m"), "*")


def _sk(*guarded_by: str) -> Column:
    """Surrogate key: 1-based position in natural-key order, failing
    where an order key of this or a parent dimension is not unique."""
    sk = (F.col("pos") + 1).cast("long")
    for arr in guarded_by:
        dim, n = _ORDER_KEYS[arr]
        sk = _fail_if(
            F.col(f"{arr}_conflict"),
            f"DimensionKeyConflict: {dim} key ({', '.join(_FIELDS[arr][:n])}) has "
            "more than one member; its ids would depend on row order",
            sk,
        )
    return sk


def _id(arr: str, *cols: Column) -> Column:
    """1-based position of the member of ``arr`` equal to ``cols``."""
    return F.array_position(arr, _struct(arr, list(cols)))


def build_dimensions(lines: DataFrame) -> dict[str, DataFrame]:
    """All nine dimensions, keyed by the reference table names. Collects
    the one-row domain; a dimension over ``MAX_MEMBERS`` members fails
    here, naming itself."""
    dom = localize(_domain(lines), max_rows=1)
    m = {f: F.col(f"m.{f}") for fs in _FIELDS.values() for f in fs} | {
        "full_date": F.col("m.full_date")
    }

    # Calendar + CalendarMonth (etl.py:163-251): year ids rank the years
    # of the date domain; CalendarMonth rows are its distinct (year,
    # month) pairs in chronological order. A NULL date has no month and
    # no Calendar row, but ranks in both id sequences.
    y, mo, mname = _date_parts(m["full_date"])
    day = F.dayofmonth(m["full_date"])
    calendar = (
        _explode(dom, "dates")
        .filter(y.isNotNull() & mo.isNotNull())
        .select(
            _sk().alias("calendar_id"), m["full_date"],
            _id("years", y).cast("int").alias("year_id"), y.alias("year_number"),
            _id("months", y, mo, mname).alias("month_id"), mo.alias("month_number"),
            mname.alias("month_name"), day.alias("day_id"), day.alias("day_number"),
        )
    )
    calendar_month = _explode(dom, "months").select(
        _sk().alias("calendar_month_id"),
        m["month_number"].alias("calendar_month_number"),
        m["month_name"].alias("calendar_month_name"),
        _id("years", m["year_number"]).cast("int").alias("year_id"),
        m["year_number"],
    )

    # Customer (etl.py:255-271): distinct (code, name, segment)
    customer = _explode(dom, "customers").select(
        _sk().alias("customer_id"), m["customer_code"], m["customer_name"], m["segment"]
    )

    # Region → State → Location (etl.py:275-352); country_id and city_id
    # mirror the reference's enumerate maps (etl.py:137-159) in natural-key
    # order instead of first-appearance order
    country_id = _id("countries", m["country_name"]).cast("int").alias("country_id")
    region_id = _id("regions", m["region_name"], m["country_name"]).alias("region_id")
    region = _explode(dom, "regions").select(
        _sk("regions").alias("region_id"), m["region_name"], country_id, m["country_name"]
    )
    state = (
        _explode(dom, "states")
        .filter(m["region_name"].isNotNull())
        .select(
            _sk("regions", "states").alias("state_id"), m["state_name"],
            region_id, m["region_name"], country_id, m["country_name"],
        )
    )
    location = (
        _explode(dom, "locations")
        .filter(m["state_name"].isNotNull() & m["region_name"].isNotNull()
                & m["city_name"].isNotNull())
        .select(
            _sk("regions", "states", "locations").alias("location_id"),
            m["postal_code"].alias("location_code"), country_id, m["country_name"],
            region_id, m["region_name"],
            _id("states", m["state_name"], m["region_name"], m["country_name"])
            .alias("state_id"),
            m["state_name"],
            _id("cities", m["city_name"], m["state_name"]).cast("int").alias("city_id"),
            m["city_name"], m["postal_code"],
        )
    )

    # Shipping (etl.py:356-369): distinct ship modes
    shipping = _explode(dom, "ship_modes").select(_sk().alias("shipping_id"), m["ship_mode"])

    # Category + Product (etl.py:373-420). Product membership is the
    # distinct 4-tuple: one Product ID can carry two names, so
    # product_code is NOT unique (1,894 rows vs 1,862 codes on the
    # reference CSV; SURVEY §1.4).
    category = _explode(dom, "categories").select(
        _sk().alias("category_id"), m["category_name"]
    )
    product = (
        _explode(dom, "products")
        .filter(m["category_name"].isNotNull() & m["sub_category_name"].isNotNull())
        .select(
            _sk("products").alias("product_id"), m["product_code"], m["product_name"],
            _id("categories", m["category_name"]).alias("category_id"), m["category_name"],
            _id("sub_categories", m["sub_category_name"]).cast("int").alias("sub_category_id"),
            m["sub_category_name"],
        )
    )
    return {
        "Calendar": calendar, "CalendarMonth": calendar_month, "Customer": customer,
        "Region": region, "State": state, "Location": location,
        "Category": category, "Product": product, "Shipping": shipping,
    }
