"""Seeded generator of Superstore-shaped order-line CSV files.

The output has the shape of the reference export (SURVEY.md section 1):

- the 21 columns of ``SUPERSTORE_CSV_SCHEMA``, in order, with a header;
- ``M/d/yyyy`` order and ship dates without zero padding;
- latin-1 bytes, with the cp1252 curly quotes 0x93/0x94 in some product
  names;
- RFC-4180 quoting: fields holding a comma or a quote are quoted and an
  embedded quote is doubled (``"Eldon 12"" Desk"``);
- about 0.1% duplicate (order, product) lines, which the warehouse merges;
- product codes that carry more than one name.

Next to the CSV a ground-truth JSON records what a correct load must give:
the line, order, customer and product-tuple counts and the measure totals
in exact integer cents. ``etl_star`` checks the written warehouse against
it.

Pure Python with ``random.Random(seed)``: the same seed gives
byte-identical files on any platform.

Usage: python3 perfbench/gen_superstore.py OUT.csv --lines N --seed S
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import random

HEADER = (
    "Row ID,Order ID,Order Date,Ship Date,Ship Mode,Customer ID,Customer Name,"
    "Segment,Country,City,State,Postal Code,Region,Product ID,Category,"
    "Sub-Category,Product Name,Sales,Quantity,Discount,Profit"
)

REGIONS = {
    "East": ["New York", "Pennsylvania", "Ohio", "Massachusetts", "New Jersey",
             "Connecticut", "Delaware", "Maryland", "Rhode Island", "Vermont"],
    "West": ["California", "Washington", "Arizona", "Colorado", "Oregon",
             "Utah", "Nevada", "New Mexico", "Idaho", "Montana"],
    "Central": ["Texas", "Illinois", "Michigan", "Indiana", "Wisconsin",
                "Minnesota", "Missouri", "Iowa", "Nebraska", "Kansas"],
    "South": ["Florida", "North Carolina", "Virginia", "Georgia", "Tennessee",
              "Kentucky", "Alabama", "Mississippi", "Louisiana", "Arkansas"],
}

CATEGORIES = {
    ("FUR", "Furniture"): ["Bookcases", "Chairs", "Furnishings", "Tables"],
    ("OFF", "Office Supplies"): ["Appliances", "Art", "Binders", "Envelopes",
                                 "Fasteners", "Labels", "Paper", "Storage",
                                 "Supplies"],
    ("TEC", "Technology"): ["Accessories", "Copiers", "Machines", "Phones"],
}

SHIP_MODES = [("Standard Class", 4, 7, 60), ("Second Class", 2, 4, 19),
              ("First Class", 1, 3, 15), ("Same Day", 0, 0, 6)]
SEGMENTS = [("Consumer", 52), ("Corporate", 30), ("Home Office", 18)]
DISCOUNTS = [0, 0, 0, 0, 10, 15, 20, 20, 30, 40, 45, 50, 60, 70, 80]
FIRST = ["Claire", "Darrin", "Sean", "Brosina", "Andrew", "Irene", "Harold",
         "Pete", "Alejandro", "Zuschuss", "Ken", "Sandra", "Emily", "Eric",
         "Tracy", "Matt", "Gene", "Steve", "Linda", "Ruben"]
LAST = ["Gute", "Van Huff", "O'Donnell", "Hoffman", "Allen", "Maddox",
        "Pawlan", "Kriz", "Grove", "Carroll", "Black", "Flanagan", "Grady",
        "Hoffmann", "Gelder", "Murdock", "Hale", "Ausman", "Chandler", "Dunn"]
BRANDS = ["Eldon", "Avery", "Bretford", "Global", "Hon", "Fellowes", "Xerox",
          "Belkin", "Logitech", "Acco", "Cisco", "Canon", "Tenex", "Howard"]
WORDS = ["Deluxe", "Ultra", "Classic", "Heavy-Duty", "Compact", "Premium",
         "Economy", "Executive", "Ergonomic", "Portable", "Wireless", "Mobile"]
FIRST_DAY = dt.date(2014, 1, 1)
N_DAYS = 1460


def _mdy(d: dt.date) -> str:
    return f"{d.month}/{d.day}/{d.year}"


def _csv_field(s: str) -> str:
    if any(c in s for c in ',"\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def _pick(rng: random.Random, weighted: list[tuple[str, int]]) -> str:
    return rng.choices([w[0] for w in weighted], [w[1] for w in weighted])[0]


def _money(cents: int) -> str:
    sign = "-" if cents < 0 else ""
    cents = abs(cents)
    return f"{sign}{cents // 100}.{cents % 100:02d}"


def _geography(rng: random.Random) -> list[tuple[str, str, str, str]]:
    """(postal_code, city, state, region): every postal code maps to one
    city; a city name can recur in two states, as in the reference."""
    places = []
    postal = 10001
    for region, states in REGIONS.items():
        for state in states:
            for c in range(rng.randint(3, 8)):
                city = f"{rng.choice(['Spring', 'Green', 'Fair', 'Lake', 'Oak'])}" \
                       f"{rng.choice(['field', 'ville', 'ton', 'wood', 'port'])}"
                for _ in range(rng.randint(1, 3)):
                    places.append((str(postal), city, state, region))
                    postal += rng.randint(1, 97)
    return places


def _products(rng: random.Random, n_codes: int) -> list[tuple[str, str, str, str]]:
    """(code, name, category, sub_category). About 2% of codes carry a
    second name; some names embed a straight quote (doubled on write) or
    the cp1252 curly quotes 0x93/0x94 (as the latin-1 chars \\x93/\\x94)."""
    out = []
    serial = 10000001
    for _ in range(n_codes):
        (prefix, category), subs = rng.choice(list(CATEGORIES.items()))
        sub = rng.choice(subs)
        code = f"{prefix}-{sub[:2].upper()}-{serial}"
        serial += rng.randint(1, 4000)
        names = [_product_name(rng, sub)]
        if rng.random() < 0.02:
            names.append(_product_name(rng, sub))
        for name in dict.fromkeys(names):
            out.append((code, name, category, sub))
    return out


def _product_name(rng: random.Random, sub: str) -> str:
    name = f"{rng.choice(BRANDS)} {rng.choice(WORDS)} {sub}"
    r = rng.random()
    if r < 0.05:
        name += f', {rng.randint(2, 48)}" Wide'
    elif r < 0.08:
        name += f" \x93{rng.choice(WORDS)}\x94 Series"
    elif r < 0.3:
        name += f" {rng.randint(100, 9999)}"
    return name


def generate(path: str, lines: int, seed: int) -> dict:
    """Write ``lines`` order lines to ``path`` and the ground truth to
    ``path + '.truth.json'``; return the ground truth."""
    rng = random.Random(seed)
    places = _geography(rng)
    n_customers = max(20, lines // 12)
    customers = []
    for i in range(n_customers):
        name = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
        initials = "".join(p[0] for p in name.split()[:2]).upper()
        customers.append(
            (f"{initials}-{10000 + i * 7 + rng.randint(0, 6)}", name,
             _pick(rng, SEGMENTS), rng.choice(places))
        )
    products = _products(rng, max(30, lines // 6))

    rows: list[list[str]] = []
    # (order, product code) -> product tuple of its first line: the merge
    # of duplicate lines keeps the first line's name, so a second name seen
    # only on a merged-away line never reaches the Product dimension
    first_tuple: dict[tuple[str, str], tuple[str, str, str, str]] = {}
    orders: set[str] = set()
    cust_seen: set[str] = set()
    sales_c = profit_c = qty = 0
    order_no = 100000
    while len(rows) < lines:
        order_no += rng.randint(1, 9)
        day = FIRST_DAY + dt.timedelta(days=rng.randrange(N_DAYS))
        order_id = f"{rng.choice(['CA', 'US'])}-{day.year}-{order_no}"
        mode, lo, hi, _ = SHIP_MODES[
            rng.choices(range(4), [m[3] for m in SHIP_MODES])[0]
        ]
        ship = day + dt.timedelta(days=rng.randint(lo, hi))
        code, cname, segment, place = rng.choice(customers)
        postal, city, state, region = place
        chosen = rng.sample(products, min(len(products), rng.randint(1, 5)))
        for product in chosen:
            if len(rows) >= lines:
                break
            reps = 2 if rng.random() < 0.001 else 1
            for _ in range(reps):
                if len(rows) >= lines:
                    break
                q = rng.randint(1, 14)
                unit_c = rng.randint(99, 250000) if product[2] == "Technology" \
                    else rng.randint(99, 60000)
                disc = rng.choice(DISCOUNTS)
                s_c = q * unit_c * (100 - disc) // 100 // 3 or 1
                p_c = s_c * rng.randint(-40 - disc, 45) // 100
                rows.append([
                    str(len(rows) + 1), order_id, _mdy(day), _mdy(ship), mode,
                    code, cname, segment, "United States", city, state, postal,
                    region, product[0], product[2], product[3], product[1],
                    _money(s_c), str(q), f"{disc / 100:g}", _money(p_c),
                ])
                first_tuple.setdefault((order_id, product[0]), product)
                orders.add(order_id)
                cust_seen.add(code)
                sales_c += s_c
                profit_c += p_c
                qty += q

    with open(path, "wb") as fh:
        fh.write((HEADER + "\r\n").encode("latin-1"))
        for r in rows:
            fh.write((",".join(_csv_field(f) for f in r) + "\r\n").encode("latin-1"))
    tuples = set(first_tuple.values())
    truth = {
        "seed": seed,
        "csv_lines": len(rows),
        "distinct_lines": len(first_tuple),
        "orders": len(orders),
        "customers": len(cust_seen),
        "product_tuples": len(tuples),
        "product_codes": len({t[0] for t in tuples}),
        "sales_cents": sales_c,
        "profit_cents": profit_c,
        "quantity": qty,
    }
    with open(path + ".truth.json", "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    return truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--lines", type=int, default=20000)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    print(json.dumps(generate(args.out, args.lines, args.seed)))


if __name__ == "__main__":
    main()
