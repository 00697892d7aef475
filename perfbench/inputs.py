"""Seeded inputs for the benchmark workloads.

* ``medallion``: synthetic Open Brewery DB pages, generated page by page
  from ``(seed, page)`` so an executor-side transport and the driver-side
  expected gold table agree without shipping data around. Locations are
  drawn from a fixed raw -> normalized table, which lets the expected gold
  aggregate be computed in plain Python.
* ``catalog_*``: the committed star-schema tables under ``data/``, copied
  with a seeded row permutation. Contents never change, so expected results
  do not depend on the seed; only the physical row order does.
"""

from __future__ import annotations

import os
import random
import uuid
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

PER_PAGE = 200  # the reference's page size
BRONZE_COLUMNS = [
    "id", "name", "brewery_type", "address_1", "address_2", "address_3",
    "city", "state_province", "postal_code", "country", "longitude",
    "latitude", "phone", "website_url", "state", "street",
]
BREWERY_TYPES = [
    "micro", "nano", "regional", "brewpub", "large",
    "planning", "bar", "contract", "proprietor", "closed",
]
NAMES = [
    "Caf� Okei",
    "Wimitzbr�u",
    "Anheuser-Busch Inc ̢���� Williamsburg",
    "Brauerei â Bier",
    "Under_Score Brewing",
    "Snake‿River Ales",  # U+203F UNDERTIE, another \p{Pc}
    "Smith, Jones & Sons",
    'The "Quoted" Taproom',
    "Hop Haus",
]
# (raw city, raw state, raw country) -> (normalized state, normalized country):
# what silver's trim/lower/dash, mojibake repair, \p{Pc} strip and accent
# fold must produce. Covers the FIXTURES.md edge cases, including the
# " United States" / "United States" pair.
LOCATIONS = [
    ("Klagenfurt am W�rthersee", "K�rnten", "Austria", "karnten", "austria"),
    ("Wien", "Wien", "Austria", "wien", "austria"),
    ("St. Pölten", "Nieder�sterreich", "Austria", "niederosterreich", "austria"),
    ("São Paulo", "São Paulo", "Brazil", "sao-paulo", "brazil"),
    ("Portland", "Oregon", " United States", "oregon", "united-states"),
    ("Portland", "Oregon", "United States", "oregon", "united-states"),
    ("San Diego", "California", "United States", "california", "united-states"),
    ("Santa Fe", "New_Mexico", "united states", "newmexico", "united-states"),
    ("Denver", " COLORADO ", "UNITED STATES", "colorado", "united-states"),
    ("München", "Bayern", "Germany", "bayern", "germany"),
    ("Köln", "Nordrhein-Westfalen", "Germany", "nordrhein-westfalen", "germany"),
    ("Cork", "County Cork", "Ireland", "county-cork", "ireland"),
    ("Québec", "Québec", "Canada", "quebec", "canada"),
    ("Zürich", "Zürich", "Switzerland", "zurich", "switzerland"),
    ("Kraków", "Małopolskie", "Poland", "malopolskie", "poland"),
    ("Seoul", "Seoul", "South Korea", "seoul", "south-korea"),
]
MALFORMED_COORDINATES = ["12.3.4", "N/A", "", "-"]
DUPLICATE_RATE = 0.01


def _coordinate(rng: random.Random, bound: float) -> str | None:
    roll = rng.random()
    if roll < 0.10:
        return None
    if roll < 0.15:
        return rng.choice(MALFORMED_COORDINATES)
    return f"{rng.uniform(-bound, bound):.6f}"


def brewery_page(seed: int, page: int) -> list[dict]:
    """One API page of ``PER_PAGE`` records, a pure function of (seed, page).

    About ``DUPLICATE_RATE`` of the records repeat the previous record
    exactly, id included.
    """
    rng = random.Random(f"{seed}:{page}")
    records: list[dict] = []
    for i in range(PER_PAGE):
        if records and rng.random() < DUPLICATE_RATE:
            records.append(dict(records[-1]))
            continue
        city, state, country = rng.choice(LOCATIONS)[:3]
        records.append({
            "id": str(uuid.UUID(int=rng.getrandbits(128))),
            "name": f"{rng.choice(NAMES)} {page}-{i}",
            "brewery_type": rng.choice(BREWERY_TYPES),
            "address_1": None if rng.random() < 0.8 else f"{rng.randint(1, 999)} Main St",
            "address_2": None,
            "address_3": None,
            "city": city,
            "state_province": state,
            "postal_code": f"{rng.randint(10000, 99999)}",
            "country": country,
            "longitude": _coordinate(rng, 180.0),
            "latitude": _coordinate(rng, 90.0),
            "phone": None if rng.random() < 0.3 else f"{rng.randint(10**9, 10**10 - 1)}",
            "website_url": None if rng.random() < 0.5 else f"http://brewery{page}-{i}.example",
            "state": state,
            "street": None if rng.random() < 0.2 else f"{rng.randint(1, 9999)} Brew Rd",
        })
    return records


def expected_gold(seed: int, n_pages: int) -> Counter:
    """Expected ``brewery_counts``: (brewery_type, country, state) -> count."""
    normalized = {raw[:3]: raw[3:] for raw in LOCATIONS}
    gold: Counter = Counter()
    for page in range(n_pages):
        for rec in brewery_page(seed, page):
            state, country = normalized[(rec["city"], rec["state"], rec["country"])]
            gold[(rec["brewery_type"], country, state)] += 1
    return gold


def permuted_tables(src_dir: str, dst_dir: str, seed: int) -> None:
    """Copy every ``<name>.parquet`` in ``src_dir`` to ``dst_dir`` with its
    rows in a seeded order. Each table stays one file, as the catalog's
    streaming readers expect."""
    os.makedirs(dst_dir)
    for k, fname in enumerate(sorted(os.listdir(src_dir))):
        table = pq.read_table(os.path.join(src_dir, fname))
        order = np.random.default_rng([seed, k]).permutation(table.num_rows)
        pq.write_table(table.take(order), os.path.join(dst_dir, fname))
