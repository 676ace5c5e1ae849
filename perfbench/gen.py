"""Seeded input generators for the write and serving workloads.

NYC-shaped raw feeds (FIXTURES.md shapes): a warehouse of NTA polygons,
food-supply gaps, ZCTA polygons, ACS rows and a wide ZORI matrix, plus
per-step upsert batches. Every generator returns plain Python rows together
with the ground truth the checks compare against, so the program under test
only ever receives the rows. The query workloads read the fixed corpus in
``corpus/`` instead.
"""

from __future__ import annotations

import json
import math
import random
from dataclasses import dataclass, field

BOROS = ("Manhattan", "Bronx", "Brooklyn", "Queens", "Staten Island")
FOOD_YEARS = tuple(range(2014, 2024))
ACS_YEAR = 2023  # CensusAcsTransformer stamps this literal year
FOOD_COLS = [":id", "Data Year", "NTA2020", "NTAName", "Boro", "Supply Gap",
             "Supply Gap Percent", "Gap Rank"]
ACS_COLS = ["B17001_002E", "B17001_001E", "B19013_001E", "zcta"]
SENTINEL = "-666666666"


def _ring(rng: random.Random, cx: float, cy: float, n: int) -> list[list[float]]:
    """A closed, star-shaped ring of ``n`` distinct vertices around a centre."""
    pts = []
    for i in range(n):
        a = 2 * math.pi * i / n
        r = 0.004 * (1 + 0.3 * rng.random())
        pts.append([round(cx + r * math.cos(a), 6), round(cy + r * math.sin(a), 6)])
    return pts + [pts[0]]


def _geojson_polygon(ring: list[list[float]]) -> str:
    return json.dumps({"type": "Polygon", "coordinates": [ring]}, separators=(",", ":"))


def _wkt_polygon(ring: list[list[float]]) -> str:
    return "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring) + "))"


@dataclass
class Warehouse:
    """Raw feed rows for the five datasets plus the serving ground truth."""

    ntas: list[tuple]
    zctas: list[tuple]
    zori_cols: list[str]
    zori: list[tuple]
    food: list[tuple]
    acs: list[tuple]
    nta_codes: list[str]
    food_truth: dict = field(default_factory=dict)  # (year, nta) -> (lbs, pct, rank)
    acs_truth: dict = field(default_factory=dict)  # zip -> (rate, income)
    zcta_zips: set = field(default_factory=set)
    rent_zips: set = field(default_factory=set)

    def expected_features(self) -> dict[str, int]:
        """Feature count of each serving document (J4 quirk included: only
        NTAs with a row in the latest year appear)."""
        latest = max(y for y, _ in self.food_truth)
        ntas = set(self.nta_codes)
        food = sum(1 for (y, n) in self.food_truth if y == latest and n in ntas)
        poverty = sum(
            1
            for z, (rate, income) in self.acs_truth.items()
            if z in self.zcta_zips and rate is not None and income is not None
        )
        rent = len(self.rent_zips & self.zcta_zips)
        return {"food_gaps": food, "poverty_by_zip": poverty, "rent_by_zip": rent}


def _num(x: float) -> str:
    return f"{x:.2f}"


def food_rows(rng: random.Random, keys: list[tuple[int, str]], id_base: int,
              names: dict[str, tuple[str, str]], truth: dict) -> list[tuple]:
    """Socrata-shaped food rows for ``keys`` (duplicates allowed: the last
    one wins). Bad numerics and out-of-range percents are mixed in; the
    ground truth applies the transformer's documented coercions."""
    rows = []
    for i, (year, nta) in enumerate(keys):
        lbs = round(rng.uniform(0, 5e6), 2)
        pct = round(rng.uniform(0, 100), 1)
        rank = rng.randint(1, 300)
        lbs_s, pct_s = _num(lbs), f"{pct:.1f}"
        u = rng.random()
        if u < 0.03:
            lbs_s, lbs = "oops", None  # bad numeric -> NULL
        elif u < 0.06:
            pct_s, pct = "150.0", None  # out of [0, 100] -> NULL
        name, boro = names.get(nta, ("Ghost", "Bronx"))
        rows.append((f":r{id_base + i}", str(year), f" {nta} " if u > 0.97 else nta,
                     name, boro, lbs_s, pct_s, str(rank)))
        truth[(year, nta)] = (lbs, pct, rank)
    return rows


def acs_rows(rng: random.Random, zips: list[str], truth: dict) -> list[tuple]:
    """Census-API-shaped rows, one per ZIP (keys repeat only across batches),
    with negative sentinels and a zero universe mixed in."""
    rows = []
    for z in zips:
        universe = rng.randint(200, 60000)
        count = rng.randint(0, universe)
        income = rng.randint(18000, 250000)
        c_s, u_s, i_s = str(count), str(universe), str(income)
        u = rng.random()
        if u < 0.04:
            i_s, income = SENTINEL, None
        elif u < 0.07:
            c_s, count = SENTINEL, None
        elif u < 0.09:
            u_s, universe = "0", 0
        rate = None
        if count is not None and universe:
            # Spark's round(x, 2) is HALF_UP on the exact double: emulate it
            rate = float(round_half_up(count / universe * 100, 2))
        rows.append((c_s, u_s, i_s, z))
        truth[z] = (rate, income)
    return rows


def round_half_up(x: float, nd: int) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


def warehouse(seed: int, n_ntas: int = 262, n_zctas: int = 215, n_zori: int = 155,
              n_months: int = 120, vertices: int = 150) -> Warehouse:
    """The seeded NYC-shaped warehouse the serving workload starts from."""
    rng = random.Random(seed)
    nta_codes, ntas, names = [], [], {}
    for i in range(n_ntas):
        boro = BOROS[i % len(BOROS)]
        code = f"{boro[:2].upper()}{i:04d}"
        name = f"Neighborhood {i}"
        names[code] = (name, boro)
        nta_codes.append(code)
        ring = _ring(rng, -74.0 + (i % 20) * 0.01, 40.6 + (i // 20) * 0.01, vertices)
        ntas.append((f":x{i}", code, name, boro, f"{rng.uniform(1e5, 1e7):.1f}",
                     _geojson_polygon(ring)))

    zips = [str(10001 + 3 * i) for i in range(n_zctas)]
    zctas = [
        (z, _wkt_polygon(_ring(rng, -73.9 + (i % 15) * 0.01, 40.5 + (i // 15) * 0.01, vertices)))
        for i, z in enumerate(zips)
    ]

    months = _month_ends(2016, n_months)
    zori_zips = rng.sample(zips, n_zori - 5) + [str(11901 + i) for i in range(5)]
    zori, rent_zips = [], set()
    for z in zori_zips:
        if rng.random() < 0.05:
            zori.append((z, *([None] * n_months)))  # all NULL -> dropped
            continue
        base = rng.uniform(1500, 4500)
        vals = [round(base * (1 + 0.003 * m), 2) if rng.random() > 0.1 else None
                for m in range(n_months)]
        if all(v is None for v in vals):
            vals[-1] = round(base, 2)
        zori.append((z, *vals))
        rent_zips.add(z)

    truth: dict = {}
    keys = [(y, c) for y in FOOD_YEARS for c in nta_codes]
    # in-feed duplicate keys: a second, later row for some keys wins
    keys += [keys[rng.randrange(len(keys))] for _ in range(len(keys) // 20)]
    food = food_rows(rng, keys, 0, names, truth)

    acs_truth: dict = {}
    acs_zips = zips[: n_zctas - 15] + [str(12001 + i) for i in range(10)]
    acs = acs_rows(rng, acs_zips, acs_truth)

    return Warehouse(ntas=ntas, zctas=zctas, zori_cols=["RegionName", *months], zori=zori,
                     food=food, acs=acs, nta_codes=nta_codes, food_truth=truth,
                     acs_truth=acs_truth, zcta_zips=set(zips), rent_zips=rent_zips)


def _month_ends(start_year: int, n: int) -> list[str]:
    import calendar

    out = []
    for m in range(n):
        y, mo = start_year + m // 12, m % 12 + 1
        out.append(f"{y:04d}-{mo:02d}-{calendar.monthrange(y, mo)[1]:02d}")
    return out


def food_batch(rng: random.Random, wh: Warehouse, step: int, n: int = 2000) -> list[tuple]:
    """One food upsert batch over existing keys, repeated within the batch.
    Updates ``wh``'s ground truth."""
    names = {r[1]: (r[2], r[3]) for r in wh.ntas}
    keys = [(rng.choice(FOOD_YEARS), rng.choice(wh.nta_codes)) for _ in range(n)]
    return food_rows(rng, keys, 10_000_000 * (step + 1), names, wh.food_truth)


def acs_batch(rng: random.Random, wh: Warehouse, n: int = 300) -> list[tuple]:
    """One ACS upsert batch over known ZIPs. Updates ``wh``'s ground truth."""
    zips = sorted(wh.zcta_zips)
    return acs_rows(rng, rng.sample(zips, min(n, len(zips))), wh.acs_truth)
