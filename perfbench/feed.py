"""Seeded synthetic IPEDS ``directory`` feed for the ``etl_load`` workload.

``year_pages(seed, version)`` returns the API pages for one year plus
the typed core values the registry mapper must produce from them.
Version 0 is the first (insert) load. Each later version revises a
seeded fraction of the records on one seeded page and leaves every
other page byte-identical, so the hash-guarded raw landing sees both
a changed and an unchanged page.

Records carry the FIXTURES F2 value cases: numeric and string
sentinels (-1/-2/-3), alias keys (``instnm``, ``stabbr``, ``lat``,
``lon``, ``control``), a sentinel in the preferred key with a real
value in the fallback, malformed casts, a decimal in an int field, a
legit negative that must survive, whitespace-only strings, records
without ``year`` (backfilled from the page) and an unknown drift field.
"""

from __future__ import annotations

import random

YEAR = 2015
N_RECORDS = 1_000
PAGE_SIZE = 500
#: share of the revised page's records that change in a new version
REVISE_FRACTION = 0.3
STATES = ("AL", "AZ", "CA", "CO", "FL", "GA", "IL", "MA", "MI", "NY", "OH", "OR", "PA", "TX", "WA")

#: core columns whose values the output check compares per record
CHECKED = (
    "unitid", "year", "inst_name", "state_abbr", "city", "fips", "county_fips",
    "region", "latitude", "longitude", "sector", "inst_control", "hbcu", "inst_size",
)


def _base_record(rng: random.Random, uid: int) -> tuple[dict, dict]:
    """One raw record and the core values expected from it."""
    name = f"Institution {uid}"
    state = rng.choice(STATES)
    lat = round(rng.uniform(25.0, 49.0), 4)
    lon = round(rng.uniform(-124.0, -67.0), 4)
    rec: dict = {"unitid": uid}
    exp: dict = {"unitid": uid, "year": YEAR}

    if rng.random() >= 0.05:  # the rest lack ``year``: backfilled from the page
        rec["year"] = YEAR

    r = rng.random()
    if r < 0.08:
        rec["instnm"] = name
    elif r < 0.11:
        rec["inst_name"], rec["instnm"] = "-2", name  # sentinel preferred key
    else:
        rec["inst_name"] = name
    exp["inst_name"] = name

    rec["stabbr" if rng.random() < 0.1 else "state_abbr"] = state
    exp["state_abbr"] = state

    if rng.random() < 0.04:
        rec["city"], exp["city"] = "   ", None
    else:
        rec["city"] = exp["city"] = f"City {uid % 97}"

    r = rng.random()
    if r < 0.04:
        rec["fips"], exp["fips"] = "abc", None
    else:
        exp["fips"] = rng.randint(1, 56)
        rec["fips"] = exp["fips"]
    cf = rng.randint(1, 999)
    rec["county_fips"] = f" {cf} " if rng.random() < 0.1 else cf
    exp["county_fips"] = cf

    r = rng.random()
    if r < 0.03:
        rec["region"], exp["region"] = "12.5", None  # decimal in an int field
    elif r < 0.06:
        rec["region"], exp["region"] = -4, -4  # legit negative survives
    elif r < 0.09:
        rec["region"], exp["region"] = "-1", None  # string sentinel
    else:
        rec["region"] = exp["region"] = rng.randint(0, 9)

    r = rng.random()
    if r < 0.04:
        rec["latitude"], exp["latitude"] = "12.3.4", None
    elif r < 0.12:
        rec["lat"], exp["latitude"] = lat, lat
    else:
        rec["latitude"] = exp["latitude"] = lat
    rec["lon" if rng.random() < 0.08 else "longitude"] = lon
    exp["longitude"] = lon

    for col, sentinel, hi in (("sector", -1, 9), ("hbcu", -2, 2), ("inst_size", -3, 5)):
        if rng.random() < 0.05:
            rec[col], exp[col] = sentinel, None
        else:
            rec[col] = exp[col] = rng.randint(1, hi)
    ctl = rng.randint(1, 3)
    if rng.random() < 0.1:
        rec["control"] = str(ctl)
    else:
        rec["inst_control"] = ctl
    exp["inst_control"] = ctl

    if rng.random() < 0.02:
        rec["mystery_col"] = "?"  # drift field unknown to the registry
    return rec, exp


def _revise(rec: dict, exp: dict, version: int) -> None:
    name = f"Institution {rec['unitid']} rev{version}"
    rec["instnm" if "instnm" in rec else "inst_name"] = name
    exp["inst_name"] = name


def year_pages(seed: int, version: int) -> tuple[list[list[dict]], dict[int, dict]]:
    """Pages of the feed year at ``version`` and the expected core rows
    keyed by unitid. Deterministic in (seed, version)."""
    rng = random.Random(f"feed:{seed}")
    uids = sorted(rng.sample(range(100_000, 500_000), N_RECORDS))
    pairs = [_base_record(rng, u) for u in uids]
    n_pages = (N_RECORDS + PAGE_SIZE - 1) // PAGE_SIZE
    for v in range(1, version + 1):
        vr = random.Random(f"revise:{seed}:{v}")
        page = vr.randrange(n_pages)
        chunk = pairs[page * PAGE_SIZE:(page + 1) * PAGE_SIZE]
        for rec, exp in vr.sample(chunk, int(len(chunk) * REVISE_FRACTION)):
            _revise(rec, exp, v)
    pages = [
        [rec for rec, _ in pairs[i:i + PAGE_SIZE]] for i in range(0, N_RECORDS, PAGE_SIZE)
    ]
    expected = {
        exp["unitid"]: {c: exp[c] for c in CHECKED} for _, exp in pairs
    }
    return pages, expected
