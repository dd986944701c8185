"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``write_landing`` (standard library only) writes Open Brewery DB shaped
  landing pages, one JSON array of ``PER_PAGE`` records per file, and
  returns what the medallion pipeline must produce from them: the bronze,
  silver and quarantine row counts and both gold tables.
* ``write_tables`` writes the TPC-H-ish parquet tables the registry
  queries read (numpy + pyarrow, both engine dependencies), at a fixed
  size so that only values, not volumes, change with the seed.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter

# The API page size (config.API_PER_PAGE_LIMIT); every landing file is one page.
PER_PAGE = 200
LANDING_PAGES = 40

KEY_FIELDS = ("id", "brewery_type", "state", "city", "country")
CANONICAL_TYPES = (
    "micro", "nano", "regional", "brewpub", "large",
    "planning", "bar", "contract", "proprietor", "closed",
)
# Types that recode to 'other'; NULL recodes to 'unknown'.
UNKNOWN_TYPES = ("taproom", "", "brew pub", "cidery")
DOMINANT_COUNTRY = "United States"
OTHER_COUNTRIES = (
    "England", "Ireland", "Scotland", "Poland", "Portugal",
    "South Korea", "Austria", "France", "Isle of Man",
)


def _brewery_type(rng: random.Random) -> str | None:
    roll = rng.random()
    if roll < 0.04:
        return None
    if roll < 0.12:
        return rng.choice(UNKNOWN_TYPES)
    t = rng.choice(CANONICAL_TYPES)
    # messy spellings of canonical types: case and space padding
    return rng.choice((t, t.upper(), t.capitalize(), f" {t} ", f"{t.upper()}  "))


def _website(rng: random.Random, n: int) -> str | None:
    # the four URL shapes: NULL, empty, bare host (gets http://), schemed
    return rng.choice(
        (None, "", f" www.brewery{n}.com ", f"brewery{n}.net",
         f"https://brewery{n}.com", f"http://www.brewery{n}.org")
    )


def _record(rng: random.Random, n: int) -> dict:
    if rng.random() < 0.8:
        country = rng.choice((DOMINANT_COUNTRY, DOMINANT_COUNTRY.lower(), DOMINANT_COUNTRY.upper()))
    else:
        country = rng.choice(OTHER_COUNTRIES)
    state = f"state_{rng.randrange(40)}"
    rec = {
        "id": f"{rng.getrandbits(64):016x}-{n}",
        "name": f"Brewery {n}",
        "brewery_type": _brewery_type(rng),
        "address_1": f"{rng.randrange(1, 9999)} Main St",
        "address_2": None,
        "address_3": None,
        "city": f"city_{rng.randrange(150)}",
        "state_province": state,
        "postal_code": f"{rng.randrange(100000):05d}",
        "country": country,
        "longitude": round(rng.uniform(-180, 180), 6),
        "latitude": round(rng.uniform(-90, 90), 6),
        "phone": f"{rng.randrange(10**9, 10**10)}",
        "website_url": _website(rng, n),
        "state": rng.choice((state, state.upper())),
        "street": f"{rng.randrange(1, 9999)} Main St",
    }
    if rng.random() < 0.06:  # a missing key sends the record to quarantine
        rec[rng.choice(KEY_FIELDS)] = None
    return rec


def _silver_type(raw: str | None) -> str:
    """The silver brewery_type recode (operators.standardize), restated."""
    if raw is None:
        return "unknown"
    norm = raw.strip(" ").lower()
    return norm if norm in CANONICAL_TYPES else "other"


def landing_records(seed: int, pages: int = LANDING_PAGES) -> list[list[dict]]:
    rng = random.Random(seed)
    return [[_record(rng, p * PER_PAGE + i) for i in range(PER_PAGE)] for p in range(pages)]


def expected_medallion(pages: list[list[dict]]) -> dict:
    """Counts and gold tables the pipeline must produce from ``pages``."""
    records = [r for page in pages for r in page]
    valid = [r for r in records if all(r[k] is not None for k in KEY_FIELDS)]
    by_type_location = Counter(
        (_silver_type(r["brewery_type"]), r["country"].upper(), r["state"].upper(), r["city"].upper())
        for r in valid
    )
    by_location = Counter()
    for (_t, loc, state, city), n in by_type_location.items():
        by_location[(loc, state, city)] += n
    return {
        "bronze": len(records),
        "silver": len(valid),
        "quarantine": len(records) - len(valid),
        "gold": {"by_type_location": by_type_location, "by_location": by_location},
    }


def write_landing(landing_dir: str, seed: int, pages: int = LANDING_PAGES) -> dict:
    """Write the seeded landing pages; return the expectations plus the
    landing file count and bytes."""
    os.makedirs(landing_dir, exist_ok=True)
    data = landing_records(seed, pages)
    size = 0
    for i, page in enumerate(data, start=1):
        path = os.path.join(landing_dir, f"breweries_page{i}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(page, fh)
        size += os.path.getsize(path)
    expected = expected_medallion(data)
    expected.update(files=len(data), bytes=size)
    return expected


# --------------------------------------------------------------------------
# Registry tables (the shapes of the sf0.01 driver testdata)
# --------------------------------------------------------------------------

TABLE_ROWS = {
    "nation": 25,
    "customer": 1_500,
    "orders": 15_000,
    "lineitem": 60_000,
    "documents": 500,
    "embeddings": 500,
}
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query order group stream "
    "filter big vector"
).split()


def _documents(rng, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i >= 10 and roll < 0.10:  # near-duplicate: a few words replaced
            words = texts[int(rng.integers(i))].split()
            for j in rng.integers(len(words), size=max(1, len(words) // 20)):
                words[j] = _WORDS[int(rng.integers(len(_WORDS)))]
        elif i >= 10 and roll < 0.15:  # excerpt: a long contiguous slice
            words = texts[int(rng.integers(i))].split()
            cut = len(words) // 10
            words = words[cut:] if rng.random() < 0.5 else words[: len(words) - cut]
        else:
            words = [_WORDS[int(k)] for k in rng.integers(len(_WORDS), size=int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    return texts


def write_tables(out_dir: str, seed: int, names: list[str]) -> dict[str, int]:
    """Write the named tables as ``{out_dir}/{name}.parquet``; return row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_li = TABLE_ROWS["customer"], TABLE_ROWS["orders"], TABLE_ROWS["lineitem"]
    epoch = np.datetime64("1995-01-01", "us")
    day = np.timedelta64(86_400_000_000, "us")

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(n: int):
        return epoch + rng.integers(0, 2400, n) * day

    def pick(choices: list[str], n: int) -> list[str]:
        return [choices[k] for k in rng.integers(len(choices), size=n)]

    # Each builder draws from ``rng`` in a fixed order, so a table's
    # contents depend only on the seed, never on which other tables run.
    builders = {
        "nation": lambda: pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": lambda: pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "orders": lambda: pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": pa.array(days(n_ord), pa.timestamp("us")),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": lambda: pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": pa.array(days(n_li), pa.timestamp("us")),
        }),
        "documents": lambda: _documents_table(rng, pa),
        "embeddings": lambda: pa.table({
            "vec_id": pa.array(np.arange(TABLE_ROWS["embeddings"]), pa.int64()),
            "embedding": pa.array(
                list(rng.normal(0, 0.13, (TABLE_ROWS["embeddings"], 64)).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 10, TABLE_ROWS["embeddings"]), pa.int32()),
        }),
    }
    rows = {}
    for name in builders:
        table = builders[name]()
        if name in names:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
            rows[name] = table.num_rows
    return rows


def _documents_table(rng, pa):
    n = TABLE_ROWS["documents"]
    texts = _documents(rng, n)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [("en", "en", "de", "fr", "es", "zh")[k] for k in rng.integers(6, size=n)],
        "source": [f"src{k}" for k in rng.integers(20, size=n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
