"""Deterministic benchmark inputs.

``write_base`` writes the base star-schema fixture (one parquet file per
table, the table names and column types of the engine's synthetic star
schema) from a fixed generator seed, so its oracle digests can be recorded
once and committed (``digests.json``). ``write_seeded`` derives the input of
one benchmark run: seed 0 is the base fixture as it is; any other seed is a
row-permuted copy whose tables are re-split into several files. Catalog
outputs are order-insensitive, so the recorded digests hold on every seed,
and an op whose output depends on row order shows up as failed.

``BreweryPages`` serves the seeded brewery pages of the ``medallion``
workload: the edge cases of the reference's bronze layer (mojibake names and
places, ``" United States"`` beside ``"United States"``, duplicate ids,
nulls, malformed coordinates), 200 records a page, generated per (seed,
page) so the transport pickles small and every page is reproducible.

Run as a script to write the inputs of one seed (the base fixture is
cached in ``<work_dir>``)::

    python3 perfbench/fixtures.py <work_dir> <seed> <out_dir>
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil
import sys

BASE_SEED = 42
SF = 0.01
SPLIT_FILES = 4        # files per table in a seeded (non-zero) copy
STREAM_FILES = 4       # events landing files, one micro-batch each
EMBED_DIM = 64
PER_PAGE = 200

_WORDS = (
    "a the key agg row scan slow fast table value part hash batch merge "
    "spark line sort window data column join small customer query order "
    "filter stream group big"
).split()
_ADJ = "small red blue large green steel dark light".split()
_NOUN = "ring widget bolt gear panel spring valve cable".split()


def _sizes(sf: float) -> dict[str, int]:
    n = lambda base: max(1, round(base * sf))  # noqa: E731
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "documents": n(50_000),
        "embeddings": n(50_000), "users": max(10, n(15_000)),
    }


def _day(rng: random.Random, start: dt.date, span_days: int) -> dt.datetime:
    d = start + dt.timedelta(days=rng.randrange(span_days))
    return dt.datetime(d.year, d.month, d.day)


def base_tables(sf: float = SF) -> dict:
    """The base fixture as ``{name: pyarrow.Table}``, a pure function of
    ``sf`` and ``BASE_SEED``."""
    import pyarrow as pa

    rng = random.Random(BASE_SEED)
    z = _sizes(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    nc = z["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(nc)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(nc)],
        "c_mktsegment": [rng.choice(segs) for _ in range(nc)],
    })
    ns = z["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(ns)], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(ns)],
    })
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    npart = z["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(npart)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(npart)],
        "p_type": [rng.choice(types) for _ in range(npart)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(npart)], pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(npart)],
    })
    no = z["orders"]
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array([rng.randrange(nc) for _ in range(no)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(no)],
        "o_totalprice": [round(rng.uniform(1000, 500_000), 2) for _ in range(no)],
        "o_orderdate": pa.array(
            [_day(rng, dt.date(1995, 1, 1), 2400) for _ in range(no)],
            pa.timestamp("us"),
        ),
        "o_orderpriority": [rng.choice(prio) for _ in range(no)],
    })
    nl = z["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array([rng.randrange(no) for _ in range(nl)], pa.int64()),
        "l_partkey": pa.array([rng.randrange(npart) for _ in range(nl)], pa.int64()),
        "l_suppkey": pa.array([rng.randrange(ns) for _ in range(nl)], pa.int64()),
        "l_linenumber": pa.array([rng.randint(1, 7) for _ in range(nl)], pa.int32()),
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(nl)],
        "l_extendedprice": [round(rng.uniform(900, 105_000), 2) for _ in range(nl)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(nl)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(nl)],
        "l_returnflag": [rng.choice("ANR") for _ in range(nl)],
        "l_linestatus": [rng.choice("FO") for _ in range(nl)],
        "l_shipdate": pa.array(
            [_day(rng, dt.date(1995, 1, 2), 2500) for _ in range(nl)],
            pa.timestamp("us"),
        ),
    })
    ne = z["events"]
    t0 = dt.datetime(2024, 1, 1)
    step = 30 * 86400 * 1_000_000 // ne
    ets = ["click", "error", "purchase", "signup", "view"]
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(
            [t0 + dt.timedelta(microseconds=i * step + rng.randrange(step))
             for i in range(ne)],
            pa.timestamp("us"),
        ),
        "user_id": pa.array([rng.randrange(z["users"]) for _ in range(ne)], pa.int64()),
        "event_type": [rng.choice(ets) for _ in range(ne)],
        "value": [round(rng.expovariate(1 / 40) + 0.01, 2) for _ in range(ne)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(ne)],
    })
    nd = z["documents"]
    texts = [
        " ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 110)))
        for _ in range(nd)
    ]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [rng.choice(["de", "en", "es", "fr", "zh"]) for _ in range(nd)],
        "source": [f"src{rng.randrange(20)}" for _ in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = z["embeddings"]
    vecs = []
    for _ in range(nv):
        v = [rng.gauss(0, 1) for _ in range(EMBED_DIM)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(nv)], pa.int32()),
    })
    return out


def write_base(out_dir: str, sf: float = SF) -> str:
    """Write the base fixture as ``<out_dir>/<table>.parquet`` files plus
    its ``FIXTURE_ID``, an order-insensitive digest of the rows: the oracle
    digests in digests.json hold only for that content. Written to a
    staging directory and renamed, so a reader never sees a partial
    fixture."""
    import pyarrow.parquet as pq

    if os.path.isdir(out_dir):
        return out_dir
    stage = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(stage)
    digest = hashlib.sha256()
    for name, table in sorted(base_tables(sf).items()):
        pq.write_table(table, os.path.join(stage, f"{name}.parquet"))
        rows = sorted(repr(tuple(r.values())) for r in table.to_pylist())
        digest.update(f"{name}:{table.column_names}:{rows}".encode())
    with open(os.path.join(stage, "FIXTURE_ID"), "w") as fh:
        fh.write(digest.hexdigest()[:16])
    os.rename(stage, out_dir)
    return out_dir


def fixture_id(base_dir: str) -> str:
    with open(os.path.join(base_dir, "FIXTURE_ID")) as fh:
        return fh.read().strip()


def _permuted(table, rng: random.Random):
    idx = list(range(table.num_rows))
    rng.shuffle(idx)
    return table.take(idx)


def _split_write(table, path: str, n_files: int) -> None:
    import pyarrow.parquet as pq

    os.makedirs(path)
    bounds = [round(i * table.num_rows / n_files) for i in range(n_files + 1)]
    for j in range(n_files):
        part = table.slice(bounds[j], bounds[j + 1] - bounds[j])
        pq.write_table(part, os.path.join(path, f"part-{j:05d}.parquet"))


def write_seeded(base_dir: str, out_dir: str, seed: int) -> str:
    """The star-schema input for ``seed``: the base fixture itself for seed
    0, otherwise a row-permuted copy with each table re-split into
    ``SPLIT_FILES`` files (a directory named ``<table>.parquet``)."""
    import pyarrow.parquet as pq

    from inbev_data_engineering_case_spark.testing import STAR_TABLE_NAMES

    if seed == 0:
        return base_dir
    rng = random.Random(seed)
    os.makedirs(out_dir)
    for name in STAR_TABLE_NAMES:
        table = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        _split_write(
            _permuted(table, rng), os.path.join(out_dir, f"{name}.parquet"),
            SPLIT_FILES,
        )
    return out_dir


def write_event_landing(base_dir: str, out_dir: str, seed: int) -> str:
    """The events table as a streaming landing directory of
    ``STREAM_FILES`` files, rows permuted by ``seed``."""
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(base_dir, "events.parquet"))
    _split_write(_permuted(table, random.Random(seed)), out_dir, STREAM_FILES)
    return out_dir


# --------------------------------------------------------------- breweries

_TYPES = [
    "micro", "nano", "regional", "brewpub", "large", "planning", "bar",
    "contract", "proprietor", "closed",
]
# (country as served, its states); the country spellings and state
# literals include the cases the silver layer must repair or merge
_EDGE_PLACES = [
    ("United States", ["California", "Colorado", "New York", "Oregon",
                       "Texas", "Washington", "Michigan", "Ohio", "Vermont",
                       "Maine", "Florida", "Illinois"]),
    (" United States", ["California", "Oregon", "Texas", "New York"]),
    ("united states", ["Colorado", "Vermont"]),
    ("Austria", ["K�rnten", "Nieder�sterreich", "Salzburg", "Tirol",
                 "Wien", "Kärnten", "Steiermark"]),
    ("Brazil", ["São Paulo", "Rio de Janeiro", "Minas Gerais",
                "Paraná"]),
    ("England", ["Greater London", "Yorkshire", "Kent", "Devon", "Bristol"]),
    ("Germany", ["Bayern", "Berlin", "Hessen", "Sachsen", "Hamburg"]),
    ("Ireland", ["Dublin", "Cork", "Galway"]),
    ("Scotland", ["Edinburgh", "Glasgow", "Highland"]),
    ("South Korea", ["Seoul", "Busan", "Gyeonggi"]),
    ("Poland", ["Mazowieckie", "Małopolskie", "Śląskie"]),
    ("Portugal", ["Lisboa", "Porto"]),
    ("France", ["Île-de-France", "Bretagne", "Occitanie"]),
    ("Isle of Man", ["Isle of Man"]),
    ("Singapore", ["Singapore"]),
]
# plus DISTRICTS synthetic states a country, named after the country as
# silver normalizes it, so its spellings share them: about 300 silver
# country/state partitions in all
DISTRICTS = 20
_PLACES = [
    (country, states + [f"{country.strip().title()} District {k}" for k in range(DISTRICTS)])
    for country, states in _EDGE_PLACES
]
_NAMES = [
    "Caf� Okei", "Wimitzbr�u", "Anheuser-Busch Inc ̢���� Williamsburg",
    "Brâu_Haus", "Hop_Yard", "North Star", "Iron Hill", "Stone Arch",
]
_CITIES = [
    "Klagenfurt am W�rthersee", "São Paulo", "San Diego", "Boulder",
    "Portland", "Mixed CASE city", "Old  Town", "Wien", "Dublin", "Seoul",
]


class BreweryPages:
    """Paged transport over seeded brewery records: ``self(page)`` returns
    that page's records as dicts keyed by the 16 bronze column names.

    About 1% of records repeat the previous record's id and fields
    (duplicate ids); ~20% have no street, coordinates are sometimes null
    or malformed. Records depend only on (seed, page)."""

    def __init__(self, seed: int, total: int):
        self.seed, self.total = seed, total

    @property
    def n_pages(self) -> int:
        return -(-self.total // PER_PAGE)

    def __call__(self, page: int) -> list[dict]:
        rng = random.Random(f"breweries:{self.seed}:{page}")
        lo = page * PER_PAGE
        hi = min(self.total, lo + PER_PAGE)
        recs: list[dict] = []
        for i in range(lo, hi):
            if recs and rng.random() < 0.01:
                recs.append(dict(recs[-1]))
                continue
            country, states = _PLACES[rng.randrange(len(_PLACES))]
            state = rng.choice(states)
            coord = rng.random()
            lon = None if coord < 0.1 else (
                "abc" if coord < 0.12 else f"{rng.uniform(-180, 180):.6f}")
            lat = None if lon is None else f"{rng.uniform(-90, 90):.6f}"
            recs.append({
                "id": f"{self.seed:04d}-{i:08d}-{rng.getrandbits(32):08x}",
                "name": f"{rng.choice(_NAMES)} {i}",
                "brewery_type": rng.choice(_TYPES),
                "address_1": None if rng.random() < 0.2 else f"{rng.randint(1, 9999)} Main St",
                "address_2": None if rng.random() < 0.95 else "Suite 100",
                "address_3": None,
                "city": rng.choice(_CITIES),
                "state_province": state,
                "postal_code": None if rng.random() < 0.05 else f"{rng.randint(10000, 99999)}",
                "country": country,
                "longitude": lon,
                "latitude": lat,
                "phone": None if rng.random() < 0.3 else f"{rng.randint(10**9, 10**10 - 1)}",
                "website_url": None if rng.random() < 0.5 else f"http://brewery{i}.example",
                "state": state,
                "street": None if rng.random() < 0.2 else f"{rng.randint(1, 9999)} Main St",
            })
        return recs


def main(argv: list[str]) -> int:
    work_dir, seed, run_dir = argv[0], int(argv[1]), argv[2]
    base = write_base(os.path.join(work_dir, f"base_sf{SF}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    star = write_seeded(base, os.path.join(run_dir, "star"), seed)
    landing = write_event_landing(base, os.path.join(run_dir, "landing"), seed)
    print(json.dumps({"base": base, "run": run_dir, "star": star,
                      "landing": landing}))
    return 0


if __name__ == "__main__":
    # import the package from the checkout root, not this directory
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main(sys.argv[1:]))
