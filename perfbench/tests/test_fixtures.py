"""Seeded inputs: the same seed gives identical bytes, another seed
differs, and a seeded copy holds the same rows as the base fixture."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from inbev_data_engineering_case_spark.testing import STAR_TABLE_NAMES
from perfbench import fixtures

SF = 0.0005  # small enough for a unit test, every table non-empty


@pytest.fixture(scope="module")
def base(tmp_path_factory):
    return fixtures.write_base(str(tmp_path_factory.mktemp("fx") / "base"), SF)


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_base_is_a_pure_function_of_sf():
    a, b = fixtures.base_tables(SF), fixtures.base_tables(SF)
    assert all(a[t].equals(b[t]) for t in STAR_TABLE_NAMES)


def test_same_seed_same_bytes_other_seed_differs(base, tmp_path):
    one = _tree_bytes(fixtures.write_seeded(base, str(tmp_path / "a"), 7))
    again = _tree_bytes(fixtures.write_seeded(base, str(tmp_path / "b"), 7))
    other = _tree_bytes(fixtures.write_seeded(base, str(tmp_path / "c"), 8))
    assert one == again
    assert one.keys() == other.keys()
    assert one != other


def test_seed_zero_is_the_base_fixture(base, tmp_path):
    assert fixtures.write_seeded(base, str(tmp_path / "z"), 0) == base


def test_seeded_copy_permutes_and_splits_the_same_rows(base, tmp_path):
    out = fixtures.write_seeded(base, str(tmp_path / "s"), 3)
    for t in ("lineitem", "documents"):
        orig = pq.read_table(os.path.join(base, f"{t}.parquet"))
        parts = os.listdir(os.path.join(out, f"{t}.parquet"))
        assert len(parts) == fixtures.SPLIT_FILES
        copy = pq.read_table(os.path.join(out, f"{t}.parquet"))
        key = orig.column_names[0]
        assert copy.column(key).to_pylist() != orig.column(key).to_pylist()
        assert sorted(copy.to_pylist(), key=str) == sorted(orig.to_pylist(), key=str)


def test_brewery_pages_are_deterministic_per_seed():
    a, b, c = (fixtures.BreweryPages(s, 1000) for s in (5, 5, 6))
    pages = range(a.n_pages)
    dump = lambda src: json.dumps([src(p) for p in pages]).encode()  # noqa: E731
    assert dump(a) == dump(b)
    assert dump(a) != dump(c)


def test_brewery_pages_carry_the_reference_edge_cases():
    src = fixtures.BreweryPages(1, 4000)
    recs = [r for p in range(src.n_pages) for r in src(p)]
    assert len(recs) == 4000
    ids = [r["id"] for r in recs]
    assert len(set(ids)) < len(ids)                    # duplicate ids
    countries = {r["country"] for r in recs}
    assert {"United States", " United States"} <= countries
    assert any("�" in r["name"] for r in recs)    # mojibake
    assert any(r["street"] is None for r in recs)
    assert all(r[k] for r in recs for k in ("id", "name", "city", "state", "country"))


def test_brewery_pages_spread_over_hundreds_of_places():
    src = fixtures.BreweryPages(1, 50_000)
    places = {(r["country"].strip().lower(), r["state"])
              for p in range(src.n_pages) for r in src(p)}
    assert len(places) > 300
