"""The benchmark's catalog workload (perfbench/) checks each query's
output against a digest cached in perfbench/catalog_oracle.json, keyed
by the sha256 of the query's oracle SQL. An edited oracle string misses
that cache, and the benchmark then recomputes the oracle live (about 11
minutes for dedup_minhash_lsh). Each catalog query's oracle text must
hash to the recorded value.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest

from hridaya_steam_market_tracker_spark.queries import load_all

RECORDED = json.loads(
    (Path(__file__).resolve().parents[1] / "perfbench" / "catalog_oracle.json").read_text()
)


@pytest.mark.parametrize("name", sorted(RECORDED))
def test_catalog_oracle_sql_hash_unchanged(name):
    oracle = load_all()[name].oracle
    assert oracle is not None, name
    got = hashlib.sha256(oracle.encode()).hexdigest()
    assert got == RECORDED[name]["oracle_sql_sha256"], (
        f"{name}: oracle SQL changed; the catalog benchmark would recompute it live"
    )
