"""The `catalog` workload's query list, its fixtures, and the DuckDB oracle
answers its correctness check compares against, kept as digests.

The fixtures in `perfbench/sf0.1/` are a byte-for-byte copy of the engine's
shared sf0.1 test fixtures (TESTDATA.md, seed 42; `SHA256SUMS` lists them),
kept in the benchmark so a run reads nothing outside its checkout.

Some oracles are quadratic: `dedup_minhash_lsh`'s DuckDB query compares every
pair of the 5,000 documents, about 11 minutes on one core, far longer than a
run may take. An oracle's answer depends only on the fixtures and its SQL,
so it is computed once and stored in `catalog_oracle.json`:

    python3 perfbench/catalog_oracle.py

A digest is the SHA-256 of `tests/oracle.py`'s canonical form (columns and
rows sorted, cells canonicalized), the form its `compare` checks for
equality: equal digests mean `compare` passes. A query whose oracle SQL
differs from the one recorded is checked against DuckDB on the spot.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "sf0.1")
DIGESTS = os.path.join(HERE, "catalog_oracle.json")

# One pass, in the order a seed then shuffles; each query's operator module
# (None: plain Catalyst), the layer `operators.<module>.s` charges it to.
QUERIES = {
    "tpch_q1_pricing_summary": None,
    "e2_recent_n_per_key": None,
    "dedup_minhash_lsh": "dedup",
    "ann_lsh_multiprobe_topk": "similarity",
    "bm25_search_scores": "retrieval",
    "duplicate_span_stats": "dedup",
    "dsir_importance_weights": "dsir",
}


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def digest(df) -> str:
    """Digest of a pandas answer in tests/oracle.py's canonical form."""
    from tests.oracle import canonicalize

    return _sha(json.dumps(canonicalize(df)))


def fixtures_intact() -> list[str]:
    """Names of fixture files whose content differs from SHA256SUMS."""
    bad = []
    with open(os.path.join(FIXTURES, "SHA256SUMS")) as fh:
        for line in fh:
            want, name = line.split()
            with open(os.path.join(FIXTURES, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != want:
                    bad.append(name)
    return bad


def expected_digest(name: str, oracle_sql: str) -> str:
    """The oracle's answer digest: the recorded one while the oracle SQL is
    unchanged, else computed with DuckDB now."""
    with open(DIGESTS) as fh:
        rec = json.load(fh).get(name)
    if rec and rec["oracle_sql_sha256"] == _sha(oracle_sql):
        return rec["digest"]
    from tests.oracle import duck_connection

    return digest(duck_connection(FIXTURES).execute(oracle_sql).df())


def main() -> int:
    sys.path[:0] = [os.path.dirname(HERE)]
    from hridaya_steam_market_tracker_spark.queries import load_all
    from tests.oracle import duck_connection

    registry = load_all()
    con = duck_connection(FIXTURES)
    out = {}
    for name in QUERIES:
        t = time.perf_counter()
        df = con.execute(registry[name].oracle).df()
        out[name] = {"rows": len(df), "digest": digest(df),
                     "oracle_sql_sha256": _sha(registry[name].oracle)}
        print(f"{name}: {len(df)} rows, {time.perf_counter() - t:.1f} s", flush=True)
    with open(DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
