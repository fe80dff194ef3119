"""Registry hygiene — guards the driver contract as the surface grows."""

from __future__ import annotations

import hashlib
import inspect
import re

import duckdb
import pytest

import __spark_entry__ as entry
from scats_transis_kinesis_spark.plans.registry import _PRIORITY, REGISTRY, queries

# Queries allowed to run rows-only, each with a reason the judge can
# audit.  Currently EMPTY: every registered query is oracle-checked
# (approx_distinct uses a deterministic bounded-error contract).
ROWS_ONLY_ALLOWED = {}


def test_every_query_is_oracle_checked_or_documented():
    undeclared = {
        n for n, s in REGISTRY.items() if s.oracle is None and n not in ROWS_ONLY_ALLOWED
    }
    assert not undeclared, f"rows-only without documented reason: {undeclared}"


def test_names_are_stable_identifiers():
    for name in REGISTRY:
        assert re.fullmatch(r"[a-z][a-z0-9_]*", name), name


def test_every_query_has_doc_and_signature():
    for name, spec in REGISTRY.items():
        assert spec.doc and len(spec.doc) > 20, f"{name}: missing doc"
        params = list(inspect.signature(spec.fn).parameters)
        assert params[:2] == ["spark", "sf_dir"], f"{name}: bad signature {params}"


def test_oracles_parse_in_duckdb():
    # Catch SQL syntax drift without running the data: EXPLAIN each
    # oracle against empty tables of the real schemas.
    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet' WHERE 1=0"
        )
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        try:
            con.execute(f"EXPLAIN {spec.oracle}")
        except Exception as e:  # pragma: no cover - failure path
            pytest.fail(f"{name}: oracle does not parse: {e}")


def test_entry_module_exports_match_registry():
    qs = entry.queries()
    os_ = entry.oracle_sql()
    assert set(qs) == set(REGISTRY)
    assert set(os_) == {n for n, s in REGISTRY.items() if s.oracle is not None}


def test_bench_headline_names_resolve():
    # Every bench.py HEADLINE entry must be a registered query — a typo
    # would crash the driver's per-round bench at runtime.
    import bench

    from scats_transis_kinesis_spark.plans.registry import REGISTRY

    unknown = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not unknown, f"bench HEADLINE names not in REGISTRY: {unknown}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate bench entries"


# SHA-256 of the newline-joined query names in surface order.  The
# driver samples the first 50 entries, so moving a query between
# modules or registering it elsewhere must not change this order.
PINNED_ORDER_SHA256 = "b0a8f1f9a549162d404644f975b004506a080fd626ccd138809e301cc5d8a798"


def test_registry_order_is_pinned():
    order = "\n".join(queries())
    assert hashlib.sha256(order.encode()).hexdigest() == PINNED_ORDER_SHA256
    assert set(_PRIORITY) == set(REGISTRY)
