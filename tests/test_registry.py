"""The discovered query registry: key set, front window, oracle
pairing and the bench headline all pinned; discovery refuses
ambiguous modules."""

from __future__ import annotations

import hashlib
from types import SimpleNamespace

import pytest

import __spark_entry__ as entrymod
import bench
from parquet_generator_spark.plans import merge

# sha256 of the sorted key names joined by "\n"; update it together
# with N_KEYS when a key is added or removed on purpose
N_KEYS = 427
KEYS_SHA256 = \
    "45fefb7a3472845326d5b032a1d86884ac99438b481595b87d3411773df0e2ee"


def test_registry_is_pinned():
    q = entrymod.queries()
    assert len(q) == N_KEYS
    digest = hashlib.sha256("\n".join(sorted(q)).encode()).hexdigest()
    assert digest == KEYS_SHA256
    assert list(q)[:50] == entrymod.FRONT_KEYS
    assert entrymod.oracle_sql().keys() == q.keys()
    assert set(bench.HEADLINE) <= q.keys()


def _mod(name, keys, oracle_keys=None):
    return SimpleNamespace(
        __name__=name,
        QUERIES={k: None for k in keys},
        ORACLES={k: "" for k in (keys if oracle_keys is None
                                 else oracle_keys)})


def test_discovery_raises_on_duplicate_key():
    with pytest.raises(ValueError, match="'b' defined in both m1 and m2"):
        merge([_mod("m1", ["a", "b"]), _mod("m2", ["b", "c"])])


def test_discovery_raises_on_queries_oracles_mismatch():
    with pytest.raises(ValueError, match=r"m1: .*\['b'\]"):
        merge([_mod("m1", ["a", "b"], oracle_keys=["a"])])
