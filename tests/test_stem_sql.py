"""The shared stemmer SQL kernel (operators/stem_sql.py): every
stemmer renders through it, so the rendered text must not depend on
the process and an unknown engine must fail loudly."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from parquet_generator_spark.operators.analyzers import (
    _STEMMERS,
    _stem_expr,
)
from parquet_generator_spark.operators.stem_sql import let, quote_list

_DIGEST = """
import hashlib
from parquet_generator_spark.operators.analyzers import (
    _STEMMERS, _stem_expr)
from parquet_generator_spark.plans.analyzed_store import version_hash
h = hashlib.sha256()
for kind in ["s", *_STEMMERS]:
    for engine in ("spark", "duck"):
        h.update(_stem_expr(kind, "t", engine).encode())
print(version_hash(), h.hexdigest())
"""


def test_stemmer_sql_is_hash_seed_independent():
    """A set-ordered suffix list made the rendered SQL (and so the
    analyzed-store fingerprint) differ per process."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outs = []
    for seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=seed, PYTHONPATH=root)
        outs.append(subprocess.run(
            [sys.executable, "-c", _DIGEST], env=env, cwd=root,
            capture_output=True, text=True, check=True,
            timeout=120).stdout)
    assert outs[0] == outs[1]


@pytest.mark.parametrize("kind", sorted(_STEMMERS))
def test_unknown_engine_is_a_loud_error(kind):
    with pytest.raises(ValueError, match="unknown engine"):
        _stem_expr(kind, "t", "postgres")


def test_let_and_quote_list_render_per_engine():
    assert let("spark", "1", "v", "v + 1") == (
        "element_at(transform(array(1), v -> v + 1), 1)")
    assert let("duck", "1", "v", "v + 1") == (
        "(list_transform([1], v -> v + 1))[1]")
    assert quote_list(["a", "o'k"]) == "'a', 'o''k'"
