"""Registry invariants for __spark_entry__.

Every gate is declared once, by ``@gate(sql)`` on its ``def q_*``; these
tests check the registry that builds, through the imported module only.
"""

from __future__ import annotations

import hashlib
import os
import re
import subprocess
import sys
import types

import pytest

import __spark_entry__ as entry

# SHA-256 over f"{key}\t{sha256(norm(sql))}\n" in queries() order: pins
# every gate name, the registry order and every oracle's SQL text
REGISTRY_DIGEST = "78e45271e7113f4448a4b949104bba87e2e6eca5598eb1f6213b0c846fdc4a2c"


def _norm(sql: str) -> str:
    # the oracle dir is absolute (it moves with the checkout); whitespace
    # runs follow the source indentation, which DuckDB ignores
    sql = sql.replace(entry._ORACLE_DIR, "<ORACLE_DIR>")
    return re.sub(r"\s+", " ", sql).strip()


def test_no_duplicate_registry_keys():
    # a second gate of a registered name raises, and neither queries()
    # nor oracle_sql() changes
    before_q, before_o = entry.queries(), entry.oracle_sql()

    def q_knn(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="q_knn"):
        entry.gate("SELECT 1")(q_knn)
    assert entry.queries() == before_q
    assert list(entry.queries()) == list(before_q)
    assert entry.oracle_sql() == before_o


def test_no_duplicate_oracle_keys():
    # a second twin for a gate that has one raises, and the registered
    # oracle keeps its text: no later entry can replace an earlier one
    before = entry.oracle_sql()
    assert all(isinstance(sql, str) and sql.strip() for sql in before.values())

    def q_sessionize(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="q_sessionize"):
        entry.gate("SELECT 1 AS replaced")(q_sessionize)
    assert entry.oracle_sql() == before
    assert list(entry.oracle_sql()) == list(before)


def test_every_query_def_is_registered():
    defs = {
        k for k, v in vars(entry).items()
        if k.startswith("q_") and isinstance(v, types.FunctionType)
    }
    assert defs == set(entry.queries())


def test_no_duplicate_query_defs():
    # a later same-named def rebinds the module attribute while the
    # registry still holds the first function
    for k, fn in entry.queries().items():
        assert fn is getattr(entry, k), k


def test_queries_and_oracles_align():
    assert list(entry.queries()) == list(entry.oracle_sql())
    assert len(entry.queries()) == 91


def test_registry_digest_is_pinned():
    oracles = entry.oracle_sql()
    lines = "".join(
        f"{k}\t{hashlib.sha256(_norm(oracles[k]).encode()).hexdigest()}\n"
        for k in entry.queries()
    )
    assert hashlib.sha256(lines.encode()).hexdigest() == REGISTRY_DIGEST


def test_gate_tmpdir_is_removed_at_exit():
    code = (
        "import os, __spark_entry__ as e\n"
        "p = e._gate_tmpdir('registry_test_')\n"
        "open(os.path.join(p, 'f'), 'w').close()\n"
        "print(p)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.abspath(entry.__file__)),
        capture_output=True, text=True, check=True, timeout=120,
    )
    path = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(path).startswith("registry_test_")
    assert not os.path.exists(path)
