"""Driver-contract consistency: queries()/oracle_sql() stay aligned
(every oracle has a query; rows-only entries are the documented set),
and each query function is importable and planable on sf0.001 without
running a job where possible."""

from __future__ import annotations

import importlib.util
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _entry():
    spec = importlib.util.spec_from_file_location(
        "entrymod", ROOT / "__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


ROWS_ONLY = {"rolling_approx"}  # sketch values are engine-specific


def test_oracle_keys_align():
    m = _entry()
    q = set(m.queries())
    o = set(m.oracle_sql())
    assert o <= q, f"oracles without queries: {o - q}"
    assert q - o == ROWS_ONLY, f"unexpected rows-only entries: {q - o}"


def test_every_builder_and_oracle_is_registered():
    """A q_* builder or SQL_* oracle that was written but never put in
    the registry is dead code the driver never checks."""
    from engine import doc_queries, queries

    m = _entry()
    builders = list(m.queries().values())
    oracles = set(m.oracle_sql().values())
    for mod in (queries, doc_queries):
        for attr, val in vars(mod).items():
            if attr.startswith("q_"):
                assert any(val is b for b in builders), f"{mod.__name__}.{attr}"
            elif attr.startswith("SQL_"):
                assert val in oracles, f"{mod.__name__}.{attr}"


def test_asof_kernel_key_is_the_one_asof():
    """`asof_purchase_kernel` keeps its driver row and priority, and
    runs the same builder against the same oracle as `asof_purchase`."""
    m = _entry()
    q, o = m.queries(), m.oracle_sql()
    assert list(q)[2:5] == ["asof_purchase", "asof_purchase_kernel", "asof_purchase_strict"]
    assert q["asof_purchase_kernel"] is q["asof_purchase"]
    assert o["asof_purchase_kernel"] == o["asof_purchase"]


def test_gate_contract_digest():
    """The gate contract is the ordered query keys and every oracle
    string. Renaming, reordering or editing any of them changes this
    digest; update it only with a deliberate contract change."""
    import hashlib
    import json

    m = _entry()
    contract = json.dumps({"q": list(m.queries()), "o": m.oracle_sql()})
    assert hashlib.sha256(contract.encode()).hexdigest() == (
        "c6f3eadd1989c3461d0d9e8afa018c69553c0a249fa1843ed167a60b96984369"
    )


def test_check_queries_rejects_unknown_names():
    """A typo must not check nothing and report FAILURES: 0."""
    proc = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "check_queries.py"),
         "unused_sf_dir", "no_such_query"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2, proc.stdout + proc.stderr
    assert "no_such_query" in proc.stderr


def test_oracles_are_nonempty_sql():
    m = _entry()
    for name, sql in m.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_rows_only_entries_document_why():
    """A query exempted from the oracle gate must say so in its own
    docstring — the exemption is part of the contract, not a loophole."""
    m = _entry()
    for name in ROWS_ONLY:
        doc = m.queries()[name].__doc__ or ""
        assert "rows-only" in doc, f"{name}: undocumented rows-only exemption"


def test_every_query_is_nonvacuous(spark):
    """Every driver-gate query returns rows at sf0.001 — a green
    oracle comparison over 0-vs-0 rows proves nothing (the r2
    dedup_embedding lesson: an operator that unconditionally returned
    nothing would still 'pass'). Any future query whose natural result
    is empty must plant a fixture inside the query, as the dedup/
    similarity queries do."""
    m = _entry()
    for name, fn in m.queries().items():
        assert fn(spark, "/root/testdata/sf0.001").count() > 0, (
            f"{name}: vacuous at sf0.001"
        )
