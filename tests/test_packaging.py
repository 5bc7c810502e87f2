"""spark-submit packaging smoke: dist/engine.zip must be importable on
its own (the --py-files contract) — a fresh interpreter with the repo
root REMOVED from sys.path imports every engine module from the zip."""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_engine_zip_self_contained(tmp_path):
    out = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "package.py")],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    assert out.endswith("engine.zip")

    probe = r"""
import sys
sys.path = [p for p in sys.path if p not in ("", %r)]
sys.path.insert(0, %r)
import engine
assert engine.__file__.startswith(%r), engine.__file__
import engine.pipeline, engine.queries, engine.doc_queries
import engine.streaming, engine.tableio, engine.tableio_iceberg
import engine.multimodal, engine.runner, engine.generate
import engine.operators.core, engine.operators.asof, engine.operators.dedup
import engine.operators.similarity, engine.operators.rangejoin
import engine.operators.quality, engine.operators.skew, engine.operators.topk
import engine.operators.windows
import engine.sources.transcript_source
print("ZIP_IMPORT_OK")
""" % (str(ROOT), out, out)
    r = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True, text=True, cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "ZIP_IMPORT_OK" in r.stdout


def test_scripts_resolve_checkout_from_file():
    """Scripts find the engine relative to themselves, never through a
    hard-coded checkout path: run from an exported copy, they must
    import that copy's engine."""
    literal_path = re.compile(r"""sys\.path\.(insert|append)\([^)]*["']/""")
    offenders = [
        p.name
        for p in sorted((ROOT / "scripts").rglob("*.py"))
        if str(ROOT) in p.read_text() or literal_path.search(p.read_text())
    ]
    assert not offenders, offenders


def test_check_queries_help_starts_no_jvm():
    """`scripts/check_queries.py --help` prints usage and exits 0 before
    any Spark session (it used to take `--help` as the sf_dir)."""
    import time

    probe = r"""
import runpy, sys
sys.argv = [%r, "--help"]
try:
    runpy.run_path(sys.argv[0], run_name="__main__")
    code = None
except SystemExit as e:
    code = e.code
from pyspark import SparkContext
print("EXIT", code, "JVM", SparkContext._gateway is not None)
""" % str(ROOT / "scripts" / "check_queries.py")
    t0 = time.perf_counter()
    r = subprocess.run([sys.executable, "-c", probe], capture_output=True, text=True, timeout=120)
    elapsed = time.perf_counter() - t0
    assert r.returncode == 0, r.stderr[-2000:]
    assert "usage:" in r.stdout and "EXIT 0 JVM False" in r.stdout, r.stdout[-2000:]
    assert elapsed < 10, elapsed
