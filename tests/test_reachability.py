"""``scripts/reachability.py``: an AST pass over the package, no Spark."""

from __future__ import annotations

import shutil
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _run(repo: Path) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(REPO / "scripts" / "reachability.py"), str(repo)],
        capture_output=True, text=True, timeout=300,
    )


def test_counts_the_repo():
    """The repo counts cleanly and holds no definition that nothing
    references (dead code is a failure, not a number to read)."""
    r = _run(REPO)
    assert r.returncode == 0, r.stderr
    assert "reached only by tests, of" in r.stdout
    dead = [line for line in r.stdout.splitlines() if "unreferenced" in line]
    assert dead == []


def test_fails_on_an_unresolved_root(tmp_path):
    """A renamed root is an error, not a subtree counted as test-only."""
    shutil.copytree(
        REPO / "graph_importer_spark", tmp_path / "graph_importer_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    shutil.copy(REPO / "__spark_entry__.py", tmp_path)
    pipeline = tmp_path / "graph_importer_spark" / "pipeline.py"
    pipeline.write_text(pipeline.read_text().replace("def run_pipeline(", "def build_kg("))
    r = _run(tmp_path)
    assert r.returncode == 1
    assert "graph_importer_spark.pipeline.run_pipeline" in r.stderr
