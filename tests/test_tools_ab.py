"""``tools/ab.py``: the base revision's package under an alias, the
round summary, and cleanup on every exit.

One test starts the tool as a subprocess with its own JVM (about 20 s):
only that shows that the Python workers import the alias, which the
package's Arrow kernels need.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOL = ROOT / "tools" / "ab.py"


def _in_git_checkout() -> bool:
    return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                          capture_output=True).returncode == 0


pytestmark = pytest.mark.skipif(not _in_git_checkout(), reason="needs a git checkout")


@pytest.fixture
def ab():
    saved_path, saved_modules = list(sys.path), set(sys.modules)
    spec = importlib.util.spec_from_file_location("_tool_ab", TOOL)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    try:
        yield module
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            if name == module.ALIAS or name.startswith(module.ALIAS + "."):
                del sys.modules[name]


def test_head_under_alias_has_heads_queries_in_a_distinct_registry(ab, tmp_path):
    from gomaxscale_spark.plans import all_queries
    from gomaxscale_spark.plans.base import REGISTRY

    base = ab.load_base("HEAD", str(tmp_path / "src"))
    assert list(base) == list(all_queries())
    base_registry = sys.modules[f"{ab.ALIAS}.plans.base"].REGISTRY
    assert base_registry is not REGISTRY
    assert base["dedup_minhash_lsh"].fn is not REGISTRY["dedup_minhash_lsh"].fn
    assert base["dedup_minhash_lsh"].fn.__module__ == f"{ab.ALIAS}.plans.llm"


def test_summary_matches_hand_computed_numbers(ab):
    got = ab.summarize({"base": [1.0, 2.0, 3.0, 4.0, 5.0], "head": [2.0, 1.0, 1.0, 1.0, 5.0]})
    # statistics.quantiles(n=4), exclusive method: q1 = x(1.5), q3 = x(4.5)
    assert got["base"] == {"median_s": 3.0, "q1_s": 1.5, "q3_s": 4.5, "wins": 1}
    assert got["head"] == {"median_s": 1.0, "q1_s": 1.0, "q3_s": 3.5, "wins": 3}
    assert got["ratio"] == pytest.approx(1.0 / 3.0)
    one = ab.summarize({"base": [2.0], "head": [1.0]})
    assert one["base"] == {"median_s": 2.0, "q1_s": 2.0, "q3_s": 2.0, "wins": 0}
    assert one["head"]["wins"] == 1 and one["ratio"] == 0.5


def test_unknown_query_or_revision_fails_before_spark_and_leaves_nothing(
        ab, tmp_path, monkeypatch, sf_dir, capsys):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(ab, "get_session", lambda *a, **k: pytest.fail("Spark started"))
    pythonpath = os.environ.get("PYTHONPATH")
    rc = ab.main(["--base", "HEAD", "--sf-dir", sf_dir,
                  "--queries", "dedup_minhash_lsh,no_such_query"])
    assert rc == 2
    assert "no_such_query" in capsys.readouterr().err
    assert list(tmp_path.iterdir()) == []
    assert os.environ.get("PYTHONPATH") == pythonpath
    with pytest.raises(subprocess.CalledProcessError):
        ab.main(["--base", "no-such-revision", "--sf-dir", sf_dir])
    assert list(tmp_path.iterdir()) == []


def test_arrow_udf_query_runs_on_the_alias_side(tmp_path, sf_dir):
    """``dq_embedding_profile`` runs the Arrow kernel
    ``vector_kernel.moment_partials``, which workers unpickle by module
    reference: the base side fails with ModuleNotFoundError unless the
    alias is on their path."""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, str(TOOL), "--base", "HEAD", "--sf-dir", sf_dir,
         "--queries", "dq_embedding_profile", "--rounds", "1"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    assert [x["query"] for x in lines] == ["dq_embedding_profile"]
    for side in ("base", "head"):
        assert lines[0][side]["jobs"] > 0 and lines[0][side]["cpu_ms"] > 0
    assert lines[0]["base"]["wins"] + lines[0]["head"]["wins"] <= 1
    assert list(tmp_path.iterdir()) == []
