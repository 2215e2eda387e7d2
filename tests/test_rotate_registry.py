"""The registry-rotation script rewrites ``__spark_entry__``'s
``_REGISTRY`` table literal in place — a parsing bug would corrupt the
driver contract silently.  Pin the rewrite on a miniature fixture:
never-checked keys lead, ``--front`` rewrites come next, comments stay
attached to their entries, each row keeps its function and oracle
together, unknown flags and unknown --front names are hard errors."""

from __future__ import annotations

import importlib
import json
import subprocess
import sys

MINI_ENTRY = '''
_REGISTRY: dict[str, tuple[int, str]] = {
    "alpha": (1, "A"),
    # beta's comment rides with beta
    "beta": (2, "B"),
    "gamma": (3, "C"),
    "delta": (4, "D"),
    # trailing comment survives
}
'''


def _run(tmp_path, args):
    entry = tmp_path / "__spark_entry__.py"
    return subprocess.run(
        [sys.executable, "scripts/rotate_registry.py", *args],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        env={"PATH": "/usr/bin:/bin", "ROTATE_ENTRY_PATH": str(entry),
             "ROTATE_ROOT": str(tmp_path)},
    )


def _setup(tmp_path, checked):
    (tmp_path / "__spark_entry__.py").write_text(MINI_ENTRY)
    rows = {
        k: {"rows_match": True, "schema_match": True, "hash_match": True}
        for k in checked
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(rows))


def _order(tmp_path):
    src = (tmp_path / "__spark_entry__.py").read_text()
    import re

    m = re.search(r"_REGISTRY[^=]*= \{\n(.*?)\n\}", src, re.S)
    return re.findall(r'^\s*"([a-z]+)":', m.group(1), re.M)


def test_never_checked_lead_then_fronted(tmp_path):
    _setup(tmp_path, checked=["alpha", "beta", "gamma"])  # delta pending
    r = _run(tmp_path, ["--front", "gamma"])
    assert r.returncode == 0, r.stderr
    assert _order(tmp_path) == ["delta", "gamma", "alpha", "beta"]
    src = (tmp_path / "__spark_entry__.py").read_text()
    # comments stayed attached / survived
    assert "beta's comment rides with beta" in src
    assert "trailing comment survives" in src
    # the rewritten module still parses and evaluates
    spec = importlib.util.spec_from_file_location(
        "mini_entry", tmp_path / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert list(mod._REGISTRY) == ["delta", "gamma", "alpha", "beta"]
    assert mod._REGISTRY["gamma"] == (3, "C")


def test_dry_run_touches_nothing(tmp_path):
    _setup(tmp_path, checked=["alpha", "beta", "gamma"])
    before = (tmp_path / "__spark_entry__.py").read_text()
    r = _run(tmp_path, ["--dry-run", "--front", "beta"])
    assert r.returncode == 0, r.stderr
    assert (tmp_path / "__spark_entry__.py").read_text() == before


def test_unknown_flag_and_unknown_front_are_hard_errors(tmp_path):
    _setup(tmp_path, checked=["alpha"])
    before = (tmp_path / "__spark_entry__.py").read_text()
    assert _run(tmp_path, ["--dry"]).returncode != 0
    assert _run(tmp_path, ["--front", "nosuch"]).returncode != 0
    assert (tmp_path / "__spark_entry__.py").read_text() == before


def test_lru_sweep_orders_stalest_checked_first(tmp_path):
    """A query last green in r01 must sort ahead of one refreshed in
    r02 — the LRU sweep that guarantees every query's driver row is
    refreshed within ~#queries/window rounds."""
    _setup(tmp_path, checked=["alpha", "beta", "gamma"])  # all green r01
    rows = {
        k: {"rows_match": True, "schema_match": True, "hash_match": True}
        for k in ["alpha", "gamma"]  # alpha+gamma refreshed in r02
    }
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(rows))
    r = _run(tmp_path, [])
    assert r.returncode == 0, r.stderr
    # delta never checked -> leads; beta stalest (r01); alpha/gamma (r02)
    # keep original relative order as the tiebreak
    assert _order(tmp_path) == ["delta", "beta", "alpha", "gamma"]
