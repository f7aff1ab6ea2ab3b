"""Repo-hygiene gates that keep generated artifacts honest.

The round-5 verdict found COVERAGE.md's proof ledger stale (it said
162/244 while the truth was 212/244) because nothing enforced
regeneration after a CORRECTNESS_r{N}.json landed.  These tests make
staleness fail the suite.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_proof_ledger_fresh():
    """COVERAGE.md's generated ledger must match the CORRECTNESS files."""
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "proof_ledger.py"), "--check"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stdout + r.stderr


def test_proof_ledger_pending_vs_drift():
    """A driver artifact newer than the last rotation is PENDING (exit 0
    — the expected between-rounds state that red-flagged rounds 6–8),
    while a hand-edited ledger still fails even in that state."""
    import re

    check = [sys.executable, os.path.join(REPO, "tools", "proof_ledger.py"), "--check"]
    reg = os.path.join(REPO, "dww_data_pipeline_spark", "plans", "registry.py")
    hi = int(re.search(r"latest seen: r(\d+)", open(reg).read()).group(1))
    fake = os.path.join(REPO, f"CORRECTNESS_r{hi + 90}.json")
    cov = os.path.join(REPO, "COVERAGE.md")
    cov_text = open(cov).read()
    assert not os.path.exists(fake)
    try:
        # pick any real green row so the fake artifact parses as proof
        import glob
        import json

        src = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))[-1]
        rows = json.load(open(src))
        json.dump(dict(list(rows.items())[:2]), open(fake, "w"))
        r = subprocess.run(check, capture_output=True, text=True, timeout=600)
        assert r.returncode == 0 and "PENDING" in r.stdout, r.stdout + r.stderr
        # hand-edit on top of the pending artifact must still fail
        open(cov, "w").write(cov_text.replace("| 0 | `", "| 0 | `HANDEDIT", 1))
        r = subprocess.run(check, capture_output=True, text=True, timeout=600)
        assert r.returncode == 1 and "STALE" in r.stdout, r.stdout + r.stderr
    finally:
        open(cov, "w").write(cov_text)
        if os.path.exists(fake):
            os.remove(fake)


def test_bench_set_partitions_registry():
    """Every registered query is either benched (HEADLINE + EXTRA) or
    explicitly excluded with a reason category in bench.BENCH_EXCLUDED
    — the bench-set rule is a checkable property, not a curated list
    (round-8 verdict ask #7)."""
    sys.path.insert(0, REPO)
    import bench

    from dww_data_pipeline_spark.plans.registry import all_queries

    registered = set(all_queries())
    benched = set(bench.HEADLINE) | set(bench.EXTRA)
    excluded = set(bench.BENCH_EXCLUDED)
    assert not (benched & excluded), (
        f"queries both benched and excluded: {sorted(benched & excluded)}"
    )
    unaccounted = registered - benched - excluded
    assert not unaccounted, (
        f"queries neither benched nor explicitly excluded: "
        f"{sorted(unaccounted)} — add to bench.EXTRA or BENCH_EXCLUDED"
    )
    ghosts = (benched | excluded) - registered
    assert not ghosts, f"bench lists reference unregistered queries: {sorted(ghosts)}"


def test_registry_prefix_spends_sample_on_unproven():
    """No unproven query may wait BEHIND the ~50-slot driver prefix while
    an already-proven query occupies a prefix slot (the round-4 rotation
    defect).  Re-verification picks in the prefix are fine once every
    unproven query is already inside it."""
    sys.path.insert(0, REPO)
    from tools.proof_ledger import _proof_rounds

    from dww_data_pipeline_spark.plans.registry import REGISTRY, all_queries

    order = list(all_queries())
    proved = _proof_rounds({n for n in order if REGISTRY[n].oracle is not None})
    waiting = [n for n in order[50:] if n not in proved]
    wasted = [n for n in order[:50] if n in proved]
    assert not (waiting and wasted), (
        f"rotation defect: {len(waiting)} unproven queries wait beyond the "
        f"prefix ({waiting[:5]}…) while proven ones occupy prefix slots "
        f"({wasted[:5]}…) — rotate registry._PRIORITY"
    )


def _tool_imports(path: str):
    """(module, names) for every ``from dww_data_pipeline_spark…`` /
    ``from tools…`` import in ``path`` (module level and inside
    functions)."""
    import ast

    prefixes = ("dww_data_pipeline_spark", "tools")
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and (node.module or "").split(".")[0] in prefixes
        ):
            yield node.module, [a.name for a in node.names]


def test_tools_imports_resolve():
    """Every engine or tools name a kept ``tools/*.py`` imports still
    exists, so a rename in the engine cannot silently break a tool
    that no test runs.  Imports only; no Spark session starts."""
    import glob
    import importlib

    sys.path.insert(0, REPO)
    scripts = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    assert scripts
    missing = []
    for path in scripts:
        for module, names in _tool_imports(path):
            where = f"{os.path.relpath(path, REPO)}: {module}"
            try:
                mod = importlib.import_module(module)
            except ImportError as e:
                missing.append(f"{where} ({e})")
                continue
            missing += [f"{where}.{n}" for n in names if not hasattr(mod, n)]
    assert not missing, f"unresolved tool imports: {missing}"


def _cited_tools(text: str):
    """(file name, pinned) for each ``tools/<name>.py|sh`` citation;
    ``pinned`` when it has the ``git show <rev>:tools/…`` form."""
    import re

    pattern = re.compile(
        r"(git show [0-9A-Za-z_.^~/-]+:)?(?<![\w/.-])tools/(\w+\.(?:py|sh))\b"
    )
    for m in pattern.finditer(text):
        yield m.group(2), m.group(1) is not None


def test_no_dangling_tool_citations():
    """A code comment, docstring, test or doc that cites a tool names a
    file that exists under ``tools/``, or pins a deleted one to the
    commit that still has it (``git show <rev>:tools/<file>``)."""
    import glob

    sources = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "README.md")]
    for pattern in (
        "dww_data_pipeline_spark/**/*.py",
        "tests/*.py",
        ".claude/skills/**/SKILL.md",
    ):
        sources += glob.glob(os.path.join(REPO, pattern), recursive=True)
    dangling = []
    for path in sorted(sources):
        with open(path, encoding="utf-8") as f:
            text = f.read()
        for name, pinned in _cited_tools(text):
            if not pinned and not os.path.exists(os.path.join(REPO, "tools", name)):
                dangling.append(f"{os.path.relpath(path, REPO)}: tools/{name}")
    assert not dangling, f"citations of missing tools: {sorted(set(dangling))}"
