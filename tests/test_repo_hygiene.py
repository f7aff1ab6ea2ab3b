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


_PKG = "dww_data_pipeline_spark"
_ENGINE_ROOTS = ("functions", "operators", "plans", "sources", "streaming")


def _python_blocks(path: str) -> list[str]:
    import re

    with open(path, encoding="utf-8") as f:
        return re.findall(r"```python\n(.*?)```", f.read(), re.S)


def _snippet_names(tree) -> dict:
    """Local name → engine module or object for each ``from
    dww_data_pipeline_spark… import …`` in a snippet."""
    import ast
    import importlib

    names = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == _PKG:
            mod = importlib.import_module(node.module)
            for a in node.names:
                try:
                    obj = importlib.import_module(f"{node.module}.{a.name}")
                except ImportError:
                    obj = getattr(mod, a.name)
                names[a.asname or a.name] = obj
    return names


def _resolve_engine_call(func, names):
    """The engine object a call's function expression names (``P.f``,
    ``read_csv_dim``, ``operators.documents.kml_tracks``), or None when
    its root is not an engine name (a local variable's method).
    Raises AttributeError when the engine has no such name."""
    import ast
    import importlib
    import inspect

    parts = []
    node = func
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    root, rest = node.id, parts[::-1]
    if root in names:
        obj = names[root]
    elif root in _ENGINE_ROOTS:
        obj = importlib.import_module(f"{_PKG}.{root}")
    else:
        return None
    for attr in rest:
        if inspect.ismodule(obj) and not hasattr(obj, attr):
            try:
                importlib.import_module(f"{obj.__name__}.{attr}")
            except ImportError:
                pass
        obj = getattr(obj, attr)
    return obj


def test_migration_snippets_bind():
    """Every engine call in MIGRATION.md's python snippets names a
    function that exists and accepts the arguments the snippet passes
    (``inspect.signature(fn).bind``; a lone ``...`` argument marks the
    arguments as elided, so only the name is checked).  No Spark
    session starts."""
    import ast
    import inspect

    sys.path.insert(0, REPO)
    blocks = _python_blocks(os.path.join(REPO, "MIGRATION.md"))
    assert blocks
    bad, checked = [], 0
    names = {}  # later snippets reuse earlier imports (``P`` in §2)
    for block in blocks:
        tree = ast.parse(block)
        names.update(_snippet_names(tree))
        for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
            where = ast.unparse(call.func)
            try:
                fn = _resolve_engine_call(call.func, names)
            except AttributeError as e:
                bad.append(f"{where}: {e}")
                continue
            if fn is None:
                continue
            checked += 1
            args, kws = call.args, call.keywords
            if (
                len(args) == 1
                and not kws
                and isinstance(args[0], ast.Constant)
                and args[0].value is Ellipsis
            ):
                continue
            try:
                inspect.signature(fn).bind(
                    *[None] * len(args), **{k.arg: None for k in kws}
                )
            except TypeError as e:
                bad.append(f"{where}: {e}")
    assert checked, "no engine calls found in MIGRATION.md snippets"
    assert not bad, f"MIGRATION.md snippets that cannot run: {bad}"


def _engine_modules() -> dict[str, str]:
    """Dotted path below the package (``operators.dedup``) → importable
    module name, for every engine module file."""
    import glob

    root = os.path.join(REPO, _PKG)
    out = {}
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, root)[: -len(".py")].replace(os.sep, ".")
        if not rel.endswith("__init__"):
            out[rel] = f"{_PKG}.{rel}"
    return out


def _coverage_section2(text: str) -> str:
    """COVERAGE.md's table rows from the survey-inventory sections
    (everything before the TPC-H shapes section)."""
    head = text.split("\n## TPC-H decision-support shapes", 1)[0]
    return "\n".join(line for line in head.splitlines() if line.startswith("|"))


def test_docs_cite_existing_engine_names():
    """Every backticked ``module.func`` citation in MIGRATION.md and in
    COVERAGE.md's §2 tables names something the engine module still
    has.  ``module`` is a dotted (or slashed) path below the package or
    a unique module basename; backticked file names and non-engine
    prefixes are not citations.  Imports only; no Spark session."""
    import importlib
    import re

    sys.path.insert(0, REPO)
    modules = _engine_modules()
    by_base: dict[str, list[str]] = {}
    for rel in modules:
        by_base.setdefault(rel.rsplit(".", 1)[-1], []).append(rel)
    with open(os.path.join(REPO, "MIGRATION.md"), encoding="utf-8") as f:
        migration = f.read()
    with open(os.path.join(REPO, "COVERAGE.md"), encoding="utf-8") as f:
        coverage = _coverage_section2(f.read())
    cite = re.compile(r"`([A-Za-z_][\w/.]*)\.([A-Za-z_]\w*)`")
    file_exts = {"py", "md", "json", "js", "sh", "csv", "txt", "parquet"}
    missing, checked = [], 0
    for doc, text in (("MIGRATION.md", migration), ("COVERAGE.md", coverage)):
        for m in cite.finditer(text):
            path, name = m.group(1).replace("/", "."), m.group(2)
            path = path.removeprefix(f"{_PKG}.")
            if name in file_exts:
                continue
            if path in modules:
                rel = path
            elif len(by_base.get(path, [])) == 1:
                rel = by_base[path][0]
            else:
                continue
            checked += 1
            if not hasattr(importlib.import_module(modules[rel]), name):
                missing.append(f"{doc}: {m.group(0)}")
    assert checked, "no engine citations found"
    assert not missing, f"docs cite engine names that do not exist: {missing}"


def _engine_attribute_uses(attr: str):
    """(path below the package, line) of every ``.<attr>`` attribute
    in the engine package's source.  No Spark session."""
    import ast
    import glob

    root = os.path.join(REPO, _PKG)
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        rel = os.path.relpath(path, root)
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == attr:
                yield rel, node.lineno


def test_materialized_state_has_one_owner():
    """The Spark application id keys cached state only inside
    ``sources/catalog.py`` (``cached_artifact``), and no builder under
    ``plans/``, ``operators/`` or ``sources/`` releases a persisted
    frame by hand: ``session.persisted`` owns every persist's release."""
    app_ids = sorted(_engine_attribute_uses("applicationId"))
    assert app_ids and all(
        rel == os.path.join("sources", "catalog.py") for rel, _ in app_ids
    ), f"applicationId outside sources/catalog.py: {app_ids}"
    manual = [
        (rel, line)
        for rel, line in _engine_attribute_uses("unpersist")
        if rel.split(os.sep)[0] in ("plans", "operators", "sources")
    ]
    assert not manual, f"hand-written unpersist calls: {manual}"
