"""Repo-hygiene meta-tests (VERDICT r5 #2/#3): every public extension
function must be reachable from a gate query or a test (no dark code),
no extension module reads the environment, and the committed selfcheck
sweep logs must cover exactly the registered query surface (the
scale-reverification discipline cannot silently lapse again)."""

from __future__ import annotations

import ast
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent
EXT = REPO / "sparksync" / "ext"


def _public_functions(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text())
    return [
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.name.startswith("_")
    ]


def _referenced_names(fn_node: ast.AST) -> set:
    names = set()
    for node in ast.walk(fn_node):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
    return names


def test_no_dark_ext_functions():
    """Every public function in sparksync/ext/* is reachable — directly
    referenced by name from queries.py (a gate query) or a test module,
    or transitively called by a function that is. A function nothing
    gates, tests, or uses is dark code by this repo's standard
    (VERDICT r5 'What's wrong' #2)."""
    # queries became a package in round 13 (VERDICT r12 #4) — the gate
    # corpus is every module in it
    corpus = "".join(
        p.read_text() for p in sorted((REPO / "sparksync" / "queries").glob("*.py"))
    )
    for t in (REPO / "tests").glob("test_*.py"):
        if t.name == "test_meta.py":
            continue
        corpus += t.read_text()
    # Per-function reference graph across the ext package: helper
    # functions (codecs, sketch internals) count as covered only when a
    # gated/tested function transitively calls them.
    edges: dict[str, set] = {}
    for mod in sorted(EXT.glob("*.py")):
        if mod.name.startswith("_"):
            continue
        tree = ast.parse(mod.read_text())
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                key = f"{mod.name}:{node.name}"
                edges[key] = _referenced_names(node)
    public = {k for k in edges if not k.split(":", 1)[1].startswith("_")}
    reachable = {
        k for k in edges if re.search(rf"\b{re.escape(k.split(':', 1)[1])}\b", corpus)
    }
    changed = True
    while changed:
        changed = False
        for k in edges:
            if k in reachable:
                continue
            bare = k.split(":", 1)[1]
            if any(bare in edges[r] for r in reachable):
                reachable.add(k)
                changed = True
    dark = sorted(public - reachable)
    assert dark == [], f"ungated/untested public ext functions: {dark}"


def test_ext_reads_no_environment():
    """No operator in sparksync/ext/ reads an environment variable
    (os.environ / os.getenv through any alias, or imported from os):
    each operator has one code path, so an env-gated arm or tuning
    knob cannot come back unnoticed. Deployment settings belong in
    session.py, outside ext/."""
    env = {"environ", "environb", "getenv", "getenvb"}
    hits = []
    for mod in sorted(EXT.glob("*.py")):
        for node in ast.walk(ast.parse(mod.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in env:
                names = [node.attr]
            elif isinstance(node, ast.ImportFrom) and node.module == "os":
                names = [a.name for a in node.names if a.name in env]
            else:
                continue
            hits += [f"{mod.name}:{node.lineno} {n}" for n in names]
    assert hits == [], f"environment reads in sparksync/ext: {hits}"


def _latest_sweep_logs():
    logs = {}
    for p in (REPO / "tools").glob("selfcheck_r*.log"):
        m = re.match(r"selfcheck_r(\d+)(_sf01)?\.log$", p.name)
        if m:
            logs.setdefault(int(m.group(1)), {})["sf01" if m.group(2) else "sf001"] = p
    assert logs, "no committed selfcheck sweep logs at all"
    latest = max(logs)
    return latest, logs[latest]


def test_sweep_logs_cover_registered_surface():
    """The newest committed tools/selfcheck_r{N}.log (sf0.01) and
    _sf01.log (sf0.1) must (a) exist as a pair, (b) list exactly the
    queries registered in __spark_entry__.queries(), and (c) contain
    zero failing rows. This makes the full-surface sweep un-lapsable:
    adding a query without re-sweeping turns this test red."""
    import sys

    sys.path.insert(0, str(REPO))
    from __spark_entry__ import queries

    registered = set(queries())
    latest, pair = _latest_sweep_logs()
    assert set(pair) == {"sf001", "sf01"}, (
        f"round {latest} sweep incomplete: have {sorted(pair)}, need both SFs"
    )
    for label, path in sorted(pair.items()):
        text = path.read_text()
        seen = set(re.findall(r"^(?:ok|FAIL)\s+(q\d+\w*):", text, re.M))
        fails = re.findall(r"^FAIL\s+(q\d+\w*):", text, re.M)
        assert fails == [], f"{path.name}: failing rows {fails}"
        missing = registered - seen
        extra = seen - registered
        assert not missing and not extra, (
            f"{path.name} ({label}) out of sync with queries(): "
            f"missing={sorted(missing)} extra={sorted(extra)}"
        )


def test_readme_counts_match_registry():
    """README's advertised surface counts must equal the live registry
    (VERDICT r6 #6 / r7 #7: the counts went stale two rounds running).
    The README line is written as 'queries() (N named operators)' and
    'M/N' for the oracle coverage; parse both and compare."""
    import sys

    sys.path.insert(0, str(REPO))
    from sparksync.queries import ORACLES, QUERIES

    text = (REPO / "README.md").read_text()
    m = re.search(r"`queries\(\)` \((\d+) named\s+operators\)", text)
    assert m, "README no longer advertises a query count in the known form"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} operators, registry has {len(QUERIES)}"
    )
    m2 = re.search(r"(\d+)/(\d+); only HLL", text)
    assert m2, "README no longer advertises oracle coverage in the known form"
    assert (int(m2.group(1)), int(m2.group(2))) == (len(ORACLES), len(QUERIES)), (
        f"README says {m2.group(0)}, registry has {len(ORACLES)}/{len(QUERIES)}"
    )
