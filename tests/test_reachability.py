"""No library definition that only tests reach (AST scan, no Spark).

Every undecorated top-level ``def`` and ``class`` of the package must be
named somewhere in the program outside its own definition: in the
package, ``bench.py``, ``__spark_entry__.py``, ``perfbench/`` or
``scripts/`` (their ``tests/`` directories excluded). A name counts
wherever it appears as a whole word, comments and docstrings included.
Registered queries are decorated, so they are skipped. A name met only
inside definitions that are themselves unreached does not count, so the
scan repeats until nothing more drops out. A definition kept on purpose
is listed in ``KEEP`` with the reason its COVERAGE.md row gives.
"""

import ast
import re
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "realtime_analytics_pipeline_spark"

_DIRECTION_I = ("direction I's object replaces it; test_run_all_jobs_end_to_end "
                "is the only multi-job restart test")
KEEP = {
    "MetricsHttpServer": "the product's serving surface",
    "read_events_stream_from_kafka": "S1 parity with kafka_source.py",
    "observe_event_quality": "aim 4 and direction E wire it in",
    "compact_feed_table": "direction B's input",
    "configure_state_store": "direction C's candidate",
    "run_all_jobs": _DIRECTION_I,
    "await_all": _DIRECTION_I,
    "job_results": _DIRECTION_I,
    "embedding_dup_pairs": "the exact reference that "
                           "test_pairs_blas_matches_exact compares the gemm kernel against",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _scope():
    yield from sorted(PACKAGE.rglob("*.py"))
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"
    for sub in ("perfbench", "scripts"):
        for path in sorted((ROOT / sub).rglob("*.py")):
            if "tests" not in path.relative_to(ROOT / sub).parts:
                yield path


def _scan():
    """Return ({name: ["path:line", ...]} of the unreached definitions,
    the set of candidate names)."""
    candidates = defaultdict(list)  # name -> [(path, first, last)]
    uses = defaultdict(list)        # name -> [(path, line, enclosing def or None)]
    for path in _scope():
        source = path.read_text()
        tops = [(t.lineno, t.end_lineno, t) for t in ast.parse(source).body
                if isinstance(t, _DEF)]
        owner = {}  # line -> (path, name) of the top-level definition holding it
        for first, last, top in tops:
            if path.is_relative_to(PACKAGE) and not top.decorator_list:
                candidates[top.name].append((path, first, last))
            owner.update(dict.fromkeys(range(first, last + 1), (path, top.name)))
        for lineno, line in enumerate(source.splitlines(), 1):
            for word in set(_WORD.findall(line)):
                uses[word].append((path, lineno, owner.get(lineno)))

    def inside(spans, path, lineno):
        return any(p == path and first <= lineno <= last for p, first, last in spans)

    unreached = set()
    while True:
        dead = {(p, name) for name in unreached for p, _, _ in candidates[name]}
        newly = {name for name, spans in candidates.items()
                 if name not in unreached and name not in KEEP
                 and not any(not inside(spans, path, lineno) and enclosing not in dead
                             for path, lineno, enclosing in uses[name])}
        if not newly:
            break
        unreached |= newly
    return {name: [f"{p.relative_to(ROOT)}:{first}" for p, first, _ in candidates[name]]
            for name in sorted(unreached)}, set(candidates)


def test_every_library_definition_is_reached():
    unreached, definitions = _scan()
    assert not unreached, (
        "only tests reach these definitions; delete them or list them in KEEP "
        "with their COVERAGE.md reason:\n"
        + "\n".join(f"{' '.join(where)} {name}" for name, where in unreached.items()))
    assert sorted(set(KEEP) - definitions) == [], "KEEP names a definition that is gone"
