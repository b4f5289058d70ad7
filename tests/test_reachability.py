"""No library definition that only tests reach (AST scan, no Spark).

Every undecorated top-level ``def`` and ``class`` of the package, and
every top-level assignment to a plain name in it, must be used by code
somewhere in the program outside its own definition: in the package,
``bench.py``, ``__spark_entry__.py``, ``perfbench/`` or ``scripts/``
(their ``tests/`` directories excluded). A use is a ``Name``, an
``Attribute`` or an import alias; a mention in a comment, docstring or
string does not count. ``__dunder__`` names such as ``__version__`` and
``__all__`` are skipped, and so are registered queries, which are
decorated. A name used only inside definitions that are themselves
unreached does not count, so the scan repeats until nothing more drops
out. A definition kept on purpose is listed in ``KEEP`` with the reason
its COVERAGE.md row gives.
"""

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "realtime_analytics_pipeline_spark"

_DIRECTION_I = ("direction I's object replaces it; test_run_all_jobs_end_to_end "
                "is the only multi-job restart test")
_S5 = "S5 parity with the reference's Kafka JSON sink"
_S9 = "S9 parity with the reference's topic creation"
KEEP = {
    "MetricsHttpServer": "the product's serving surface",
    "read_events_stream_from_kafka": "S1 parity with kafka_source.py",
    "observe_event_quality": "aim 4 and direction E wire it in",
    "compact_feed_table": "direction B's input",
    "configure_state_store": "direction C's candidate",
    "ROCKSDB_STATE_STORE_PROVIDER": "goes with configure_state_store, direction C's candidate",
    "run_all_jobs": _DIRECTION_I,
    "await_all": _DIRECTION_I,
    "job_results": _DIRECTION_I,
    "embedding_dup_pairs": "the exact reference that "
                           "test_pairs_blas_matches_exact compares the gemm kernel against",
    "_jaccard_pairs_allpairs": "the exact reference that test_jaccard_prefix.py's "
                               "float-form pins compare the prefix kernel against",
    "_users_activity_similarity_join": "the exact reference that test_similarity_blas.py's "
                                       "gemm-vs-join pins compare the gemm kernel against",
    "write_kafka_json": _S5,
    "kafka_json_payload": _S5,
    "create_topic": _S9,
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _scope():
    yield from sorted(PACKAGE.rglob("*.py"))
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"
    for sub in ("perfbench", "scripts"):
        for path in sorted((ROOT / sub).rglob("*.py")):
            if "tests" not in path.relative_to(ROOT / sub).parts:
                yield path


def _assigned(top):
    """The plain names a top-level assignment binds."""
    if isinstance(top, ast.Assign):
        targets = top.targets
    elif isinstance(top, ast.AnnAssign):
        targets = [top.target]
    else:
        return []
    return [t.id for t in targets if isinstance(t, ast.Name)]


def _used(node):
    """The names one AST node uses: a load of a name, an attribute, or an
    imported name."""
    if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
        return [node.id]
    if isinstance(node, ast.Attribute):
        return [node.attr]
    if isinstance(node, ast.alias):
        return [node.name.split(".")[-1]]
    return []


def _scan(keep=KEEP):
    """Return ({name: ["path:line", ...]} of the unreached definitions
    not in ``keep``, the set of candidate names)."""
    candidates = defaultdict(list)  # name -> [(path, first, last)]
    uses = defaultdict(list)        # name -> [(path, line, enclosing definition or None)]
    for path in _scope():
        module = ast.parse(path.read_text())
        in_package = path.is_relative_to(PACKAGE)
        for top in module.body:
            if isinstance(top, _DEF):
                names = [] if top.decorator_list else [top.name]
                owner = (path, top.name)
            else:
                names = [n for n in _assigned(top)
                         if not (n.startswith("__") and n.endswith("__"))]
                owner = (path, names[0]) if len(names) == 1 else None
            if in_package:
                for name in names:
                    candidates[name].append((path, top.lineno, top.end_lineno))
            for node in ast.walk(top):
                line = getattr(node, "lineno", top.lineno)
                for name in _used(node):
                    uses[name].append((path, line, owner))

    def inside(spans, path, lineno):
        return any(p == path and first <= lineno <= last for p, first, last in spans)

    unreached = set()
    while True:
        dead = {(p, name) for name in unreached for p, _, _ in candidates[name]}
        newly = {name for name, spans in candidates.items()
                 if name not in unreached and name not in keep
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
    unkept, _ = _scan(keep={})
    assert sorted(set(KEEP) - set(unkept)) == [], "KEEP names a definition that code reaches"
