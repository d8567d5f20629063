"""Guard: kernel loops get termination checks and plan truncation from
`SuperstepDriver`. Only the loops whose per-round frames are unioned
lazily into their result may call `check_termination` or
`truncate_plan` themselves (releasing their previous state would free
blocks the result still reads)."""

import ast
import pathlib

OPERATORS = pathlib.Path(__file__).resolve().parent.parent / "neo4j_graph_algorithms_spark" / "operators"
PLUMBING = {"check_termination", "truncate_plan"}
ALLOWED = {
    ("scc.py", "scc"),
    ("msbfs.py", "_run_wave_bfs"),
    ("betweenness.py", "_brandes_wave"),
    ("betweenness.py", "betweenness"),
    ("shortest_path.py", "all_shortest_paths_weighted"),
}


def _calls(tree: ast.Module):
    """(top-level function, called name) for every call of a plumbing name."""
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                if name in PLUMBING:
                    yield getattr(top, "name", "<module>"), name


def test_loop_plumbing_only_in_allowlisted_loops():
    found = {
        (path.name, fn, name)
        for path in sorted(OPERATORS.glob("*.py"))
        for fn, name in _calls(ast.parse(path.read_text()))
    }
    stray = sorted(f for f in found if f[:2] not in ALLOWED)
    assert not stray, f"hand-rolled loop plumbing outside SuperstepDriver: {stray}"
    # the allowlist names loops that exist: a stale entry fails too
    assert {f[:2] for f in found} == ALLOWED
