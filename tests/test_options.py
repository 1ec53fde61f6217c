"""Options ratchet: the defaulted parameters of every ``def`` in
``osmgraft/`` (``multimodal.py`` aside), counted per module with
``ast`` — no Spark.

A defaulted parameter is an option, a second way to run the code.  A
change that adds one raises its module's count here and names, in
CHANGES.md, the two callers that need different values; a change that
removes one lowers the count, so the number never drifts back up
unnoticed."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "osmgraft"

EXPECTED = {
    "__init__.py": 0,
    "cells.py": 0,
    "closure.py": 2,
    "dedup.py": 12,
    "extract.py": 2,
    "geometry.py": 1,
    "jobs.py": 0,
    "join.py": 3,
    "obm.py": 0,
    "osm_fixtures.py": 0,
    "queries.py": 3,
    "session.py": 5,
    "similarity.py": 23,
    "sources.py": 1,
    "store.py": 4,
    "streaming.py": 3,
    "synth.py": 5,
    "textstats.py": 0,
    "tiles.py": 1,
}


def _defaulted(path: pathlib.Path) -> int:
    n = 0
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            n += len(a.defaults) + sum(d is not None for d in a.kw_defaults)
    return n


def test_defaulted_parameters_per_module():
    got = {
        p.name: _defaulted(p)
        for p in sorted(PKG.glob("*.py"))
        if p.name != "multimodal.py"
    }
    assert got == EXPECTED
