"""No-Spark lint: engine code does not toggle session-global confs.

A ``spark.conf.set`` made for one job leaks into every job running at
the same time in that session; per-write settings belong on the writer
(``.option(...)``) and per-join ones in a hint.  Only ``session.py``
(session construction) and the streaming runs below may set confs.
"""

from __future__ import annotations

import ast
import os

ENGINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "health_data_transformation_spark",
)

#: (file, enclosing function) allowed to set session confs; None = any
ALLOWED = {
    ("session.py", None),
    # stateful shuffle width is fixed at a stream's first start, so the
    # bounded streaming runs narrow it around the start and restore it
    ("streaming/windows.py", "narrow_shuffle"),
    ("streaming/stateful.py", "stateful_user_totals"),
    ("streaming/stateful.py", "tws_user_stats"),
}


def _conf_writes(tree: ast.AST):
    """(enclosing top-level function, line) of each ``.conf.set(`` /
    ``.conf.unset(`` call."""
    for top in ast.iter_child_nodes(tree):
        name = getattr(top, "name", None)
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
            ):
                yield name, node.lineno


def test_no_session_conf_toggles_outside_allowed_sites():
    found = []
    for d, _, files in os.walk(ENGINE):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, ENGINE).replace(os.sep, "/")
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=rel)
            for fn, line in _conf_writes(tree):
                if (rel, None) not in ALLOWED and (rel, fn) not in ALLOWED:
                    found.append(f"{rel}:{line} ({fn})")
    assert not found, f"session conf set/unset outside allowed sites: {found}"
