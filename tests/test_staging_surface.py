"""The inventory of in-process staged artifacts, pinned from source.

Contract: a steady-mode run of the ``__spark_entry__`` queries (and
``bench.py``'s steady total) calls every query once before it starts
timing, so a ``staged()`` build is paid before the clock starts and every
timed call reads a pre-built, localCheckpointed frame. A new label
therefore moves work out of the steady-mode measurement as well as out of
repeated calls. Adding one needs a reason recorded next to the call
(the query family that shares the artifact, or the repeated work it
removes) and an entry here. Pure ``ast`` over the package source; no Spark.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "restaurant_etl_spark"

EXPECTED = {
    ("operators/dedup.py", "documents", "shingle_arrays"),
    ("operators/dedup.py", "documents", "common_counts"),
    ("operators/dedup.py", "documents", "decon_capped_postings"),
    ("operators/dedup.py", "documents", "incremental_com_rare"),
    ("operators/dedup.py", "documents", "incremental_hot_shingles"),
    ("operators/dedup.py", "documents", "incremental_hot_corpus"),
    ("operators/graph.py", "lineitem", "pagerank_items"),
    ("operators/graph.py", "lineitem", "pagerank_deg"),
    ("operators/menu.py", "part", "menu_extracted_ok"),
    ("operators/menu.py", "part", "menu_extracted_all"),
}


def _staged_calls():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name != "staged":
                continue
            args = list(node.args) + [None] * 4
            kw = {k.arg: k.value for k in node.keywords}
            table = kw.get("table", args[2])
            label = kw.get("label", args[3])
            found.append((str(path.relative_to(PKG)), table, label))
    return found


def test_staged_label_inventory():
    calls = _staged_calls()
    # labels and tables must be string literals, or this inventory is blind
    bad = [
        p
        for p, *args in calls
        if not all(isinstance(a, ast.Constant) and isinstance(a.value, str) for a in args)
    ]
    assert not bad, f"staged() called with a non-literal table or label in {bad}"
    got = [(p, t.value, lab.value) for p, t, lab in calls]
    assert len(got) == len(set(got)), f"a staged label is built at two call sites: {got}"
    assert set(got) == EXPECTED
