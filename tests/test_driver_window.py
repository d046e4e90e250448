"""Invariants of the driver's 50-query correctness window.

The driver checks only the FIRST 50 ``queries()`` entries per round.
``queries()`` derives that order from the ``CORRECTNESS_r*.json`` round
files (``__spark_entry__.window_order``): ``REVERIFY`` first, then
never-checked queries, then the stalest — so a new round file needs no
hand re-ordering.

No Spark session — dict/JSON only.
"""

import ast
import inspect
import json

import __spark_entry__ as e

WINDOW = 50


def test_every_query_is_driver_checked_or_ledgered():
    """Every registered query is reachable: ``queries()`` is a permutation
    of the registry, and a query the round files have never seen sits
    inside the window."""
    names = list(e.queries())
    assert sorted(names) == sorted(e._QUERIES)
    last = e._last_checked(e._HERE)
    never = [n for n in names if n not in last]
    assert set(never) <= set(names[:WINDOW]), never


def test_no_duplicate_query_keys():
    """A key written twice in the registry literal silently shadows (the
    dict keeps the LAST) and shrinks the registry."""
    tree = ast.parse(inspect.getsource(e))
    reg = next(n.value for n in ast.walk(tree)
               if isinstance(n, ast.AnnAssign)
               and getattr(n.target, "id", None) == "_QUERIES")
    keys = [k.value for k in reg.keys]
    dupes = {k for k in keys if keys.count(k) > 1}
    assert not dupes, f"duplicate registry keys: {dupes}"


def test_reverify_names_are_registered():
    assert set(e.REVERIFY) <= set(e._QUERIES)
    assert list(e.queries())[:len(e.REVERIFY)] == list(e.REVERIFY)


def test_window_is_a_rotation_of_the_stalest(tmp_path):
    """A synthetic round history: REVERIFY leads, then the never-checked
    query, then staler before fresher; ties keep registry order. Adding a
    newer round file re-orders without touching the registry."""
    names = ["q_old", "q_new", "q_mid", "q_never", *e.REVERIFY]
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({n: {} for n in ["q_old", "q_new", "q_mid"]}))
    (tmp_path / "CORRECTNESS_r05.json").write_text(
        json.dumps({"q_mid": {}, e.REVERIFY[0]: {}}))
    (tmp_path / "CORRECTNESS_r11.json").write_text(
        json.dumps({"q_new": {}}))
    assert e.window_order(names, str(tmp_path)) == [
        *e.REVERIFY, "q_never", "q_old", "q_mid", "q_new"]
    (tmp_path / "CORRECTNESS_r12.json").write_text(
        json.dumps({"q_old": {}, "q_never": {}}))
    assert e.window_order(names, str(tmp_path)) == [
        *e.REVERIFY, "q_mid", "q_new", "q_old", "q_never"]
