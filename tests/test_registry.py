"""Registry hygiene guards.

Every query is declared once, in the ordered ``REGISTRY`` table of
spark_pit/queries.py; QUERIES, ORACLES and GATE_ORDER are views of it.
Python dict literals silently keep the last value for a duplicated key, so
a 177-entry table can shadow an entry without any visible failure.  The
duplicate-key tests parse the source with `ast` to catch what the runtime
dict can never reveal.
"""
import ast
import pathlib

QUERIES_PATH = pathlib.Path(__file__).resolve().parents[1] / "spark_pit" / "queries.py"


def _literal_dict_keys(module_ast, name):
    for node in ast.walk(module_ast):
        if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            if node.target.id == name and isinstance(node.value, ast.Dict):
                return [k.value for k in node.value.keys if isinstance(k, ast.Constant)]
        if isinstance(node, ast.Assign):
            for tgt in node.targets:
                if isinstance(tgt, ast.Name) and tgt.id == name and isinstance(node.value, ast.Dict):
                    return [k.value for k in node.value.keys if isinstance(k, ast.Constant)]
    raise AssertionError(f"dict literal {name} not found in queries.py")


def _registry_entries(module_ast):
    """(key, value node) pairs of the REGISTRY dict literal, in source order."""
    for node in ast.walk(module_ast):
        if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            if node.target.id == "REGISTRY" and isinstance(node.value, ast.Dict):
                return [
                    (k.value, v)
                    for k, v in zip(node.value.keys, node.value.values)
                    if isinstance(k, ast.Constant)
                ]
    raise AssertionError("dict literal REGISTRY not found in queries.py")


def test_queries_literal_has_no_duplicate_keys():
    """QUERIES is a view of the REGISTRY literal, so a duplicated
    REGISTRY key silently drops a query from QUERIES."""
    tree = ast.parse(QUERIES_PATH.read_text())
    keys = _literal_dict_keys(tree, "REGISTRY")
    dupes = sorted({k for k in keys if keys.count(k) > 1})
    assert not dupes, f"duplicate REGISTRY keys shadow earlier entries: {dupes}"

    from spark_pit.queries import QUERIES

    assert list(QUERIES) == list(dict.fromkeys(keys))


def test_oracles_literal_has_no_duplicate_keys():
    """ORACLES is the oracle column of the REGISTRY literal; every entry
    written with oracle SQL must reach ORACLES once, under its own key."""
    tree = ast.parse(QUERIES_PATH.read_text())
    entries = _registry_entries(tree)
    with_sql = [
        k
        for k, v in entries
        if not (
            isinstance(v, ast.Tuple)
            and isinstance(v.elts[1], ast.Constant)
            and v.elts[1].value is None
        )
    ]
    dupes = sorted({k for k in with_sql if with_sql.count(k) > 1})
    assert not dupes, f"duplicate oracle-backed REGISTRY keys: {dupes}"

    from spark_pit.queries import ORACLES

    assert list(ORACLES) == with_sql


def test_gate_window_is_oracle_backed():
    """The driver's strong (value-hash) gate evaluates the first 50
    queries; rows-only entries there would downgrade the evidence."""
    from spark_pit.queries import GATE_ORDER, ORACLES

    weak = [k for k in GATE_ORDER[:50] if k not in ORACLES]
    assert not weak, f"rows-only queries inside the gated window: {weak}"
