"""Driver-contract invariants: queries/oracles stay in lockstep."""

import importlib
import inspect
import pkgutil

import __spark_entry__ as entry
import peerdb_spark.queries as Q


def test_every_query_has_an_oracle():
    qs, osql = entry.queries(), entry.oracle_sql()
    assert set(qs) == set(osql), set(qs) ^ set(osql)
    assert len(qs) >= 33


def test_oracle_sql_is_nonempty_text():
    for name, sql in entry.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_every_query_function_is_in_the_table_once():
    names = [name for name, _, _ in Q.TABLE]
    assert len(names) == len(set(names)), "duplicate query name in TABLE"
    impls = [impl for _, impl, _ in Q.TABLE]
    declared = []
    for info in pkgutil.iter_modules(Q.__path__):
        mod = importlib.import_module(f"{Q.__name__}.{info.name}")
        declared += [
            fn for name, fn in vars(mod).items()
            if name.startswith("q_") and inspect.isfunction(fn)
            and fn.__module__ == mod.__name__
        ]
    assert len(declared) == len(Q.TABLE)
    for fn in declared:
        assert impls.count(fn) == 1, (fn.__module__, fn.__name__, impls.count(fn))


def test_entry_uses_declared_query(spark):
    df = entry.entry(spark)
    assert set(df.columns) == {"pk", "qty", "price", "flag"}


def test_storage_layout_names_live_in_storage_only():
    """The manifest file name and the staging-dir infix are spelled only in
    storage.py; every other module reaches a table's files through
    ParquetTable. Spark-free: an AST walk over string literals."""
    import ast
    import pathlib

    import peerdb_spark

    names = ("_peerdb_buckets.json", ".staging-")
    root = pathlib.Path(peerdb_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "storage.py" and path.parent == root:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                found += [(str(path.relative_to(root)), n) for n in names if n in node.value]
    assert not found, found
