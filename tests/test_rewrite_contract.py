"""The copy-on-write contract every data-rewriting LakeTable operation keeps.

Each operation runs on a table that holds pending merge-on-read deltas and
must: leave ``read()`` equal to the expected rows, fold the pending deltas
of the buckets it rewrites, leave untouched buckets at their old data
version, keep ``file_stats()`` keyed by exactly the live files, and lose a
commit race cleanly (``CommitConflictError``, the winner's head intact).
A structural guard keeps the commit path single.
"""

import ast
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.plans import lake_table
from kafka_connect_plugins_spark.plans.lake_table import CommitConflictError, LakeTable

ROWS = "id long, v string, _lsn long, _tombstone boolean"


def _merge(spark, table, rows, epoch_id, mode="rewrite"):
    return table.merge(spark.createDataFrame(rows, ROWS), epoch_id=epoch_id, mode=mode)


@pytest.fixture(scope="module")
def base_root(spark, tmp_path_factory):
    """40 keys over 8 buckets, then a defer epoch: 4 updates + 1 delete."""
    root = str(tmp_path_factory.mktemp("contract") / "lake")
    t = LakeTable.create(spark, root, key_columns=["id"], num_buckets=8)
    _merge(spark, t, [(i, f"b{i}", 1, False) for i in range(40)], 0)
    _merge(
        spark, t,
        [(i, f"d{i}", 2, False) for i in range(4)] + [(6, None, 2, True)],
        1, mode="defer",
    )
    assert t.manifest()["deltas"], "fixture must hold pending deltas"
    return root


EXPECTED_BASE = {i: f"d{i}" if i < 4 else f"b{i}" for i in range(40) if i != 6}


@dataclass
class Op:
    name: str
    run: Callable
    expect: Callable  # base {id: v} -> expected {id: v}
    summary_keys: tuple


def _without(d, *ids):
    return {k: v for k, v in d.items() if k not in ids}


OPS = [
    Op(
        "merge",
        lambda s, t: _merge(s, t, [(0, "m0", 3, False), (1, "m1", 3, False)], 2),
        lambda d: {**d, 0: "m0", 1: "m1"},
        ("source_rows", "dirty_buckets", "stream_id", "epoch_id"),
    ),
    Op(
        "merge_defer",
        lambda s, t: _merge(s, t, [(7, "m7", 3, False)], 2, mode="defer"),
        lambda d: {**d, 7: "m7"},
        ("source_rows", "dirty_buckets", "stream_id", "epoch_id", "mode"),
    ),
    Op("compact", lambda s, t: t.compact(), dict, ("compacted_buckets",)),
    Op("rebucket", lambda s, t: t.rebucket(4), dict, ("rebucketed_to",)),
    Op(
        "purge_tombstones",
        lambda s, t: t.purge_tombstones(below_lsn=100),
        dict,
        ("purged_below_lsn", "rewritten_buckets"),
    ),
    Op(
        "delete_where",
        lambda s, t: t.delete_where(F.col("id").isin(0, 10)),
        lambda d: _without(d, 0, 10),
        ("op", "rows_matched", "rewritten_buckets"),
    ),
    Op(
        "update_where",
        lambda s, t: t.update_where(F.col("id").isin(1, 11), {"v": F.lit("u")}),
        lambda d: {**d, 1: "u", 11: "u"},
        ("op", "rows_matched", "rewritten_buckets"),
    ),
    Op(
        "merge_into",
        lambda s, t: t.merge_into(
            s.createDataFrame([(2, "i2"), (12, "i12"), (99, "new")], "id long, v string"),
            matched_update={"v": F.col("src.v")},
        ),
        lambda d: {**d, 2: "i2", 12: "i12", 99: "new"},
        ("op", "rows_updated", "rows_deleted", "rows_inserted", "rewritten_buckets"),
    ),
]


@pytest.fixture()
def table(spark, base_root, tmp_path):
    root = str(tmp_path / "lake")
    shutil.copytree(base_root, root)
    return LakeTable.load(spark, root)


def _live_files(m):
    return {f"v{v}/{b}" for b, v in m["buckets"].items()} | {
        f"v{v}/{b}" for b, vs in m.get("deltas", {}).items() for v in vs
    }


@pytest.mark.parametrize("op", OPS, ids=[o.name for o in OPS])
def test_rewrite_contract(spark, table, op):
    m0 = table.manifest()
    op.run(spark, table)
    m1 = table.manifest()
    new = m1["version"]
    assert m1["parent"] == m0["version"] and new > m0["version"]
    assert set(op.summary_keys) | {"committed_at_ms"} <= set(m1["summary"])

    got = {r["id"]: r["v"] for r in table.read().collect()}
    assert got == op.expect(EXPECTED_BASE)

    rewritten = {b for b, v in m1["buckets"].items() if v == new}
    if op.name == "merge_defer":
        # an append: every pending delta stays, the new one goes last
        for b, vs in m1["deltas"].items():
            assert vs in (m0["deltas"].get(b, []), m0["deltas"].get(b, []) + [new])
        assert not rewritten
    elif op.name == "rebucket":
        assert m1["deltas"] == {}  # every key re-hashed, every delta folded
    else:
        # a rewrite folds the pending deltas of exactly the buckets it wrote
        assert rewritten & set(m0["deltas"]), "no pending delta was folded"
        assert not rewritten & set(m1["deltas"])
        for b, vs in m1["deltas"].items():
            assert vs == m0["deltas"][b]

    untouched = {b: v for b, v in m1["buckets"].items() if v != new}
    assert all(m0["buckets"].get(b) == v for b, v in untouched.items())
    if op.name != "rebucket":  # re-hashing moves every key
        assert untouched, "every bucket was rewritten"

    assert set(table.file_stats()) == _live_files(m1)


@pytest.mark.parametrize("op", OPS, ids=[o.name for o in OPS])
def test_rewrite_loses_commit_race(spark, table, op):
    """Another writer commits while the operation writes its data: the
    operation raises and the winner's snapshot stays the head."""
    racer = LakeTable.load(spark, table.root)
    write = table._bucket_writer
    won = []

    def racing_writer(df, manifest):
        if not won:
            won.append(racer.rollback(racer.manifest()["parent"]))
        return write(df, manifest)

    table._bucket_writer = racing_writer
    with pytest.raises(CommitConflictError):
        op.run(spark, table)
    head = LakeTable.load(spark, table.root).manifest()
    assert won and head["version"] == won[0]
    assert "rolled_back_to" in head["summary"]


def _calls_by_function(tree, attr):
    """Names of the functions whose bodies call ``<x>.<attr>(...)``."""
    callers = []

    class Visitor(ast.NodeVisitor):
        def __init__(self):
            self.stack = []

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        def visit_Call(self, node):
            if isinstance(node.func, ast.Attribute) and node.func.attr == attr:
                callers.append(self.stack[-1] if self.stack else None)
            self.generic_visit(node)

    Visitor().visit(tree)
    return callers


def test_single_commit_path():
    """Every snapshot commits through ``_commit`` (``create`` writes the
    root), every data write goes through ``_write_version``, and the
    ``_bucket=`` dirs are listed in one place: a new operation cannot fork
    the write-and-commit sequence again."""
    with open(lake_table.__file__) as f:
        tree = ast.parse(f.read())
    assert sorted(_calls_by_function(tree, "_write_manifest")) == ["_commit", "create"]
    assert _calls_by_function(tree, "_bucket_writer") == ["_write_version"]

    listings = []
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.JoinedStr) and ast.unparse(node) == "f'{BUCKET_COL}='":
                listings.append(fn.name)
    assert listings == ["_bucket_dirs"]
