"""A table's layout is read from the table (``ParquetWarehouse._layout``).

The writer that lays a table out declares its layout once:
``overwrite(partition_by=...)`` records the hive columns in
``_schema.json``, ``write_bucketed`` commits ``_bucket_spec.json`` and
``overwrite_versioned`` the ``_version.json`` pointer. Every rewrite and
append reads the layout from there and takes no layout argument.

Pins:
- on a hive table (string partition values such as ``'007'`` next to
  ``'7'``) and on a bucketed table, ``replace_files``,
  ``materialize_deletes``, ``erase_subjects``, ``append_files`` and
  ``compact`` keep every file under the recorded dirs or in its bucket,
  and leave exactly the expected rows;
- a hive table emptied by an erase still appends under its ``p=`` dirs;
- a committed state whose ``_schema.json`` records no ``partition_by``
  is refused by name by every mutation (reads still work);
- a versioned erase counts its rows from footers (no ``count`` job) and
  returns the same dict as before;
- no rewrite or append takes ``partition_by``/``bucket_spec``, and only
  ``_layout`` (plus the readers ``bucket_spec``, ``_load_versions`` and
  ``_zoned_base``) probes for a version pointer or a bucket spec or
  scans a table dir for hive dirs (AST scan, no Spark).
"""

from __future__ import annotations

import ast
import inspect
import json
import os
import pathlib

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame

import example_dms_dataexport_spark
from example_dms_dataexport_spark.sources.warehouse import (
    SCHEMA_FILE,
    ParquetWarehouse,
)
from example_dms_dataexport_spark.streaming.erasure_stream import (
    start_erasure_stream,
)

_PARTS = {0: "007", 1: "abc", 2: "7"}


def _rows(ids, part=None):
    return {
        (i, part if part is not None else _PARTS[i % 3], f"n{i}") for i in ids
    }


def _frame(spark, rows) -> DataFrame:
    return spark.createDataFrame(
        sorted(rows), "id long, p string, name string"
    )


def _state(spark, wh, table):
    rows = wh.read(spark, table).select("id", "p", "name").collect()
    return set(map(tuple, rows))


def _hive_rels_ok(wh, table):
    rels = wh._walk_parquet_rels(wh.path(table))
    assert rels, "no data file"
    assert all(
        r.count("/") == 1 and r.startswith("p=") for r in rels
    ), rels
    return {os.path.dirname(r) for r in rels}


def _buckets_ok(spark, wh, table):
    """Every file is a bucket file at the table root and holds only rows
    of its own bucket."""
    n = wh.bucket_spec(table)["n_buckets"]
    base = wh.path(table)
    rels = wh._walk_parquet_rels(base)
    assert rels and all("/" not in r for r in rels), rels
    assert all(wh._bucket_id_of(r) is not None for r in rels), rels
    got = {
        (wh.file_rel(r[0], base), r[1])
        for r in wh._read_files(spark, table)
        .select(
            F.col("_metadata.file_path"), F.pmod(F.hash("id"), F.lit(n))
        )
        .distinct()
        .collect()
    }
    assert all(b == wh._bucket_id_of(rel) for rel, b in got), got


def _hit(wh, table, ids, spark):
    """The rel paths of the files holding one of ``ids``."""
    return sorted({
        wh.file_rel(r[0], wh.path(table))
        for r in wh._read_files(spark, table)
        .filter(F.col("id").isin(ids))
        .select(F.col("_metadata.file_path"))
        .collect()
    })


def test_hive_table_mutations_read_the_recorded_layout(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    want = _rows(range(30))
    wh.overwrite(
        _frame(spark, want).repartition(2, "id"), "h", partition_by=["p"],
        stat_cols=["id"],
    )
    assert wh._layout("h").partition_by == ["p"]
    assert _hive_rels_ok(wh, "h") == {"p=007", "p=abc", "p=7"}

    # replace_files: the p=007 files minus id 0
    rels = [
        r for r in wh._walk_parquet_rels(wh.path("h"))
        if r.startswith("p=007/")
    ]
    wh.replace_files(
        wh._read_files(spark, "h", rels).filter("id != 0"), "h", rels
    )
    want -= _rows([0])
    assert _state(spark, wh, "h") == want
    _hive_rels_ok(wh, "h")

    # delete_keys + materialize_deletes
    wh.delete_keys(spark, "h", "id", [1])
    res = wh.materialize_deletes(spark, "h")
    assert res["keys_applied"] == 1
    want -= _rows([1])
    assert _state(spark, wh, "h") == want
    _hive_rels_ok(wh, "h")

    # erase_subjects
    subj = spark.createDataFrame([(2,)], "k long")
    res = wh.erase_subjects(spark, "h", "id", subj)
    assert (res["rows_erased"], res["touched_partitions"]) == (1, 1)
    want -= _rows([2])
    assert _state(spark, wh, "h") == want
    _hive_rels_ok(wh, "h")

    # append_files: a known partition value and a new one
    new = _rows([100], "007") | _rows([101], "new")
    assert wh.append_files(spark, _frame(spark, new), "h")["rows"] == 2
    want |= new
    assert _state(spark, wh, "h") == want
    assert _hive_rels_ok(wh, "h") == {"p=007", "p=abc", "p=7", "p=new"}

    # compact: every leaf back to one file, each in its own dir
    assert wh.compact(spark, "h", target_file_bytes=1 << 30) >= 1
    assert _state(spark, wh, "h") == want
    assert _hive_rels_ok(wh, "h") == {"p=007", "p=abc", "p=7", "p=new"}
    assert len(wh._walk_parquet_rels(wh.path("h"))) == 4
    assert wh.schema("h").simpleString() == (
        "struct<id:bigint,name:string,p:string>"
    )
    zm = wh.zonemap("h")
    assert set(zm["files"]) == set(wh._walk_parquet_rels(wh.path("h")))


def test_bucketed_table_mutations_read_the_recorded_spec(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    want = _rows(range(40))
    wh.write_bucketed(_frame(spark, want), "b", ["id"], 4)
    lay = wh._layout("b")
    assert (lay.partition_by, lay.bucket_spec["n_buckets"]) == ([], 4)
    _buckets_ok(spark, wh, "b")

    # replace_files: one bucket file minus one of its rows
    rel = _hit(wh, "b", [5], spark)
    assert len(rel) == 1
    wh.replace_files(
        wh._read_files(spark, "b", rel).filter("id != 5"), "b", rel
    )
    want -= _rows([5])
    assert _state(spark, wh, "b") == want
    _buckets_ok(spark, wh, "b")

    wh.delete_keys(spark, "b", "id", [6])
    assert wh.materialize_deletes(spark, "b")["keys_applied"] == 1
    want -= _rows([6])
    assert _state(spark, wh, "b") == want
    _buckets_ok(spark, wh, "b")

    subj = spark.createDataFrame([(7,)], "k long")
    res = wh.erase_subjects(spark, "b", "id", subj)
    assert (res["rows_erased"], res["touched_partitions"]) == (1, None)
    want -= _rows([7])
    assert _state(spark, wh, "b") == want
    _buckets_ok(spark, wh, "b")

    new = _rows([200, 201, 202])
    assert wh.append_files(spark, _frame(spark, new), "b")["rows"] == 3
    want |= new
    assert _state(spark, wh, "b") == want
    _buckets_ok(spark, wh, "b")

    assert wh.compact(spark, "b") == 1
    assert _state(spark, wh, "b") == want
    _buckets_ok(spark, wh, "b")
    ids = [wh._bucket_id_of(r) for r in wh._walk_parquet_rels(wh.path("b"))]
    assert len(ids) == len(set(ids))  # one file per bucket again
    assert wh.bucket_spec("b")["bucket_by"] == ["id"]


def test_emptied_hive_table_still_appends_under_its_dirs(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_frame(spark, _rows(range(3))), "h", partition_by=["p"])
    res = wh.erase_subjects(
        spark, "h", "id", spark.createDataFrame([(0,), (1,), (2,)], "k long")
    )
    assert res["rows_after"] == 0
    assert wh._walk_parquet_rels(wh.path("h")) == []
    new = _rows([10, 11])
    wh.append_files(spark, _frame(spark, new), "h")
    assert _hive_rels_ok(wh, "h") == {"p=abc", "p=7"}
    assert _state(spark, wh, "h") == new
    assert wh.schema("h")["p"].dataType.simpleString() == "string"


def test_state_without_recorded_partition_by_is_refused(spark, tmp_path):
    """A ``_schema.json`` without the ``partition_by`` key (hand-made,
    or written by an older engine) cannot tell a mutation its layout:
    every mutation refuses it by name before writing anything."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    rows = _rows(range(6))
    wh.overwrite(_frame(spark, rows), "t")
    p = os.path.join(wh.path("t"), SCHEMA_FILE)
    with open(p) as f:
        doc = json.load(f)
    del doc["partition_by"]
    with open(p, "w") as f:
        json.dump(doc, f)
    before = sorted(wh._walk_parquet_rels(wh.path("t")))
    subj = spark.createDataFrame([(1,)], "k long")
    for call in (
        lambda: wh.replace_files(_frame(spark, rows), "t", before),
        lambda: wh.append_files(spark, _frame(spark, rows), "t"),
        lambda: wh.erase_subjects(spark, "t", "id", subj),
        lambda: wh.delete_keys(spark, "t", "id", [1]),
    ):
        with pytest.raises(ValueError, match="records no partition_by"):
            call()
    assert sorted(wh._walk_parquet_rels(wh.path("t"))) == before
    assert _state(spark, wh, "t") == rows  # reads need no layout


def test_versioned_erase_counts_rows_from_footers(spark, tmp_path, monkeypatch):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite_versioned(_frame(spark, _rows(range(12))).repartition(3), "v")
    counts = []
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    real = cls.count

    def spy(self):
        counts.append(self)
        return real(self)

    monkeypatch.setattr(cls, "count", spy)
    with pytest.warns(UserWarning, match="purged pre-erasure"):
        res = wh.erase_subjects(
            spark, "v", "id", spark.createDataFrame([(3,), (4,), (99,)], "k long")
        )
    monkeypatch.undo()
    assert counts == []
    assert res == {
        "rows_before": 12,
        "rows_erased": 2,
        "rows_after": 10,
        "touched_partitions": None,
        "purged_versions": [1],
    }
    assert wh.read_version(spark, "v").count() == 10


# ---- the layout decision has one home (no Spark) --------------------------

_READERS = {"_layout", "bucket_spec", "_load_versions", "_zoned_base"}
_LAYOUT_FILES = {
    "_version_pointer", "BUCKET_SPEC_FILE", "VERSION_FILE",
    "_version.json", "_bucket_spec.json",
}
_PROBES = {"isfile", "exists", "isdir", "lexists"}


def _os_path_call(node, names) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in names
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "path"
    )


def _mentions_layout_file(node) -> bool:
    return any(
        (isinstance(n, ast.Name) and n.id in _LAYOUT_FILES)
        or (isinstance(n, ast.Attribute) and n.attr in _LAYOUT_FILES)
        or (isinstance(n, ast.Constant) and n.value in _LAYOUT_FILES)
        for n in ast.walk(node)
    )


def _lists_dir(node) -> bool:
    return any(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "listdir"
        for n in ast.walk(node)
    )


def _parses_hive_names(fn) -> bool:
    """A ``col=`` prefix test or a split on ``=`` next to a path split:
    reading hive column names out of file paths."""
    nodes = list(ast.walk(fn))
    eq_prefix = any(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "startswith"
        and n.args
        and isinstance(n.args[0], ast.JoinedStr)
        and isinstance(n.args[0].values[-1], ast.Constant)
        and str(n.args[0].values[-1].value).endswith("=")
        for n in nodes
    )
    eq_split = any(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "split"
        and n.args
        and isinstance(n.args[0], ast.Constant)
        and n.args[0].value == "="
        for n in nodes
    )
    path_split = any(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and (
            n.func.attr == "dirname"
            or (
                n.func.attr == "split"
                and n.args
                and (
                    (isinstance(n.args[0], ast.Constant) and n.args[0].value == "/")
                    or (isinstance(n.args[0], ast.Attribute) and n.args[0].attr == "sep")
                )
            )
        )
        for n in nodes
    )
    return eq_prefix or (eq_split and path_split)


def test_only_layout_decides_a_tables_layout():
    pkg = pathlib.Path(example_dms_dataexport_spark.__file__).parent
    probes, scans, parses = [], [], []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            where = f"{path.relative_to(pkg)}:{fn.name}"
            nodes = list(ast.walk(fn))
            if fn.name not in _READERS and any(
                _os_path_call(n, _PROBES) and _mentions_layout_file(n)
                for n in nodes
            ):
                probes.append(where)
            # a loop over a directory listing that asks which entries
            # are directories
            loops = [
                n for n in nodes
                if (isinstance(n, ast.For) and _lists_dir(n.iter))
                or (
                    isinstance(
                        n, (ast.ListComp, ast.SetComp, ast.GeneratorExp)
                    )
                    and any(_lists_dir(g.iter) for g in n.generators)
                )
            ]
            if any(
                _os_path_call(n, {"isdir"})
                for loop in loops
                for n in ast.walk(loop)
            ):
                scans.append(where)
            if _parses_hive_names(fn):
                parses.append(where)
    assert probes == [], f"ask _layout instead: {probes}"
    assert scans == [], f"hive-dir scans: {scans}"
    assert parses == [], f"hive names parsed from paths: {parses}"


def test_no_rewrite_or_append_takes_a_layout():
    wh = ParquetWarehouse
    for fn in (
        wh.replace_files, wh._replace_files_unlocked, wh._rewrite_key_cover,
        wh.materialize_deletes, wh.erase_subjects, wh._erase_subjects_unlocked,
        wh.append_files, wh._append_files_unlocked, wh.replace_partitions,
        wh.compact, wh._compact_unlocked, start_erasure_stream,
    ):
        params = set(inspect.signature(fn).parameters)
        assert not params & {"partition_by", "bucket_spec"}, fn.__name__
