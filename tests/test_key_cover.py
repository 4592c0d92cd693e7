"""One key cover for every keyed rewrite.

``erase_subjects`` (non-versioned) and ``delete_keys`` +
``materialize_deletes`` find the files holding a key through one cover
(``ParquetWarehouse._key_cover``: the zone-map, Bloom and bucket-id
covers intersected where they apply, else one exact key scan) and
rewrite them through one body (``_rewrite_key_cover``).

Pins:
- both routes leave equal rows and carry the same files on every
  layout (flat with a zone map, with a Bloom manifest, with neither;
  hive; bucketed by the key and by another column);
- an erase by a column outside a flat table's zone map rewrites only
  the files holding a subject and keeps the map;
- a partitioned erase that a Bloom manifest narrows runs no key scan;
- a subject set above ``DELETE_BLOOM_PROBE_CAP`` probes no manifest;
- a hive-laid-out table erased without ``partition_by`` is refused,
  not flattened;
- a flat group member emptied by a merge still joins the next linked
  group commit;
- a non-versioned erase takes its row counts from the committed
  footers: it never calls ``read`` and returns the counts a read before
  and after would give, on every layout;
- the bucket-id cover, the exact key scan and the zone-map interval
  test each have one home in the package, and the CDC merge neither
  probes ``isEmpty`` nor width-buckets its batch (AST scan, no Spark).
"""

from __future__ import annotations

import ast
import os
import pathlib
import shutil

import pyspark.sql.functions as F
import pytest

import example_dms_dataexport_spark
from example_dms_dataexport_spark.sources import warehouse as wmod
from example_dms_dataexport_spark.sources.warehouse import ParquetWarehouse

KEYS = [3, 5, 290, 299]


def _rows(spark, n=300):
    return spark.range(n).select(
        F.col("id").alias("pk"),
        ((F.col("id") * 7919) % 1000).alias("uid"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") % 3).cast("int").alias("part"),
        F.concat(F.lit("v-"), F.col("id")).alias("name"),
    )


def _inodes(base):
    out = {}
    for dirpath, dirs, files in os.walk(base):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in files:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[os.path.relpath(p, base)] = os.stat(p).st_ino
    return out


def _carried(before, after):
    return {rel for rel, ino in after.items() if before.get(rel) == ino}


def _subjects(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k long")


def _layout(spark, wh, layout):
    """Write ``t`` in ``layout``; return the erase's partition_by."""
    df = _rows(spark)
    if layout == "flat_zone":
        wh.overwrite(df, "t", cluster_by=["pk"], cluster_partitions=4,
                     stat_cols=["pk"])
    elif layout == "flat_bloom":
        wh.overwrite(df.repartition(4, "grp"), "t")
        wh.write_bloom(spark, "t", ["pk"])
    elif layout == "flat":
        wh.overwrite(df.repartition(4, "grp"), "t")
    elif layout == "hive":
        wh.overwrite(df.repartition(2, "grp"), "t", partition_by=["part"])
        return ["part"]
    elif layout == "bucketed_key":
        wh.write_bucketed(df, "t", bucket_by=["pk"], n_buckets=8)
    else:
        wh.write_bucketed(df, "t", bucket_by=["grp"], n_buckets=8)
    return None


@pytest.mark.parametrize(
    "layout",
    ["flat_zone", "flat_bloom", "flat", "hive", "bucketed_key",
     "bucketed_other"],
)
def test_erase_and_materialize_rewrite_alike(spark, tmp_path, layout):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    partition_by = _layout(spark, wh, layout)
    # a hard-linked twin: same file names and inodes, so both routes
    # start from one state and their carried sets compare directly
    shutil.copytree(wh.path("t"), wh.path("u"), copy_function=os.link)
    before = _inodes(wh.path("t"))
    assert _inodes(wh.path("u")) == before

    res = wh.erase_subjects(
        spark, "t", "pk", _subjects(spark, KEYS), partition_by=partition_by
    )
    wh.delete_keys(spark, "u", "pk", KEYS)
    wh.materialize_deletes(spark, "u", partition_by=partition_by)

    assert res["rows_erased"] == len(KEYS)
    assert wh.pending_deletes("u") is None
    rows = [sorted(map(tuple, wh.read(spark, t).collect())) for t in "tu"]
    assert rows[0] == rows[1]
    assert not {r[0] for r in rows[0]} & set(KEYS)
    carried = [_carried(before, _inodes(wh.path(t))) for t in "tu"]
    assert carried[0] == carried[1]
    if layout != "flat":  # 4 keys over 4 files may touch every file
        assert carried[0], f"{layout}: nothing carried"


@pytest.mark.parametrize(
    "layout",
    ["flat_zone", "flat_bloom", "flat", "hive", "bucketed_key",
     "bucketed_other"],
)
def test_erase_counts_rows_from_footers(spark, tmp_path, monkeypatch, layout):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    partition_by = _layout(spark, wh, layout)
    table = wh.read(spark, "t")
    before = table.count()
    touched = (
        table.filter(F.col("pk").isin(KEYS)).select("part").distinct().count()
        if partition_by else None
    )
    reads = []
    real = ParquetWarehouse.read

    def spy(self, *a, **kw):
        reads.append(a)
        return real(self, *a, **kw)

    monkeypatch.setattr(ParquetWarehouse, "read", spy)
    res = wh.erase_subjects(
        spark, "t", "pk", _subjects(spark, KEYS), partition_by=partition_by
    )
    monkeypatch.undo()
    assert reads == []
    after = wh.read(spark, "t").count()
    assert res == {
        "rows_before": before,
        "rows_erased": before - after,
        "rows_after": after,
        "touched_partitions": touched,
        "purged_versions": None,
    }
    assert before - after == len(KEYS)


def test_erase_outside_zone_map_keeps_map_and_carries(spark, tmp_path):
    """A plain zone-mapped table erased by a column the map does not
    track: only the files holding a subject rewrite, and the map
    survives, maintained over the committed files."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark, 400), "t", cluster_by=["pk"],
                 cluster_partitions=8, stat_cols=["pk"])
    base = wh.path("t")
    before = _inodes(base)
    assert len(before) == 8
    uids = [r.uid for r in wh.read(spark, "t").filter(
        F.col("pk").isin(3, 390)).collect()]
    holding = {
        os.path.basename(r.f) for r in wh.read(spark, "t")
        .filter(F.col("uid").isin(uids))
        .select(F.col("_metadata.file_path").alias("f")).collect()
    }
    res = wh.erase_subjects(spark, "t", "uid", _subjects(spark, uids))
    assert res["rows_erased"] == 2
    after = _inodes(base)
    assert _carried(before, after) == set(before) - holding
    zm = wh.zonemap("t")
    assert zm is not None and set(zm["files"]) == set(after)


def test_bloom_narrowed_partitioned_erase_runs_no_key_scan(
    spark, tmp_path, monkeypatch
):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark).repartition(4, "grp"), "t",
                 partition_by=["part"])
    wh.write_bloom(spark, "t", ["pk"])
    hit, miss = wh.bloom_hit_split(spark, "t", "pk", [11, 201])
    assert hit and miss
    hows = []
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    real = cls.join

    def spy(self, other, on=None, how=None):
        hows.append(how)
        return real(self, other, on, how)

    monkeypatch.setattr(cls, "join", spy)
    before = _inodes(wh.path("t"))
    res = wh.erase_subjects(
        spark, "t", "pk", _subjects(spark, [11, 201]), partition_by=["part"]
    )
    monkeypatch.undo()
    assert "left_semi" not in hows, hows
    assert res["rows_erased"] == 2
    assert res["touched_partitions"] == len({os.path.dirname(r) for r in hit})
    assert _carried(before, _inodes(wh.path("t"))) == set(miss)


def test_subjects_above_probe_cap_take_the_exact_scan(
    spark, tmp_path, monkeypatch
):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark).repartition(4, "grp"), "t")
    wh.write_bloom(spark, "t", ["pk"])
    monkeypatch.setattr(wmod, "DELETE_BLOOM_PROBE_CAP", 2)

    def no_probe(*a, **kw):
        raise AssertionError("manifest probed above DELETE_BLOOM_PROBE_CAP")

    monkeypatch.setattr(ParquetWarehouse, "bloom_hit_split", no_probe)
    res = wh.erase_subjects(spark, "t", "pk", _subjects(spark, [1, 2, 3]))
    assert res["rows_erased"] == 3
    assert wh.read(spark, "t").filter(F.col("pk") <= 3).count() == 1
    bm = wh.bloom("t")
    assert set(bm["files"]) == set(_inodes(wh.path("t")))


def test_hive_table_erased_without_partition_by_refuses(spark, tmp_path):
    """An erase that must rewrite files of a hive-laid-out table but was
    not told its layout is refused by replace_files, before any write —
    it no longer flattens the table through a full overwrite."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark, 60), "t", partition_by=["part"])
    before = _inodes(wh.path("t"))
    with pytest.raises(ValueError, match="pass partition_by"):
        wh.erase_subjects(spark, "t", "pk", _subjects(spark, [4]))
    assert _inodes(wh.path("t")) == before
    assert wh.read(spark, "t").count() == 60


def test_group_member_emptied_by_merge_joins_next_commit(spark, tmp_path):
    from example_dms_dataexport_spark.cdc import merge_and_write

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_rows(spark, 40).select("pk", "name").repartition(2), "t")
    wh.overwrite(_rows(spark, 10).select("pk", "name"), "other")
    assert wh.commit_group_linked(["t", "other"], "g") == 1
    changes = spark.createDataFrame(
        [("D", k, "gone", "f1", k) for k in range(40)],
        "op string, pk long, name string, _dms_filename string, "
        "_dms_rownum long",
    )
    merge_and_write(
        wh, "t", wh.read(spark, "t"), changes, pks=["pk"],
        version_cols=["_dms_filename", "_dms_rownum"],
    )
    assert wh.read(spark, "t").count() == 0
    assert wh.has_committed_data("t")
    assert wh.commit_group_linked(["t", "other"], "g") == 2
    got = wh.read_group(spark, "g")
    assert got["t"].schema == wh.schema("t") and got["t"].count() == 0
    assert got["other"].count() == 10


def _own_nodes(fn):
    """The nodes of ``fn``'s body, not descending into nested defs."""
    stack = list(fn.body)
    while stack:
        node = stack.pop()
        yield node
        for child in ast.iter_child_nodes(node):
            if not isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                stack.append(child)


def _attr_call(node, name):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
    )


def _iterates_zone_files(node):
    """A loop over a zone-map file dict: ``files.items()``/``.values()``
    or ``<map>["files"].items()``/``.values()``."""
    it = getattr(node, "iter", None)
    if not (
        isinstance(node, (ast.For, ast.comprehension))
        and isinstance(it, ast.Call)
        and isinstance(it.func, ast.Attribute)
        and it.func.attr in ("items", "values")
    ):
        return False
    v = it.func.value
    return (isinstance(v, ast.Name) and v.id == "files") or (
        isinstance(v, ast.Subscript)
        and isinstance(v.slice, ast.Constant)
        and v.slice.value == "files"
    )


def _orders_values(node):
    """An ordering comparison between two looked-up values (names or
    subscripts, not constants or calls)."""
    return (
        isinstance(node, ast.Compare)
        and any(isinstance(op, (ast.Lt, ast.LtE, ast.Gt, ast.GtE))
                for op in node.ops)
        and all(isinstance(x, (ast.Name, ast.Subscript))
                for x in [node.left, *node.comparators])
    )


def test_each_key_discovery_step_has_one_home():
    pkg = pathlib.Path(example_dms_dataexport_spark.__file__).parent
    bucket_ids, key_scans, zone_tests, cdc_probes = [], [], [], []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            nodes = list(_own_nodes(fn))
            where = f"{path.relative_to(pkg)}:{fn.name}"
            if any(
                _attr_call(n, "pmod") and n.args
                and _attr_call(n.args[0], "hash")
                for n in nodes
            ):
                bucket_ids.append(where)
            file_path = any(
                isinstance(n, ast.Constant) and n.value == "_metadata.file_path"
                for n in nodes
            )
            semi = any(
                _attr_call(n, "join")
                and any(
                    isinstance(a, ast.Constant) and a.value == "left_semi"
                    for a in [*n.args, *(k.value for k in n.keywords)]
                )
                for n in nodes
            )
            if file_path and semi:
                key_scans.append(where)
            # a function testing zone-map bands: it loops over a map's
            # files and orders values (nested helpers count as its own)
            inner = list(ast.walk(fn))
            if any(map(_iterates_zone_files, inner)) and any(
                map(_orders_values, inner)
            ):
                zone_tests.append(where)
            if path.name == "cdc.py" and any(
                _attr_call(n, "isEmpty") or _attr_call(n, "floor")
                for n in nodes
            ):
                cdc_probes.append(where)
    assert bucket_ids == ["sources/warehouse.py:_bucket_cover"], bucket_ids
    assert key_scans == ["sources/warehouse.py:_key_scan"], key_scans
    assert zone_tests == ["sources/warehouse.py:_interval_cover"], zone_tests
    assert cdc_probes == [], cdc_probes
