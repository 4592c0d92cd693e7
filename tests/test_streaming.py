"""Streaming CDC + windowed aggregation tests (Trigger.AvailableNow)."""

from __future__ import annotations

import os

import pytest

import pyspark.sql.functions as F

from example_dms_dataexport_spark.merge import apply_changes
from example_dms_dataexport_spark.sources.warehouse import ParquetWarehouse
from example_dms_dataexport_spark.streaming.cdc_stream import start_cdc_stream
from example_dms_dataexport_spark.streaming.windows import hourly_event_windows
from example_dms_dataexport_spark.tables import load_table


def _write_cdc_file(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(",".join(str(x) for x in r) + "\n")


def test_cdc_stream_matches_batch_merge(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    landing = tmp_path / "landing"
    landing.mkdir()

    target = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        ["id", "name", "val"],
    )
    wh.overwrite(target, "t")

    # two CDC files: update id=1, delete id=2, insert id=4; later file
    # overrides id=1 again (latest-wins across files)
    _write_cdc_file(
        landing / "20240101-000000001.csv",
        [("U", 1, "alice2", 11.0), ("D", 2, "bob", 20.0), ("I", 4, "dave", 40.0)],
    )
    _write_cdc_file(
        landing / "20240102-000000001.csv",
        [("U", 1, "alice3", 12.0)],
    )

    q = start_cdc_stream(
        spark,
        str(landing / "2*.csv"),
        wh,
        "t",
        pks=["id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,  # force one micro-batch per file
    )
    q.awaitTermination(120)

    got = {r["id"]: (r["name"], r["val"]) for r in wh.read(spark, "t").collect()}
    assert got == {
        1: ("alice3", 12.0),
        3: ("carol", 30.0),
        4: ("dave", 40.0),
    }

    # restart with same checkpoint: no files left -> no change (exactly-once)
    q2 = start_cdc_stream(
        spark,
        str(landing / "2*.csv"),
        wh,
        "t",
        pks=["id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    got2 = {r["id"]: (r["name"], r["val"]) for r in wh.read(spark, "t").collect()}
    assert got2 == got


def _write_cdc_parquet(path, rows):
    # physical column names deliberately differ from the target's —
    # position, not name, is the stage contract
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "Op": [r[0] for r in rows],
                "c1": [r[1] for r in rows],
                "c2": [r[2] for r in rows],
                "c3": [r[3] for r in rows],
            }
        ),
        str(path),
    )


def _write_cdc_orc(path, rows):
    # physical names differ from the target's — position is the contract
    import pyarrow as pa
    import pyarrow.orc as orc

    orc.write_table(
        pa.table(
            {
                "Op": [r[0] for r in rows],
                "c1": [r[1] for r in rows],
                "c2": [r[2] for r in rows],
                "c3": [r[3] for r in rows],
            }
        ),
        str(path),
    )


def _write_cdc_xml(path, rows):
    # NAMED contract: elements carry the CDC schema's field names
    # (op + target columns); 'Op' exercises case-insensitive resolution
    body = "".join(
        f"<row><Op>{op}</Op><id>{i}</id><name>{n}</name><val>{v}</val></row>"
        for op, i, n, v in rows
    )
    with open(str(path), "w") as f:
        f.write(f"<rows>{body}</rows>")


def test_cdc_stream_parquet_stage_matches_batch(spark, tmp_path):
    """The stream source honors the metadata file_format like the batch
    path: a parquet-stage table stream-merges through the same positional
    cast + native _metadata.row_index ordering, and the result coincides
    with the batch read_stage + apply_changes over the same files."""
    from example_dms_dataexport_spark.sources.csv_stage import cdc_schema
    from example_dms_dataexport_spark.sources.stage import read_stage

    wh = ParquetWarehouse(str(tmp_path / "whp"))
    landing = tmp_path / "landingp"
    landing.mkdir()
    target = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        ["id", "name", "val"],
    )
    wh.overwrite(target, "t")

    files = [
        str(landing / "20240101-000000001.parquet"),
        str(landing / "20240102-000000001.parquet"),
    ]
    _write_cdc_parquet(
        files[0],
        [("U", 1, "alice2", 11.0), ("D", 2, "bob", 20.0), ("I", 4, "dave", 40.0)],
    )
    # two updates to one key in ONE file: intra-file row_index must order them
    _write_cdc_parquet(
        files[1],
        [("U", 1, "wrong", 1.0), ("U", 1, "alice3", 12.0)],
    )

    q = start_cdc_stream(
        spark,
        str(landing / "2*.parquet"),
        wh,
        "t",
        pks=["id"],
        checkpoint_dir=str(tmp_path / "ckptp"),
        max_files_per_trigger=1,  # one micro-batch per file
        file_format="parquet",
    )
    q.awaitTermination(120)

    got = {r["id"]: (r["name"], r["val"]) for r in wh.read(spark, "t").collect()}
    assert got == {
        1: ("alice3", 12.0),
        3: ("carol", 30.0),
        4: ("dave", 40.0),
    }

    # true stream-vs-batch parity: the batch loader path over the same
    # stage files must produce the identical final state
    changes = read_stage(
        spark,
        files,
        cdc_schema(target.schema),
        file_format="parquet",
        with_file_metadata=True,
    )
    expected = apply_changes(
        target, changes, pks=["id"],
        version_cols=["_dms_filename", "_dms_rownum"],
    )
    assert {tuple(r) for r in expected.collect()} == {
        tuple(r) for r in wh.read(spark, "t").collect()
    }


def _run_cdc_until_done(spark, landing_glob, wh, ckpt, file_format="csv"):
    import time

    q = start_cdc_stream(
        spark,
        landing_glob,
        wh,
        "t",
        pks=["id"],
        checkpoint_dir=ckpt,
        max_files_per_trigger=1,
        file_format=file_format,
    )
    q.awaitTermination(120)
    q.stop()  # deregister before a restart reuses the checkpoint
    for _ in range(100):
        if not q.isActive:
            break
        time.sleep(0.1)


def _drop_latest_commit(ckpt):
    """Simulate the worst crash window: the sink wrote the merge, the
    checkpoint never recorded the commit — the restarted stream
    re-delivers the batch."""
    import os

    commits = os.path.join(ckpt, "commits")
    latest = sorted(f for f in os.listdir(commits) if not f.startswith("."))[-1]
    os.remove(os.path.join(commits, latest))
    crc = os.path.join(commits, f".{latest}.crc")
    if os.path.exists(crc):  # local-FS checksum sidecar blocks the rewrite
        os.remove(crc)


def _cdc_crash_recovery_scenario(spark, tmp_path, file_format):
    """Crash-recovery pin shared by the CSV and parquet stages: run the
    stream over a partial backlog, crash between sink write and
    checkpoint commit (marker removed), land MORE files, restart on the
    same checkpoint — the recovered stream must replay the uncommitted
    batch idempotently, catch up, and converge to the batch path's
    state over ALL files (exactly-once across the restart, not just
    within one run)."""
    from example_dms_dataexport_spark.sources.csv_stage import cdc_schema
    from example_dms_dataexport_spark.sources.stage import read_stage

    ext = file_format
    write = {
        "parquet": _write_cdc_parquet,
        "orc": _write_cdc_orc,
        "xml": _write_cdc_xml,
        "avro": _write_cdc_avro,
    }.get(file_format, _write_cdc_file)
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    landing = tmp_path / "landing"
    landing.mkdir()
    target = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        ["id", "name", "val"],
    )
    wh.overwrite(target, "t")

    files = [
        str(landing / f"2024010{i}-000000001.{ext}") for i in (1, 2, 3)
    ]
    write(files[0], [("U", 1, "alice2", 11.0), ("D", 2, "bob", 20.0)])
    write(files[1], [("I", 4, "dave", 40.0), ("U", 1, "alice3", 12.0)])
    ckpt = str(tmp_path / "ckpt")
    glob = str(landing / f"2*.{ext}")

    _run_cdc_until_done(spark, glob, wh, ckpt, file_format)
    mid = {r["id"]: (r["name"], r["val"]) for r in wh.read(spark, "t").collect()}
    assert mid == {1: ("alice3", 12.0), 3: ("carol", 30.0), 4: ("dave", 40.0)}

    _drop_latest_commit(ckpt)  # crash after the merge, before the commit
    write(files[2], [("U", 4, "dave2", 41.0), ("I", 5, "erin", 50.0)])
    _run_cdc_until_done(spark, glob, wh, ckpt, file_format)

    got = {r["id"]: (r["name"], r["val"]) for r in wh.read(spark, "t").collect()}
    # the batch path over ALL files is the ground truth
    changes = read_stage(
        spark,
        files,
        cdc_schema(target.schema),
        file_format=file_format,
        with_file_metadata=True,
    )
    expected = {
        r["id"]: (r["name"], r["val"])
        for r in apply_changes(
            target, changes, pks=["id"],
            version_cols=["_dms_filename", "_dms_rownum"],
        ).collect()
    }
    assert got == expected
    assert got == {
        1: ("alice3", 12.0),
        3: ("carol", 30.0),
        4: ("dave2", 41.0),
        5: ("erin", 50.0),
    }


def test_cdc_stream_crash_recovery_csv(spark, tmp_path):
    _cdc_crash_recovery_scenario(spark, tmp_path, "csv")


def test_cdc_stream_crash_recovery_parquet(spark, tmp_path):
    _cdc_crash_recovery_scenario(spark, tmp_path, "parquet")


@pytest.mark.slow
def test_cdc_stream_crash_recovery_orc(spark, tmp_path):
    """ORC stage through the stream: positional cast + the
    (blockstart, mono-id) rownum window, across a checkpoint crash."""
    _cdc_crash_recovery_scenario(spark, tmp_path, "orc")


@pytest.mark.slow
def test_cdc_stream_crash_recovery_xml(spark, tmp_path):
    """XML stage through the stream: NAMED schema-driven parse + the
    (blockstart, mono-id) rownum window, across a checkpoint crash."""
    _cdc_crash_recovery_scenario(spark, tmp_path, "xml")


def _write_cdc_avro(path, rows):
    # physical names differ from the target's — position is the contract
    from example_dms_dataexport_spark.sources.avro_stage import (
        write_container,
    )

    write_container(
        str(path),
        ["Op", "c1", "c2", "c3"],
        ["string", "long", "string?", "double"],
        rows,
    )


@pytest.mark.slow
def test_cdc_stream_crash_recovery_avro(spark, tmp_path):
    """Avro stage through the stream across a checkpoint crash. With
    spark-avro absent (this env) the stdlib OCF fallback runs: a
    binaryFile STREAM through the whole-file decode kernel, whose exact
    per-file ``_dms_rownum`` must make latest-in-file win identically
    on the replayed micro-batch."""
    _cdc_crash_recovery_scenario(spark, tmp_path, "avro")


def test_cdc_stream_avro_latest_in_file_wins(spark, tmp_path):
    """Two ops for one pk INSIDE one OCF file: the fallback's exact
    rownum (not arrival order) decides — the ordering guarantee the
    crash pin above relies on."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    landing = tmp_path / "landing"
    landing.mkdir()
    target = spark.createDataFrame([(1, "alice", 10.0)], ["id", "name", "val"])
    wh.overwrite(target, "t")
    _write_cdc_avro(
        landing / "20240101-000000001.avro",
        [("U", 1, "first", 11.0), ("U", 1, "second", 12.0)],
    )
    q = start_cdc_stream(
        spark, str(landing / "2*.avro"), wh, "t", ["id"],
        checkpoint_dir=str(tmp_path / "ckpt"), file_format="avro",
    )
    q.awaitTermination(120)
    got = {r["id"]: (r["name"], r["val"]) for r in wh.read(spark, "t").collect()}
    assert got == {1: ("second", 12.0)}


def test_cdc_stream_agrees_with_batch_operator(spark, tmp_path):
    """The streaming path and a direct batch apply_changes must coincide."""
    wh = ParquetWarehouse(str(tmp_path / "wh2"))
    landing = tmp_path / "landing2"
    landing.mkdir()
    target = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(10)], ["id", "name", "val"]
    )
    wh.overwrite(target, "t")
    rows = [
        ("U" if i % 3 == 0 else ("D" if i % 3 == 1 else "I"), i, f"c{i}", i + 0.5)
        for i in range(15)
    ]
    _write_cdc_file(landing / "20240101-000000001.csv", rows)

    q = start_cdc_stream(
        spark, str(landing / "2*.csv"), wh, "t", ["id"],
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    q.awaitTermination(120)

    changes = spark.createDataFrame(rows, ["op", "id", "name", "val"])
    expected = apply_changes(target, changes, pks=["id"])
    got = {tuple(r) for r in wh.read(spark, "t").collect()}
    want = {tuple(r) for r in expected.collect()}
    assert got == want


def test_windowed_agg_matches_batch_query(spark, tmp_path):
    """Streaming windowed agg (availableNow over a file stream) emits only
    watermark-closed windows; every emitted row must match the batch
    computation of the same expression."""
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = tmp_path / "events_src"
    events.select(
        F.col("event_id"), F.col("user_id"), F.col("event_type"),
        F.col("value"), F.col("ts"),
    ).coalesce(1).write.json(str(src))

    schema = (
        "event_id long, user_id long, event_type string, value double, "
        "ts timestamp"
    )
    stream = (
        spark.readStream.schema(schema).json(str(src))
    )
    agg = hourly_event_windows(stream, watermark="2 hours")
    out = tmp_path / "win_out"
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", str(out))
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(str(out))
    batch = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )
    got_rows = {tuple(r) for r in got.collect()}
    batch_rows = {tuple(r) for r in batch.collect()}
    assert got_rows, "stream emitted no closed windows"
    assert got_rows <= batch_rows  # every emitted window is exact


def test_stateful_sessionizer(spark, tmp_path):
    """applyInPandasWithState sessionizer: a later-batch event beyond the
    gap closes the prior session and emits it exactly once; the trailing
    open session stays in state (not emitted)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from example_dms_dataexport_spark.streaming.sessions import (
        start_session_stream,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    landing = tmp_path / "ev"
    landing.mkdir()
    # batch 1: user 1 has two events 5 min apart; user 2 one event
    (landing / "b1.csv").write_text(
        "1,2024-01-01 10:00:00,1.0\n"
        "1,2024-01-01 10:05:00,2.0\n"
        "2,2024-01-01 10:00:00,5.0\n"
    )
    # batch 2: user 1 event 60 min later -> closes session 1 (n=2, sum=3.0);
    # user 2 event 10 min later -> same session, nothing closes
    (landing / "b2.csv").write_text(
        "1,2024-01-01 11:05:00,9.0\n2,2024-01-01 10:10:00,6.0\n"
    )

    out = tmp_path / "sessions"
    q = start_session_stream(
        spark,
        str(landing / "*.csv"),
        schema,
        checkpoint_dir=str(tmp_path / "ckpt-sess"),
        out_path=str(out),
        gap_minutes=30,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(str(out)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["user_id"] == 1
    assert r["n_events"] == 2 and r["sum_value"] == 3.0
    assert r["session_start"].minute == 0 and r["session_end"].minute == 5


def test_session_batch_stream_parity(spark, tmp_path):
    """Batch session_window and the stateful streaming sessionizer agree
    on closed sessions for the same input."""
    import pyspark.sql.functions as F

    from example_dms_dataexport_spark.streaming.sessions import (
        sessionize_batch,
        start_session_stream,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    landing = tmp_path / "ev2"
    landing.mkdir()
    lines = []
    # 3 users x 3 sessions of 2 events, sessions 45 min apart
    for u in range(1, 4):
        for s in range(3):
            base_min = s * 45
            lines.append(f"{u},2024-01-01 {10 + base_min // 60:02d}:{base_min % 60:02d}:00,{u}.0")
            lines.append(f"{u},2024-01-01 {10 + (base_min + 5) // 60:02d}:{(base_min + 5) % 60:02d}:00,{s}.0")
    (landing / "all.csv").write_text("\n".join(lines) + "\n")
    # a far-future closer event per user so every real session closes
    (landing / "zz_closer.csv").write_text(
        "\n".join(f"{u},2024-01-02 00:00:00,0.0" for u in range(1, 4)) + "\n"
    )

    batch = spark.read.schema(schema).csv(str(landing / "all.csv"))
    expect = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in sessionize_batch(batch, "30 minutes").collect()
    }

    out = tmp_path / "sessions2"
    q = start_session_stream(
        spark,
        str(landing / "*.csv"),
        schema,
        checkpoint_dir=str(tmp_path / "ckpt-sess2"),
        out_path=str(out),
        gap_minutes=30,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == expect


def test_sessionizer_event_time_timeout(spark, tmp_path):
    """With a watermark, an idle user's open session is flushed once the
    watermark passes session_end + gap — no closing event needed."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from example_dms_dataexport_spark.streaming.sessions import (
        start_session_stream,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    landing = tmp_path / "ev3"
    landing.mkdir()
    # batch 1: user 1's only session (10:00-10:05)
    (landing / "b1.csv").write_text(
        "1,2024-01-01 10:00:00,1.0\n1,2024-01-01 10:05:00,2.0\n"
    )
    # batch 2: another user far in the future -> watermark jumps past
    # user 1's (session_end + gap); batch 3 triggers the timer sweep
    (landing / "b2.csv").write_text("2,2024-01-01 13:00:00,5.0\n")
    (landing / "b3.csv").write_text("2,2024-01-01 13:01:00,6.0\n")

    out = tmp_path / "sessions3"
    q = start_session_stream(
        spark,
        str(landing / "*.csv"),
        schema,
        checkpoint_dir=str(tmp_path / "ckpt-sess3"),
        out_path=str(out),
        gap_minutes=30,
        max_files_per_trigger=1,
        watermark_delay="0 seconds",
    )
    q.awaitTermination(120)

    rows = {r["user_id"]: r for r in spark.read.parquet(str(out)).collect()}
    assert 1 in rows, "idle user's session was never flushed by timeout"
    r = rows[1]
    assert r["n_events"] == 2 and r["sum_value"] == 3.0
    assert r["session_end"].hour == 10 and r["session_end"].minute == 5


def test_cdc_stream_bench_fixture_parity(spark, tmp_path):
    """The bench-scale CDC fixture (q18's change-set served as streamed CSV
    files, multiple micro-batches) converges to the batch apply_changes
    answer. Run at sf0.01 here; bench.py drives the same code at the bench
    scale factor."""
    from example_dms_dataexport_spark.streaming.cdc_fixture import (
        batch_expected,
        run_cdc_stream_fixture,
    )

    sf_dir = "/root/testdata/sf0.01"
    wd = str(tmp_path / "cdcfix")
    wh = run_cdc_stream_fixture(spark, sf_dir, wd, n_files=8,
                                max_files_per_trigger=2)
    got = {tuple(r) for r in wh.read(spark, "customer").collect()}
    want = {tuple(r) for r in batch_expected(spark, sf_dir, wd).collect()}
    assert len(got) > 1000
    assert got == want


def test_stream_dedup_first_wins_and_survives_restart(spark, tmp_path):
    from example_dms_dataexport_spark.streaming.dedup_stream import (
        dedup_doc_stream,
    )

    src = tmp_path / "docs"
    src.mkdir()
    schema = "doc_id long, ts timestamp, text string"

    def write_docs(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    t0 = "2024-01-01 00:00:00"
    t1 = "2024-01-01 00:10:00"
    import datetime as dt

    ts0 = dt.datetime.fromisoformat(t0)
    ts1 = dt.datetime.fromisoformat(t1)
    write_docs("f1", [(1, ts0, "alpha beta"), (2, ts0, "gamma delta")])
    write_docs("f2", [(3, ts1, "alpha beta"), (4, ts1, "epsilon")])

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        q = (
            dedup_doc_stream(stream, watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # doc 3 duplicates doc 1's content -> dropped; first arrival kept
    assert got == {1, 2, 4}
    # restart with a new file: state in the checkpoint still rejects
    # duplicates of already-admitted content
    ts2 = dt.datetime.fromisoformat("2024-01-01 00:20:00")
    write_docs("f3", [(5, ts2, "gamma delta"), (6, ts2, "zeta")])
    run_once()
    got2 = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got2 == {1, 2, 4, 6}


def test_rollup_stream_tracks_batch_recompute(spark, tmp_path):
    from example_dms_dataexport_spark.operators import incremental
    from example_dms_dataexport_spark.streaming.rollup_stream import (
        start_rollup_stream,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    facts = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5), ("c", 7)], ["grp", "v"]
    )
    wh.overwrite(incremental.rollup(facts, ["grp"], ["v"]), "agg")

    chg = tmp_path / "chg"
    chg.mkdir()
    schema = (
        "op string, before_grp string, before_v long, "
        "after_grp string, after_v long"
    )
    # file 1: move a(20) -> b(25); file 2: delete c, insert d
    spark.createDataFrame(
        [("U", "a", 20, "b", 25)], schema
    ).coalesce(1).write.parquet(str(chg / "f1"))
    spark.createDataFrame(
        [("D", "c", 7, None, None), ("I", None, None, "d", 100)], schema
    ).coalesce(1).write.parquet(str(chg / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(chg / "*"))
    )
    q = start_rollup_stream(
        spark, stream, wh, "agg", ["grp"], ["v"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = {
        r["grp"]: (r["sum_v"], r["n_rows"])
        for r in wh.read(spark, "agg").collect()
    }
    snapshot = spark.createDataFrame(
        [("a", 10), ("b", 5), ("b", 25), ("d", 100)], ["grp", "v"]
    )
    expect = {
        r["grp"]: (r["sum_v"], r["n_rows"])
        for r in incremental.rollup(snapshot, ["grp"], ["v"]).collect()
    }
    assert got == expect


def test_rollup_stream_replayed_batch_not_double_applied(spark, tmp_path):
    """foreachBatch is at-least-once: after a crash between the warehouse
    overwrite and the checkpoint commit, the source replays the batch.
    The sink records last_batch_id atomically with the rollup and must
    skip the replay instead of folding the same deltas twice."""
    import os

    from example_dms_dataexport_spark.operators import incremental
    from example_dms_dataexport_spark.streaming.rollup_stream import (
        start_rollup_stream,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    facts = spark.createDataFrame([("a", 10), ("b", 5)], ["grp", "v"])
    wh.overwrite(incremental.rollup(facts, ["grp"], ["v"]), "agg")

    chg = tmp_path / "chg"
    chg.mkdir()
    schema = (
        "op string, before_grp string, before_v long, "
        "after_grp string, after_v long"
    )
    spark.createDataFrame(
        [("I", None, None, "a", 100)], schema
    ).coalesce(1).write.parquet(str(chg / "f1"))

    def run(ckpt):
        import time

        stream = spark.readStream.schema(schema).parquet(str(chg / "*"))
        q = start_rollup_stream(
            spark, stream, wh, "agg", ["grp"], ["v"], checkpoint_dir=ckpt
        )
        q.awaitTermination(120)
        q.stop()  # deregister before a restart reuses the checkpoint
        for _ in range(100):
            if not q.isActive:
                break
            time.sleep(0.1)

    ckpt = str(tmp_path / "ckpt")
    run(ckpt)
    expect = {
        r["grp"]: (r["sum_v"], r["n_rows"])
        for r in wh.read(spark, "agg").collect()
    }
    assert expect["a"] == (110, 2)
    assert wh.read_meta("agg") == {
        "checkpoint": os.path.realpath(ckpt),
        "last_batch_id": 0,
    }

    # crash-replay within the SAME checkpoint lineage: remove the latest
    # commit marker (the sink wrote, the checkpoint didn't record), so
    # the restarted stream re-delivers batch 0 — must be skipped
    commits = os.path.join(ckpt, "commits")
    latest = sorted(f for f in os.listdir(commits) if not f.startswith("."))[-1]
    os.remove(os.path.join(commits, latest))
    crc = os.path.join(commits, f".{latest}.crc")
    if os.path.exists(crc):  # local-FS checksum sidecar blocks the rewrite
        os.remove(crc)
    run(ckpt)
    got = {
        r["grp"]: (r["sum_v"], r["n_rows"])
        for r in wh.read(spark, "agg").collect()
    }
    assert got == expect  # not (210, 3): replay skipped

    # a NEW checkpoint lineage restarts batch ids at 0; its batch 0 can
    # hold genuinely new files and must NOT be skipped on the old
    # lineage's last_batch_id
    spark.createDataFrame(
        [("I", None, None, "b", 40)],
        "op string, before_grp string, before_v long, "
        "after_grp string, after_v long",
    ).coalesce(1).write.parquet(str(chg / "f2"))
    run(str(tmp_path / "ckpt2"))
    got2 = {
        r["grp"]: (r["sum_v"], r["n_rows"])
        for r in wh.read(spark, "agg").collect()
    }
    # lineage reset without a table reset re-applies f1 (documented
    # at-least-once across lineages) and must include f2's insert
    assert got2["b"] == (5 + 40, 2)
    assert got2["a"] == (110 + 100, 3)


def test_scd2_stream_tracks_full_rebuild(spark, tmp_path):
    """Continuous SCD2 maintenance: per-micro-batch scd2_apply_delta over
    a change-file stream converges to the full-stream rebuild — q124's
    equivalence, re-proven through the streaming driver."""
    from example_dms_dataexport_spark.operators.scd import scd2_from_changes
    from example_dms_dataexport_spark.streaming.scd_stream import (
        start_scd2_stream,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    schema = "k int, tier string, ts int, eid int"
    seed_rows = [(1, "gold", 1, 100), (2, "basic", 1, 101)]
    later = [
        [(1, "gold", 2, 102), (1, "silver", 3, 103)],   # no-op then change
        [(2, "pro", 4, 104), (3, "new", 5, 105)],       # change + new key
    ]
    hist = scd2_from_changes(
        spark.createDataFrame(seed_rows, schema), ["k"], "ts", ["tier"], ["eid"]
    )
    wh.overwrite(hist, "dim")

    chg = tmp_path / "chg"
    chg.mkdir()
    for i, rows in enumerate(later):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(chg / f"f{i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(chg / "*"))
    )
    q = start_scd2_stream(
        spark, stream, wh, "dim", ["k"], "ts", ["tier"], ["eid"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    rebuilt = scd2_from_changes(
        spark.createDataFrame(
            seed_rows + [r for rows in later for r in rows], schema
        ),
        ["k"], "ts", ["tier"], ["eid"],
    )
    assert {tuple(r) for r in wh.read(spark, "dim").collect()} == {
        tuple(r) for r in rebuilt.collect()
    }


def test_scd2_stream_replayed_batch_not_double_applied(spark, tmp_path):
    """The guarded fold protects the history exactly like the rollup:
    after a crash between the overwrite and the checkpoint commit, the
    replayed batch is skipped (intervals not re-folded)."""
    from example_dms_dataexport_spark.operators.scd import scd2_from_changes
    from example_dms_dataexport_spark.streaming.scd_stream import (
        start_scd2_stream,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    schema = "k int, tier string, ts int, eid int"
    hist = scd2_from_changes(
        spark.createDataFrame([(1, "gold", 1, 100)], schema),
        ["k"], "ts", ["tier"], ["eid"],
    )
    wh.overwrite(hist, "dim")
    chg = tmp_path / "chg"
    chg.mkdir()
    spark.createDataFrame(
        [(1, "silver", 2, 101)], schema
    ).coalesce(1).write.parquet(str(chg / "f0"))

    def run(ckpt):
        import time

        stream = spark.readStream.schema(schema).parquet(str(chg / "*"))
        q = start_scd2_stream(
            spark, stream, wh, "dim", ["k"], "ts", ["tier"], ["eid"],
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)
        q.stop()
        for _ in range(100):
            if not q.isActive:
                break
            time.sleep(0.1)

    ckpt = str(tmp_path / "ckpt")
    run(ckpt)
    expect = {tuple(r) for r in wh.read(spark, "dim").collect()}
    assert len(expect) == 2  # [1,2) gold + [2,None) silver
    _drop_latest_commit(ckpt)
    run(ckpt)  # replayed batch must be skipped by the batch_id guard
    assert {tuple(r) for r in wh.read(spark, "dim").collect()} == expect


def test_erasure_stream_executes_requests_and_replays_idempotently(
    spark, tmp_path
):
    """The GDPR queue: streamed erasure requests delete their subjects
    from a partitioned table batch by batch; a crash-replayed request
    batch converges to the same state (erasure is naturally
    idempotent — no batch-id guard needed)."""
    import time

    from example_dms_dataexport_spark.streaming.erasure_stream import (
        start_erasure_stream,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    rows = [(u, f"v{u}", u % 4) for u in range(20)]
    wh.overwrite(
        spark.createDataFrame(rows, ["user_id", "val", "b"]),
        "t",
        partition_by=["b"],
    )
    req = tmp_path / "req"
    req.mkdir()
    spark.createDataFrame([(1,), (5,)], "user_id int").coalesce(
        1
    ).write.parquet(str(req / "r0"))
    spark.createDataFrame([(2,), (6,), (10,), (14,), (18,)], "user_id int")\
        .coalesce(1).write.parquet(str(req / "r1"))

    def run(ckpt):
        stream = (
            spark.readStream.schema("user_id int")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(req / "*"))
        )
        q = start_erasure_stream(
            spark, stream, wh, "t", "user_id",
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)
        q.stop()
        for _ in range(100):
            if not q.isActive:
                break
            time.sleep(0.1)

    ckpt = str(tmp_path / "ckpt")
    run(ckpt)
    back = wh.read(spark, "t")
    assert back.count() == 13
    erased = {1, 5, 2, 6, 10, 14, 18}
    assert {r["user_id"] for r in back.collect()} == set(range(20)) - erased
    assert not (tmp_path / "wh" / "t" / "b=2").exists()  # bucket emptied

    # crash-replay: re-deliver the last request batch — state unchanged
    _drop_latest_commit(ckpt)
    run(ckpt)
    back2 = wh.read(spark, "t")
    assert {r["user_id"] for r in back2.collect()} == set(range(20)) - erased


def test_erasure_stream_replayed_window_skips_with_zero_data_io(
    spark, tmp_path
):
    """The zero-I/O re-delivery early-exit (r20, the CDC loader's
    last_merged_file pattern): a crash-replayed erasure batch whose
    erase already committed is SKIPPED — erase_subjects is never
    invoked, so no partition rewrite repeats — while a FRESH checkpoint
    lineage (batch ids restart at 0) never matches the stale marker and
    erases normally."""
    import time

    from example_dms_dataexport_spark.streaming.erasure_stream import (
        start_erasure_stream,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    rows = [(u, f"v{u}", u % 4) for u in range(20)]
    wh.overwrite(
        spark.createDataFrame(rows, ["user_id", "val", "b"]),
        "t",
        partition_by=["b"],
    )
    req = tmp_path / "req"
    req.mkdir()
    spark.createDataFrame([(1,), (5,)], "user_id int").coalesce(
        1
    ).write.parquet(str(req / "r0"))

    calls = []
    real = wh.erase_subjects

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    wh.erase_subjects = counting

    def run(ckpt):
        stream = (
            spark.readStream.schema("user_id int")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(req / "*"))
        )
        q = start_erasure_stream(
            spark, stream, wh, "t", "user_id",
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)
        q.stop()
        for _ in range(100):
            if not q.isActive:
                break
            time.sleep(0.1)

    ckpt = str(tmp_path / "ckpt")
    run(ckpt)
    assert len(calls) == 1
    meta = wh.read_meta("t")
    assert meta["last_erasure_batch"] == 0
    assert os.path.realpath(meta["erasure_checkpoint"]) == os.path.realpath(
        ckpt
    )
    survivors = {r["user_id"] for r in wh.read(spark, "t").collect()}
    assert survivors == set(range(20)) - {1, 5}

    # crash-replay of the committed window: the guard skips the erase
    # entirely — zero data-file I/O, state unchanged
    _drop_latest_commit(ckpt)
    run(ckpt)
    assert len(calls) == 1  # erase_subjects NOT re-invoked
    assert {r["user_id"] for r in wh.read(spark, "t").collect()} == survivors

    # fresh lineage: batch ids restart at 0, marker must not match —
    # the erase runs (idempotent) instead of being wrongly skipped
    run(str(tmp_path / "ckpt2"))
    assert len(calls) == 2
    assert {r["user_id"] for r in wh.read(spark, "t").collect()} == survivors


def _rollup_env(spark, tmp_path):
    """Seeded rollup table + one pending change file + a runner helper."""
    import time

    from example_dms_dataexport_spark.operators import incremental
    from example_dms_dataexport_spark.streaming.rollup_stream import (
        start_rollup_stream,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    facts = spark.createDataFrame([("a", 10), ("b", 5)], ["grp", "v"])
    wh.overwrite(incremental.rollup(facts, ["grp"], ["v"]), "agg")
    chg = tmp_path / "chg"
    chg.mkdir()
    schema = (
        "op string, before_grp string, before_v long, "
        "after_grp string, after_v long"
    )
    spark.createDataFrame(
        [("I", None, None, "a", 100)], schema
    ).coalesce(1).write.parquet(str(chg / "f1"))

    def run(ckpt):
        stream = spark.readStream.schema(schema).parquet(str(chg / "*"))
        q = start_rollup_stream(
            spark, stream, wh, "agg", ["grp"], ["v"], checkpoint_dir=ckpt
        )
        q.awaitTermination(120)
        q.stop()
        for _ in range(100):
            if not q.isActive:
                break
            time.sleep(0.1)

    def agg_state():
        return {
            r["grp"]: (r["sum_v"], r["n_rows"])
            for r in wh.read(spark, "agg").collect()
        }

    return wh, run, agg_state


def test_rollup_stream_lineage_guard_normalizes_path(spark, tmp_path):
    """The replay guard's lineage identity is the checkpoint PATH; the
    same lineage restarted with a differently spelled path (trailing
    slash) must still match the stored guard and skip the crash-replayed
    batch instead of double-applying it."""
    import os

    wh, run, agg_state = _rollup_env(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    run(ckpt)
    expect = agg_state()
    assert expect["a"] == (110, 2)

    # crash window: sink committed, checkpoint didn't record the batch
    commits = os.path.join(ckpt, "commits")
    latest = sorted(f for f in os.listdir(commits) if not f.startswith("."))[-1]
    os.remove(os.path.join(commits, latest))
    crc = os.path.join(commits, f".{latest}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run(ckpt + "/")  # same lineage, different spelling
    assert agg_state() == expect  # replay skipped, not (210, 3)


def test_rollup_stream_reseed_prevents_cross_lineage_double_apply(
    spark, tmp_path
):
    """Resetting the checkpoint makes the new lineage re-read every source
    file (documented at-least-once across lineages). Reseeding the rollup
    to the PRE-stream base state alongside the reset yields the correct
    final state — the recovery recipe the docstring mandates."""
    from example_dms_dataexport_spark.operators import incremental

    wh, run, agg_state = _rollup_env(spark, tmp_path)
    run(str(tmp_path / "ckpt1"))
    assert agg_state()["a"] == (110, 2)

    # reset WITHOUT reseeding: the new lineage re-folds f1 → double-apply
    run(str(tmp_path / "ckpt2"))
    assert agg_state()["a"] == (210, 3)

    # reset WITH reseed to the base rollup: replay lands exactly once
    base = spark.createDataFrame([("a", 10), ("b", 5)], ["grp", "v"])
    wh.overwrite(incremental.rollup(base, ["grp"], ["v"]), "agg")
    run(str(tmp_path / "ckpt3"))
    got = agg_state()
    assert got["a"] == (110, 2)
    assert got["b"] == (5, 1)


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (click attribution) over a
    closed file stream must emit exactly the batch join's rows."""
    from example_dms_dataexport_spark.streaming.joins import (
        attribute_clicks_to_views,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    cols = ["event_id", "user_id", "event_type", "ts"]
    vsrc, csrc = tmp_path / "views_src", tmp_path / "clicks_src"
    events.filter(F.col("event_type") == "view").select(*cols)\
        .coalesce(1).write.json(str(vsrc))
    events.filter(F.col("event_type") == "click").select(*cols)\
        .coalesce(1).write.json(str(csrc))

    schema = "event_id long, user_id long, event_type string, ts timestamp"
    sv = spark.readStream.schema(schema).json(str(vsrc))
    sc = spark.readStream.schema(schema).json(str(csrc))
    out = tmp_path / "attr_out"
    q = (
        attribute_clicks_to_views(sv, sc)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", str(out))
        .start()
    )
    q.awaitTermination(180)

    got = {tuple(r) for r in spark.read.parquet(str(out)).collect()}
    # batch side reads the SAME landed JSON (the writer truncates
    # timestamps to millis, so comparing against the parquet originals
    # would differ in sub-milli digits)
    batch = attribute_clicks_to_views(
        spark.read.schema(schema).json(str(vsrc)),
        spark.read.schema(schema).json(str(csrc)),
    )
    expect = {tuple(r) for r in batch.collect()}
    assert got, "stream join emitted nothing"
    assert got == expect


def test_cdc_stream_partition_scoped_merge(spark, tmp_path):
    """Streaming CDC with partition_by must rewrite only touched
    partitions per micro-batch — untouched partition files keep their
    paths and mtimes (the 100 TB continuous-merge shape)."""
    import os

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    landing = tmp_path / "landing"
    landing.mkdir()

    target = spark.createDataFrame(
        [(i, "abc"[i % 3], i * 10) for i in range(9)],
        ["id", "region", "val"],
    )
    wh.overwrite(target, "t", partition_by=["region"])

    def snapshot():
        out = {}
        for dirpath, _d, files in os.walk(wh.path("t")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.stat(p).st_mtime_ns
        return out

    before = snapshot()

    # touch only region=a (ids 0,3,6); delete every region=c row.
    # Positional order is the SOURCE order (op,id,region,val) — the
    # column_order argument shields the cast from the partitioned
    # target's partition-column-last read schema, same as the batch path
    _write_cdc_file(
        landing / "20240101-000000001.csv",
        [("U", 0, "a", 999), ("I", 100, "a", 1000)],
    )
    _write_cdc_file(
        landing / "20240102-000000001.csv",
        [("D", 2, "c", 20), ("D", 5, "c", 50), ("D", 8, "c", 80)],
    )
    q = start_cdc_stream(
        spark,
        str(landing / "2*.csv"),
        wh,
        "t",
        pks=["id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        partition_by=["region"],
        column_order=["id", "region", "val"],
    )
    q.awaitTermination(120)

    got = {r["id"]: (r["region"], r["val"]) for r in wh.read(spark, "t").collect()}
    assert got[0] == ("a", 999) and got[100] == ("a", 1000)
    assert not any(r == "c" for r, _ in got.values())
    assert got[1] == ("b", 10) and got[7] == ("b", 70)

    after = snapshot()
    for p, m in before.items():
        if "region=b" in p:  # never touched by either batch
            assert after.get(p) == m, f"untouched partition rewritten: {p}"
    assert not os.path.isdir(os.path.join(wh.path("t"), "region=c"))


def test_sketch_stream_matches_full_rebuild(spark, tmp_path):
    """Distinct-count sketch state maintained across micro-batches must
    estimate exactly like a sketch rebuilt from ALL rows at once (the
    DataSketches merge law, here exercised through the streaming
    driver), and the estimates must be exact on this tiny value set."""
    from example_dms_dataexport_spark.operators import sketches
    from example_dms_dataexport_spark.streaming.sketch_stream import (
        start_sketch_stream,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    seed = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1)], ["grp", "uid"]
    )
    wh.overwrite(
        sketches.distinct_sketch_rollup(seed, ["grp"], "uid"), "sk"
    )

    chg = tmp_path / "chg"
    chg.mkdir()
    # batch 1: new users + a duplicate that must NOT double-count;
    # batch 2: a brand-new group
    spark.createDataFrame(
        [("a", 2), ("a", 3), ("b", 9)], ["grp", "uid"]
    ).coalesce(1).write.parquet(str(chg / "f1"))
    spark.createDataFrame(
        [("c", 7), ("c", 7)], ["grp", "uid"]
    ).coalesce(1).write.parquet(str(chg / "f2"))

    stream = (
        spark.readStream.schema("grp string, uid long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(chg / "*"))
    )
    q = start_sketch_stream(
        spark, stream, wh, "sk", ["grp"], "uid",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = {
        r["grp"]: r["n_distinct"]
        for r in sketches.estimate(wh.read(spark, "sk")).collect()
    }
    assert got == {"a": 3, "b": 2, "c": 1}

    # stored state answers a coarser grain without any fact access
    total = sketches.estimate(
        sketches.rollup_to(wh.read(spark, "sk"), [])
        .withColumn("_all", F.lit(1))
    ).collect()[0]["n_distinct"]
    assert total == 5  # users 1,2,3,9,7


def test_histogram_stream_matches_full_rebuild(spark, tmp_path):
    """Histogram state maintained across micro-batches must equal the
    histogram built from ALL rows at once — bin-exact, not approximate
    (counts merge by sum over fixed edges)."""
    from example_dms_dataexport_spark.operators import sketches
    from example_dms_dataexport_spark.streaming.sketch_stream import (
        start_histogram_stream,
    )

    lo, hi, bins = 0.0, 100.0, 10
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    seed = spark.createDataFrame(
        [("a", 5.0), ("a", 15.0), ("b", 95.0)], ["grp", "v"]
    )
    wh.overwrite(
        sketches.histogram_sketch(seed, ["grp"], "v", lo, hi, bins), "hist"
    )

    chg = tmp_path / "chg"
    chg.mkdir()
    spark.createDataFrame(
        [("a", 15.5), ("a", 99.0), ("b", 5.0)], ["grp", "v"]
    ).coalesce(1).write.parquet(str(chg / "f1"))
    spark.createDataFrame(
        [("c", 50.0), ("c", 51.0)], ["grp", "v"]
    ).coalesce(1).write.parquet(str(chg / "f2"))

    stream = (
        spark.readStream.schema("grp string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(chg / "*"))
    )
    q = start_histogram_stream(
        spark, stream, wh, "hist", ["grp"], "v", lo, hi,
        checkpoint_dir=str(tmp_path / "ckpt"), n_bins=bins,
    )
    q.awaitTermination(120)

    everything = seed.union(
        spark.createDataFrame(
            [("a", 15.5), ("a", 99.0), ("b", 5.0), ("c", 50.0), ("c", 51.0)],
            ["grp", "v"],
        )
    )
    want = sorted(
        map(
            tuple,
            sketches.histogram_sketch(
                everything, ["grp"], "v", lo, hi, bins
            ).collect(),
        )
    )
    got = sorted(map(tuple, wh.read(spark, "hist").collect()))
    assert got == want

    # the stored state answers percentiles without the fact feed
    est = {
        r["grp"]: r["estimate"]
        for r in sketches.histogram_percentile(
            wh.read(spark, "hist"), ["grp"], 0.5, lo, hi, bins
        ).collect()
    }
    # grp a values {5,15,15.5,99}: median bin is [10,20) -> upper edge 20
    assert est["a"] == 20.0


def test_cms_stream_matches_full_rebuild(spark, tmp_path):
    """Count-min state maintained across micro-batches must equal the
    state built from ALL items at once — cell-exact (counts merge by sum
    over fixed hash cells), and lookups from the stored state alone must
    never undercount any item."""
    import pyspark.sql.functions as F

    from example_dms_dataexport_spark.operators import freq
    from example_dms_dataexport_spark.streaming.sketch_stream import (
        start_cms_stream,
    )

    depth, width = 3, 32
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    seed = spark.createDataFrame(
        [("x",), ("x",), ("y",)], ["item"]
    )
    wh.overwrite(freq.cms_sketch(seed, "item", depth, width), "cms")

    chg = tmp_path / "chg"
    chg.mkdir()
    spark.createDataFrame(
        [("x",), ("z",), ("z",)], ["item"]
    ).coalesce(1).write.parquet(str(chg / "f1"))
    spark.createDataFrame(
        [("y",), ("w",)], ["item"]
    ).coalesce(1).write.parquet(str(chg / "f2"))

    stream = (
        spark.readStream.schema("item string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(chg / "*"))
    )
    q = start_cms_stream(
        spark, stream, wh, "cms", "item",
        checkpoint_dir=str(tmp_path / "ckpt"), depth=depth, width=width,
    )
    q.awaitTermination(120)

    all_items = [("x",), ("x",), ("y",), ("x",), ("z",), ("z",), ("y",), ("w",)]
    everything = spark.createDataFrame(all_items, ["item"])
    want = sorted(
        map(tuple, freq.cms_sketch(everything, "item", depth, width).collect())
    )
    got = sorted(map(tuple, wh.read(spark, "cms").collect()))
    assert got == want

    # the stored state answers frequency probes without the fact feed
    est = {
        r["item"]: r["est_n"]
        for r in freq.cms_lookup(
            wh.read(spark, "cms"), everything.distinct(), "item", depth, width
        ).collect()
    }
    true = {
        r["item"]: r["n"]
        for r in everything.groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for item, n in true.items():
        assert est[item] >= n, item


def test_kll_stream_certificate_and_conservation(spark, tmp_path):
    """KLL state maintained across micro-batches: unlike the histogram/
    CMS maintainers the folded state is batch-order dependent, so the
    pin is the operator's actual contract — exact weight conservation
    (n == total facts ever folded) and the rank-error certificate
    holding for quantiles answered from the stored state alone."""
    from example_dms_dataexport_spark.operators import kll
    from example_dms_dataexport_spark.streaming.sketch_stream import (
        start_kll_stream,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    seed_vals = [("g", float(v)) for v in range(50)]
    seed = spark.createDataFrame(seed_vals, ["g", "v"])
    wh.overwrite(kll.kll_merge(kll.kll_sketch(seed, ["g"], "v", k=32), ["g"], k=32), "kll")

    chg = tmp_path / "chg"
    chg.mkdir()
    batch1 = [("g", float(v)) for v in range(50, 300)]
    batch2 = [("g", float(v * 3 % 211)) for v in range(150)]
    spark.createDataFrame(batch1, ["g", "v"]).coalesce(1).write.parquet(
        str(chg / "f1")
    )
    spark.createDataFrame(batch2, ["g", "v"]).coalesce(1).write.parquet(
        str(chg / "f2")
    )

    stream = (
        spark.readStream.schema("g string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(chg / "*"))
    )
    q = start_kll_stream(
        spark, stream, wh, "kll", ["g"], "v",
        checkpoint_dir=str(tmp_path / "ckpt"), k=32,
    )
    q.awaitTermination(120)

    all_vals = sorted(v for _, v in seed_vals + batch1 + batch2)
    for quant in (0.5, 0.95):
        row = kll.kll_quantile(wh.read(spark, "kll"), quant, k=32).collect()[0]
        assert row["n"] == len(all_vals)  # conservation across all folds
        target = -(-quant * len(all_vals) // 1)
        lt = sum(1 for v in all_vals if v < row["estimate"])
        le = sum(1 for v in all_vals if v <= row["estimate"])
        assert lt < target + row["tol"], (quant, row)
        assert le >= target - row["tol"], (quant, row)


def test_cdc_stream_parquet_empty_landing_then_files(spark, tmp_path):
    """Stream setup on an EMPTY landing dir exercises the schema-discovery
    fallback (no files to read physical names from -> the CDC contract
    names are assumed); the first availableNow pass is a no-op, and a
    restart on the same checkpoint after files land merges them."""
    wh = ParquetWarehouse(str(tmp_path / "whe"))
    landing = tmp_path / "landinge"
    landing.mkdir()
    target = spark.createDataFrame([(1, "a", 1.0)], ["id", "name", "val"])
    wh.overwrite(target, "t")

    q = start_cdc_stream(
        spark,
        str(landing / "2*.parquet"),
        wh,
        "t",
        pks=["id"],
        checkpoint_dir=str(tmp_path / "ckpte"),
        file_format="parquet",
    )
    q.awaitTermination(120)
    assert {tuple(r) for r in wh.read(spark, "t").collect()} == {(1, "a", 1.0)}

    # files land AFTER setup; physical column names match the contract
    # (op + target columns), as DMS parquet exports do
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"op": ["U", "I"], "id": [1, 2], "name": ["a2", "b"],
                  "val": [1.5, 2.0]}),
        str(landing / "20240101-000000001.parquet"),
    )
    q2 = start_cdc_stream(
        spark,
        str(landing / "2*.parquet"),
        wh,
        "t",
        pks=["id"],
        checkpoint_dir=str(tmp_path / "ckpte"),
        file_format="parquet",
    )
    q2.awaitTermination(120)
    got = {r["id"]: (r["name"], r["val"]) for r in wh.read(spark, "t").collect()}
    assert got == {1: ("a2", 1.5), 2: ("b", 2.0)}


def test_cdc_stream_empty_landing_name_mismatch_aborts(spark, tmp_path):
    """Stream started on an EMPTY landing dir assumes contract column
    names (positional formats resolve BY NAME); when real files then
    land with foreign source names, every column including the PK reads
    NULL — the tripwire must kill the stream, never upsert garbage."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    landing = tmp_path / "landing"
    landing.mkdir()
    target = spark.createDataFrame(
        [(1, "alice", 10.0)], ["id", "name", "val"]
    )
    wh.overwrite(target, "t")
    q = start_cdc_stream(
        spark,
        str(landing / "2*.parquet"),
        wh,
        "t",
        pks=["id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=False,  # keep polling so the late file is seen
        file_format="parquet",
    )
    try:
        _write_cdc_parquet(  # foreign physical names: Op,c1,c2,c3
            str(landing / "20240101-000000001.parquet"),
            [("U", 1, "alice2", 11.0)],
        )
        import pytest

        with pytest.raises(Exception, match="primary key"):
            q.awaitTermination(120)
    finally:
        q.stop()
    # the garbage batch must NOT have reached the target
    got = {(r.id, r.name, r.val) for r in wh.read(spark, "t").collect()}
    assert got == {(1, "alice", 10.0)}


def test_cdc_stream_crash_recovery_zone_scoped(spark, tmp_path):
    """The streaming merge composes with the zone-scoped file-pruned
    path: a zone-mapped clustered target takes narrow-key micro-batches
    through replace_files (disjoint files carried as hard links across
    EVERY batch), stays exactly-once across a checkpoint crash, and the
    committed map stays exact so later batches keep pruning."""
    import os

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    landing = tmp_path / "landing"
    landing.mkdir()
    target = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(1, 41)],
        ["id", "name", "val"],
    )
    wh.overwrite(
        target, "t", cluster_by=["id"], cluster_partitions=4,
        stat_cols=["id"],
    )
    tdir = wh.path("t")

    def inodes():
        return {
            n: os.stat(os.path.join(tdir, n)).st_ino
            for n in os.listdir(tdir)
            if n.endswith(".parquet")
        }

    before = inodes()
    assert len(before) >= 3
    # each micro-batch keeps a NARROW key range (a single batch mixing
    # a low-band update with a high out-of-range insert would widen its
    # [min, max] over every band and correctly fall back to the full
    # path — range scoping prunes by batch key locality)
    files = [str(landing / f"2024010{i}-000000001.csv") for i in (1, 2, 3)]
    _write_cdc_file(files[0], [("U", 1, "alice2", 11.0), ("D", 2, "bob", 20.0)])
    _write_cdc_file(files[1], [("U", 1, "alice3", 12.0), ("U", 4, "dave", 40.0)])
    ckpt = str(tmp_path / "ckpt")
    glob = str(landing / "2*.csv")

    _run_cdc_until_done(spark, glob, wh, ckpt)
    _drop_latest_commit(ckpt)  # crash after the merge, before the commit
    _write_cdc_file(files[2], [("I", 41, "frank", 41.0), ("I", 45, "erin", 50.0)])
    _run_cdc_until_done(spark, glob, wh, ckpt)

    got = {r["id"]: (r["name"], r["val"]) for r in wh.read(spark, "t").collect()}
    from example_dms_dataexport_spark.sources.csv_stage import (
        cdc_schema,
        read_stage_csv,
    )

    changes = read_stage_csv(
        spark, files, cdc_schema(target.schema), with_file_metadata=True
    )
    expected = {
        r["id"]: (r["name"], r["val"])
        for r in apply_changes(
            target, changes, pks=["id"],
            version_cols=["_dms_filename", "_dms_rownum"],
        ).collect()
    }
    assert got == expected
    assert got[1] == ("alice3", 12.0) and 2 not in got
    assert got[4] == ("dave", 40.0)
    assert got[41] == ("frank", 41.0) and got[45] == ("erin", 50.0)
    # update batches sat in the low band, the insert batch beyond every
    # band: the high-band files were never rewritten by any micro-batch
    after = inodes()
    carried = [n for n in before if n in after and after[n] == before[n]]
    assert carried, "streaming zone-scoped merge rewrote every file"
    # map survived every batch and is exact (a fresh rebuild agrees)
    zm = wh.zonemap("t")
    assert zm is not None
    assert set(zm["files"]) == set(after)
    assert wh.write_zonemap(spark, "t", ["id"]) == zm


def test_erasure_stream_defer_mode_accumulates_sidecar(spark, tmp_path):
    """mode='defer': streamed requests accumulate through the
    merge-on-read delete_keys sidecar — zero data-file rewrites per
    batch, subjects unreadable immediately, one materialize applies
    the whole set."""
    import os
    import time

    from example_dms_dataexport_spark.streaming.erasure_stream import (
        start_erasure_stream,
    )

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    rows = [(u, f"v{u}") for u in range(20)]
    wh.overwrite(
        spark.createDataFrame(rows, "user_id int, val string")
        .repartition(4, "user_id"),
        "t",
    )
    base = wh.path("t")
    inodes_before = {
        n: os.stat(os.path.join(base, n)).st_ino
        for n in os.listdir(base)
        if n.endswith(".parquet")
    }
    req = tmp_path / "req"
    req.mkdir()
    spark.createDataFrame([(1,), (5,)], "user_id int").coalesce(1)\
        .write.parquet(str(req / "r0"))
    spark.createDataFrame([(2,), (6,)], "user_id int").coalesce(1)\
        .write.parquet(str(req / "r1"))

    stream = (
        spark.readStream.schema("user_id int")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(req / "*"))
    )
    q = start_erasure_stream(
        spark, stream, wh, "t", "user_id",
        checkpoint_dir=str(tmp_path / "ckpt"), mode="defer",
    )
    q.awaitTermination(120)
    q.stop()
    for _ in range(100):
        if not q.isActive:
            break
        time.sleep(0.1)

    dm = wh.pending_deletes("t")
    assert dm is not None and dm["n_keys"] == 4
    assert {
        n: os.stat(os.path.join(base, n)).st_ino
        for n in os.listdir(base)
        if n.endswith(".parquet")
    } == inodes_before, "defer mode must not touch data files"
    got = {r.user_id for r in wh.read(spark, "t").collect()}
    assert got == set(range(20)) - {1, 2, 5, 6}
    wh.materialize_deletes(spark, "t")
    assert wh.pending_deletes("t") is None
    assert {r.user_id for r in wh.read(spark, "t").collect()} == got
