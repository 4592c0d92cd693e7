"""The traced run's layer map: which module attributes get spans, and how
spans, the Spark event log and the workload's own counts become the
per-layer metrics. Layers are named after the engine's modules."""

from __future__ import annotations

import os

import eventlog
from spans import Tracer, self_times

# layers whose Spark counters are reported (spans that submit jobs)
SPARK_LAYERS = ("planner", "runner", "full_load", "cdc.incremental_load", "cdc.merge_and_write",
                "warehouse.commit", "warehouse.read", "corpus_stream", "dedup",
                "ann_index.build", "ann_index.query")
# layers that run in the first load only: reported from it, not per cycle
FIRST_LOAD_LAYERS = ("full_load", "ann_index.build")
# layers that run once, after the last cycle: reported as run totals
ONCE_LAYERS = ("ann_index.query",)
SCOPES = ("zone", "scan", "hybrid", "replace_partitions", "overwrite")
OWN_METRICS = (
    ("listing.calls", "count"), ("listing.files", "count"), ("listing.self_s", "s"),
    ("metadata.flushes", "count"), ("metadata.self_s", "s"),
    ("planner.self_s", "s"), ("planner.items", "count"),
    ("runner.queue_wait_s", "s"), ("runner.worker_busy_frac", "ratio"), ("runner.retries", "count"),
    ("full_load.self_s", "s"), ("full_load.rows", "count"),
    ("cdc.incremental_load.self_s", "s"), ("cdc.merge_and_write.self_s", "s"),
    ("cdc.files_in", "count"),
    *[(f"cdc.scope_path.{s}", "count") for s in SCOPES],
    ("cdc.files_rewritten", "count"), ("cdc.files_carried", "count"), ("cdc.carry_ratio", "ratio"),
    ("merge.apply_changes.calls", "count"),
    ("stage.files_in", "count"), ("stage.bytes_in", "bytes"),
    ("warehouse.commit.self_s", "s"), ("warehouse.bytes_written", "bytes"),
    ("warehouse.files_written", "count"), ("warehouse.files_linked", "count"),
    ("warehouse.table_files", "count"), ("warehouse.read.self_s", "s"),
    ("warehouse.read_zoned.files_pruned", "count"),
    ("corpus_stream.spec_s", "s"), ("corpus_stream.reconcile_s", "s"),
    ("corpus_stream.append_s", "s"),
    ("dedup.candidates", "count"), ("dedup.pairs", "count"), ("dedup.verify_ratio", "ratio"),
    ("ann_index.train_s", "s"), ("ann_index.lloyd_s", "s"), ("ann_index.encode_commit_s", "s"),
)
_UNITS = {"jobs": "count", "tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
          "shuffle_bytes": "bytes", "python_worker_s": "s", "driver_residual_s": "s"}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = dict(OWN_METRICS)
    for layer in SPARK_LAYERS:
        for c in eventlog.COUNTERS:
            out[f"{layer}.{c}"] = _UNITS[c]
    return out


def _file_size(path: str) -> int:
    try:
        return os.path.getsize(path.split(":", 1)[1] if path.startswith("file:") else path)
    except OSError:
        return 0


def install(tracer: Tracer) -> list:
    """Wrap the module attributes each layer calls through. Returns the
    list the dedup wrapper fills with candidate-pair frames."""
    from example_dms_dataexport_spark import cdc, full_load, metadata, planner, runner
    from example_dms_dataexport_spark.operators import dedup
    from example_dms_dataexport_spark.sources.warehouse import ParquetWarehouse

    def count(key, fn):
        def on_call(sp, args, kwargs, out):
            sp.info[key] = fn(args, kwargs, out)
        return on_call

    tracer.wrap(planner, "prepare_migration_queue", "planner", count("items", lambda a, k, o: len(o)))
    for mod in (planner, cdc, full_load):
        tracer.wrap(mod, "list_stage", "listing", count("files", lambda a, k, o: len(o)))
    for m in ("register", "update_watermarks", "update_column_order"):
        tracer.wrap(metadata.MetadataStore, m, "metadata")
    tracer.wrap(runner, "run_queue", "runner")
    tracer.wrap(runner, "full_load", "full_load", count("rows", lambda a, k, o: o))
    tracer.wrap(runner, "incremental_load", "cdc.incremental_load",
                count("path", lambda a, k, o: a[3]))
    tracer.wrap(cdc, "merge_and_write", "cdc.merge_and_write")
    for fn, scope in (("_zone_scoped_merge", "zone"), ("_scan_scoped_merge", "scan"),
                      ("_hybrid_scoped_merge", "hybrid")):
        tracer.wrap(cdc, fn, f"cdc.scope.{scope}", count("committed", lambda a, k, o: o is not None))
    tracer.wrap(cdc, "apply_changes", "merge.apply_changes")
    for mod in (cdc, full_load):
        tracer.wrap(mod, "read_stage", "stage",
                    count("bytes", lambda a, k, o: [len(a[1]), sum(_file_size(p) for p in a[1])]))
    for m in ("overwrite", "replace_files", "replace_partitions", "append_files"):
        tracer.wrap(ParquetWarehouse, m, "warehouse.commit",
                    count("op", lambda a, k, o, m=m: [m, o if isinstance(o, dict) else None]))
    tracer.wrap(ParquetWarehouse, "read", "warehouse.read")

    def zoned(sp, args, kwargs, out):
        wh, table = args[0], args[2]
        zm = wh.zonemap(table)
        sp.info["pruned"] = (len(zm["files"]) if zm else 0) - len(out.inputFiles())

    tracer.wrap(ParquetWarehouse, "read_zoned", "warehouse.read", zoned)
    candidates: list = []
    tracer.wrap(dedup, "lsh_candidate_pairs", "dedup.candidates",
                lambda sp, a, k, o: candidates.append(o))
    return candidates


def compute(tracer: Tracer, event_log: str | None, n_cycles: int, extra: dict) -> dict:
    """Per-layer metrics, per timed cycle (``FIRST_LOAD_LAYERS`` from the
    first load, ``ONCE_LAYERS`` as run totals). ``extra`` holds counts the
    run measured itself."""
    spans = [s for s in tracer.spans if s.end is not None and s.cycle >= 0]
    jobs = eventlog.read(event_log) if event_log else {}
    eventlog.assign(jobs, spans)
    counters = eventlog.span_counters(jobs, spans)
    selfs = self_times(spans)
    by_id = {s.id: s for s in spans}
    cyc = max(1, n_cycles)

    def sel(name, first_load=False):
        return [s for s in spans if s.name == name and ((s.cycle == 0) if first_load else (s.cycle >= 1))]

    def total(name, key, first_load=False):
        return sum(s.info.get(key, 0) for s in sel(name, first_load))

    def self_s(name, first_load=False):
        return sum(selfs[s.id] for s in sel(name, first_load))

    m: dict[str, float] = {}
    for layer in SPARK_LAYERS:
        fl = layer in FIRST_LOAD_LAYERS
        group = sel(layer, fl)
        for c in eventlog.COUNTERS:
            v = sum(counters[s.id][c] for s in group)
            m[f"{layer}.{c}"] = v if fl or layer in ONCE_LAYERS else v / cyc
    listing = sel("listing")
    m["listing.calls"] = len(listing) / cyc
    m["listing.files"] = total("listing", "files") / cyc
    m["listing.self_s"] = self_s("listing") / cyc
    m["metadata.flushes"] = len(sel("metadata")) / cyc
    m["metadata.self_s"] = self_s("metadata") / cyc
    m["planner.self_s"] = self_s("planner") / cyc
    m["planner.items"] = total("planner", "items") / cyc
    wait = busy = cap = retries = 0.0
    for r in sel("runner"):
        items = [s for s in spans if s.parent == r.id and s.name in ("full_load", "cdc.incremental_load")]
        starts: dict[str, float] = {}
        for s in items:
            starts.setdefault(s.info.get("path", s.id), s.start)
        wait += sum(st - r.start for st in starts.values())
        busy += sum(s.end - s.start for s in items)
        cap += (r.end - r.start) * max(1, len({s.thread for s in items}))
        retries += sum(1 for s in items if s.name == "cdc.incremental_load") - len(
            {s.info.get("path") for s in items if s.name == "cdc.incremental_load"})
    m["runner.queue_wait_s"] = wait / cyc
    m["runner.worker_busy_frac"] = busy / cap if cap else 0.0
    m["runner.retries"] = retries
    m["full_load.self_s"] = self_s("full_load", True)
    m["full_load.rows"] = total("full_load", "rows", True)
    m["cdc.incremental_load.self_s"] = self_s("cdc.incremental_load") / cyc
    m["cdc.merge_and_write.self_s"] = self_s("cdc.merge_and_write") / cyc
    stage = [s.info.get("bytes", [0, 0]) for s in sel("stage")]
    m["cdc.files_in"] = sum(b[0] for b in stage) / cyc
    paths = {s: 0 for s in SCOPES}
    rewritten = carried = 0
    for mw in sel("cdc.merge_and_write"):
        kids = [s for s in spans if s.parent == mw.id]
        scope = next((s.name.rsplit(".", 1)[1] for s in kids
                      if s.name.startswith("cdc.scope.") and s.info.get("committed")), None)
        commits = [s.info.get("op", [None, None]) for s in spans if s.name == "warehouse.commit"
                   and _under(s, mw.id, by_id)]
        for op, res in commits:
            if scope is None and op in ("replace_partitions", "overwrite"):
                scope = op
            if res:
                rewritten += res.get("files_replaced", 0)
                carried += res.get("files_linked", 0)
        if scope is not None:
            paths[scope] += 1
    for s in SCOPES:
        m[f"cdc.scope_path.{s}"] = paths[s] / cyc
    m["cdc.files_rewritten"] = rewritten / cyc
    m["cdc.files_carried"] = carried / cyc
    m["cdc.carry_ratio"] = carried / (carried + rewritten) if carried + rewritten else 0.0
    m["merge.apply_changes.calls"] = len(sel("merge.apply_changes")) / cyc
    m["stage.files_in"] = m["cdc.files_in"]
    m["stage.bytes_in"] = sum(b[1] for b in stage) / cyc
    m["warehouse.commit.self_s"] = self_s("warehouse.commit") / cyc
    m["warehouse.read.self_s"] = self_s("warehouse.read") / cyc
    m["warehouse.read_zoned.files_pruned"] = total("warehouse.read", "pruned") / cyc
    for k in ("bytes_written", "files_written", "files_linked", "table_files"):
        m[f"warehouse.{k}"] = extra.get(k, 0)
    for k in ("spec_s", "reconcile_s", "append_s"):
        m[f"corpus_stream.{k}"] = extra.get(f"corpus_stream.{k}", 0.0)
    for k in ("candidates", "pairs", "train_s", "lloyd_s", "encode_commit_s"):
        key = f"dedup.{k}" if k in ("candidates", "pairs") else f"ann_index.{k}"
        m[key] = extra.get(key, 0.0)
    m["dedup.verify_ratio"] = m["dedup.pairs"] / m["dedup.candidates"] if m["dedup.candidates"] else 0.0
    return m


def _under(span, ancestor: int, by_id: dict) -> bool:
    p = span.parent
    while p is not None:
        if p == ancestor:
            return True
        p = by_id[p].parent if p in by_id else None
    return False
