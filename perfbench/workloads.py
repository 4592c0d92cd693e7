"""The three workloads. Each drives the engine only through its public
API from one client in a closed loop: a cycle starts after the previous
one returned.

A workload object has ``setup()`` (inputs, registration), then
``first_load()`` and ``warm_up()``, all untimed; then, timed,
``cycle()`` + ``reads()`` repeated, and ``probe()`` after the last
cycle; ``verify()`` runs the final correctness checks. Every timed
operation is measured in wall seconds and in CPU seconds of the whole
process tree (``harness.Stopwatch``). ``m`` holds what was measured,
``table_files()`` and ``layer_counts()`` feed the traced run."""

from __future__ import annotations

import contextlib
import json
import os

import numpy as np

import gen
from harness import Checks, Stopwatch, commit_delta, cores, fresh_dir, parquet_inodes

MANY_TABLES = [("erp", "customer"), ("erp", "orders"), ("erp", "part"), ("erp", "supplier"),
               ("crm", "customer"), ("crm", "orders"), ("crm", "nation"), ("crm", "region")]
MANY_SIZES = {"customer": 15000, "orders": 75000, "part": 20000, "supplier": 1000,
              "nation": 25, "region": 5}
WIDE_SIZES = {"lineitem": 600000, "part": 20000, "supplier": 1000, "customer": 15000}
WIDE_LAYOUT = {"cluster_by": ["l_orderkey"], "cluster_partitions": 16, "stat_cols": ["l_orderkey"]}
LOOKUPS_PER_CYCLE = 5
RANGE_SCANS_PER_CYCLE = 3
# timed cycles per run, at least: most of a run is fixed cost (Spark start,
# first load, warm-up, checks), and a full benchmark session of 4 + 22 runs
# per workload must fit in 3420 s even on a busy host
MIN_CYCLES = 2

_SPARK_TYPES = {"long": "LongType", "int": "IntegerType", "double": "DoubleType",
                "string": "StringType", "date": "DateType"}
# per table: the column whose sum (in cents for doubles) the scan checks
_SUM_COL = {"region": "r_regionkey", "nation": "n_regionkey", "customer": "c_acctbal",
            "supplier": "s_acctbal", "part": "p_retailprice", "orders": "o_totalprice",
            "lineitem": "l_extendedprice"}


def _span(tracer, name: str):
    """A span of the traced run around a client call, so the jobs its
    actions submit land in that layer; nothing when untraced."""
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def spark_schema(table: str):
    from pyspark.sql import types as T

    return T.StructType([T.StructField(c, getattr(T, _SPARK_TYPES[t])()) for c, t in gen.SCHEMAS[table]])


def canon_row(row: dict, table: str) -> tuple:
    out = []
    for c, t in gen.SCHEMAS[table]:
        v = row[c]
        if t in ("long", "int"):
            out.append(int(v))
        elif t == "double":
            out.append(float(v))
        else:
            out.append(str(v))
    return tuple(out)


class Engine:
    """The engine modules, looked up at call time so that the traced run's
    wrappers around module attributes take effect."""

    def __init__(self):
        from example_dms_dataexport_spark import discover, metadata, planner, runner
        from example_dms_dataexport_spark.operators import ann_index, corpus_pipeline, dedup
        from example_dms_dataexport_spark.sources import warehouse
        from example_dms_dataexport_spark.streaming import cdc_fixture, corpus_stream

        self.discover, self.metadata, self.planner, self.runner = discover, metadata, planner, runner
        self.ann_index, self.corpus_pipeline, self.dedup = ann_index, corpus_pipeline, dedup
        self.warehouse = warehouse
        self.cdc_fixture, self.corpus_stream = cdc_fixture, corpus_stream


class Measurements:
    """What a run observed: wall seconds (``*_s``) and process-tree CPU
    seconds without JIT compilation (``*_cpu``) of every timed operation;
    the JIT compiler's CPU seconds per cycle in ``cycle_jit``."""

    def __init__(self):
        self.first_load_s = 0.0
        self.first_load_cpu = 0.0
        self.first_load_rows = 0
        self.cycle_s: list[float] = []
        self.cycle_cpu: list[float] = []
        self.cycle_jit: list[float] = []
        self.cycle_rows: list[int] = []
        self.in_bytes = 0
        self.out_bytes = 0
        self.files_written = 0
        self.files_carried = 0
        self.read_s: list[float] = []
        self.read_cpu: list[float] = []
        self.scan_s: list[float] = []
        self.scan_cpu: list[float] = []
        self.parts: dict[str, list[float]] = {}

    def part(self, name: str, seconds: float) -> None:
        self.parts.setdefault(name, []).append(seconds)

    def cycle(self, sw: Stopwatch, rows: int) -> None:
        self.cycle_s.append(sw.wall)
        self.cycle_cpu.append(sw.cpu)
        self.cycle_jit.append(sw.jit)
        self.cycle_rows.append(rows)

    def read(self, sw: Stopwatch) -> None:
        self.read_s.append(sw.wall)
        self.read_cpu.append(sw.cpu)

    def scan(self, wall: float, cpu: float) -> None:
        self.scan_s.append(wall)
        self.scan_cpu.append(cpu)


# ------------------------------------------------------------------ DMS


class DmsEnv:
    """A landing area, its metadata store and its warehouse."""

    def __init__(self, spark, eng: Engine, root: str, seed: int, tables, sizes,
                 layout: dict | None, band: float | None):
        fresh_dir(root)
        self.spark, self.eng = spark, eng
        self.landing = gen.DmsLanding(os.path.join(root, "stage"), seed, tables, sizes, band=band)
        self.store = eng.metadata.MetadataStore(os.path.join(root, "dms_metadata.json"))
        self.wh = eng.warehouse.ParquetWarehouse(os.path.join(root, "wh"))
        self.schemas = {t.full_path: spark_schema(t.table) for t in self.landing.tables}
        self.load_rows, _ = self.landing.write_full_load()
        cfg = json.dumps({"layout": layout}) if layout else "{}"
        eng.discover.fill_dms_metadata(
            spark, self.store, self.landing.stage,
            primary_keys={t.table: gen.PRIMARY_KEYS[t.table] for t in self.landing.tables},
            additional_config={t.table: cfg for t in self.landing.tables},
        )

    def sync(self, checks: Checks) -> Stopwatch:
        """One scheduler tick: plan, then drain the queue."""
        n = cores()
        with Stopwatch() as sw:
            items = self.eng.planner.prepare_migration_queue(self.spark, self.store, task_count=n)
            res = self.eng.runner.run_queue(self.spark, self.store, self.wh, items, self.schemas, task_count=n)
        for path, err in res.errors:
            checks.record(False, f"{path}: {err[:200]}")
        checks.record(len(items) == len(self.landing.tables) and not res.errors,
                      f"sync planned {len(items)} items, {len(res.errors)} errors")
        return sw

    def lookup(self, t: gen.DmsTable, key: int, checks: Checks) -> Stopwatch:
        from pyspark.sql import functions as F

        pks = gen.PRIMARY_KEYS[t.table]
        with Stopwatch() as sw:
            if t.table == "lineitem":
                df = self.wh.read_zoned(self.spark, t.target, "l_orderkey", key // 8, key // 8)
                rows = df.filter(F.col("l_linenumber") == key % 8).collect()
            else:
                rows = self.wh.read(self.spark, t.target).filter(F.col(pks[0]) == key).collect()
        want = canon_row(t.state.loc[key].to_dict(), t.table)
        got = [canon_row(r.asDict(), t.table) for r in rows]
        checks.record(got == [want], f"lookup {t.target} {key}: {got[:1]} != {want}")
        return sw

    def aggregate(self, t: gen.DmsTable, checks: Checks, key_range: tuple[int, int] | None = None) -> Stopwatch:
        """count + sum of one column (doubles in whole cents) over the table
        or, through the zone map, over an orderkey range."""
        from pyspark.sql import functions as F

        col = _SUM_COL[t.table]
        cents = dict(gen.SCHEMAS[t.table])[col] == "double"
        expr = F.round(F.col(col) * 100).cast("long") if cents else F.col(col).cast("long")
        with Stopwatch() as sw:
            if key_range is None:
                df = self.wh.read(self.spark, t.target)
            else:
                df = self.wh.read_zoned(self.spark, t.target, "l_orderkey", *key_range)
            row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(expr).alias("s")).first()
        st = t.state
        if key_range is not None:
            ok = st["l_orderkey"].to_numpy()
            st = st[(ok >= key_range[0]) & (ok <= key_range[1])]
        vals = st[col].to_numpy()
        want_s = int(np.round(vals * 100).astype(np.int64).sum()) if cents else int(vals.astype(np.int64).sum())
        checks.record((row["n"], row["s"] or 0) == (len(st), want_s),
                      f"aggregate {t.target} {key_range}: {(row['n'], row['s'])} != {(len(st), want_s)}")
        return sw

    def verify(self, checks: Checks) -> dict:
        """Final state of every table against the expected state."""
        out = {}
        for t in self.landing.tables:
            got = gen.state_hash(self.wh.read(self.spark, t.target).toPandas(), gen.SCHEMAS[t.table])
            want = gen.state_hash(t.state, gen.SCHEMAS[t.table])
            checks.record(got == want, f"final state {t.target}: {got} != {want}")
            out[t.target] = {"rows": want[0], "hash": f"{want[1]:016x}", "match": got == want}
        return out


class DmsWorkload:
    """Sync cycles over a DMS landing area. The first load (the B cycle)
    is the session's first sync; the warm-up is one more sync cycle with
    its reads, on the same tables. After every timed cycle, point lookups
    by primary key (the reads) and aggregates (the scans)."""

    max_cycles = None

    def __init__(self, spark, work, seed, checks, tables, sizes, layout=None, band=None):
        self.spark, self.work, self.seed, self.checks = spark, work, seed, checks
        self.tables, self.sizes, self.layout, self.band = tables, sizes, layout, band
        self.eng = Engine()
        self.rng = np.random.default_rng([seed, 9])
        self.m = Measurements()
        self.tracer = None  # set by the traced run

    def setup(self) -> None:
        self.env = DmsEnv(self.spark, self.eng, os.path.join(self.work, "dms"), self.seed,
                          self.tables, self.sizes, self.layout, self.band)

    def first_load(self) -> None:
        sw = self.env.sync(self.checks)
        self.m.first_load_s, self.m.first_load_cpu = sw.wall, sw.cpu
        self.m.first_load_rows = self.env.load_rows

    def warm_up(self) -> None:
        """One sync cycle and its reads, measured nowhere (the first cycle
        after the load still compiles the merge path: ~1.4x the CPU of
        later ones); its results are checked like any other."""
        scratch = Measurements()
        self._cycle(scratch)
        self._reads(scratch)

    def cycle(self) -> None:
        self._cycle(self.m)

    def _cycle(self, m: Measurements) -> None:
        rows, nbytes = self.env.landing.write_cdc()
        before = parquet_inodes(self.env.wh.root)
        sw = self.env.sync(self.checks)
        d = commit_delta(before, parquet_inodes(self.env.wh.root))
        m.cycle(sw, rows)
        m.in_bytes += nbytes
        m.out_bytes += d.bytes_new
        m.files_written += d.files_new
        m.files_carried += d.files_kept

    def reads(self) -> None:
        self._reads(self.m)

    def _reads(self, m: Measurements) -> None:
        env, checks = self.env, self.checks
        for _ in range(LOOKUPS_PER_CYCLE):
            t = env.landing.tables[int(self.rng.integers(len(env.landing.tables)))]
            key = int(self.rng.choice(t.state.index.to_numpy()))
            with _span(self.tracer, "warehouse.read"):
                m.read(env.lookup(t, key, checks))
        if self.band is None:
            # one aggregate per table, timed as one pass
            with _span(self.tracer, "warehouse.read"):
                sws = [env.aggregate(t, checks) for t in env.landing.tables]
            m.scan(sum(sw.wall for sw in sws), sum(sw.cpu for sw in sws))
        else:
            # orderkey ranges holding ~2% of the rows each; several per
            # cycle, since a range spans one or two files
            t = env.landing.tables[0]
            keys = np.sort(t.state["l_orderkey"].to_numpy())
            width = len(keys) // 50
            for _ in range(RANGE_SCANS_PER_CYCLE):
                lo_i = int(self.rng.integers(0, len(keys) - width))
                with _span(self.tracer, "warehouse.read"):
                    sw = env.aggregate(t, checks, (int(keys[lo_i]), int(keys[lo_i + width - 1])))
                m.scan(sw.wall, sw.cpu)

    def probe(self) -> None:
        """Nothing runs after the last cycle."""

    def verify(self) -> dict:
        return self.env.verify(self.checks)

    def table_files(self) -> int:
        return len(parquet_inodes(self.env.wh.root))

    def layer_counts(self) -> dict:
        return {}


def dms_many_tables(spark, work, seed, checks):
    return DmsWorkload(spark, work, seed, checks, MANY_TABLES, MANY_SIZES)


def dms_wide_table(spark, work, seed, checks):
    return DmsWorkload(spark, work, seed, checks, [("erp", "lineitem")],
                       WIDE_SIZES, layout=WIDE_LAYOUT, band=1 / 32)


# ------------------------------------------------------------------ LLM corpus

TRAIN_DOCS = 300  # frozen models: the sample's lowest doc_ids, the same for every seed
INDEX_VECTORS = 300
BASE_DOCS = 100
BATCH_DOCS = 100
LLM_LOOKUPS_PER_CYCLE = 5
PROBES = 10
DEDUP_THRESHOLD = 0.5
MUST_FIND_JACCARD = 0.9  # near-dup pairs this close must all be reported
RECALL_FLOOR = 0.3  # recall@10 on the sample's embeddings measured 0.39-0.59 (nprobe 2 of 8 lists)


class LlmCorpus:
    """The corpus workload over the committed sample of the repository's
    test documents and embeddings (``gen.corpus_documents``). The first
    load ingests the base documents and one batch through the corpus
    stream (two micro-batches: the first creates the table, the second
    appends) and builds the ANN index over sample embeddings. Each cycle
    lands the next document batch and ingests it through the stream;
    after it, point lookups by doc_id (the reads) and one near-dup pass
    over every landed document (the scan; the ingest's perplexity stage
    drops one side of nearly every near-copy pair of the sample, so the
    ingested corpus has next to no pairs to find). One ANN probe batch
    with exact rerank follows the last cycle. Model training, the first
    load and one untimed round of reads are the warm-up."""

    def __init__(self, spark, work, seed, checks):
        self.spark, self.work, self.seed, self.checks = spark, work, seed, checks
        self.eng = Engine()
        self.rng = np.random.default_rng([seed, 19])
        self.m = Measurements()
        self.batch_timings: list[dict] = []
        self.ann_spans: list[dict] = []
        self.dedup_pairs: list[int] = []
        self.last_pairs: list = []
        self.last_probe: tuple[list, list] = ([], [])
        self.lookups: list[tuple[int, list]] = []
        self.tracer = None  # set by the traced run
        self.candidates: list = []  # candidate-pair frames the traced run counts

    def setup(self) -> None:
        root = fresh_dir(os.path.join(self.work, "corpus"))
        self.landing = os.path.join(root, "landing")
        self.emb_path = os.path.join(root, "emb", "part-0.parquet")
        self.ckpt = os.path.join(root, "ckpt")
        self.wh = self.eng.warehouse.ParquetWarehouse(os.path.join(root, "wh"))
        self.pool = gen.corpus_documents(self.seed)
        self.landed = 0
        self.batches = 0
        # the sample runs out after this many cycles
        self.max_cycles = (len(self.pool) - BASE_DOCS) // BATCH_DOCS - 1
        # frozen side inputs (language model, unigram LM and its floor),
        # trained on the same sample documents for every seed, so the share
        # of documents the ingest keeps does not change with the seed
        sf = fresh_dir(os.path.join(self.work, "sf"))
        train = self.pool.sort_values("doc_id").iloc[:TRAIN_DOCS]
        gen.write_parquet(train, os.path.join(sf, "documents.parquet"))
        self.spec, _ = self.eng.cdc_fixture.prepare_corpus_ingest_inputs(
            self.spark, sf, os.path.join(self.work, "prep"), n_batches=1)

    def _land(self, n: int) -> int:
        """Write the next ``n`` sample documents as one landing batch."""
        docs = self.pool.iloc[self.landed:self.landed + n][["doc_id", "text"]]
        path = os.path.join(self.landing, f"batch-{self.batches:05d}", "part-0.parquet")
        self.landed += n
        self.batches += 1
        return gen.write_parquet(docs, path)

    def _ingest(self, timings: list | None) -> None:
        with _span(self.tracer, "corpus_stream"):
            q = self.eng.corpus_stream.start_corpus_ingest_stream(
                self.spark, self.landing + "/*", self.wh, "corpus", self.spec, self.ckpt,
                batch_timings=timings)
            q.awaitTermination()

    def first_load(self) -> None:
        nbytes = self._land(BASE_DOCS) + self._land(BATCH_DOCS)
        emb = gen.corpus_embeddings(self.seed, INDEX_VECTORS)
        self.emb = emb
        nbytes += gen.write_parquet(emb, self.emb_path)
        sink: dict = {}
        with Stopwatch() as ingest:
            self._ingest(None)
        with Stopwatch() as build:
            with _span(self.tracer, "ann_index.build"):
                self.eng.ann_index.build_ann_index(
                    self.wh, self.spark.read.parquet(self.emb_path), "idx", n_lists=8, m=8, k=64, span_sink=sink)
        self.m.part("first_ingest_s", ingest.wall)
        self.m.part("ann_build_s", build.wall)
        self.m.part("ann_build_cpu_s", build.cpu)
        self.ann_spans.append(sink)
        self.m.first_load_s, self.m.first_load_cpu = ingest.wall + build.wall, ingest.cpu + build.cpu
        self.m.first_load_rows = self.landed
        self.m.in_bytes += nbytes
        self.m.out_bytes += sum(parquet_inodes(self.wh.root).values())

    def warm_up(self) -> None:
        """One round of lookups and one near-dup pass, measured nowhere
        (the first pass of a session takes ~1.5x the CPU of later ones)."""
        self._reads(Measurements())

    def cycle(self) -> None:
        nbytes = self._land(BATCH_DOCS)
        before = parquet_inodes(self.wh.root)
        with Stopwatch() as sw:
            self._ingest(self.batch_timings)
        d = commit_delta(before, parquet_inodes(self.wh.root))
        self.m.cycle(sw, BATCH_DOCS)
        self.m.in_bytes += nbytes
        self.m.out_bytes += d.bytes_new
        self.m.files_written += d.files_new
        self.m.files_carried += d.files_kept

    def reads(self) -> None:
        self._reads(self.m)

    def _reads(self, m: Measurements) -> None:
        """Point lookups by doc_id, then the near-dup pass over the landing."""
        from pyspark.sql import functions as F

        for _ in range(LLM_LOOKUPS_PER_CYCLE):
            doc = int(self.pool["doc_id"].iat[int(self.rng.integers(0, self.landed))])
            with Stopwatch() as sw:
                with _span(self.tracer, "warehouse.read"):
                    rows = self.wh.read(self.spark, "corpus").filter(F.col("doc_id") == doc).select("text").collect()
            m.read(sw)
            self.lookups.append((doc, [r["text"] for r in rows]))
        with Stopwatch() as sw:
            with _span(self.tracer, "dedup"):
                pairs = self.eng.dedup.minhash_dedup_pairs(
                    self.spark.read.parquet(self.landing + "/*"), threshold=DEDUP_THRESHOLD).collect()
        m.scan(sw.wall, sw.cpu)
        self.dedup_pairs.append(len(pairs))
        self.last_pairs = pairs
        # the pass leaves its signature relations cached; a client running
        # one pass per cycle frees them before the next
        self.spark.catalog.clearCache()

    def probe(self) -> None:
        """One ANN probe batch with exact rerank, after the last cycle."""
        from pyspark.sql import functions as F

        emb = self.spark.read.parquet(self.emb_path)
        probe_ids = sorted(int(x) for x in self.rng.choice(self.emb["vec_id"].to_numpy(), PROBES, replace=False))
        with Stopwatch() as sw:
            with _span(self.tracer, "ann_index.query"):
                got = self.eng.ann_index.ann_query(
                    self.wh, self.spark, "idx", emb.filter(F.col("vec_id").isin(probe_ids)), k=10, nprobe=2,
                    shortlist=40, rerank_with=emb).collect()
        self.m.part("ann_query_s", sw.wall)
        self.m.part("ann_query_cpu_s", sw.cpu)
        self.last_probe = (probe_ids, got)

    def verify(self) -> dict:
        e, spark, chk = self.eng, self.spark, self.checks
        docs = self.pool.iloc[:self.landed]
        ingested = {r["doc_id"]: r["text"] for r in self.wh.read(spark, "corpus").select("doc_id", "text").collect()}
        # 1. the stream's corpus equals the batch pipeline over the same spec
        batch = e.corpus_pipeline.run_corpus_pipeline(
            spark, spark.createDataFrame(docs[["doc_id", "text"]]), self.spec)
        want = {r["doc_id"] for r in batch.select("doc_id").collect()}
        chk.record(set(ingested) == want, f"ingested {len(ingested)} docs, batch pipeline keeps {len(want)}")
        texts = dict(zip(docs["doc_id"], docs["text"]))
        for doc, found in self.lookups:
            chk.record(found == ([texts[doc]] if doc in ingested else []), f"lookup doc {doc}: {found}")
        # 2. the last near-dup pass against exact Jaccard over every pair of
        # landed documents: each reported pair is a true pair with its
        # exact Jaccard, and no pair at MUST_FIND_JACCARD or above is missed
        ref = exact_jaccard_pairs(texts, DEDUP_THRESHOLD)
        pairs = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])): r["jaccard"] for r in self.last_pairs}
        bad = [p for p, j in pairs.items() if p not in ref or abs(ref[p] - j) > 1e-9]
        chk.record(not bad, f"dedup pairs not at their exact Jaccard: {bad[:3]}")
        missed = [p for p, j in ref.items() if j >= MUST_FIND_JACCARD and p not in pairs]
        chk.record(not missed, f"dedup missed {len(missed)} pairs at Jaccard >= {MUST_FIND_JACCARD}: {missed[:3]}")
        # 3. the probe batch: ten results per probe, recall@10 against
        # exact brute force
        probe_ids, ann = self.last_probe
        per_probe: dict[int, int] = {}
        for r in ann:
            per_probe[r["probe_id"]] = per_probe.get(r["probe_id"], 0) + 1
        chk.record(sorted(per_probe) == probe_ids and all(v == 10 for v in per_probe.values()),
                   f"ann_query returned {per_probe}")
        got_pairs = {(r["probe_id"], r["vec_id"]) for r in ann}
        want_pairs = exact_knn_pairs(self.emb, probe_ids, 10)
        recall = len(got_pairs & want_pairs) / max(1, len(want_pairs))
        chk.record(recall >= RECALL_FLOOR, f"ann recall@10 {recall:.3f} < {RECALL_FLOOR}")
        return {"corpus_docs": len(ingested), "batch_pipeline_docs": len(want),
                "dedup_pairs": len(pairs), "dedup_reference_pairs": len(ref),
                "dedup_must_find": sum(1 for j in ref.values() if j >= MUST_FIND_JACCARD),
                "dedup_reference_pairs_ingested": sum(1 for a, b in ref if a in ingested and b in ingested),
                "recall_at_10": recall}

    def table_files(self) -> int:
        return len(parquet_inodes(self.wh.root))

    def layer_counts(self) -> dict:
        """Per-cycle means of what the corpus layers report through their
        public sinks; the index build happens once, in the first load."""
        def mean(xs):
            return sum(xs) / len(xs) if xs else 0.0

        bt, ann = self.batch_timings, self.ann_spans
        return {
            "corpus_stream.spec_s": mean([b.get("spec_s", 0.0) for b in bt]),
            "corpus_stream.reconcile_s": mean([b.get("reconcile_s", 0.0) for b in bt]),
            "corpus_stream.append_s": mean([b.get("append_s", 0.0) for b in bt]),
            "dedup.candidates": mean(self.m.parts.get("dedup.candidates", [])),
            "dedup.pairs": mean(self.dedup_pairs),
            "ann_index.train_s": mean([a.get("train_sample_s", 0.0) for a in ann]),
            "ann_index.lloyd_s": mean([a.get("lloyd_coarse_s", 0.0) + a.get("lloyd_pq_s", 0.0) for a in ann]),
            "ann_index.encode_commit_s": mean([a.get("encode_commit_s", 0.0) for a in ann]),
        }


def exact_knn_pairs(emb, probe_ids: list[int], k: int) -> set[tuple[int, int]]:
    """(probe_id, vec_id) of each probe's ``k`` nearest vectors by cosine
    similarity, the probe itself included (the exact k-NN that the
    engine's ``knn_brute`` also computes), in numpy."""
    ids = emb["vec_id"].to_numpy()
    x = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(ids)}
    sim = x[[pos[p] for p in probe_ids]] @ x.T
    top = np.argsort(-sim, axis=1, kind="stable")[:, :k]
    return {(int(p), int(ids[j])) for p, js in zip(probe_ids, top) for j in js}


def exact_jaccard_pairs(texts: dict[int, str], threshold: float, k: int = 5) -> dict[tuple[int, int], float]:
    """(smaller id, larger id) -> Jaccard of the distinct ``k``-char
    shingles, for every pair of documents at ``threshold`` or above. One
    dense document x shingle matrix product: exact integer counts."""
    ids = sorted(texts)
    sets = [{texts[i][p:p + k] for p in range(len(texts[i]) - k + 1)} for i in ids]
    vocab: dict[str, int] = {}
    for st in sets:
        for sh in st:
            vocab.setdefault(sh, len(vocab))
    x = np.zeros((len(ids), len(vocab)), np.float32)
    for row, st in enumerate(sets):
        x[row, [vocab[sh] for sh in st]] = 1.0
    inter = (x @ x.T).astype(np.float64)
    size = x.sum(axis=1, dtype=np.float64)
    jac = inter / (size[:, None] + size[None, :] - inter)
    a, b = np.nonzero(np.triu(jac >= threshold, 1))
    return {(ids[i], ids[j]): float(jac[i, j]) for i, j in zip(a, b)}


WORKLOADS = {
    "dms_many_tables": dms_many_tables,
    "dms_wide_table": dms_wide_table,
    "llm_corpus": LlmCorpus,
}
