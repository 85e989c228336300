"""The workloads: extract_plans (plan dispatch and an ACID script on one
lake) and catalog_queries (the headline catalog entries).

Each is a closed loop with one client: the next op starts when the
previous one returns.  A workload's seeded script is a list of blocks
with the same op mix; block 0 feeds the warm-up (on state that is then
discarded) and the measured run executes whole blocks from block 1 on,
so every run measures the same mix.  Every op is appended to
``self.ops`` as a dict with ``kind``, ``cls`` (``read``/``write``),
``lat`` (seconds), ``rows`` written, ``ok`` and the Spark job groups it
ran under (traced run only).
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import nullcontext
from importlib import import_module
from pathlib import Path

import pyarrow.dataset as pads
import pyarrow.parquet as pq

from . import gen
from .trace import Tracer, stage_metrics

PKG = "platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark"

#: the bench.py headline set (``__spark_entry__.queries()`` names)
HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "groupby_multi_agg", "window_topk_per_group", "left_join_order_counts",
    "events_sessionize", "events_tumbling_window", "dedup_exact_text",
    "dedup_minhash_lsh_pairs", "dedup_ngram_jaccard_pairs", "ann_cosine_topk",
    "ann_lsh_bucket_topk", "ann_ivf_topk", "text_quality_scores",
    "text_top_tokens", "split_train_holdout", "p6_clean_pipeline_composite",
    "curate_training_corpus",
]


def pkg(name: str):
    return import_module(f"{PKG}.{name}")


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class Workload:
    name = ""
    #: nominal duration of one block on a 4-core host
    block_seconds = 10.0

    def __init__(self, spark, data: Path, inputs: Path, state: Path, seed: int,
                 tracer: Tracer | None):
        self.spark, self.data, self.inputs, self.state = spark, data, inputs, state
        self.seed, self.tracer = seed, tracer
        self.blocks: list[list] = []
        self.ops: list[dict] = []
        self.problems: list[str] = []

    def bind(self, spark, tracer: Tracer | None = None) -> None:
        """Run on ``spark``, traced by ``tracer`` (inputs are generated
        before the session starts; the warm-up is never traced)."""
        self.spark, self.tracer = spark, tracer

    # -- hooks each workload fills in
    def generate(self) -> None:
        """Generate the workload's inputs from the seed."""

    def begin(self, warm: bool) -> None:
        """Fresh state for the warm-up or the measured run."""

    def step(self, spec) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def layer_counts(self) -> dict[str, float]:
        return {}

    def warmup(self) -> None:
        raise NotImplementedError

    # -- shared run loop
    def run(self, seconds: float) -> float:
        """Whole blocks from block 1 on, from the state ``begin`` made.

        The block count is fixed by ``seconds`` and the workload's nominal
        ``block_seconds``, not by the clock, so every run of a workload
        does the same work whatever the host's speed."""
        n = max(1, round(seconds / self.block_seconds))
        if n >= len(self.blocks):
            raise ValueError(f"--seconds {seconds} needs {n} blocks; the script has {len(self.blocks) - 1}")
        self.first_stage = max(stage_metrics(self.spark), default=-1) + 1
        t0 = time.perf_counter()
        for block in self.blocks[1 : n + 1]:
            for spec in block:
                self.step(spec)
        return time.perf_counter() - t0

    def _op(self, kind: str, cls: str, fn, **extra) -> dict:
        """Run one op; in the traced run under its own job group and span."""
        op = {"kind": kind, "cls": cls, "rows": 0, "ok": True, "groups": [], **extra}
        sc = self.spark.sparkContext
        idx = len(self.ops)
        if self.tracer is not None:
            op["groups"].append(f"op{idx}")
            sc.setJobGroup(f"op{idx}", kind)
            with self.tracer.op_span(idx, f"op.{kind}"):
                t0 = time.perf_counter()
                fn(op)
                op["lat"] = time.perf_counter() - t0
            sc.setJobGroup("idle", "between ops")
        else:
            t0 = time.perf_counter()
            fn(op)
            op["lat"] = time.perf_counter() - t0
        self.ops.append(op)
        return op

    def span(self, name: str):
        """A span in the traced run around a call the benchmark makes itself."""
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def samples(self, cls: str) -> list[float]:
        """Latencies of the read or the write ops."""
        return [op["lat"] for op in self.ops if op["cls"] == cls]

    def measured_stages(self) -> dict[int, dict[str, int]]:
        return {k: v for k, v in stage_metrics(self.spark).items() if k >= self.first_stage}

    def fail(self, msg: str) -> None:
        if len(self.problems) < 20:
            self.problems.append(msg)


# ---- extract_plans --------------------------------------------------------


class PlanDispatch(Workload):
    """Plan files dispatched one at a time through the orchestrator,
    with Athena-style reads of the landed catalog tables in between."""

    name = "plans"

    def generate(self) -> None:
        self.meta = gen.gen_extract(self.data, self.inputs, self.seed)
        self.blocks = self.meta["blocks"]

    def begin(self, warm: bool) -> None:
        root = gen.fresh_dir(self.state)
        self.database = "warmup" if warm else "datalake"
        shutil.copy(self.inputs / "ledger_history.jsonl", root / "ledger.jsonl")
        eng = pkg("engine")
        engine = eng.Engine(
            self.spark,
            pkg("sources.registry").SourceRegistry(self.spark, parquet_root=str(self.data)),
            eng.EngineConfig(target_root=str(root / "lake"), target_database=self.database),
            pkg("sinks.ledger").Ledger(root / "ledger.jsonl"),
            pkg("sinks.notify").NotificationLog(root / "notifications.jsonl"),
        )
        self.orch = pkg("orchestrator").Orchestrator(engine, root / "queue")
        self.landed: dict[str, int] = {}

    def step(self, spec: dict) -> None:
        if spec["op"] == "query":
            table = f"{self.database}.{spec['target']}"

            def query(op):
                # an Athena-style reader lists the table's files on every
                # query; a Spark session caches the listing until refreshed
                with self.span("spark.table_read"):
                    self.spark.catalog.refreshTable(table)
                    op["n"] = self.spark.sql(f"SELECT count(*) AS n FROM {table}").first().n

            op = self._op("query", "read", query, spec=spec)
            if op["n"] != self.landed[spec["target"]]:
                self.fail(f"query {table}: {op['n']} rows, expected {self.landed[spec['target']]}")
            return
        queued = self.orch.queue_root / "run_now" / spec["plan"]
        shutil.copy(self.inputs / "plans" / spec["plan"], queued)

        def dispatch(op):
            outcome = self.orch.dispatch({"plan_file": str(queued)})[0]
            op["outcome"] = outcome
            op["rows"] = sum(r.row_count or 0 for r in outcome.results)
            op["ok"] = outcome.parse_error is None and outcome.succeeded

        self._op("dispatch", "write", dispatch, spec=spec)
        if not spec["resubmit"]:
            self.landed[spec["target"]] = self.landed.get(spec["target"], 0) + sum(
                j["expected"] for j in spec["jobs"])

    def input_bytes(self) -> float:
        """Source bytes of the rows the run extracted."""
        bpr = self.meta["bytes_per_row"]
        return sum(op["rows"] * bpr[op["spec"]["table"]] for op in self.ops if op["kind"] == "dispatch")

    def stored_bytes(self) -> int:
        return dir_bytes(Path(self.orch.engine.config.target_root))

    def check(self) -> None:
        queue = self.orch.queue_root
        for op in self.ops:
            if op["kind"] != "dispatch":
                continue
            spec, out = op["spec"], op["outcome"]
            if spec["resubmit"]:
                if out.results or len(out.skipped) != len(spec["jobs"]):
                    self.fail(f"{spec['plan']}: resubmit not skipped by the dedup gate")
            else:
                if out.skipped or len(out.results) != len(spec["jobs"]):
                    self.fail(f"{spec['plan']}: {len(out.results)} of {len(spec['jobs'])} jobs ran")
                for r, job in zip(out.results, spec["jobs"]):
                    if r.status != "SUCCEEDED" or r.reconcile_status != "ok":
                        self.fail(f"{spec['plan']} part {job['part']}: {r.status}/{r.reconcile_status} {r.error}")
                    elif r.row_count != job["expected"]:
                        self.fail(f"{spec['plan']} part {job['part']}: {r.row_count} rows != {job['expected']}")
            if not (queue / "succeeded" / spec["plan"]).exists():
                self.fail(f"{spec['plan']}: plan file not in succeeded/")
        self.check_lake()

    def check_lake(self) -> None:
        """Row count of every landed target, read with pyarrow."""
        root = Path(self.orch.engine.config.target_root)
        for target, expected in self.landed.items():
            source_name, table = target.split("_", 1)
            path = root / source_name / "dba" / table
            got = pads.dataset(str(path), format="parquet").count_rows() if path.exists() else 0
            if got != expected:
                self.fail(f"lake {target}: {got} rows, expected {expected}")

    def layer_counts(self) -> dict[str, float]:
        """Read outside the timer: dedup skip ratio, ledger events and the
        files/dirs the dispatches left in their targets."""
        dispatches = [op for op in self.ops if op["kind"] == "dispatch"]
        jobs = sum(len(op["spec"]["jobs"]) for op in dispatches)
        skipped = sum(len(op["outcome"].skipped) for op in dispatches)
        resubmitted = sum(len(op["spec"]["jobs"]) for op in dispatches if op["spec"]["resubmit"])
        if skipped != resubmitted:
            self.fail(f"dedup skipped {skipped} jobs, the generator resubmitted {resubmitted}")
        with open(self.inputs / "ledger_history.jsonl") as f:
            history = sum(1 for _ in f)
        with open(self.orch.engine.ledger.path) as f:
            events = sum(1 for _ in f) - history
        files = list(Path(self.orch.engine.config.target_root).rglob("*.parquet"))
        n = len(dispatches)
        return {
            "orchestrator.dedup_skip_ratio": skipped / jobs,
            "sinks.ledger.events": events / n,
            "sinks.parquet_sink.files_written": len(files) / n,
            "sinks.parquet_sink.partition_dirs_written": len({p.parent for p in files}) / n,
            "sinks.parquet_sink.rows_per_file": sum(op["rows"] for op in dispatches) / len(files),
        }


# ---- catalog_queries ------------------------------------------------------


class CatalogQueries(Workload):
    """The headline catalog entries, one seeded permutation per block."""

    name = "catalog_queries"
    block_seconds = 20.0

    def generate(self) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.blocks = gen.gen_catalog_order(self.inputs, self.seed, HEADLINE)

    def oracle(self) -> None:
        import __spark_entry__ as entry

        self.expected = gen.oracle_counts(self.data, entry.oracle_sql(), HEADLINE)

    def step(self, name: str) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        sc = self.spark.sparkContext
        fn = self.queries[name]

        def run(op):
            t0 = time.perf_counter()
            if self.tracer is not None:
                op["groups"].append(f"{op['groups'][0]}b")
                sc.setJobGroup(op["groups"][1], f"{name} build")
            with self.span("catalog.build"):
                df = fn(self.spark, str(self.data))
            t1 = time.perf_counter()
            if self.tracer is not None:
                sc.setJobGroup(op["groups"][0], f"{name} exec")
            obs = Observation(f"rows_{len(self.ops)}")
            with self.span("catalog.exec"):
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
            op["build"], op["exec"] = t1 - t0, time.perf_counter() - t1
            op["rows"] = int(obs.get["n"])

        op = self._op("entry", "read", run, entry=name)
        self.verify(name, op["rows"])
        # isolate entries: operators persist tables they never unpersist
        self.spark.catalog.clearCache()

    def warmup(self) -> None:
        """Every entry once, ``nproc`` at a time: an entry's first run is
        mostly code generation and JIT, which overlap well."""
        from concurrent.futures import ThreadPoolExecutor

        def warm(name: str) -> None:
            self.queries[name](self.spark, str(self.data)).write.format("noop").mode("overwrite").save()

        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            for fut in [pool.submit(warm, name) for name in self.blocks[0]]:
                fut.result()
        self.spark.catalog.clearCache()

    def verify(self, name: str, rows: int) -> None:
        want = self.expected.get(name)
        if want is not None and rows != want:
            self.fail(f"{name}: {rows} rows, oracle {want}")

    def samples(self, cls: str) -> list[float]:
        """Reads are whole entry ops; writes are the sink call that
        materializes each result (the ``noop`` write)."""
        if cls == "read":
            return super().samples("read")
        return [op["exec"] for op in self.ops]

    def input_bytes(self) -> float:
        return sum(m["input_bytes"] for m in self.measured_stages().values())

    def stored_bytes(self) -> float:
        """Bytes the read path puts on local disk: shuffle files and spill."""
        return sum(m["shuffle_write_bytes"] + m["spill_bytes"] for m in self.measured_stages().values())

    def check(self) -> None:
        missing = [n for n in HEADLINE if n not in self.expected]
        if missing:
            self.fail(f"no oracle for {missing}")


# ---- acid_mutations -------------------------------------------------------

ACID_PARTITION = ["o_orderpriority"]
ACID_KINDS = set(gen.ACID_BLOCK)
#: commits between log checkpoints, so one run spans several
ACID_CHECKPOINT_INTERVAL = 3


class AcidMutations(Workload):
    """A seeded script of writes, stream batches and reads on one
    transaction-log table built from a base ``orders`` slice."""

    name = "acid"

    def generate(self) -> None:
        self.meta = gen.gen_acid(self.data, self.inputs, self.seed)
        self.blocks = self.meta["blocks"]

    def begin(self, warm: bool) -> None:
        """A fresh table holding the base slice, range-partitioned by key
        into 4 tasks so files carry disjoint key ranges."""
        root = gen.fresh_dir(self.state)
        base = self._read(self.meta["base"])
        self.schema = base.schema
        lh = pkg("lakehouse")
        self.table = lh.TransactionLog(root / "orders", ACID_CHECKPOINT_INTERVAL)
        self.table.append(base.repartitionByRange(4, "o_orderkey"), ACID_PARTITION)
        self.versions = [self.table.latest_version()]
        self.stream_src = gen.fresh_dir(root / "stream_in")
        self.stream_ckpt = root / "stream_ckpt"
        sink = lh.foreach_batch_sink(str(root / "orders"), "perfbench", ACID_PARTITION)
        if self.tracer is not None and not warm:
            sink = self.tracer.wrap_callable(sink, "streaming.batch")
        self.batch_sink = sink

    def _read(self, rel: str):
        return pkg("sources.registry").read_parquet(self.spark, str(self.inputs / rel))

    def _agg(self, df) -> list[int]:
        """[rows, sum of o_totalprice in integer cents]."""
        from pyspark.sql import functions as F

        with self.span("spark.snapshot_read"):
            r = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")), F.lit(0)).alias("c"),
            ).first()
        return [int(r.n), int(r.c)]

    def _stream(self, op: dict) -> None:
        with self.span("streaming.query"):
            self._run_stream(op)

    def _run_stream(self, op: dict) -> None:
        q = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(self.stream_src))
            .writeStream.foreachBatch(self.batch_sink)
            .option("checkpointLocation", str(self.stream_ckpt))
            .trigger(availableNow=True)
            .start()
        )
        op["groups"].append(str(q.runId))
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def step(self, spec: dict) -> None:
        t, kind, spark = self.table, spec["op"], self.spark
        files = spec.get("files", [])

        def run(op):
            if kind == "append":
                t.append(self._read(files[0]), ACID_PARTITION)
            elif kind == "merge":
                t.merge_upsert(self._read(files[0]), ["o_orderkey"])
            elif kind == "delete":
                t.delete_where(spark, spec["where"])
            elif kind == "compact":
                t.compact(spark)
            elif kind == "stream":
                self._stream(op)
            elif kind in ("point", "range"):
                op["result"] = self._agg(t.snapshot(spark, where=spec["where"]))
            elif kind == "full":
                op["result"] = self._agg(t.snapshot(spark))
            else:
                v = self.versions[max(0, len(self.versions) - 1 - spec["back"])]
                op["result"] = self._agg(t.snapshot(spark, version=v))
            op["rows"] = sum(pq.ParquetFile(str(self.inputs / f)).metadata.num_rows for f in files)

        if kind == "stream":
            for f in files:
                shutil.copy(self.inputs / f, self.stream_src / Path(f).name)
        cls = "read" if kind in ("point", "range", "full", "travel") else "write"
        self._op(kind, cls, run, spec=spec)
        self.versions.append(self.table.latest_version())

    def mine(self) -> list[dict]:
        return [op for op in self.ops if op["kind"] in ACID_KINDS]

    def input_bytes(self) -> float:
        files = [self.meta["base"]] + [f for op in self.mine() for f in op["spec"].get("files", [])]
        return sum((self.inputs / f).stat().st_size for f in files)

    def stored_bytes(self) -> int:
        return dir_bytes(self.table.table_path)

    def check(self) -> None:
        """Every read against a DuckDB replay of the executed script, and
        the final and a mid-run snapshot's rows, cents and key set."""
        ops = self.mine()
        specs = [op["spec"] for op in ops]
        replay = gen.replay_acid(self.inputs, self.meta["base"], specs)
        for op, want in zip(ops, replay):
            if want["expect"] is not None and op.get("result") != want["expect"]:
                self.fail(f"{op['kind']} {op['spec']}: got {op.get('result')}, replay {want['expect']}")
        for upto in (len(specs), len(specs) // 2):
            snap = self.table.snapshot(self.spark, version=self.versions[upto])
            got = self._agg(snap)
            want = replay[upto - 1]["state"] if upto else None
            keys = {r.o_orderkey for r in snap.select("o_orderkey").collect()}
            want_keys = gen.acid_keys_at(self.inputs, self.meta["base"], specs[:upto])
            if want is not None and got != want:
                self.fail(f"snapshot v{self.versions[upto]}: {got} != replay {want}")
            if keys != want_keys:
                self.fail(f"snapshot v{self.versions[upto]}: key set differs from the replay "
                          f"({len(keys)} vs {len(want_keys)} keys)")

    def layer_counts(self) -> dict[str, float]:
        hist = [c for c in self.table.history() if c.version > self.versions[0]]
        merge_bytes = sum(c.operation_metrics["bytes_added"] for c in hist if "merge" in c.op.lower())
        merge_src = sum((self.inputs / f).stat().st_size for op in self.mine()
                        if op["kind"] == "merge" for f in op["spec"]["files"])
        pruned = candidates = 0
        for op, v in zip(self.mine(), self.versions):
            if op["kind"] in ("point", "range"):
                live = self.table.files_df(self.spark, version=v).count()
                pruned += live - len(self.table.matching_files(op["spec"]["where"], version=v))
                candidates += live
        interval = self.table.checkpoint_interval
        return {
            "lakehouse.files_live": self.table.files_df(self.spark).count(),
            "lakehouse.files_added": sum(len(c.add) for c in hist),
            "lakehouse.files_removed": sum(len(c.remove) for c in hist),
            "lakehouse.bytes_rewritten_per_byte_changed": merge_bytes / merge_src,
            "lakehouse.skip_ratio": pruned / candidates,
            "lakehouse.log_versions": len(hist),
            "lakehouse.checkpoints": sum(1 for c in hist if c.version % interval == 0),
        }


# ---- extract_plans: both write paths of the lake -------------------------


class ExtractPlans(Workload):
    """Plan dispatches and the ACID script interleaved in one closed loop.

    Both land in the same lake: the parquet sink with its catalog and
    ledger, and a transaction-log table beside it.  The two parts keep
    their own state and checks and share this workload's op list."""

    name = "extract_plans"

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = [PlanDispatch(*args), AcidMutations(*args)]
        for p in self.parts:
            p.ops, p.problems = self.ops, self.problems

    def bind(self, spark, tracer: Tracer | None = None) -> None:
        super().bind(spark, tracer)
        for p in self.parts:
            p.bind(spark, tracer)

    def warmup(self) -> None:
        """Block 0 of both parts at once, each on throw-away state: their
        first runs are mostly code generation and JIT, which overlap."""
        from concurrent.futures import ThreadPoolExecutor

        def warm(p: Workload) -> None:
            p.state = self.state / "warm" / p.name
            p.begin(warm=True)
            for spec in p.blocks[0]:
                p.step(spec)

        with ThreadPoolExecutor(len(self.parts)) as pool:
            for fut in [pool.submit(warm, p) for p in self.parts]:
                fut.result()
        self.ops.clear()
        self.problems.clear()

    def generate(self) -> None:
        for p in self.parts:
            p.generate()
        rng = random.Random(self.seed * 3 + 1)
        self.blocks = []
        for plans, acid in zip(self.parts[0].blocks, self.parts[1].blocks):
            order = [0] * len(plans) + [1] * len(acid)
            rng.shuffle(order)
            queues = [iter(plans), iter(acid)]
            self.blocks.append([next(queues[i]) for i in order])

    def begin(self, warm: bool) -> None:
        for p in self.parts:
            p.state = self.state / p.name
            p.begin(warm)

    def step(self, spec: dict) -> None:
        self.parts[spec["op"] in ACID_KINDS].step(spec)

    def input_bytes(self) -> float:
        return sum(p.input_bytes() for p in self.parts)

    def stored_bytes(self) -> float:
        return sum(p.stored_bytes() for p in self.parts)

    def check(self) -> None:
        for p in self.parts:
            p.check()

    def layer_counts(self) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.layer_counts().items()}


WORKLOADS = {w.name: w for w in (ExtractPlans, CatalogQueries)}
