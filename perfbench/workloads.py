"""The benchmark's workloads and the closed-loop harness that drives them.

One client, one driver process, ``local[4]``: each operation is a call into
the package's public functions, made only after the previous one returned.
A run is: generate inputs (timed apart) → set up (imports, registry load,
Spark session, two runs of the calibration job) → one cold pass in the
fresh session → on daily_etl, warm passes until ``seconds`` have elapsed,
at least three → with ``--trace 1``, a restart with the Spark event log on
and one traced pass, attributed layer by layer.
"""

from __future__ import annotations

import gc
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

import checks
import duckdb
import gen
from eventlog import SPAN_KEY, EventLog, Span, attribute, read_events

CORES = 4
# the pass count must not hinge on whether one pass ends just before or
# just after ``seconds``: passes still get faster for a while (JIT); and a
# median of three resists one pass a host stall lengthened
MIN_WARM_PASSES = 3
now = time.perf_counter
_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds, user plus system, of ``root_pid`` and every live
    descendant (the JVM and its Python workers), each with its reaped
    children."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / _TICK


@dataclass
class Op:
    name: str
    run: Callable[[], object]  # timed body; returns what the check reads


@dataclass
class PassResult:
    wall_s: float
    cpu_s: float
    times: dict[str, float]
    outputs: dict[str, object]
    failures: dict[str, str] = field(default_factory=dict)
    tag: str = ""


class Harness:
    """Spark lifecycle and span tagging for one run."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.spans: dict[str, Span] = {}
        self.event_dir = os.path.join(work, "eventlog")

    def start(self, traced: bool):
        from music_streaming_services_etl_pipeline_with_airflow_spark.session import get_spark

        if traced:
            from pyspark import SparkConf, SparkContext

            os.makedirs(self.event_dir, exist_ok=True)
            conf = (
                SparkConf()
                .setMaster(f"local[{CORES}]")
                .set("spark.eventLog.enabled", "true")
                .set("spark.eventLog.dir", "file://" + self.event_dir)
                .set("spark.eventLog.compress", "false")
            )
            SparkContext(conf=conf)
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
        self.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    @contextmanager
    def span(self, span_id: str, span: Span):
        self.spans[span_id] = span
        sc = self.spark.sparkContext
        sc.setLocalProperty(SPAN_KEY, span_id)
        try:
            yield
        finally:
            sc.setLocalProperty(SPAN_KEY, None)

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver JVM plus this Python process."""
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            jvm_kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
        return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024

    def host(self) -> dict:
        import pyspark

        jvm = self.spark.sparkContext._jvm
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "cores_used": CORES,
            "spark": pyspark.__version__,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "driver_heap_mb": round(jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20),
            "python": sys.version.split()[0],
        }


# the runtime SQL confs that shape the calibration job, pinned around it so
# that a change to the package's session settings moves the pass walls but
# not their yardstick: a fixed 4-way shuffle, no adaptive re-planning
_CALIB_CONF = {
    "spark.sql.shuffle.partitions": str(CORES),
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.codegen.wholeStage": "true",
}
CALIB_ROWS = 4_000_000


def collect_garbage(spark) -> None:
    """Full garbage collection in this process and the JVM, so that no
    timed interval pays for garbage an earlier one left; untimed."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def calibrate(spark) -> float:
    """Wall of a fixed Spark job that calls nothing in the package: a
    codegen'd hash, a shuffle and an aggregate over a range, run under
    ``_CALIB_CONF``. Divided into a pass wall (``wall_rel``), it cancels
    most of the drift a shared host adds."""
    collect_garbage(spark)
    saved = {k: spark.conf.get(k, None) for k in _CALIB_CONF}
    for k, v in _CALIB_CONF.items():
        spark.conf.set(k, v)
    try:
        t0 = now()
        spark.range(0, CALIB_ROWS, 1, CORES).selectExpr("pmod(xxhash64(id), 4096) AS k").groupBy(
            "k"
        ).count().selectExpr("sum(count) AS n").collect()
        return now() - t0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_pass(ops: list[Op], before_op: Callable[[], object] | None = None) -> PassResult:
    """Each operation once, in order; ``before_op`` runs untimed before
    each. The pass's wall and CPU are the sums over its operations."""
    times, outputs, failures = {}, {}, {}
    cpu = 0.0
    for op in ops:
        if before_op is not None:
            before_op()
        cpu0 = tree_cpu_s(os.getpid())
        t0 = now()
        try:
            outputs[op.name] = op.run()
        except Exception as e:  # an operation that raises counts as failed
            failures[op.name] = f"{type(e).__name__}: {str(e)[:300]}"
        times[op.name] = now() - t0
        cpu += tree_cpu_s(os.getpid()) - cpu0
    return PassResult(sum(times.values()), cpu, times, outputs, failures)


# ------------------------------------------------------------------ daily_etl
class DailyEtl:
    """The product path: dated CSV drops through ``run_daily`` into a
    partitioned warehouse, then the reference's seven validation queries
    over what was written. The cold pass runs every drop into a fresh
    warehouse. Every later pass re-runs the last drop over it, an
    idempotent partition overwrite. The check requires that the contents
    match, that every file of the re-run drop's partitions was replaced,
    and that the other dates' partitions were left untouched."""

    SINGLE_PASS = False

    def __init__(self, h: Harness, seed: int):
        self.h = h
        self.seed = seed
        self.oracle = None

    def generate(self) -> None:
        self.inputs = gen.write_daily_drops(os.path.join(self.h.work, "input"), self.seed)
        self.dates = list(self.inputs["drops"])

    def setup(self, spark) -> None:
        from music_streaming_services_etl_pipeline_with_airflow_spark.orchestration.daily_job import (
            run_daily,
        )
        from music_streaming_services_etl_pipeline_with_airflow_spark.plans.sql_surface import (
            _Q_BODIES,
        )

        self.run_daily = run_daily
        self.bodies = {name: body for name, (body, _) in _Q_BODIES.items()}

    def ops(self, tag: str, cold: bool) -> list[Op]:
        self.warehouse = os.path.join(self.h.work, "warehouse")
        self.before = self._partition_files()
        self.rerun = self.dates if cold else self.dates[-1:]
        ops = [Op(f"run_daily:{d}", self._daily(tag, d, self.warehouse)) for d in self.rerun]
        return ops + [Op("kpi_sql", self._kpi_sql(tag, self.warehouse))]

    def _daily(self, tag, date, wh):
        def op():
            with self.h.span(f"{tag}/run_daily:{date}", Span("operators.kpis")):
                res = self.run_daily(self.h.spark, self.inputs["drops"][date], self.inputs["songs"], wh)
            if res.status != "ok":
                raise RuntimeError(f"run_daily returned {res.status}")
        return op

    def _kpi_sql(self, tag, wh):
        def op():
            spark = self.h.spark
            with self.h.span(f"{tag}/kpi_sql", Span("plans.sql_surface")):
                for t in ("genre_kpis", "hourly_kpis"):
                    spark.read.parquet(f"{wh}/{t}").createOrReplaceTempView(t)
                return {n: spark.sql(b).collect() for n, b in self.bodies.items()}
        return op

    def _partition_files(self) -> dict[str, set[tuple[str, int]]]:
        """``{"<table>/<date>": {(file name, mtime ns)}}`` of the parquet
        files in each date partition of the warehouse."""
        out = {}
        for t in ("genre_kpis", "hourly_kpis"):
            for d in self.dates:
                p = os.path.join(self.warehouse, t, f"date={d}")
                out[f"{t}/{d}"] = {
                    (e.name, e.stat().st_mtime_ns)
                    for e in (os.scandir(p) if os.path.isdir(p) else ())
                    if e.name.endswith(".parquet")
                }
        return out

    def check(self, res: PassResult) -> dict[str, str]:
        """Warehouse partitions and validation answers against DuckDB over
        the CSVs, and the re-run drops' partition files replaced and no
        others, as ``{operation: mismatch}``. A fault in a partition this
        pass did not re-run counts for the pass's last ``run_daily``."""
        if self.oracle is None:
            self.oracle = checks.DailyOracle(
                self.inputs["songs"], [self.inputs["drops"][d] for d in self.dates]
            )
        try:
            found = self.oracle.check_warehouse(self.warehouse)
        except duckdb.Error as e:  # nothing readable was written
            found = {d: f"warehouse unreadable: {e}" for d in self.dates}
        def op(d: str) -> str:
            return f"run_daily:{d if d in self.rerun else self.rerun[-1]}"

        bad = {}
        for d, err in found.items():
            bad.setdefault(op(d), err)
        for key, files in self._partition_files().items():
            t, d = key.split("/")
            if not files:
                bad.setdefault(op(d), f"{t}: partition {d} has no files")
            elif d in self.rerun and files & self.before[key]:
                bad.setdefault(op(d), f"{t}: partition {d} was not rewritten")
            elif d not in self.rerun and files != self.before[key]:
                bad.setdefault(op(d), f"{t}: partition {d} changed")
        for name, rows in (res.outputs.get("kpi_sql") or {}).items():
            err = checks.diff(name, checks.rows_of(rows), self.oracle.answer(self.bodies[name]))
            if err:
                bad.setdefault("kpi_sql", err)
        return bad

    def detail(self, cold: PassResult, timed: list[PassResult]) -> dict:
        daily = [t for p in timed for n, t in p.times.items() if n.startswith("run_daily")]
        return {
            "etl_run_s": statistics.median(daily),
            "etl_cold_s": cold.times[f"run_daily:{self.dates[0]}"],
            "kpi_sql_s": statistics.median(p.times["kpi_sql"] for p in timed),
            "csv_mb_per_run_daily": {d: b / 2**20 for d, b in self.inputs["csv_bytes"].items()},
        }

    def layer_extras(self, log: EventLog, attr: dict, tag: str) -> dict:
        scanned = on_disk = 0
        execs: set[str] = set()
        for span_id, b in attr["input_bytes"].items():
            if span_id.startswith(f"{tag}/run_daily:"):
                scanned += b
                on_disk += self.inputs["csv_bytes"][span_id.split(":")[1]]
                execs |= attr["executions"].get(span_id, set())
        commit_ms = sum(log.sql_metric(execs, ("Execute InsertInto",), "job commit time")) + sum(
            log.sql_metric(execs, ("Execute InsertInto",), "task commit time")
        )
        return {
            "sources.read_amplification": scanned / on_disk if on_disk else 0.0,
            "sinks.files_written": sum(
                log.sql_metric(execs, ("Execute InsertInto",), "number of written files")
            ),
            "sinks.commit_s": commit_ms / 1000,
        }


# ------------------------------------------------------------------ curation
# registered query -> the package module whose call builds its plan
REGISTERED_OPS = {
    "dedup_simhash_banded": "operators.dedup",
    "corpus_trigram_novelty": "operators.text",
    "similarity_int8_topk": "operators.similarity",
    "text_bm25_topk": "operators.retrieval",
    "graph_triangle_counts": "operators.components",
}
REPLICA_SEED = 42  # TESTDATA.md's seed: the replica stays fixed


class RegisteredQueries:
    """Registered queries over a seeded replica of the TESTDATA.md tables:
    ``fn()`` plus a collect per query, the order permuted by the seed."""

    def __init__(self, h: Harness, seed: int):
        self.h = h
        self.order = sorted(REGISTERED_OPS)
        random.Random(seed).shuffle(self.order)
        self.oracle = None
        self.fn_s: dict[str, dict[str, float]] = {}
        self.result_rows: dict[str, int] = {}

    def generate(self) -> None:
        self.replica = gen.write_replica(os.path.join(self.h.work, "replica"), REPLICA_SEED)

    def setup(self, spark) -> None:
        from music_streaming_services_etl_pipeline_with_airflow_spark.plans.registry import all_specs

        self.specs = all_specs()

    def ops(self, tag: str, cold: bool) -> list[Op]:
        self.fn_s[tag] = {}
        return [Op(n, self._query(tag, n)) for n in self.order]

    def _query(self, tag, name):
        layer = REGISTERED_OPS[name]
        registry = Span("plans.registry", "plans.registry", "plans.registry")

        def op():
            t0 = now()
            with self.h.span(f"{tag}/{name}:fn", registry):
                df = self.specs[name].fn(self.h.spark, self.replica)
            self.fn_s[tag][name] = now() - t0
            with self.h.span(f"{tag}/{name}", Span(layer, "sources", layer)):
                return df.toPandas()
        return op

    def check(self, res: PassResult) -> dict[str, str]:
        """Collected results against each query's oracle SQL run by
        DuckDB, as ``{query: mismatch}``."""
        if self.oracle is None:
            self.oracle = checks.replica_oracle(self.replica)
        bad = {}
        for name in self.order:
            frame = res.outputs.get(name)
            if frame is None:  # the query raised
                continue
            got = checks.pandas_rows(frame)
            self.result_rows[name] = len(got)
            err = checks.diff(name, got, checks.oracle_rows(self.oracle, self.specs[name].oracle))
            if err:
                bad[name] = err
        return bad

    def detail(self, cold: PassResult, timed: list[PassResult]) -> dict:
        return {
            "op_median_s": {n: statistics.median(p.times[n] for p in timed) for n in self.order},
            "plan_median_s": {
                n: statistics.median(self.fn_s[p.tag][n] for p in timed) for n in self.order
            },
        }

    def layer_extras(self, log: EventLog, attr: dict, tag: str) -> dict:
        cand = 0
        for name, layer in REGISTERED_OPS.items():
            if layer != "operators.dedup":
                continue
            execs = set()
            for suffix in (":fn", ""):
                execs |= attr["executions"].get(f"{tag}/{name}{suffix}", set())
            joins = log.sql_metric(execs, ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"),
                                   "number of output rows")
            cand += max(joins, default=0)
        verified = sum(
            self.result_rows.get(n, 0) for n, layer in REGISTERED_OPS.items() if layer == "operators.dedup"
        )
        return {
            "plans.registry.plan_s": sum(self.fn_s[tag].values()),
            "operators.dedup.candidate_pairs": cand,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.verify_yield": verified / cand if cand else 0.0,
        }


# kernel -> (the module that owns its applier, erase and serve calls,
#            the five snapshot tables in the applier's argument order)
INDEX_KERNELS = {
    "minhash": ("streaming.ingest", ("pairs", "bands", "shingles", "groups", "members")),
    "semantic": ("streaming.ann", ("pairs", "bands", "vecs", "groups", "members")),
}
N_ERASE = 3  # ids erased from each index per pass


def _tree_files(root: str) -> dict[str, int]:
    """``{path: size}`` of every file under ``root``."""
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root)
        for f in fs
    }


class IndexLifecycle:
    """The two streaming near-duplicate indexes through their whole
    lifecycle: one ``availableNow`` micro-batch of seeded documents into
    the minhash index and of seeded embeddings into the semantic index,
    a batch erase of ``N_ERASE`` ids from each, then both serve queries.
    Every pass builds both indexes afresh. The erased ids are exact
    copies whose groups survive: the compliance-sweep shape the batch
    erase is built for. The served pairs are collected and checked
    against the whole-corpus DuckDB oracle minus the erased ids, and both
    audits must find nothing to repair."""

    def __init__(self, h: Harness, seed: int):
        self.h = h
        self.seed = seed
        self.batch_s: dict[str, dict[str, list[float]]] = {}
        self.fs: dict[str, dict[str, float]] = {}
        self.oracle = None

    def generate(self) -> None:
        self.inputs = gen.write_index_stream(os.path.join(self.h.work, "index_input"), self.seed)
        self.erase_ids = sorted(random.Random(self.seed).sample(self.inputs["copy_ids"], N_ERASE))

    def setup(self, spark) -> None:
        from music_streaming_services_etl_pipeline_with_airflow_spark.operators.dedup import (
            EMB_LSH_SQL,
            LSH_BANDS,
            N_BANDS,
            _minhash_sql,
        )
        from music_streaming_services_etl_pipeline_with_airflow_spark.snapshots import SnapshotTable
        from music_streaming_services_etl_pipeline_with_airflow_spark.streaming import ann, ingest

        self.snapshot_table = SnapshotTable
        self.mods = {"minhash": ingest, "semantic": ann}
        self.schema = {"minhash": ingest.DOCS_SCHEMA, "semantic": ann.EMB_STREAM_SCHEMA}
        self.oracle_sql = {"minhash": _minhash_sql(), "semantic": EMB_LSH_SQL}
        n, sized = self.inputs["n"], ingest.minhash_index_buckets_for
        # bucket counts sized from the corpus as the package's own index
        # builders size them
        self.buckets = {
            "minhash": (
                sized(n * N_BANDS),
                sized(int(n * max(1.0, self.inputs["avg_words"] - 2))),
                sized(n),
                sized(n),
            ),
            "semantic": (sized(n * LSH_BANDS), sized(n), sized(n), sized(n)),
        }

    def ops(self, tag: str, cold: bool) -> list[Op]:
        shutil.rmtree(os.path.join(self.h.work, "index"), ignore_errors=True)
        self.root = os.path.join(self.h.work, "index", tag)
        self.tables = {
            k: [self.snapshot_table(os.path.join(self.root, k, t)) for t in names]
            for k, (_, names) in INDEX_KERNELS.items()
        }
        self.batch_s[tag] = {k: [] for k in INDEX_KERNELS}
        self.fs[tag] = {}
        return (
            [Op(f"ingest:{k}", self._ingest(tag, k)) for k in INDEX_KERNELS]
            + [Op(f"erase:{k}", self._erase(tag, k)) for k in INDEX_KERNELS]
            + [Op(f"serve:{k}", self._serve(tag, k)) for k in INDEX_KERNELS]
        )

    def _ingest(self, tag, kernel):
        layer = INDEX_KERNELS[kernel][0]
        span_id = f"{tag}/ingest:{kernel}"
        t = self.tables[kernel]
        b = self.buckets[kernel]
        if kernel == "minhash":
            applier = self.mods[kernel].make_minhash_index_applier(
                *t, n_buckets=b[0], shingle_buckets=b[1], group_buckets=b[2], member_buckets=b[3]
            )
        else:
            applier = self.mods[kernel].make_semantic_index_applier(*t, *b)

        def timed(batch, batch_id):
            # foreachBatch runs on the stream's thread: tag its jobs too
            sc = batch.sparkSession.sparkContext
            sc.setLocalProperty(SPAN_KEY, span_id)
            try:
                t0 = now()
                applier(batch, batch_id)
                self.batch_s[tag][kernel].append(now() - t0)
            finally:
                sc.setLocalProperty(SPAN_KEY, None)

        def op():
            spark = self.h.spark
            drop = self.inputs["docs" if kernel == "minhash" else "vecs"]
            with self.h.span(span_id, Span(layer, layer, "snapshots")):
                q = (
                    spark.readStream.schema(self.schema[kernel]).parquet(drop)
                    .writeStream.foreachBatch(timed)
                    .option("checkpointLocation", os.path.join(self.root, f"ckpt-{kernel}"))
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
            if not self.batch_s[tag][kernel]:
                raise RuntimeError("the stream applied no micro-batch")
        return op

    def _erase(self, tag, kernel):
        layer = INDEX_KERNELS[kernel][0]
        t = self.tables[kernel]
        b = self.buckets[kernel]
        kernel_root = os.path.join(self.root, kernel)

        def op():
            spark, mod = self.h.spark, self.mods[kernel]
            before = _tree_files(kernel_root)
            with self.h.span(f"{tag}/erase:{kernel}", Span(layer, "snapshots", "snapshots")):
                if kernel == "minhash":
                    mod.erase_docs_from_minhash_index(
                        spark, *t, b[0], self.erase_ids,
                        shingle_buckets=b[1], group_buckets=b[2], member_buckets=b[3],
                    )
                else:
                    mod.erase_semantic_vecs(spark, self.erase_ids, *t, *b)
            after = _tree_files(kernel_root)
            self.fs[tag][f"ingest_bytes:{kernel}"] = sum(before.values())
            self.fs[tag][f"erase_files:{kernel}"] = len(after.keys() - before.keys())
        return op

    def _serve(self, tag, kernel):
        layer = INDEX_KERNELS[kernel][0]
        pairs, _, _, groups, members = self.tables[kernel]

        def op():
            spark, mod = self.h.spark, self.mods[kernel]
            with self.h.span(f"{tag}/serve:{kernel}", Span(layer, "snapshots", "snapshots")):
                serve = mod.serve_minhash_pairs if kernel == "minhash" else mod.serve_semantic_pairs
                return serve(spark, pairs, groups, members).toPandas()
        return op

    def check(self, res: PassResult) -> dict[str, str]:
        """Served pairs against the whole-corpus oracle over the corpus
        minus the erased ids, and both audits, as ``{operation:
        mismatch}``."""
        if self.oracle is None:
            self.oracle = checks.index_oracle(
                self.inputs["docs"], self.inputs["vecs"], self.erase_ids
            )
        bad = {}
        for k in INDEX_KERNELS:
            frame = res.outputs.get(f"serve:{k}")
            if frame is None:
                continue
            err = checks.diff(
                f"serve:{k}",
                checks.pandas_rows(frame),
                checks.oracle_rows(self.oracle, self.oracle_sql[k]),
            )
            if err:
                bad[f"serve:{k}"] = err
        spark, b = self.h.spark, self.buckets
        repairs = {
            "minhash": self.mods["minhash"].audit_and_repair_minhash_index(
                spark, *self.tables["minhash"], b["minhash"][0],
                shingle_buckets=b["minhash"][1], group_buckets=b["minhash"][2],
            ),
            "semantic": self.mods["semantic"].audit_and_repair_semantic_index(
                spark, *self.tables["semantic"], *b["semantic"]
            ),
        }
        for k, found in repairs.items():
            if found:
                bad.setdefault(f"erase:{k}", f"audit repaired {len(found)} groups: {found[:2]}")
        return bad

    def _median(self, timed: list[PassResult], names: list[str]) -> float:
        return statistics.median(sum(p.times[n] for n in names) for p in timed)

    def detail(self, cold: PassResult, timed: list[PassResult]) -> dict:
        n = self.inputs["n"]
        applier = [sum(sum(v) for v in self.batch_s[p.tag].values()) for p in timed]
        names = [f"{op}:{k}" for op in ("ingest", "erase", "serve") for k in INDEX_KERNELS]
        return {
            "ingest_docs_per_s": 2 * n / statistics.median(applier),
            "erase_s": self._median(timed, [f"erase:{k}" for k in INDEX_KERNELS]),
            "serve_s": self._median(timed, [f"serve:{k}" for k in INDEX_KERNELS]),
            "index_op_median_s": {
                name: statistics.median(p.times[name] for p in timed) for name in names
            },
            "erase_ids": self.erase_ids,
            "docs_per_kernel": n,
        }

    def layer_extras(self, log: EventLog, attr: dict, tag: str) -> dict:
        out = {}
        for k, (layer, _) in INDEX_KERNELS.items():
            batches = self.batch_s[tag][k]
            out[f"{layer}.jobs_per_batch"] = attr["span_jobs"].get(f"{tag}/ingest:{k}", 0) / max(1, len(batches))
            out[f"{layer}.batch_s"] = statistics.median(batches) if batches else 0.0
        fs = self.fs[tag]
        n = self.inputs["n"]
        out["snapshots.commits"] = sum(len(t.versions()) for ts in self.tables.values() for t in ts)
        out["snapshots.mb_written_per_doc"] = (
            sum(fs[f"ingest_bytes:{k}"] for k in INDEX_KERNELS) / 2**20 / (2 * n)
        )
        out["snapshots.files_rewritten_per_erased_id"] = sum(
            fs[f"erase_files:{k}"] for k in INDEX_KERNELS
        ) / (len(INDEX_KERNELS) * len(self.erase_ids))
        return out


class Curation:
    """The registered queries, then the index lifecycle, in one pass per
    run. The index lifecycle costs over half a minute of fixed per-job
    overhead, so a run holds one pass, made in the fresh session and
    checked in full."""

    SINGLE_PASS = True

    def __init__(self, h: Harness, seed: int):
        self.parts = (RegisteredQueries(h, seed), IndexLifecycle(h, seed))

    def generate(self) -> None:
        for p in self.parts:
            p.generate()

    def setup(self, spark) -> None:
        for p in self.parts:
            p.setup(spark)

    def ops(self, tag: str, cold: bool) -> list[Op]:
        return [op for p in self.parts for op in p.ops(tag, cold)]

    def check(self, res: PassResult) -> dict[str, str]:
        return {k: v for p in self.parts for k, v in p.check(res).items()}

    def detail(self, cold: PassResult, timed: list[PassResult]) -> dict:
        return {k: v for p in self.parts for k, v in p.detail(cold, timed).items()}

    def layer_extras(self, log: EventLog, attr: dict, tag: str) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_extras(log, attr, tag).items()}


WORKLOADS = {"daily_etl": DailyEtl, "curation": Curation}


# ------------------------------------------------------------------- a run
def _load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(root: str, workload: str, seed: int, seconds: int, trace: bool, work: str, t0: float) -> tuple[dict, dict]:
    """One benchmark run; returns (detail, result line)."""
    spec = _load_spec(root)
    h = Harness(work)
    w = WORKLOADS[workload](h, seed)
    tg = now()
    w.generate()
    gen_s = now() - tg
    try:
        spark = h.start(traced=False)
        w.setup(spark)
        for _ in range(2):  # warm-up of the calibration job; not samples
            calibrate(spark)
        setup_s = now() - t0 - gen_s

        failures: dict[str, str] = {}
        attempted = 0

        check_s: list[float] = []

        def measured(tag: str, cold: bool = False, before_op=None) -> PassResult:
            nonlocal attempted
            ops = w.ops(tag, cold)
            collect_garbage(h.spark)
            p = run_pass(ops, before_op)
            p.tag = tag
            tc = now()
            found = w.check(p)
            check_s.append(now() - tc)
            # one failure per operation: an exception's text wins over a check's
            failures.update({f"{tag}/{op}": msg for op, msg in {**found, **p.failures}.items()})
            attempted += len(p.times)
            return p

        # a calibration sample before each operation of each timed pass and
        # one after the last, so the samples span the host's state while the
        # timed operations ran
        calib: list[float] = []

        def sample() -> None:
            calib.append(calibrate(spark))

        if w.SINGLE_PASS:
            cold = measured("cold", cold=True, before_op=sample)
            timed = [cold]
        else:
            cold = measured("cold", cold=True)
            timed: list[PassResult] = []
            t_warm = now()
            while len(timed) < MIN_WARM_PASSES or now() - t_warm < seconds:
                timed.append(measured(f"warm{len(timed)}", before_op=sample))
        sample()
        calib_s = statistics.median(calib)
        wall_s = statistics.median(p.wall_s for p in timed)
        e2e = {"setup_s": setup_s, "wall_rel": wall_s / calib_s}
        detail = {
            "workload": workload, "seed": seed, "gen_s": gen_s, "passes": len(timed),
            "wall_s": wall_s, "cold_s": cold.wall_s, "calib_s": calib,
            "cpu_s": statistics.median(p.cpu_s for p in timed),
            "peak_rss_mb": h.peak_rss_mb(),
            "pass_walls_s": [p.wall_s for p in timed], "pass_cpu_s": [p.cpu_s for p in timed],
            **e2e, **w.detail(cold, timed),
            "host": h.host(),
        }
        if trace:
            h.stop()
            h.spans.clear()
            h.start(traced=True)
            traced = measured("traced")
            h.stop()
            log = EventLog(read_events(h.event_dir))
            tag = "traced"
            attr = attribute(log, {k: v for k, v in h.spans.items() if k.startswith(tag + "/")}, CORES)
            layer_metrics = _layer_metrics(attr, spec)
            layer_metrics.update(w.layer_extras(log, attr, tag))
            # against the last untraced pass, the closest in JIT warm-up
            overhead = traced.wall_s - timed[-1].wall_s
            layer_metrics["trace.overhead_s"] = overhead
            detail["trace"] = {"traced_wall_s": traced.wall_s, "overhead_s": overhead}
            values = layer_metrics
            wanted = spec["per_layer"]
        else:
            values = e2e
            wanted = spec["end_to_end"]
    finally:
        h.shutdown()
    detail["check_s"] = check_s
    detail["error_rate"] = len(failures) / attempted
    detail["failures"] = failures
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    line = {"correct": not failures, "attempted": attempted, "failed": len(failures), "metrics": metrics}
    return detail, line


def _layer_metrics(attr: dict, spec: dict) -> dict:
    """Every ``<layer>.<field>`` the spec names, 0 for a layer that ran no
    stage in the attributed pass; special metrics are filled by the
    workload."""
    out = {}
    for m in spec["per_layer"]:
        layer, _, fld = m["name"].rpartition(".")
        if layer in attr["layers"] and fld in attr["layers"][layer]:
            out[m["name"]] = attr["layers"][layer][fld]
        elif fld == "eager_jobs":
            out[m["name"]] = attr["layers"].get(layer, {}).get("jobs", 0)
        else:
            out.setdefault(m["name"], 0)
    return out
