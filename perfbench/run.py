"""Benchmark of the cluster-hash engine: one workload, one seed, one process.

Run from the repository root::

    python3 perfbench/run.py --workload hash_route --seed 1 --seconds 25 --trace 0

A run has three steps.  Set-up starts the session and calls
``register_all``, ``load_table`` for every table the workload reads, stages
the streaming fixtures, writes the generated keys, starts the Python
workers and runs the workload's warm-up queries once so the JIT has
compiled their paths; ``setup_s`` is its wall time from the start of this
script.  Then the session memos are cleared with ``clear_shared_cache()``
/ ``release_rank_pins()``, so memo builds stay on the clock, and the one
timed pass runs.  Every output is then checked: catalog queries against
committed DuckDB-oracle fingerprints, generated-key queries against the
pure-Python hash in ``core``.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns on the
Spark event log, sets the job group of every call to its query name,
records spans around each public call, and prints the per-layer metrics;
it then runs the same workload and seed untraced in a child process,
whose ``pass_s`` is the reference for ``trace.overhead_s``.  All scratch
files live under ``.perfbench/`` in the repository root.  The last stdout
line is the result object.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The driver heap is sized for a 15 GB host shared with other tenants, and
# committed and touched at JVM start: G1 otherwise grows the heap by GC
# timing, which made the process tree's peak memory swing by a quarter
# between identical runs.  Heap occupancy shows as spark.gc_s instead.
DRIVER_MEMORY = "3g"
UNTRACED_TIMEOUT_S = 120
STAGE_NAME = "dch_stream_stage_sf0_1"  # the events replay dir the streaming queries read


def _epoch_ms(perf: float) -> float:
    return (perf - _PERF0) * 1000.0 + _EPOCH0_MS


_PERF0 = time.perf_counter()
_EPOCH0_MS = time.time() * 1000.0


# --- process-tree memory ------------------------------------------------------

def _children() -> dict[int, list[int]]:
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", "rb") as fh:
                    ppid = int(fh.read().rsplit(b")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(entry))
    return children


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid`` (the JVM is a child of this
    process, the Python workers its children)."""
    children, out, stack = _children(), [], [root_pid]
    while stack:
        kids = children.get(stack.pop(), ())
        out.extend(kids)
        stack.extend(kids)
    return out


def tree_memory_bytes(root_pid: int) -> dict[str, int]:
    """Proportional resident memory (PSS) of ``root_pid`` and its
    descendants, split into the driver, the JVM and the Python workers.
    PSS charges a page shared by forked workers once, where summing RSS
    would count it in every worker."""
    parts = {"driver": 0, "jvm": 0, "python_workers": 0}
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                pss = next(int(line.split()[1]) for line in fh if line.startswith(b"Pss:"))
            with open(f"/proc/{pid}/comm", "rb") as fh:
                comm = fh.read().strip()
        except (OSError, StopIteration, ValueError):
            continue  # the process ended between listing and reading
        kind = "driver" if pid == root_pid else "jvm" if comm == b"java" else "python_workers"
        parts[kind] += pss * 1024
    return parts


class MemorySampler:
    """Samples the process tree's memory every ``interval`` s; keeps the
    peak total and its split."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        parts = tree_memory_bytes(os.getpid())
        if sum(parts.values()) > self.peak:
            self.peak, self.peak_parts = sum(parts.values()), parts

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --- spans --------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: str | None = None) -> None:
        with self._lock:
            self.spans.append({
                "name": name, "parent": parent, "run": self.run_id,
                "start_ms": _epoch_ms(start), "end_ms": _epoch_ms(end), "s": end - start,
            })

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = None):
        start = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, start, time.perf_counter(), parent)

    def total(self, name: str) -> float:
        return sum(s["s"] for s in self.spans if s["name"] == name)


# --- one workload run ---------------------------------------------------------

@dataclass
class Execution:
    query: str
    start: float
    planned: float = 0.0
    end: float = 0.0
    rows: list | None = None
    columns: list | None = None
    error: str | None = None

    @property
    def latency(self) -> float:
        return self.end - self.start


@dataclass
class Pass:
    wall: float
    start: float
    end: float
    executions: list[Execution] = field(default_factory=list)


class Bench:
    def __init__(self, args: argparse.Namespace, work: str):
        from workloads import WORKLOADS, key_queries, make_keys, pass_queue

        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]
        self.nproc = len(os.sched_getaffinity(0))
        self.keys = make_keys(args.seed)
        self.key_queries = {kq.name: kq for kq in key_queries(args.seed)}
        self.queue = pass_queue(self.wl, args.seed)
        self.clients = self.nproc if self.wl.concurrent else 1
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        self.conf: dict[str, str] = {}

    # --- session and set-up ---

    def session_conf(self) -> dict[str, str]:
        event_log = bool(self.args.trace)
        conf = {
            "spark.master": f"local[{self.nproc}]",
            "spark.app.name": "perfbench",
            "spark.driver.memory": DRIVER_MEMORY,
            # the JVM's temp files (native libraries, session dirs) stay in
            # the run's scratch dir; no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
            ),
            "spark.sql.shuffle.partitions": str(max(self.nproc, 8)),
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            "spark.scheduler.mode": "FAIR",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf["spark.eventLog.dir"] = "file://" + log_dir
            conf["spark.eventLog.compress"] = "false"  # zstandard is not installed
            # per-task peaks of JVM heap use; the default samples only at
            # heartbeats, which leaves the task-end peaks at 0 in local mode
            conf["spark.executor.metrics.pollingInterval"] = "100ms"
        return conf

    def new_context(self):
        from pyspark.sql import SparkSession

        self.conf = self.session_conf()
        builder = SparkSession.builder
        for k, v in self.conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self):
        """Starts the session and readies it for the pass; returns it."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        import duckdb_cluster_hash_spark as dch
        from duckdb_cluster_hash_spark.session import configure_session
        from duckdb_cluster_hash_spark.sources.tables import load_table
        from duckdb_cluster_hash_spark.streaming import events as stream_events
        from workloads import SF_DIR

        tr = self.tracer
        with tr.span("session.start", "setup"):
            spark = self.new_context()
            configure_session(spark)
        with tr.span("functions.register", "setup"):
            dch.register_all(spark)
        with tr.span("sources.load", "setup"):
            for t in self.wl.tables:
                load_table(spark, SF_DIR, t)
        with tr.span("streaming.stage", "setup"):
            if self.wl.stages_stream:
                # the streaming queries find it under gettempdir()
                stream_events.stage_events_as_stream(
                    spark, SF_DIR, os.path.join(tempfile.gettempdir(), STAGE_NAME),
                    n_chunks=1, single_file_chunks=False,
                )
        with tr.span("setup.keys", "setup"):
            if self.wl.key_sets:
                key_dir = os.path.join(self.work, "keys")
                os.makedirs(key_dir, exist_ok=True)
                for ks, keys in self.keys.items():
                    path = os.path.join(key_dir, f"{ks}.parquet")
                    pq.write_table(pa.table({"key": keys}), path)
                    spark.read.parquet(path).createOrReplaceTempView(f"keys_{ks}")
        with tr.span("setup.warmup", "setup"):
            # one Arrow UDF task per core starts every Python worker
            spark.sql(
                "SELECT count(DISTINCT cluster_node(k, 6)) FROM (SELECT "
                f"concat('warm:', id) AS k FROM range(0, 40000, 1, {self.nproc}))"
            ).collect()
            # A fresh JVM runs its first queries several times slower while
            # the JIT compiles Spark's planner, readers and writers, and a
            # cold pass spreads twice as wide (NOTES.md, "A run").  Outputs
            # are checked in the timed pass.
            self.run_pass(spark, self.wl.warmup, group=False)
        return spark

    # --- the timed pass ---

    def execute(self, spark, name: str, group: bool) -> Execution:
        from duckdb_cluster_hash_spark.plans.catalog import QUERIES
        from workloads import SF_DIR

        if group:
            spark.sparkContext.setJobGroup(name, name)
        ex = Execution(name, time.perf_counter())
        try:
            kq = self.key_queries.get(name)
            df = spark.sql(kq.sql) if kq else QUERIES[name](spark, SF_DIR)
            ex.planned = time.perf_counter()
            ex.rows = [tuple(r) for r in df.collect()]
            ex.columns = list(df.columns)
        except Exception as exc:  # noqa: BLE001 - a failed query is a counted outcome
            text = str(exc)
            # a Py4J error's first line only names the call; keep the
            # exception lines after it, without the stack frames
            lines = [ln.strip() for ln in text.splitlines()]
            lines = [ln for ln in lines if ln and not ln.startswith("at ")]
            ex.error = f"{type(exc).__name__}: {' | '.join(lines[:3])[:400]}"
            ex.planned = ex.planned or time.perf_counter()
        ex.end = time.perf_counter()
        return ex

    def run_pass(self, spark, queue: list[str], group: bool) -> Pass:
        from duckdb_cluster_hash_spark.operators.dedup import clear_shared_cache
        from duckdb_cluster_hash_spark.operators.ranking import release_rank_pins

        clear_shared_cache()
        release_rank_pins()
        results: list[list[Execution]] = [[] for _ in range(self.clients)]
        names = iter(queue)
        lock = threading.Lock()

        def client(c: int) -> None:  # closed loop: next query once the last returns
            while True:
                with lock:
                    name = next(names, None)
                if name is None:
                    return
                results[c].append(self.execute(spark, name, group))

        start = time.perf_counter()
        if self.clients == 1:
            client(0)
        else:
            threads = [threading.Thread(target=client, args=(c,)) for c in range(self.clients)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        end = time.perf_counter()
        return Pass(end - start, start, end, [e for r in results for e in r])

    # --- checking ---

    def check(self, p: Pass) -> tuple[int, int, bool, list[str]]:
        """(attempted, failed, correct, problems); a problem names its
        query.  ``failed`` counts raised and mismatched executions, and
        any of them makes the run incorrect."""
        from fingerprint import fingerprint, load
        from workloads import expected_counts

        expected = load()
        reference: dict[str, dict] = {}
        problems = []
        for ex in p.executions:
            if ex.error is not None:
                problems.append(f"{ex.query} raised {ex.error}")
                continue
            kq = self.key_queries.get(ex.query)
            if kq is not None:
                if ex.query not in reference:
                    reference[ex.query] = expected_counts(self.keys[kq.key_set], kq.n_nodes)
                ok = dict(ex.rows) == reference[ex.query]
            else:
                ok = fingerprint(ex.rows, ex.columns) == expected.get(ex.query)
            if not ok:
                problems.append(
                    f"{ex.query} output does not match its expected result "
                    f"({len(ex.rows)} rows)"
                )
        return len(p.executions), len(problems), not problems, problems

    # --- measurements ---

    def slot_batch_mkeys_per_s(self) -> float:
        import pandas as pd

        from duckdb_cluster_hash_spark.functions.clusterhash import slot_batch

        total_keys, total_s = 0, 0.0
        for keys in self.keys.values():
            series = pd.Series(keys, dtype=object)
            times = []
            for _ in range(5):
                t0 = time.perf_counter()
                slot_batch(series)
                times.append(time.perf_counter() - t0)
            total_keys += len(keys)
            total_s += statistics.median(times)
        return total_keys / total_s / 1e6

    def run(self, started: float) -> tuple[dict, dict]:
        """Returns (result object, context stamp)."""
        from duckdb_cluster_hash_spark.operators.dedup import clear_shared_cache
        from duckdb_cluster_hash_spark.operators.ranking import release_rank_pins

        trace = bool(self.args.trace)
        load_start = os.getloadavg()[0]
        with MemorySampler() as mem:
            spark = self.setup()
            ready = time.perf_counter()
            self.tracer.add("setup", started, ready)
            versions = {
                "spark": spark.version,
                "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                "python": platform.python_version(),
            }
            p = self.run_pass(spark, self.queue, group=trace)
            memo_entries = clear_shared_cache()
            release_rank_pins()
            stop_spark(spark)  # also flushes the event log
        attempted, failed, correct, problems = self.check(p)
        latencies = [e.latency for e in p.executions if e.error is None]
        per_query = defaultdict(list)
        for e in p.executions:
            per_query[e.query].append(e.latency)
        if trace:
            metrics = self.layer_metrics(p, memo_entries)
        else:
            metrics = {
                "setup_s": (ready - started, "s"),
                "pass_s": (p.wall, "s"),
                "query_p50_s": (statistics.median(latencies), "s"),
                # the highest percentile with ten executions beyond it in a
                # hash_route pass of 50
                "query_p80_s": (statistics.quantiles(latencies, n=5, method="inclusive")[3], "s"),
                "peak_rss_mb": (mem.peak / (1 << 20), "MB"),
            }
        result = {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        context = {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": trace,
            "nproc": self.nproc,
            "load1_start": load_start,
            "load1_end": os.getloadavg()[0],
            "versions": versions,
            "session": self.conf,
            "source": source_stamp(),
            "setup_parts_s": {
                sp["name"]: sp["s"] for sp in self.tracer.spans if sp["parent"] == "setup"
            },
            "executions": len(latencies),
            "query_median_s": {
                q: statistics.median(v) for q, v in sorted(per_query.items())
            },
            "error_rate": failed / attempted,
            "problems": problems,
            "memo_entries": memo_entries,
            "peak_memory_mb": {k: v / (1 << 20) for k, v in mem.peak_parts.items()},
        }
        return result, context

    def untraced_pass_s(self) -> float:
        """``pass_s`` of an untraced run of the same workload and seed, in a
        child process started after this run's JVM has exited."""
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", self.wl.name,
               "--seed", str(self.args.seed), "--seconds", str(self.args.seconds),
               "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                             timeout=UNTRACED_TIMEOUT_S, check=True).stdout
        return json.loads(out.strip().splitlines()[-1])["metrics"]["pass_s"]["value"]

    def layer_metrics(self, traced: Pass, memo_entries: int) -> dict:
        from eventlog import read_events, summarize

        tr = self.tracer
        spans = [(e.query, _epoch_ms(e.start), _epoch_ms(e.end)) for e in traced.executions]
        summary = summarize(read_events(os.path.join(self.work, "eventlog")),
                            _epoch_ms(traced.start), _epoch_ms(traced.end), spans)
        t = summary["totals"]
        m = {
            "session.start_s": (tr.total("session.start"), "s"),
            "functions.register_s": (tr.total("functions.register"), "s"),
            "sources.load_s": (tr.total("sources.load"), "s"),
            "streaming.stage_s": (tr.total("streaming.stage"), "s"),
            "setup.warmup_s": (tr.total("setup.warmup"), "s"),
            "plans.build_s": (sum(e.planned - e.start for e in traced.executions), "s"),
            "plans.fetch_s": (sum(e.end - e.planned for e in traced.executions), "s"),
            "plans.jobs": (t["jobs"], "count"),
            "plans.stages": (t["stages"], "count"),
            "plans.tasks": (t["tasks"], "count"),
            "operators.memo_entries": (memo_entries, "count"),
            "functions.slot_batch_mkeys_per_s": (self.slot_batch_mkeys_per_s(), "Mkeys/s"),
            "functions.udf_run_s": (t["udf_run_s"], "s"),
            "functions.udf_start_s": (t["udf_start_s"], "s"),
            "functions.udf_sent_mb": (t["udf_sent_mb"], "MB"),
            "functions.udf_recv_mb": (t["udf_recv_mb"], "MB"),
            "spark.executor_run_s": (t["executor_run_s"], "s"),
            "spark.executor_cpu_s": (t["executor_cpu_s"], "s"),
            "spark.gc_s": (t["gc_s"], "s"),
            "spark.peak_heap_mb": (t["peak_heap_mb"], "MB"),
            "spark.busy_ratio": (t["executor_run_s"] / (traced.wall * self.nproc), "ratio"),
            "spark.sched_wait_s": (t["sched_wait_s"], "s"),
            "spark.shuffle_read_mb": (t["shuffle_read_mb"], "MB"),
            "spark.shuffle_write_mb": (t["shuffle_write_mb"], "MB"),
            "spark.spill_mb": (t["spill_mb"], "MB"),
            "spark.input_mb": (t["input_mb"], "MB"),
            "spark.output_mb": (t["output_mb"], "MB"),
            "spark.failed_tasks": (t["failed_tasks"], "count"),
            "streaming.batches": (t["batches"], "count"),
            "streaming.trigger_ms_p50": (t["trigger_ms_p50"], "ms"),
            "streaming.add_batch_ms": (t["add_batch_ms"], "ms"),
            "streaming.commit_ms": (t["commit_ms"], "ms"),
            "streaming.state_commit_ms": (t["state_commit_ms"], "ms"),
            "streaming.state_rows": (t["state_rows"], "rows"),
        }
        untraced = self.untraced_pass_s()
        m["trace.overhead_s"] = (traced.wall - untraced, "s")
        artifact = os.path.join(ROOT, ".perfbench", f"trace-{tr.run_id}.json")
        with open(artifact, "w", encoding="utf-8") as fh:
            json.dump({"spans": tr.spans, "per_query": summary["per_query"],
                       "totals": t, "untraced_pass_s": untraced}, fh, indent=1)
        return m


def stop_spark(spark) -> None:
    """Stop the SparkContext, close the JVM's stdin (its signal to exit),
    and wait until the JVM and the Python workers it started are gone."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def source_stamp() -> dict:
    """The commit when the tree is a git checkout, and always a digest of
    the package sources, which identifies the program in a plain copy."""
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "duckdb_cluster_hash_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(filenames):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                digest.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    digest.update(fh.read())
    stamp = {"package_sha256": digest.hexdigest()}
    if os.path.isdir(os.path.join(ROOT, ".git")):
        with contextlib.suppress(OSError, subprocess.SubprocessError):
            stamp["commit"] = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, check=True, timeout=10,
            ).stdout.strip()
    return stamp


def verify_inputs() -> str | None:
    """Why the run cannot start, or None: the package must sit beside the
    benchmark, and the data must be the copy the fingerprints came from."""
    if not os.path.isfile(os.path.join(ROOT, "duckdb_cluster_hash_spark", "__init__.py")):
        return f"no duckdb_cluster_hash_spark package under {ROOT}"
    data = os.path.join(HERE, "data")
    try:
        with open(os.path.join(data, "SHA256SUMS"), encoding="utf-8") as fh:
            sums = [line.split() for line in fh if line.strip()]
        for want, name in sums:
            with open(os.path.join(data, "sf0.1", name), "rb") as fh:
                if hashlib.sha256(fh.read()).hexdigest() != want:
                    return f"data file {name} differs from SHA256SUMS"
    except OSError as exc:
        return f"benchmark data unreadable: {exc}"
    return None


def isolate(work: str) -> None:
    """Point every scratch location of Spark, the program and its Python
    workers at ``work``, and make the package importable from ROOT."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = os.environ["TMPDIR"]
    sys.path.insert(0, ROOT)


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    problem = verify_inputs()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    import duckdb_cluster_hash_spark

    if not os.path.abspath(duckdb_cluster_hash_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported the package from outside {ROOT}", file=sys.stderr)
        return 2
    try:
        result, context = Bench(args, work).run(started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
