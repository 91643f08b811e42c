"""Benchmark of the stream analyzer, end to end and layer by layer.

    python3 perfbench/run.py --workload batch_headline --seed 1 --seconds 12 --trace 0

Run from the repository root. One SparkSession sized to the host's
cores runs one closed-loop workload (``workloads.py``) on inputs
generated from ``--seed``; a run sets the session up several times,
then makes the workload's unmeasured warm-up passes over its queries,
then the measured passes (as many as fit ``--seconds`` at the
workload's budget per pass, at least one), then checks every query's
output against its DuckDB oracle.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: with ``--trace 0`` the end-to-end metrics of
``BENCHMARK.json``, with ``--trace 1`` the per-layer ones. A traced run
also writes its spans as JSONL under ``perfbench/results/``. Every file
the run writes stays under ``perfbench/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")
SETUPS = 5  # set-ups per run; setup_s is their median
#: Heap of Spark's JVM. It is reserved and touched when the JVM starts,
#: so the resident set does not depend on when G1 chose to grow the heap;
#: ``peak_rss_mb`` then moves with memory outside that heap (the JVM's
#: native memory and the Python process) and cannot see the heap grow;
#: the heap's own peak is the per-layer ``jvm.heap_peak_mb``.
DRIVER_MEM = "2g"

sys.path.insert(0, HERE)

import gen  # noqa: E402
from probes import COUNTERS, JobGroups, ProgressLog, Tracer  # noqa: E402
from workloads import (  # noqa: E402
    BATCH_SF, STREAM_QUERIES, STREAM_SHAPES, WARM_EVENTS, WORKLOADS,
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep Spark's and Python's scratch files inside ``work`` and size
    the session to the host; must run before pyspark starts a JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(host_cores()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def identity(args: argparse.Namespace) -> dict:
    """Host and code stamp written into every record."""

    def git(*cmd: str) -> str | None:
        try:
            r = subprocess.run(["git", *cmd], cwd=ROOT, capture_output=True, text=True, timeout=10)
        except OSError:
            return None
        return r.stdout.strip() if r.returncode == 0 else None

    rev = git("rev-parse", "HEAD")
    status = git("status", "--porcelain", "--untracked-files=no")
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "spark_streaming_stream_analyzer_spark", "**", "*.py"), recursive=True)):
        with open(path, "rb") as f:
            digest.update(f.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": host_cores(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_rev": rev,
        "git_dirty": None if status is None else bool(status),
        "package_sha256": digest.hexdigest()[:16],
        "loadavg_1m": os.getloadavg()[0],
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def rss_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stat(path: str) -> tuple[str, list[str]] | None:
    """Name and the fields after it of a /proc ``stat`` file, or None
    when the process or thread has ended."""
    try:
        with open(path) as f:
            text = f.read()
    except OSError:
        return None
    head, tail = text.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def program_cpu_s(root: int, jvm: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every
    process below it (Spark's JVM, PySpark's daemon and workers, with
    the exited children each has reaped), less the JVM's JIT compiler
    threads. Their CPU follows HotSpot's compile decisions, which go on
    for minutes after the JVM starts, not the program's work; the JVM is
    started with a fixed set of compiler threads, so none takes its time
    out of reach by exiting."""
    parent, used = {}, {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (stat := _stat(f"/proc/{entry}/stat")):
            fields = stat[1]
            parent[int(entry)] = int(fields[1])
            used[int(entry)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo += [c for c, p in parent.items() if p == pid]
    for tid in os.listdir(f"/proc/{jvm}/task"):
        stat = _stat(f"/proc/{jvm}/task/{tid}/stat")
        if stat and stat[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            total -= int(stat[1][11]) + int(stat[1][12])
    return total / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def reset_rss_hwm(pid: int) -> None:
    """Restart the process's VmHWM from its current resident set."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


class Run:
    """One benchmark run: inputs, set-ups, timed passes, output check."""

    def __init__(self, args: argparse.Namespace, work: str):
        from __spark_entry__ import oracle_sql, queries

        self.args = args
        self.work = work
        self.kind, self.queries, pass_s, self.warm_passes = WORKLOADS[args.workload]
        self.passes = max(1, round(args.seconds / pass_s))
        self.fns = queries()
        self.oracles = oracle_sql()
        self.tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}-{os.getpid()}")
        self.setups: list[dict] = []
        self.records: dict[str, list[dict]] = {q: [] for q in self.queries}
        self.failed: dict[str, str] = {}
        self.sources: dict[str, float] = {}
        self.attempts: dict[str, int] = {q: 0 for q in self.queries}
        self.in_rows: dict[str, int] = {}

    # -- inputs ------------------------------------------------------
    def generate(self) -> None:
        if self.kind == "batch":
            self.data = gen.write_batch_tables(self.args.seed, os.path.join(self.work, "batch"), BATCH_SF)
            self.tables = {
                os.path.basename(p)[: -len(".parquet")]: p
                for p in glob.glob(os.path.join(self.data, "*.parquet"))
            }
        else:
            shape = STREAM_SHAPES[self.args.workload]
            self.data = gen.write_events_parts(
                self.args.seed, os.path.join(self.work, "stream"), **shape
            )
            self.warm = gen.write_events_parts(
                self.args.seed, os.path.join(self.work, "warm"), **WARM_EVENTS
            )
            self.tables = {"events": os.path.join(self.data, "events.parquet")}
        import pyarrow.parquet as pq

        self.table_rows = {
            name: pq.ParquetDataset(path).read(columns=[]).num_rows
            for name, path in self.tables.items()
        }
        # the generator's memory is the benchmark's, not the program's
        reset_rss_hwm(os.getpid())

    # -- set-up ------------------------------------------------------
    def force(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def setup(self) -> None:
        from spark_streaming_stream_analyzer_spark.session import get_spark
        from spark_streaming_stream_analyzer_spark.shipping import ensure_package_shipped

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData"
                f" -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        }
        tr = self.tracer
        for i in range(SETUPS):
            with tr.span("setup", index=i):
                t0 = time.perf_counter()
                with tr.span("session.get_spark"):
                    spark = get_spark("perfbench", extra_conf=conf)
                t1 = time.perf_counter()
                with tr.span("shipping.ensure_package_shipped"):
                    ensure_package_shipped(spark)
                t2 = time.perf_counter()
                with tr.span("setup.warmup"):
                    if self.kind == "batch":
                        self.force(self.fns["agg_running_stats"](spark, self.data))
                        spark.catalog.clearCache()
                    else:
                        self.force(self.fns["stream_running_stats"](spark, self.warm))
                t3 = time.perf_counter()
            self.setups.append({"get_spark": t1 - t0, "ship": t2 - t1, "warmup": t3 - t2, "wall": t3 - t0})
            if i < SETUPS - 1:
                spark.stop()
        self.spark = spark
        self.jvm = spark.sparkContext._gateway.proc
        self.heap_pools = [
            pool for pool in spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
            if str(pool.getType()) == "Heap memory"
        ]
        for pool in self.heap_pools:
            pool.resetPeakUsage()
        self.groups = JobGroups(spark, tr)
        self.progress = ProgressLog()
        if self.kind == "stream":
            spark.streams.addListener(self.progress)

    # -- traced source loads ----------------------------------------
    def load_sources(self) -> None:
        """One ``load_table`` call per input table, each in its own job
        group (traced runs only)."""
        from spark_streaming_stream_analyzer_spark.sources.tables import load_table

        secs, groups = 0.0, []
        with self.tracer.span("sources"):
            for name, path in sorted(self.tables.items()):
                with self.groups.group(f"load:{name}") as gid, self.tracer.span("sources.load_table", table=name):
                    t0 = time.perf_counter()
                    load_table(self.spark, os.path.dirname(path), name)
                    secs += time.perf_counter() - t0
                groups.append(gid)
        with self.tracer.span("trace.read"):
            jobs = self.groups.counters(groups)["exec.jobs"]
        self.sources = {"sources.load_table_s": secs, "sources.load_table_jobs": jobs}

    # -- timed region -------------------------------------------------
    def run_op(self, q: str, p: int) -> dict:
        tr, groups, spark = self.tracer, self.groups, self.spark
        mark = len(self.progress.events)
        phase = "build" if self.kind == "batch" else "drain"
        with tr.span("op", query=q, **{"pass": p}):
            cpu0 = program_cpu_s(os.getpid(), self.jvm.pid)
            with groups.group(f"{phase}:{q}") as g_build, tr.span(phase):
                t0 = time.perf_counter()
                df = self.fns[q](spark, self.data)
                t1 = time.perf_counter()
            with groups.group(f"exec:{q}") as g_exec, tr.span("force"):
                self.force(df)
                t2 = time.perf_counter()
            cpu = program_cpu_s(os.getpid(), self.jvm.pid) - cpu0
        with tr.span("post"):
            if self.kind == "batch":
                spark.catalog.clearCache()
            else:
                groups.drain_bus()
        rec = {"wall": t2 - t0, "build": t1 - t0, "exec": t2 - t1, "cpu": cpu, "df": df}
        rec["batches"] = self.progress.events[mark:]
        if q not in self.in_rows:
            self.in_rows[q] = self.input_rows(df)
        if tr.enabled:
            with tr.span("trace.read"):
                run_ids = sorted({e["run_id"] for e in rec["batches"]})
                rec["build_counters"] = groups.counters([g_build])
                rec["exec_counters"] = groups.counters([g_exec, *run_ids])
        return rec

    def input_rows(self, df) -> int:
        """Rows of the generated tables a query reads: every table for
        a stream drain (it reads only events), the tables behind the
        plan's input files for a batch query."""
        if self.kind == "stream":
            return self.table_rows["events"]
        files = [f.rstrip("/") for f in df.inputFiles()]
        return sum(
            rows for name, rows in self.table_rows.items()
            if any(f.endswith(f"/{name}.parquet") for f in files)
        )

    def run_pass(self, p: int) -> dict[str, dict]:
        """One pass over the workload's queries; the record of each
        query that ran, a failing one is counted and left out."""
        recs = {}
        with self.tracer.span("pass", index=p):
            for q in self.queries:
                if q in self.failed:
                    continue
                self.attempts[q] += 1
                try:
                    recs[q] = self.run_op(q, p)
                except Exception:  # a failing query is counted, the run goes on
                    self.failed[q] = traceback.format_exc(limit=3)
                    print(f"FAIL {q}: exception\n{self.failed[q]}", file=sys.stderr)
        return recs

    def timed(self) -> None:
        with self.tracer.span("warmup"):
            for p in range(self.warm_passes):
                self.run_pass(p - self.warm_passes)
        with self.tracer.span("timed"):
            t_start = time.perf_counter()
            steal0 = steal_ticks()
            for p in range(self.passes):
                for q, rec in self.run_pass(p).items():
                    self.records[q].append(rec)
            self.timed_wall = time.perf_counter() - t_start
            steal1 = steal_ticks()
        self.steal_frac = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        # read before the output check, whose toPandas and DuckDB oracle
        # are the benchmark's own memory
        self.peak_rss_mb = rss_hwm_mb(self.jvm.pid) + rss_hwm_mb(os.getpid())
        self.heap_peak_mb = sum(pool.getPeakUsage().getUsed() for pool in self.heap_pools) / 2**20

    # -- output check -------------------------------------------------
    def check(self) -> None:
        """Compare each query's last result with its DuckDB oracle by
        the repository's own rule (``scripts/selfcheck.py``: same rows,
        columns and values, order-insensitive, exact)."""
        import importlib.util

        import duckdb

        spec = importlib.util.spec_from_file_location(
            "selfcheck", os.path.join(ROOT, "scripts", "selfcheck.py")
        )
        selfcheck = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(selfcheck)
        con = duckdb.connect()
        for name, path in self.tables.items():
            src = f"{path}/*.parquet" if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
        with self.tracer.span("check"):
            for q, recs in self.records.items():
                if q in self.failed or not recs:
                    continue
                df = recs[-1]["df"]
                try:
                    why = "; ".join(selfcheck.compare(q, df.toPandas(), con.execute(self.oracles[q]).df()))
                except Exception:  # an error in the check is a failed query
                    why = traceback.format_exc(limit=3)
                if why:
                    self.failed[q] = why
                    print(f"FAIL {q}: {why}", file=sys.stderr)
        for rec_list in self.records.values():
            for rec in rec_list:
                rec.pop("df", None)

    # -- metrics ------------------------------------------------------
    def ok_ops(self) -> list[str]:
        return [q for q in self.queries if self.records[q] and q not in self.failed]

    def per_op(self, q: str, fn) -> float:
        return median([fn(r) for r in self.records[q]])

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": median([s["wall"] for s in self.setups]),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def walls(self) -> dict[str, float]:
        """Wall-clock results. They are not bounded: on a host that lends
        its cores to others they drift by more than any bound allows."""
        ops = self.ok_ops()
        walls = [self.per_op(q, lambda r: r["wall"]) for q in ops]
        total = sum(walls)
        return {
            "total_s": total,
            "geomean_s": geomean(walls),
            "rows_per_s": sum(self.in_rows.get(q, 0) for q in ops) / total if total else 0.0,
        }

    def unit_p50_ms(self) -> float:
        """Geometric mean over ops of the op's median unit latency: the
        force time of a batch query, Spark's ``triggerExecution`` of a
        micro-batch."""
        ops = self.ok_ops()
        if self.kind == "batch":
            units = [self.per_op(q, lambda r: r["exec"]) * 1000.0 for q in ops]
        else:
            units = [
                median([e["ms"].get("triggerExecution", 0) for r in self.records[q] for e in r["batches"]])
                for q in ops
            ]
        return geomean(units)

    def per_layer(self) -> dict[str, float]:
        ops = self.ok_ops()
        out: dict[str, float] = {
            "cpu_s": sum(self.per_op(q, lambda r: r["cpu"]) for q in ops),
            **self.walls(),
            "unit_p50_ms": self.unit_p50_ms(),
            "session.get_spark_s": median([s["get_spark"] for s in self.setups]),
            "shipping.ensure_package_shipped_s": median([s["ship"] for s in self.setups]),
            "setup.warmup_s": median([s["warmup"] for s in self.setups]),
            "setup.cold_s": self.setups[0]["wall"],
            "jvm.heap_peak_mb": self.heap_peak_mb,
            **self.sources,
        }

        def total(fn) -> float:
            return sum(self.per_op(q, fn) for q in ops)

        out["operators.build_s"] = total(lambda r: r["build"])
        out["operators.build_jobs"] = total(lambda r: r["build_counters"]["exec.jobs"])
        out["operators.exec_s"] = total(lambda r: r["exec"])
        for key in COUNTERS:
            out[key] = total(lambda r, k=key: r["exec_counters"][k])
        # the phases whose jobs the exec.* counters hold
        exec_wall = out["operators.exec_s"] if self.kind == "batch" else total(lambda r: r["wall"])
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        out["exec.busy_frac"] = out.get("exec.executor_run_s", 0.0) / (exec_wall * cores) if exec_wall else 0.0

        def batch_sum(fn):
            return total(lambda r: sum(fn(e) for e in r["batches"]))

        out["streaming.batches"] = batch_sum(lambda e: 1)
        for key in ("queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch", "addBatch"):
            out[f"streaming.{key}_ms"] = batch_sum(lambda e, k=key: e["ms"].get(k, 0))
        out["streaming.state_commit_ms"] = batch_sum(lambda e: sum(s["commit_ms"] for s in e["state"]))
        out["streaming.state_update_ms"] = batch_sum(lambda e: sum(s["update_ms"] for s in e["state"]))

        def last_state(r, field):
            return sum(s[field] for s in r["batches"][-1]["state"]) if r["batches"] else 0

        out["streaming.state_rows"] = total(lambda r: last_state(r, "rows"))
        out["streaming.state_memory_bytes"] = total(lambda r: last_state(r, "memory"))
        out["streaming.outside_batches_s"] = (
            total(lambda r: r["wall"] - sum(e["ms"].get("triggerExecution", 0) for e in r["batches"]) / 1000.0)
            if self.kind == "stream" else 0.0
        )
        for q in STREAM_QUERIES:
            name = q[len("stream_"):]
            out[f"streaming.{name}.drain_s"] = (
                self.per_op(q, lambda r: r["build"]) if q in ops and self.kind == "stream" else 0.0
            )
        out["trace.overhead_s"] = self.tracer.self_s
        out["trace.uncovered_s"] = self.tracer.uncovered_s(("warmup", "timed", "pass", "op"))
        return out

    def result_path(self, trace: int) -> str:
        return os.path.join(RESULTS, f"{self.args.workload}-seed{self.args.seed}-trace{trace}.json")

    def close(self) -> None:
        """Stop the session and the JVM and wait for the JVM to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        proc = self.jvm
        spark.stop()
        try:
            SparkContext._gateway.shutdown()
        finally:
            if proc.poll() is None:
                proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401  (fails fast outside a checkout)

    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    prepare_env(work)

    run = Run(args, work)
    stamp = identity(args)
    print("host " + json.dumps(stamp), flush=True)
    try:
        with run.tracer.span("run", workload=args.workload):
            run.generate()
            run.setup()
            if run.tracer.enabled:
                run.load_sources()
            run.timed()
            run.check()
            e2e = run.end_to_end()
        layer = run.per_layer() if args.trace else None
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(RESULTS, exist_ok=True)
    record = {
        "identity": stamp,
        "warm_passes": run.warm_passes,
        "passes": run.passes,
        "timed_wall_s": run.timed_wall,
        "timed_steal_frac": run.steal_frac,
        "setups": run.setups,
        "failed": run.failed,
        "end_to_end": e2e,
        "walls": run.walls(),
        "per_layer": layer,
        "ops": {q: [{k: v for k, v in r.items() if k != "batches"} for r in recs] for q, recs in run.records.items()},
    }
    with open(run.result_path(args.trace), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        run.tracer.write(os.path.join(RESULTS, f"spans-{args.workload}-seed{args.seed}.jsonl"))

    metrics = layer if args.trace else e2e
    units = unit_table()
    for name, value in metrics.items():
        print(f"metric {args.workload} {name} = {value:.6g} {units.get(name, '')}")
    attempted = sum(run.attempts.values())
    failed = sum(run.attempts[q] for q in run.failed)
    print(
        json.dumps(
            {
                "correct": not run.failed,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


def unit_table() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
