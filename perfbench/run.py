"""Dump -> load round-trip benchmark for xdump_spark.

    python3 perfbench/run.py --workload subset_bulk --seed 1 --seconds 12 --trace 0

One client drives the engine's public API in a closed loop, the way the
``dump`` and ``load`` CLI commands do: ``SparkDumpEngine.dump`` (zip) or
``dump_distributed`` (parquet directory), then ``load`` /
``load_distributed``, then ``LoadedDump.write_parquet_db`` into a fresh
target directory. A cycle starts only after the previous one has finished
and its output has been checked against a DuckDB recomputation of the
closure (``oracle.py``); checks run outside the timed sections. Files are
written through the OS page cache with no fsync.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced cycles and prints the per-layer metrics (spans from
``trace.py``, Spark counters from ``sparkstats.py``) with the tracing
overhead. The last stdout line is the result object; raw samples, spans
and counts go to ``.perfbench/<workload>-seed<seed>-trace<t>.json``.

``--smoke`` shrinks the inputs for the benchmark's own tests (``smoke.py``);
``--corrupt-cycle K`` damages one loaded table in cycle K, which the check
must count as a failure.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
CPUS = len(os.sched_getaffinity(0))
MIN_WARM = 2        # warm cycles (or traced pairs) per run, however long they take
DRIVER_MEM = "3g"   # not the 16g session default: a bounded heap on a shared host

# gated end-to-end metrics; cold_dump_s and jvm_peak_rss_mb vary by more
# than a tenth from run to run here and go to the detail file only
END_TO_END = {
    "setup_s": "s", "dump_p50_s": "s", "load_p50_s": "s", "rows_per_s": "1/s",
    "archive_bytes_per_row": "B", "py_peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "catalog.build_s": "s",
    "closure.s": "s", "closure.jobs": "count", "closure.tasks": "count",
    "closure.executor_cpu_s": "s", "closure.shuffle_write_bytes": "B",
    "closure.input_rows": "count", "closure.selected_rows": "count",
    "closure.yield": "ratio", "closure.busy_ratio": "ratio",
    "engine.dump_s": "s", "engine.dump_self_s": "s", "engine.dump_self_jobs": "count",
    "engine.jobs_per_table": "count", "engine.sequence_state_s": "s",
    "engine.sequence_state_jobs": "count", "engine.load_s": "s", "engine.load_self_s": "s",
    "archive.encode_s": "s", "archive.write_s": "s", "archive.read_s": "s",
    "archive.decode_s": "s", "archive.csv_bytes": "B", "archive.stored_bytes": "B",
    "archive.compression_ratio": "ratio",
    "target.write_s": "s", "target.write_jobs": "count", "target.bytes_written": "B",
    "target.sequences_lost": "count",
    "dump.jobs": "count", "dump.stages": "count", "dump.tasks": "count",
    "dump.failed_tasks": "count", "dump.spill_bytes": "B",
    "load.jobs": "count", "load.stages": "count",
    "trace.overhead_dump_s": "s", "trace.overhead_load_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--corrupt-cycle", type=int, default=None)
    return p.parse_args(argv)


def tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)


def hwm_mb(pid) -> float:
    """Peak resident set size (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_hwm(pid) -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def median(xs):
    return statistics.median(xs) if xs else 0.0


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt every orphaned descendant (the JVM's helper shells, Python
    workers) instead of leaving it to init, so ``end_descendants`` can
    wait for each one."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants() -> list[int]:
    """Pids of every live process below this one, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue        # ended while we looked
        if fields[0] != "Z":
            parent[int(d)] = int(fields[1])
    found, frontier = [], [os.getpid()]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        found += kids
        frontier = kids
    return found


def end_descendants(grace: float = 10.0) -> None:
    """Ask every remaining descendant to stop (SIGTERM), kill what is left
    after ``grace`` seconds, and reap each one. Returns once this process
    has no children left: as a subreaper, that means no descendants."""
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if sig is not None:
            for p in descendants():
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            sig = None
        elif time.monotonic() > deadline:
            sig, deadline = signal.SIGKILL, float("inf")
        time.sleep(0.05)


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.inputs = self.expected = None
        self.cycles: list[dict] = []
        self.setup: dict = {}
        self.tracer = None
        self.counters = None

    # -- session lifecycle ---------------------------------------------------
    def start_session(self) -> None:
        from xdump_spark.catalog import Catalog
        from xdump_spark.engine import SparkDumpEngine
        from xdump_spark.session import get_spark
        from xdump_spark.sources.parquet_db import ParquetDatabase

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=CPUS)
        t1 = time.perf_counter()
        catalog = ParquetDatabase(self.spark, self.inputs.db_dir).catalog()
        for df in catalog.tables.values():
            df.schema
        t2 = time.perf_counter()
        self.setup = {"session_s": t1 - t0, "catalog_s": t2 - t1, "setup_s": t2 - t0}
        self.engine = SparkDumpEngine(self.spark, catalog)
        self.load_engine = SparkDumpEngine(self.spark, Catalog({}))   # as the load CLI does

    def stop_session(self) -> None:
        """Stop Spark and its gateway JVM, and wait for the JVM to exit."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        if self.spark is None:
            return
        spark, self.spark = self.spark, None
        gateway = SparkContext._gateway
        try:
            spark.stop()
        except Py4JError:
            pass    # a signal cut a gateway call short; closing stdin still ends the JVM
        finally:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()          # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- one closed-loop cycle ---------------------------------------------------
    def cycle(self, phase: str) -> dict:
        from perfbench import oracle

        i = len(self.cycles)
        inp = self.inputs
        zipped = inp.fmt == "zip"
        art = os.path.join(self.work, f"dump{i}.zip" if zipped else f"dump{i}")
        tgt = os.path.join(self.work, f"db{i}")
        rec = {"cycle": i, "phase": phase, "ok": False}
        if self.tracer is not None:
            self.tracer.cycle = i
        try:
            ids0 = self.counters.ids()
            t0 = time.perf_counter()
            if zipped:
                self.engine.dump(art, full_tables=inp.full_tables, partial_tables=dict(inp.partial_sql))
            else:
                self.engine.dump_distributed(art, full_tables=inp.full_tables, partial_tables=dict(inp.partial_sql))
            t1 = time.perf_counter()
            ids1 = self.counters.ids()
            t2 = time.perf_counter()
            loaded = self.load_engine.load(art) if zipped else self.load_engine.load_distributed(art)
            if self.args.corrupt_cycle == i:
                corrupt(loaded)
            loaded.write_parquet_db(tgt)
            t3 = time.perf_counter()
            ids2 = self.counters.ids()
            rec.update(dump_s=t1 - t0, load_s=t3 - t2, ids=[ids0, ids1, ids2])
            rec.update(
                dump_jobs=ids1[0] - ids0[0], dump_stages=ids1[1] - ids0[1],
                load_jobs=ids2[0] - ids1[0], load_stages=ids2[1] - ids1[1],
            )
            check = oracle.check_target(self.expected, tgt, loaded.sequences if zipped else None)
            rec.update(
                ok=check.ok, problems=check.problems, rows=sum(check.rows.values()),
                table_rows=check.rows, tables=sum(1 for n in check.rows.values() if n),
                sequences_lost=check.sequences_lost,
                artifact_bytes=tree_bytes(art), target_bytes=tree_bytes(tgt),
            )
        except Exception as exc:   # a failed cycle counts against error_rate; the loop goes on
            rec["problems"] = [f"{type(exc).__name__}: {exc}"]
        finally:
            remove(art)
            remove(tgt)
        self.cycles.append(rec)
        return rec

    def loop(self, seconds: float, step) -> None:
        """Call ``step`` (one or more closed-loop cycles) until ``seconds``
        have passed, and at least MIN_WARM times."""
        n, t0 = 0, time.perf_counter()
        while n < MIN_WARM or time.perf_counter() - t0 < seconds:
            step()
            n += 1

    def traced_pair(self, plain: list, traced: list) -> None:
        """An untraced cycle, then a traced one: warm-up drift falls on
        both sides of the tracing-overhead difference alike."""
        plain.append(self.cycle("untraced"))
        self.tracer.install()
        try:
            traced.append(self.cycle("traced"))
        finally:
            self.tracer.uninstall()

    # -- the run -----------------------------------------------------------
    def run(self) -> dict:
        from perfbench import workloads

        a = self.args
        t0 = time.perf_counter()
        self.inputs, self.expected, gen_s, oracle_s = prepare(a, self.work)
        prepare_s = time.perf_counter() - t0

        from pyspark import SparkContext

        from perfbench.sparkstats import SparkCounters

        self.start_session()
        self.counters = SparkCounters(self.spark)
        jvm = SparkContext._gateway.proc.pid
        reset_hwm("self")
        reset_hwm(jvm)

        cold = self.cycle("cold")
        # the first warm cycle still runs ~10-20% slow; keep it out of the
        # p50s and out of both sides of the tracing-overhead difference
        self.cycle("warmup")
        warm, plain, traced = [], [], []
        if a.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer(self.counters)
            self.loop(a.seconds, lambda: self.traced_pair(plain, traced))
            warm = plain + traced
        else:
            self.loop(a.seconds, lambda: warm.append(self.cycle("warm")))
        py_rss, jvm_rss = hwm_mb("self"), hwm_mb(jvm)
        layer = self.layer_metrics(plain, traced) if a.trace else None
        self.stop_session()

        ok = [c for c in warm if c["ok"]]
        attempted = len(self.cycles)
        failed = sum(1 for c in self.cycles if not c["ok"])
        e2e = {
            "setup_s": self.setup["setup_s"],
            "cold_dump_s": cold.get("dump_s", 0.0),
            "dump_p50_s": median([c["dump_s"] for c in ok]),
            "load_p50_s": median([c["load_s"] for c in ok]),
            "rows_per_s": median([c["rows"] / (c["dump_s"] + c["load_s"]) for c in ok]),
            "archive_bytes_per_row": median([c["artifact_bytes"] / max(c["rows"], 1) for c in ok]),
            "py_peak_rss_mb": py_rss,
            "jvm_peak_rss_mb": jvm_rss,
        }
        detail = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "smoke": a.smoke, "cpus": CPUS, "driver_mem": DRIVER_MEM,
            "shape": "closed loop, one client, no fsync",
            "source_rows": self.inputs.source_rows, "partial_sql": self.inputs.partial_sql,
            "full_tables": self.inputs.full_tables, "format": self.inputs.fmt,
            "expected_rows": self.expected.rows, "expected_sequences": self.expected.sequences,
            "gen_s": gen_s, "oracle_s": oracle_s, "prepare_s": prepare_s,
            "setup": self.setup, "cycles": self.cycles,
            "error_rate": failed / attempted,
            "verified_cycles": sum(1 for c in self.cycles if "rows" in c),
            "end_to_end": e2e,
            "dump_max_s": max((c["dump_s"] for c in ok), default=0.0),
            "load_max_s": max((c["load_s"] for c in ok), default=0.0),
            "counts": {
                k: sorted({c[k] for c in self.cycles if k in c})
                for k in ("dump_jobs", "dump_stages", "load_jobs", "load_stages", "rows")
            },
        }
        if a.trace:
            detail["per_layer"] = layer
            detail["spans"] = self.tracer.to_json()
        os.makedirs(OUT, exist_ok=True)
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}{'-smoke' if a.smoke else ''}.json"
        with open(os.path.join(OUT, name), "w") as f:
            json.dump(detail, f, indent=1)
        units = PER_LAYER if a.trace else END_TO_END
        values = layer if a.trace else e2e
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }

    def layer_metrics(self, plain: list[dict], traced: list[dict]) -> dict:
        """Per-layer metrics: medians over the traced cycles that passed."""
        tr, counters = self.tracer, self.counters
        ok_traced = [c for c in traced if c["ok"]]
        if tr.spans:
            counters.fetch(tr.spans[0].ids0[1], max(s.ids1[1] for s in tr.spans))
        per_cycle = []
        for c in ok_traced:
            first, end = c["ids"][0], c["ids"][2]
            spans = tr.of_cycle(c["cycle"])

            def of(name):
                return [(i, s) for i, s in spans if s.name == name]

            def secs(name):
                return sum(s.seconds for _, s in of(name))

            def self_secs(name):
                return sum(tr.self_seconds(i) for i, _ in of(name))

            def count(name, field):
                return sum(counters.totals(s.jobs, s.stages)[field] for _, s in of(name))

            def child_jobs(name):
                return sum(
                    tr.spans[k].jobs[1] - tr.spans[k].jobs[0]
                    for i, _ in of(name) for k in tr.spans[i].children
                )

            dump = counters.totals((first[0], c["ids"][1][0]), (first[1], c["ids"][1][1]))
            load = counters.totals((c["ids"][1][0], end[0]), (c["ids"][1][1], end[1]))
            closure_s = secs("planner.closure")
            input_rows = count("planner.closure", "inputRecords")
            csv_bytes = sum(s.size for _, s in of("archive.encode"))
            stored = c["artifact_bytes"] if self.inputs.fmt == "zip" else 0
            per_cycle.append({
                "closure.s": closure_s,
                "closure.jobs": count("planner.closure", "jobs"),
                "closure.tasks": count("planner.closure", "numCompleteTasks"),
                "closure.executor_cpu_s": count("planner.closure", "executorCpuTime") / 1e9,
                "closure.shuffle_write_bytes": count("planner.closure", "shuffleWriteBytes"),
                "closure.input_rows": input_rows,
                "closure.selected_rows": c["rows"],
                "closure.yield": c["rows"] / input_rows if input_rows else 0.0,
                "closure.busy_ratio": (
                    count("planner.closure", "executorRunTime") / 1000.0 / (closure_s * CPUS)
                    if closure_s else 0.0
                ),
                "engine.dump_s": secs("engine.dump"),
                "engine.dump_self_s": self_secs("engine.dump"),
                "engine.dump_self_jobs": count("engine.dump", "jobs") - child_jobs("engine.dump"),
                "engine.jobs_per_table": dump["jobs"] / max(c["tables"], 1),
                "engine.sequence_state_s": secs("engine.sequence_state"),
                "engine.sequence_state_jobs": count("engine.sequence_state", "jobs"),
                "engine.load_s": secs("engine.load"),
                "engine.load_self_s": self_secs("engine.load"),
                "archive.encode_s": secs("archive.encode"),
                "archive.write_s": secs("archive.write"),
                "archive.read_s": secs("archive.read"),
                "archive.decode_s": secs("archive.decode"),
                "archive.csv_bytes": csv_bytes,
                "archive.stored_bytes": stored,
                "archive.compression_ratio": csv_bytes / stored if stored else 0.0,
                "target.write_s": secs("target.write"),
                "target.write_jobs": count("target.write", "jobs"),
                "target.bytes_written": c["target_bytes"],
                "target.sequences_lost": c["sequences_lost"],
                "dump.jobs": dump["jobs"],
                "dump.stages": dump["stages"],
                "dump.tasks": dump["numCompleteTasks"],
                "dump.failed_tasks": dump["numFailedTasks"],
                "dump.spill_bytes": dump["memoryBytesSpilled"] + dump["diskBytesSpilled"],
                "load.jobs": load["jobs"],
                "load.stages": load["stages"],
            })
        out = {k: median([p[k] for p in per_cycle]) for k in (per_cycle[0] if per_cycle else {})}
        out["session.start_s"] = self.setup["session_s"]
        out["catalog.build_s"] = self.setup["catalog_s"]
        ok_plain = [c for c in plain if c["ok"]]
        out["trace.overhead_dump_s"] = (
            median([c["dump_s"] for c in ok_traced]) - median([c["dump_s"] for c in ok_plain])
        )
        out["trace.overhead_load_s"] = (
            median([c["load_s"] for c in ok_traced]) - median([c["load_s"] for c in ok_plain])
        )
        for k in PER_LAYER:
            out.setdefault(k, 0.0)
        return out


def prepare(args, work: str):
    """``workloads.prepare`` in a child process, so neither the generator's
    arrays nor DuckDB's memory count towards the measured process."""
    out = os.path.join(work, "prepared.pickle")
    subprocess.run(
        [sys.executable, "-m", "perfbench.workloads", args.workload, work,
         str(args.seed), str(int(args.smoke)), out],
        cwd=ROOT, check=True,
    )
    with open(out, "rb") as f:
        return pickle.load(f)


def corrupt(loaded) -> None:
    """Change every value of one string column of the first table that has
    one: row counts stay right, the content check must catch it."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for table in sorted(loaded.frames):
        df = loaded.frames[table]
        for f in df.schema.fields:
            if isinstance(f.dataType, T.StringType):
                loaded.frames[table] = df.withColumn(f.name, F.concat(F.col(f.name), F.lit("#")))
                return
    raise RuntimeError("no string column to corrupt")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "xdump_spark", "engine.py")):
        print(f"perfbench: no xdump_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    # Spark scratch, JVM and Python temp files stay inside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={work}/tmp"
    ).strip()
    os.environ["XDUMP_SPARK_DRIVER_MEM"] = DRIVER_MEM
    if args.trace:
        # keep every stage of a run in the status store; eviction would raise
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
            "pyspark-shell"
        )
    # a terminated run still stops its JVM and every other process it
    # started, waits for them, and removes its scratch files
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        try:
            bench.stop_session()
        finally:
            end_descendants()
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
