"""Benchmark of the census engine through ``__spark_entry__``.

Run from the root of a checkout::

    python3 perfbench/run.py --workload sf0.1-headline-write --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

One Python process runs ``__spark_entry__.queries()`` as a closed loop
with one client, one query at a time, on ``local[<nproc>]`` with
``bench.py``'s session confs. Each query is timed from outside the
package: the operator call plus the noop-sink execution of the DataFrame
it returns.

A run:

1. generates the workload's corpus from the seed (cached per seed under
   ``perfbench/.out/corpus``; not timed);
2. starts a fresh session (its own JVM), loads the registry and runs
   ``bench.py``'s two warm-up queries; the sum is ``setup_s``;
3. runs the fresh pass, every workload id once (or ``repeat`` times in a
   row) in the workload's order, as ``bench.py`` does for its headline
   total; the CPU seconds the machine spends busy on it are
   ``pass_cpu_s``. The order is fixed, not drawn from the seed: the first
   stream id of a session pays the streaming engine's start-up, so a
   shuffled order would move that cost from id to id;
4. in the first session, collects every id to pandas and checks it
   against the id's DuckDB ``oracle_sql()`` on the same corpus, with
   ``tools/selfcheck.py``'s rules, or, for ids without an oracle, that it
   returned rows;
5. starts the next fresh session, from step 2, while it is expected to
   end within ``--seconds``; each metric is the median over sessions.

A fixed amount of work from a fresh JVM repeats from run to run far
better than warm passes in a time window: those sit on a JIT warm-up
curve that lasts a minute and more, and how far along it a window lands
depends on the host's load. The pass is measured in busy CPU seconds
(all processes, hypervisor steal left out) because on a shared host its
wall time moves with the neighbours' load: the JIT's compile threads keep
three of four cores busy during a fresh pass. Its wall times are in the
report and among the traced run's metrics.

With ``--trace 1`` the one session goes on after the check with warm
passes that alternate between untraced and traced ones; the traced
passes give the per-layer metrics (see ``tracing.py``) and the
difference of the two medians is the tracing overhead.

Each session has its own ``TMPDIR``, ``SPARK_LOCAL_DIRS``, JVM temp
directory and working directory under ``perfbench/.out``, removed when it
ends. A per-run report (host, corpus, per-query times, check results,
spans) is written to ``perfbench/.out/reports``. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import tracing  # noqa: E402

#: The files of the program the benchmark drives, relative to the root.
PROGRAM_FILES = (
    "__spark_entry__.py",
    "bench.py",
    "census_postgres_py_spark/registry.py",
    "tools/gen_stress.py",
    "tools/selfcheck.py",
)


def proc_status_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def steal_s() -> float:
    """CPU seconds the hypervisor took from this machine since boot
    (``steal`` in /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def busy_cpu_s() -> float:
    """CPU seconds this machine has spent busy since boot, over all CPUs
    and processes: user, nice, system, irq and softirq time from
    /proc/stat. Idle, I/O wait and the hypervisor's steal are left out."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:8]]
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int | str) -> float:
    """User plus system CPU seconds of a process so far."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def host_load() -> dict:
    """Load average, available memory and the hypervisor's steal."""
    with open("/proc/meminfo") as fh:
        avail = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemAvailable:"))
    return {
        "loadavg": os.getloadavg(),
        "mem_available_mb": round(avail / 1024),
        "cpu_steal_s": steal_s(),
        "probe_s": host_probe(),
    }


def host_context(root: str) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=root,
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    import duckdb
    import pyspark

    return {
        "nproc": os.cpu_count(),
        **host_load(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "commit": commit,
    }


class RunDirs:
    """Per-session temp, Spark-local and working directories; the process
    works inside them and they are removed at the end."""

    def __init__(self, out: str):
        self.base = os.path.join(out, f"run-{os.getpid()}-{time.time_ns()}")
        self.tmp = os.path.join(self.base, "tmp")
        self.local = os.path.join(self.base, "local")
        self.work = os.path.join(self.base, "work")

    def __enter__(self):
        for d in (self.tmp, self.local, self.work):
            os.makedirs(d)
        self.cwd = os.getcwd()
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        # no /tmp/hsperfdata_<user> files from the launcher or driver JVM
        opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
        if "-XX:-UsePerfData" not in opts:
            os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -XX:-UsePerfData".strip()
        tempfile.tempdir = None  # re-read TMPDIR
        os.chdir(self.work)
        return self

    def __exit__(self, *exc):
        os.chdir(self.cwd)
        tempfile.tempdir = None
        shutil.rmtree(self.base, ignore_errors=True)
        return False


def start_session(cores: int, run: RunDirs):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("census-perfbench")
        .config("spark.driver.memory", "2g")
        # a fixed, pre-touched heap, so that the JVM's resident memory
        # depends neither on when the collector chose to grow the heap nor
        # on how many passes a run made before the heap was all touched
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={run.tmp}",
        )
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(run.work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def host_probe(n: int = 200_000, reps: int = 9) -> float:
    """Median seconds this host takes for a fixed, program-independent
    piece of interpreter work (about 16 ms on a calm 4-core host)."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i % 7
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def check_result(qid: str, pdf, oracles: dict, con, selfcheck) -> str | None:
    """None when ``pdf`` passes, else the reason it does not."""
    if qid not in oracles:
        return None if len(pdf) > 0 else "no rows"
    odf = con.sql(oracles[qid]).df()
    exact, _close, detail = selfcheck._values_equal(
        selfcheck._canon(pdf), selfcheck._canon(odf)
    )
    return None if exact else f"mismatch:{detail}"[:300]


def run_noop(fn, spark, data: str) -> None:
    fn(spark, data).write.mode("overwrite").format("noop").save()


def traced_query(tr, spark, sc, fn, data, n, read_state):
    """Run one query with spans and job groups; returns its wall seconds
    and its per-layer counters, read after the query ends."""
    exec_group = f"perfbench-{n}-exec"
    q_idx = tr.open("query")
    try:
        sc.setJobGroup(f"perfbench-{n}-build", "build")
        b_idx = tr.open("build")
        try:
            df = fn(spark, data)
        finally:
            tr.close(b_idx)
        sc.setJobGroup(exec_group, "exec")
        write_start = time.time()
        df.write.mode("overwrite").format("noop").save()
    except Exception:
        tr.qe_events.clear()
        tr.progress.clear()
        raise
    finally:
        tr.close(q_idx)
        sc.setLocalProperty("spark.jobGroup.id", None)
    wall = tr.spans[q_idx].end - tr.spans[q_idx].start
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs, read_state["next_job"] = tracing.read_jobs(sc, read_state["next_job"])
    qes = [tracing.read_qe(qe, ns) for qe, ns in tr.qe_events]
    tr.qe_events.clear()
    batches = [tracing.read_progress(p) for p in tr.progress]
    tr.progress.clear()
    rec = tracing.query_record(tr, q_idx, exec_group, write_start, jobs, qes, batches)
    rec["coverage"] = tracing.covered_share(tr.spans, q_idx)
    return wall, rec


def next_job_id(sc) -> int:
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return jobs.head().jobId() + 1 if jobs.size() else 0


#: ``bench.py``'s warm-up queries, run through the noop sink in every
#: fresh session before the measured pass: the JVM and codegen (a
#: multi-way join) and the Python/Arrow worker pool (a grouped pandas UDF).
WARMUP_IDS = ("join_multiway_star", "udf_grouped_map")


def warm_up(qs, spark, data: str) -> float:
    """``bench.py``'s warm-up queries; returns their seconds."""
    t = time.perf_counter()
    for qid in WARMUP_IDS:
        run_noop(qs[qid], spark, data)
    return time.perf_counter() - t


def fresh_pass(wl, qs, spark, data: str) -> tuple[dict, dict, dict]:
    """Every id in the workload's order, each run ``wl.repeat`` times in a
    row, operator call plus noop write; returns per-id lists of wall
    seconds and of the machine's busy CPU seconds, and per-id failures."""
    walls, cpus, errors = {}, {}, {}
    for qid in wl.ids:
        walls[qid], cpus[qid] = [], []
        for _ in range(wl.repeat):
            c, t = busy_cpu_s(), time.perf_counter()
            try:
                run_noop(qs[qid], spark, data)
            except Exception:  # noqa: BLE001 — recorded and counted as failed
                errors[qid] = traceback.format_exc(limit=3)
                break
            walls[qid].append(time.perf_counter() - t)
            cpus[qid].append(busy_cpu_s() - c)
    keep = [q for q in wl.ids if walls[q]]
    return {q: walls[q] for q in keep}, {q: cpus[q] for q in keep}, errors


def check_outputs(wl, qs, oracles, spark, data: str, root: str) -> dict:
    """Collect every id to pandas and check it against its oracle;
    returns per-id failures."""
    results, errors = {}, {}
    for qid in wl.ids:
        try:
            results[qid] = qs[qid](spark, data).toPandas()
        except Exception:  # noqa: BLE001 — recorded and counted as failed
            errors[qid] = traceback.format_exc(limit=3)

    import duckdb

    sys.path.insert(0, os.path.join(root, "tools"))
    import selfcheck

    con = duckdb.connect()
    try:
        for name in corpus.FIXTURE_SCHEMA:
            con.sql(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{data}/{name}.parquet')"
            )
        for qid, pdf in results.items():
            try:
                why = check_result(qid, pdf, oracles, con, selfcheck)
            except Exception:  # noqa: BLE001 — recorded and counted as failed
                why = "check error: " + traceback.format_exc(limit=3)
            if why:
                errors[qid] = why
    finally:
        con.close()
    return errors


def traced_passes(wl, qs, spark, data: str, args, tr, cores: int) -> dict:
    """Warm passes over the ids for the per-layer metrics, until
    ``args.seconds`` have passed.

    Passes come in blocks of plain, traced, traced, plain, so that the
    warming trend cancels out of the tracing overhead, and only whole
    blocks run."""
    sc = spark.sparkContext
    rng = random.Random(args.seed)
    kinds = ("plain", "traced", "traced", "plain")
    m = {
        "passes": {"plain": [], "traced": []},
        "layers": [],
        "coverage": [],
        "failures": {},
        "attempted": 0,
    }
    state = {"next_job": 0}
    # One untimed noop pass first: the first noop pass after the fresh
    # pass and the check still runs slower, which would bias the
    # overhead measured by the blocks below.
    for qid in wl.ids:
        m["attempted"] += 1
        try:
            run_noop(qs[qid], spark, data)
        except Exception:  # noqa: BLE001 — recorded and counted as failed
            m["failures"][f"{qid}#warm"] = traceback.format_exc(limit=3)
    deadline = time.perf_counter() + args.seconds
    i = n = 0
    while i % len(kinds) or i == 0 or time.perf_counter() < deadline:
        kind = kinds[i % len(kinds)]
        i += 1
        traced = kind == "traced"
        if traced:
            tr.active = True
            state["next_job"] = next_job_id(sc)
            first_span, recs = len(tr.spans), []
        walls = []
        for qid in rng.sample(wl.ids, len(wl.ids)):
            n += 1
            m["attempted"] += 1
            try:
                if traced:
                    wall, rec = traced_query(tr, spark, sc, qs[qid], data, n, state)
                    recs.append(rec)
                    m["coverage"].append(rec["coverage"])
                else:
                    t = time.perf_counter()
                    run_noop(qs[qid], spark, data)
                    wall = time.perf_counter() - t
            except Exception:  # noqa: BLE001 — recorded and counted as failed
                m["failures"][f"{qid}#{n}"] = traceback.format_exc(limit=3)
                continue
            walls.append(wall)
        m["passes"][kind].append(sum(walls))
        if traced:
            m["layers"].append(tracing.pass_metrics(recs, tr.spans[first_span:], first_span, cores))
            tr.active = False
    return m


def setup_seconds(session: dict) -> float:
    return session["session.start_s"] + session["registry.load_s"] + session["setup.warmup_s"]


def fresh_metrics(session: dict) -> dict:
    """One session's fresh pass: busy CPU seconds, wall seconds, and the
    geometric mean over ids of each id's median wall seconds."""
    return {
        "pass_cpu_s": sum(map(sum, session["pass_cpu"].values())),
        "fresh.pass_s": sum(map(sum, session["pass"].values())),
        "fresh.query_geomean_s": statistics.geometric_mean(
            map(statistics.median, session["pass"].values())
        ),
    }


def end_to_end(sessions: list[dict]) -> dict:
    """The untraced run's metrics, each the median over the run's fresh
    sessions: the busy CPU seconds of the fresh pass, the set-up seconds
    and the peak resident memory."""
    return {
        "pass_cpu_s": {
            "value": statistics.median(fresh_metrics(s)["pass_cpu_s"] for s in sessions),
            "unit": "s",
        },
        "setup_s": {
            "value": statistics.median(setup_seconds(s) for s in sessions),
            "unit": "s",
        },
        "peak_rss_mb": {
            "value": statistics.median(sum(s["hwm_kb"].values()) for s in sessions) / 1024,
            "unit": "MB",
        },
    }


def per_layer(session: dict, layers: list[dict], passes: dict, coverage: list[float]) -> dict:
    """The traced run's metrics: set-up phases and the fresh pass's wall
    times, the median over traced passes of each layer metric, the
    tracing overhead (median traced pass minus median untraced pass) and
    the least share of a query's wall time its build, plan and exec spans
    cover."""
    metrics = {
        k: {"value": session[k], "unit": "s"}
        for k in ("session.start_s", "registry.load_s", "setup.warmup_s")
    }
    for k, v in fresh_metrics(session).items():
        if k.startswith("fresh."):
            metrics[k] = {"value": v, "unit": "s"}
    for k, (_, unit) in layers[0].items():
        metrics[k] = {"value": statistics.median(p[k][0] for p in layers), "unit": unit}
    overhead = statistics.median(passes["traced"]) - statistics.median(passes["plain"])
    metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
    metrics["trace.coverage_min"] = {"value": min(coverage), "unit": "ratio"}
    return metrics


def run_workload(root: str, wl, args, out: str) -> tuple[dict, dict]:
    """Set up, measure and check one workload; returns the result line
    and the run's report.

    Untraced, the run starts fresh sessions (each its own JVM) one after
    another while the next one is expected to end within ``--seconds``,
    and at least one. Each session starts, runs ``bench.py``'s warm-ups
    and then the fresh pass; the first one also checks the outputs.
    Traced, the one session goes on after the check with the traced
    passes."""
    cores = os.cpu_count() or 1
    data, manifest = corpus.ensure(
        root, os.path.join(out, "corpus"), wl.mult, args.seed
    )
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "corpus": manifest,
        "host_start": host_context(root),
    }
    tr = tracing.Tracer() if args.trace else None
    sessions, failures, errors, m = [], {}, {}, None
    attempted = 0
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    deadline = time.perf_counter() + args.seconds
    while True:
        t0 = time.perf_counter()
        # each session gets its own temp directories: stream feeds and
        # checkpoints the program keeps there would make the next
        # session's pass a different one
        with RunDirs(out) as run:
            spark = start_session(cores, run)
            try:
                session = {"session.start_s": time.perf_counter() - t0}
                if not sessions:
                    jvm = spark.sparkContext._jvm
                    report["host_start"]["java"] = jvm.System.getProperty("java.version")
                    t1 = time.perf_counter()
                    if tr is not None:
                        from census_postgres_py_spark import tables

                        tracing.install_wrappers(tr, tables)
                    import __spark_entry__ as entrymod

                    qs = entrymod.queries()
                    oracles = entrymod.oracle_sql()
                    registry_s = time.perf_counter() - t1
                    missing = [q for q in wl.ids + WARMUP_IDS if q not in qs]
                    if missing:
                        raise SystemExit(f"perfbench: ids not registered: {missing}")
                # the registry is imported once per process
                session["registry.load_s"] = registry_s
                session["setup.warmup_s"] = warm_up(qs, spark, data)
                # host steal and driver CPU during the pass, so that a
                # reader of the report can tell a host stall from a slow
                # program
                jvm_pid = spark.sparkContext._gateway.proc.pid
                before = steal_s(), cpu_s(jvm_pid) + cpu_s("self")
                session["pass"], session["pass_cpu"], errs = fresh_pass(wl, qs, spark, data)
                session["pass_steal_s"] = steal_s() - before[0]
                session["pass_driver_cpu_s"] = cpu_s(jvm_pid) + cpu_s("self") - before[1]
                attempted += len(wl.ids) * wl.repeat
                failures.update({f"{q}#session{len(sessions)}": e for q, e in errs.items()})
                if not sessions:
                    errors = check_outputs(wl, qs, oracles, spark, data, root)
                    attempted += len(wl.ids)
                if tr is not None:
                    from pyspark.java_gateway import ensure_callback_server_started

                    ensure_callback_server_started(spark.sparkContext._gateway)
                    spark._jsparkSession.listenerManager().register(
                        tracing.make_qe_listener(tr)
                    )
                    spark.streams.addListener(tracing.make_stream_listener(tr))
                    m = traced_passes(wl, qs, spark, data, args, tr, cores)
                    attempted += m["attempted"]
                    failures.update(m["failures"])
                session["hwm_kb"] = {
                    "jvm": proc_status_kb(jvm_pid, "VmHWM"),
                    "python": proc_status_kb("self", "VmHWM"),
                }
            finally:
                stop_session(spark)
        sessions.append(session)
        took = time.perf_counter() - t0
        if tr is not None or time.perf_counter() + took > deadline:
            break

    if tr is not None:
        metrics = per_layer(sessions[0], m["layers"], m["passes"], m["coverage"])
    else:
        metrics = end_to_end(sessions)
    report.update(
        {
            "host_end": host_load(),
            "sessions": sessions,
            "traced_passes": m and m["passes"],
            "check_failures": errors,
            "pass_failures": failures,
            "metrics": metrics,
        }
    )
    if tr is not None:
        report["spans"] = [[s.name, s.start, s.end, s.parent] for s in tr.spans]
    line = {
        "correct": not errors and not failures,
        "attempted": attempted,
        "failed": len(errors) + len(failures),
        "metrics": metrics,
    }
    return line, report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a TERM ends the run through the ``finally`` blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    missing = [f for f in PROGRAM_FILES if not os.path.exists(os.path.join(root, f))]
    if missing:
        print(f"perfbench: run from a checkout root; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(WORKLOADS, args)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    out = os.path.join(HERE, ".out")
    line, report = run_workload(root, WORKLOADS[args.workload], args, out)
    os.makedirs(os.path.join(out, "reports"), exist_ok=True)
    path = os.path.join(
        out, "reports", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as fh:
        json.dump(report, fh, default=str)
    print(
        json.dumps(
            {
                "host": report["host_start"],
                "host_end": report["host_end"],
                "check_failures": sorted(report["check_failures"]),
                "report": os.path.relpath(path, root),
            }
        ),
        file=sys.stderr,
    )
    print(json.dumps(line))
    return 0


def run_all(workloads: dict, args) -> int:
    """Every workload in its own process; prints each one's metrics by
    name and unit, then one combined result line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in workloads:
        proc = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--workload", name,
                "--seed", str(args.seed),
                "--seconds", str(args.seconds),
                "--trace", str(args.trace),
            ],
            stdout=subprocess.PIPE,
            text=True,
        )
        if proc.returncode != 0:
            print(f"perfbench: {name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode
        line = json.loads(proc.stdout.strip().splitlines()[-1])
        for k, v in line["metrics"].items():
            print(f"{name:20s} {k:30s} {v['value']:14.4f} {v['unit']}")
            combined["metrics"][f"{name}.{k}"] = v
        combined["correct"] &= line["correct"]
        combined["attempted"] += line["attempted"]
        combined["failed"] += line["failed"]
    print(json.dumps(combined))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
