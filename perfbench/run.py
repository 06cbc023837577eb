"""Repository benchmark: one workload of registered queries per run.

Usage, from the repository root:

    python3 perfbench/run.py --workload operator_mix --seed 1 --seconds 14 --trace 0

A run reads the fixed sf0.01 test tables (TESTDATA.md) from
perfbench/data, starts the engine session, checks every workload query
against its DuckDB oracle and measures the heap each query keeps, runs
untimed passes for six seconds, and then runs the
workload's queries in a closed loop, one pass after another in an order
drawn from the seed, until ``--seconds`` have elapsed.
``--trace 0`` reports the end-to-end metrics. ``--trace 1`` writes the
event log from the start, traces the timed passes, then runs untraced
passes in a second Spark context, and reports the per-layer metrics of
the traced passes and the tracing overhead. perfbench/spec.json
describes the workloads and every metric.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Everything a run
writes is under perfbench/_work, which each run empties first. The exit
code is 1 when an output is wrong and 2 when the repository or the
arguments are unusable.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import fcntl  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, "_work")
# The fixed test tables, the same in every run, so that runs with
# different seeds measure the same work; --seed orders the queries of
# each pass.
DATA = os.path.join(HERE, "data")
# Untimed passes after the check pass, while pass times still fall as
# the JVM compiles hot code and regrows the heap the collections shrank.
WARM_UP_S = 6.0

sys.path.insert(0, HERE)
import tracing as tr  # noqa: E402


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# -- host state ---------------------------------------------------------------


def foreign_spark_jvms(own_pids: set[int]) -> list[str]:
    """Live Spark JVMs on the host other than this run's own.

    The same test as bench.py's ``_foreign_spark_jvms`` (a ``ps`` line
    naming both ``java`` and ``org.apache.spark``), kept here so the
    benchmark does not depend on the harness it sits beside."""
    ps = subprocess.run(["ps", "-eo", "pid,args"], capture_output=True, text=True, timeout=10)
    out = []
    for line in ps.stdout.splitlines():
        pid, _, args = line.strip().partition(" ")
        if "org.apache.spark" in args and "java" in args and int(pid) not in own_pids:
            out.append(line.strip()[:160])
    return out


def host_stamp(own_pids: set[int]) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "foreign_spark_jvms": foreign_spark_jvms(own_pids),
        "cwd": ROOT,
    }


def descendants(pid: int) -> set[int]:
    """PIDs of every live descendant of ``pid``."""
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent_of[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # exited while we looked
    out, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, pp in parent_of.items() if pp in frontier} - out
        out |= frontier
    return out


def rss_high_water_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_high_water(pid: int) -> bool:
    """Reset the peak-RSS counter of ``pid`` (Linux >= 4.0)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def jvm_pid() -> int:
    """PID of the driver JVM this process launched."""
    for pid in sorted(descendants(os.getpid())):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    raise RuntimeError("no driver JVM among this process's descendants")


# -- environment --------------------------------------------------------------


def tables_intact(sf_dir: str) -> bool:
    """True when every table in ``sf_dir`` matches its SHA256SUMS line."""
    with open(os.path.join(sf_dir, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(sf_dir, name), "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != digest:
                    return False
    return True


def configure_environment(trace_dir: str | None) -> None:
    """Keep every file Spark and the program write inside WORK, and fix
    the parallelism to the cores this process may use."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "local"))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # The driver heap is the program's own default.
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    confs = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir is not None:
        # One uncompressed, unrolled event log per traced run.
        os.makedirs(trace_dir)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + trace_dir
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [*args, "--driver-java-options", f"-Djava.io.tmpdir={tmp} -Dderby.system.home={WORK}", "pyspark-shell"]
    )


def untraced_context(spark, get_spark):
    """Stop the session and start a new one in the same JVM, without
    the event log."""
    spark.stop()
    spark._jvm.java.lang.System.setProperty("spark.eventLog.enabled", "false")
    return get_spark("perfbench")


# -- the loop -----------------------------------------------------------------


def run_query(spark, registry, catalog, name: str, sf_dir: str, tracer, qid: str) -> dict:
    """One closed-loop query: build, noop sink, release. Failures are data."""
    t0 = time.time()
    err = None
    with tracer.span("query", query=name):
        try:
            with tracer.span("build", group=f"{qid}:build"):
                df = registry.QUERIES[name](spark, sf_dir)
            tracer.note_analysis(df)
            with tracer.span("exec", group=f"{qid}:exec"):
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - one failing query must not end the run
            err = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            with tracer.span("release", group=f"{qid}:release") as sp:
                released = catalog.release_caches()
            if sp is not None:
                sp.attrs["released"] = released
    return {"name": name, "s": time.time() - t0, "error": err}


def run_passes(spark, registry, catalog, names, sf_dir, seconds, rng, tracer, tag) -> list[dict]:
    """Whole passes in seeded order until ``seconds`` have elapsed."""
    passes = []
    deadline = time.time() + seconds
    while not passes or time.time() < deadline:
        order = list(names)
        rng.shuffle(order)
        p = len(passes)
        ckpt0 = catalog.ckpt_free_failures()
        t0 = time.time()
        with tracer.span("pass", n=p) as sp:
            queries = []
            for name in order:
                tracer.qid = f"{tag}{p}:{name}"
                queries.append(run_query(spark, registry, catalog, name, sf_dir, tracer, tracer.qid))
            tracer.qid = None
        rec = {"s": time.time() - t0, "queries": queries}
        if sp is not None:
            sp.attrs["ckpt_free_failures"] = catalog.ckpt_free_failures() - ckpt0
            rec["span"] = sp.sid
        passes.append(rec)
    return passes


def retained_heap_mb(spark) -> float:
    """The driver heap still reachable after full collections, in MB.

    Read after a query's result is in and before its caches are released,
    it holds what the query keeps: cached frames, broadcast values and
    plans. The peak resident size also holds garbage and a young
    generation whose size the collector chooses from its own timing, so
    it varies between runs of the same code by more than any bound could
    allow."""
    memory = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # The first collection leaves objects that cleaners free only after
    # it (blocks of broadcasts and shuffles that earlier queries dropped);
    # the second reclaims them.
    memory.gc()
    time.sleep(0.3)
    memory.gc()
    return memory.getHeapMemoryUsage().getUsed() / 2**20


class Collected:
    """A collected Spark result in the shape ``oracle.compare`` reads, so
    that the Spark side of the check (set-up) and the DuckDB side (the
    benchmark's own work) are timed apart."""

    def __init__(self, df) -> None:
        self.columns = df.columns
        self.dtypes = df.dtypes
        self._rows = df.collect()

    def collect(self):
        return self._rows


def check_pass(spark, registry, catalog, oracle, names, sf_dir) -> tuple[dict, float, float]:
    """Run every query once on Spark and measure the heap it keeps, then
    compare each result with its oracle.

    Returns the verdict per query, the largest retained heap in MB, and
    the seconds spent measuring heap, in DuckDB and in comparing, which
    are the benchmark's own work, not set-up."""
    results: dict[str, Collected | str] = {}
    retained, own_s = 0.0, 0.0
    for name in names:
        try:
            results[name] = Collected(registry.QUERIES[name](spark, sf_dir))
            t0 = time.time()
            retained = max(retained, retained_heap_mb(spark))
            own_s += time.time() - t0
        except Exception as exc:  # noqa: BLE001
            results[name] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            catalog.release_caches()
    t0 = time.time()
    con = oracle.oracle_connection(sf_dir)
    verdicts = {}
    for name, res in results.items():
        if isinstance(res, str):
            verdicts[name] = ("ERROR", res)
        elif name not in registry.ORACLES:
            verdicts[name] = ("ROWS_ONLY", f"{len(res.collect())} rows")
        else:
            problems = oracle.compare(res, con, registry.ORACLES[name])
            verdicts[name] = ("FAIL", "; ".join(problems)) if problems else ("PASS", "")
    con.close()
    return verdicts, retained, own_s + time.time() - t0


# -- metrics ------------------------------------------------------------------


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(samples)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def supported_percentile(n: int) -> float:
    """The highest percentile with at least ten samples beyond it."""
    return max(0.0, (n - 10) / n) if n else 0.0


def end_to_end(passes: list[dict]) -> tuple[dict, list[float]]:
    lat = [q["s"] for p in passes for q in p["queries"] if q["error"] is None]
    m = {
        "pass_s": statistics.median(p["s"] for p in passes),
        "query_p50_s": percentile(lat, 0.5) if lat else 0.0,
        "query_p90_s": percentile(lat, 0.9) if lat else 0.0,
    }
    return m, lat


def layer_metrics(tracer: tr.Tracer, root: int, cores: int) -> dict:
    """Per-layer metrics of the traced pass rooted at span ``root``."""
    spans = tr.subtree(tracer.spans, root)
    by_name: dict[str, list[tr.Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def dur(name):
        return sum(s.end - s.start for s in by_name.get(name, []))

    jobs = by_name.get("spark.job", [])
    m: dict[str, float] = {}
    for side in ("build", "exec"):
        mine = [j for j in jobs if tracer.spans[j.parent].name == side]
        m[f"{side}.wall_s"] = dur(side)
        m[f"{side}.jobs"] = len(mine)
        m[f"{side}.stages"] = sum(j.attrs["stages"] for j in mine)
        for key in tr.SPLIT_TOTALS:
            m[f"{side}.{key}"] = sum(j.attrs[key] for j in mine)
    m["build.job_busy_s"] = sum(
        tr.union([(j.start, j.end) for j in jobs if j.parent == b.sid])
        for b in by_name.get("build", [])
    )
    loads = by_name.get("catalog.load_table", [])
    m["catalog.load_table_calls"] = len(loads)
    m["catalog.load_table_s"] = dur("catalog.load_table")
    m["catalog.reader_memo_hit_ratio"] = (
        sum(s.attrs["memo_hit"] for s in loads) / len(loads) if loads else 0.0
    )
    m["catalog.persisted_frames"] = sum(s.attrs.get("persisted", 0) for s in spans)
    m["catalog.release_s"] = dur("release")
    m["catalog.released_frames"] = sum(s.attrs.get("released", 0) for s in by_name.get("release", []))
    m["catalog.ckpt_free_failures"] = tracer.spans[root].attrs["ckpt_free_failures"]
    for phase in tr.CATALYST_PHASES:
        m[f"catalyst.{phase}_s"] = sum(
            s.attrs["spark_s"] for s in by_name.get("catalyst", []) if s.attrs["phase"] == phase
        )
    m["python_bytes_sent"] = sum(j.attrs["python_bytes_sent"] for j in jobs)
    m["python_rows_received"] = sum(j.attrs["python_rows_received"] for j in jobs)
    m["output_bytes"] = sum(j.attrs["output_bytes"] for j in jobs)
    m["output_files"] = sum(j.attrs["output_files"] for j in jobs)
    idle = 0.0
    for q in by_name.get("query", []):
        qjobs = [(j.start, j.end) for j in jobs if j.qid == q.qid]
        idle += (q.end - q.start) - tr.union(qjobs)
    m["driver_idle_s"] = idle
    wall = tracer.spans[root].end - tracer.spans[root].start
    m["core_busy_ratio"] = (m["build.task_run_s"] + m["exec.task_run_s"]) / (wall * cores)
    selfs = tr.self_times(tracer.spans, root)
    for layer, key in SELF_LAYERS.items():
        m[f"self.{key}_s"] = selfs.get(layer, 0.0)
    m["trace.pass_s"] = wall
    return m


SELF_LAYERS = {
    "pass": "pass",
    "query": "query",
    "build": "build",
    "catalog.load_table": "load_table",
    "catalyst": "catalyst",
    "exec": "exec",
    "release": "release",
    "spark.job": "jobs",
}


def trace_phase(spark, get_spark, registry, catalog, names, sf_dir, seconds, rng):
    """Traced passes in the current context, which writes the event log,
    then untraced ones in a fresh context after untimed ones.

    The untraced side runs later in the JVM's warm-up, so the difference
    of the two is an upper estimate of the tracing overhead. Returns the
    live session, the tracer and both lists of passes."""
    tracer = tr.Tracer(spark.sparkContext)
    tracer.patch_catalog(catalog)
    tracer.listen(spark)
    traced = run_passes(spark, registry, catalog, names, sf_dir, seconds, rng, tracer, "t")
    tracer.stop_listening(spark)
    tracer.unpatch()
    spark = untraced_context(spark, get_spark)
    run_passes(spark, registry, catalog, names, sf_dir, WARM_UP_S, rng, tr.NoTracer(), "w")
    untraced = run_passes(spark, registry, catalog, names, sf_dir, seconds, rng, tr.NoTracer(), "a")
    return spark, tracer, {"traced": traced, "untraced": untraced}


# -- main ---------------------------------------------------------------------


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, tr.PACKAGE)):
        print(f"perfbench: no {tr.PACKAGE}/ in {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = spec["workloads"][args.workload]["members"]
    sf = spec["inputs"]["scale_factor"]

    lock = open(os.path.join(HERE, ".run.lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("perfbench: another run is using this checkout", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    log_dir = os.path.join(WORK, "eventlog") if args.trace else None
    configure_environment(log_dir)
    stamp = {"start": host_stamp(set())}

    t = time.time()
    sf_dir = os.path.join(DATA, f"sf{sf}")
    if not tables_intact(sf_dir):
        print(f"perfbench: the tables in {sf_dir} differ from SHA256SUMS", file=sys.stderr)
        return 2
    verify_s = time.time() - t

    sys.path.insert(0, ROOT)
    from data_collection_ieee_spark import catalog, oracle, registry
    from data_collection_ieee_spark.session import get_spark

    t = time.time()
    spark = get_spark("perfbench")
    session_s = time.time() - t
    t = time.time()
    registry.load_all()
    registry_s = time.time() - t
    jvm = jvm_pid()

    verdicts, retained, own_s = check_pass(spark, registry, catalog, oracle, names, sf_dir)
    rng = random.Random(args.seed)
    timed = run_passes(spark, registry, catalog, names, sf_dir, WARM_UP_S, rng, tr.NoTracer(), "w")
    setup_s = time.time() - T0 - verify_s - own_s

    layers = jobs_per_pass = self_sums = rss_reset = None
    e2e, lat, passes = {"setup_s": setup_s}, [], []
    trace_sides: dict[str, list[dict]] = {}
    if args.trace:
        spark, tracer, trace_sides = trace_phase(
            spark, get_spark, registry, catalog, names, sf_dir, args.seconds, rng
        )
        timed += trace_sides["traced"] + trace_sides["untraced"]
    else:
        rss_reset = all([reset_high_water(os.getpid()), reset_high_water(jvm)])
        passes = run_passes(spark, registry, catalog, names, sf_dir, args.seconds, rng, tr.NoTracer(), "u")
        py_rss = rss_high_water_mb(os.getpid())
        loop, lat = end_to_end(passes)
        e2e.update(loop, peak_memory_mb=retained + py_rss, peak_rss_mb=py_rss + rss_high_water_mb(jvm))
        timed += passes

    stamp["end"] = host_stamp({jvm} | descendants(jvm))
    spark.stop()
    if args.trace:
        tr.attach_jobs(tracer, tr.read_event_log(log_dir))
        tr.attach_phases(tracer)
        per_pass = [
            layer_metrics(tracer, p["span"], stamp["start"]["nproc"]) for p in trace_sides["traced"]
        ]
        layers = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        layers["session.start_s"] = session_s
        layers["registry.load_s"] = registry_s
        untraced_s = statistics.median(p["s"] for p in trace_sides["untraced"])
        layers["trace.overhead_s"] = layers["trace.pass_s"] - untraced_s
        jobs_per_pass = [m["build.jobs"] for m in per_pass]
        self_sums = [
            (sum(v for k, v in m.items() if k.startswith("self.")), m["trace.pass_s"]) for m in per_pass
        ]
        tracer.write(os.path.join(WORK, "spans.json"))
    shutdown_gateway()

    failures = [q for p in timed for q in p["queries"] if q["error"] is not None]
    check_errors = [n for n, (v, _) in verdicts.items() if v == "ERROR"]
    wrong = [n for n, (v, _) in verdicts.items() if v == "FAIL"]
    attempted = sum(len(p["queries"]) for p in timed) + len(verdicts)
    failed = len(failures) + len(check_errors)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "queries": names,
        "scale_factor": sf,
        "host": stamp,
        "contended": bool(stamp["start"]["foreign_spark_jvms"] or stamp["end"]["foreign_spark_jvms"]),
        "rss_reset_after_check": rss_reset,
        "eager_iterations": catalog.eager_iterations(sf_dir),
        "input_bytes": catalog.input_bytes(sf_dir),
        "verdicts": verdicts,
        "failures": failures,
        "passes": [{"s": p["s"], "queries": p["queries"]} for p in passes],
        "end_to_end": e2e,
        "samples": len(lat),
        "setup_parts": {
            "session_s": session_s,
            "registry_s": registry_s,
            "verify_inputs_s": verify_s,
            "oracle_and_heap_s": own_s,
        },
        "retained_heap_mb": retained,
        "per_layer": layers,
        "build_jobs_per_traced_pass": jobs_per_pass,
        "self_time_sums": self_sums,
        "trace_pass_s": {k: [p["s"] for p in v] for k, v in trace_sides.items()},
    }
    with open(os.path.join(WORK, "result.json"), "w") as f:
        json.dump(report, f, indent=1)
    print_report(report, bench, lat, wrong, failed, attempted)

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    print(
        json.dumps(
            {
                "correct": not wrong and not check_errors,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 1 if wrong else 0


def shutdown_gateway() -> None:
    """Stop the py4j gateway, which ends the JVM, and wait until the JVM
    and every process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 60
    while any(os.path.exists(f"/proc/{pid}") for pid in started):
        if time.time() > deadline:
            raise RuntimeError(f"processes still running: {sorted(started)}")
        time.sleep(0.1)


def print_report(r, bench, lat, wrong, failed, attempted) -> None:
    w = r["workload"]
    h = r["host"]
    print(f"workload {w}: {len(r['queries'])} queries, seed {r['seed']}, sf{r['scale_factor']} "
          f"({r['input_bytes']} input bytes)")
    print(f"host: nproc {h['start']['nproc']}, load {h['start']['loadavg']} -> {h['end']['loadavg']}, "
          f"cwd {h['start']['cwd']}, foreign Spark JVMs {len(h['start']['foreign_spark_jvms'])} -> "
          f"{len(h['end']['foreign_spark_jvms'])}" + ("  CONTENDED" if r["contended"] else ""))
    print(f"unmeasured: the eager iteration schedule (eager_iterations={r['eager_iterations']} "
          f"for these inputs; it needs >= 1 GB)")
    counts: dict[str, int] = {}
    for v, _ in r["verdicts"].values():
        counts[v] = counts.get(v, 0) + 1
    sp = r["setup_parts"]
    print(f"setup: session {sp['session_s']:.2f} s, registry {sp['registry_s']:.2f} s, "
          f"then the check pass and {WARM_UP_S:.0f} s of untimed passes (excluded: input checksums "
          f"{sp['verify_inputs_s']:.2f} s, oracles and heap measurement {sp['oracle_and_heap_s']:.2f} s)")
    print(f"correctness at sf{r['scale_factor']}: {counts}")
    for name, (v, detail) in sorted(r["verdicts"].items()):
        if v in ("FAIL", "ERROR"):
            print(f"  {v} {name}: {detail}")
    print(f"failed_ratio {failed / attempted:.4f} ({failed}/{attempted}); "
          f"wrong_results {len(wrong)}")
    for q in r["failures"]:
        print(f"  failed {q['name']}: {q['error']}")
    n = len(lat)
    if r["passes"]:
        print(f"timed: {len(r['passes'])} passes, {n} query samples; highest percentile with "
              f">= 10 samples beyond it: p{100 * supported_percentile(n):.0f}")
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    for k, v in r["end_to_end"].items():
        print(f"  {w} {k} = {v:.4f} {units.get(k, 'MB' if k.endswith('_mb') else 's')}")
    if r["per_layer"]:
        print(f"traced: {len(r['build_jobs_per_traced_pass'])} passes, build.jobs per pass "
              f"{r['build_jobs_per_traced_pass']}; trace.overhead_s is the traced pass_s minus that "
              f"of untraced passes in a later fresh context, an upper estimate; catalyst.analysis_s "
              f"ran inside build, optimization and planning inside build actions and the sink")
        print("self times per traced pass add up to its wall time: "
              + ", ".join(f"{a:.4f} of {b:.4f} s" for a, b in r["self_time_sums"]))
        print("per layer (median over traced passes):")
        for k, v in sorted(r["per_layer"].items()):
            print(f"  {w} {k} = {v:.4f} {units.get(k, '')}")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
