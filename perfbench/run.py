#!/usr/bin/env python3
"""End-to-end benchmark of the yamlpyowl_spark KG pipeline.

One pipeline run is five public calls, in order:

1. ``KGPipeline.materialize(src, out, resume=True, reason=False)``
2. ``KGPipeline.reasoned(<this run's triples>)`` -> ``out/inferred/run_id=<id>``
3. ``canonical_nodes(nodes)`` -> ``out/canonical_nodes``
4. ``canonical_edges(edges, canon)`` -> ``out/canonical_edges``
5. ``write_ntriples(<this run's triples> + inferred)`` -> ``out/ntriples``

followed by a closed loop of one client running a fixed SPARQL mix
(``operators.sparql.make_query``) over the KG the run built. Each
process builds one session and makes one pipeline run in it, as a
batch job does; ``--seconds`` bounds the timed region from below (the
query loop runs until it has passed).

    python3 perfbench/run.py --workload forks_build --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py            # every workload, untraced and traced

With ``--trace 0`` the last stdout line is a JSON object with the
end-to-end metrics; with ``--trace 1`` the run enables an uncompressed
Spark event log, tags each call's jobs with its layer and reports the
per-layer metrics instead. The exit status is non-zero when any
correctness check fails or the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# local[k]: the box's cores, at most 4. A Python-UDF task also holds a
# Python worker process next to its JVM task thread, so k tasks load
# more than k cores while the parse and per-document reasoners run.
CPUS = max(1, min(4, os.cpu_count() or 1))
# the JVM heap on a 15 GB box, leaving room for k Python workers
DRIVER_MEM = "4g"

LAYERS = (
    "session.get_spark",
    "pipeline.materialize",
    "pipeline.reasoned",
    "linking.canonical_nodes",
    "linking.canonical_edges",
    "export.write_ntriples",
    "sparql.make_query",
)
PIPELINE_LAYERS = LAYERS[1:6]

# the per-layer metrics the result line carries (every layer's full
# set of eventlog.METRICS is printed above it); the ones left out are
# zero by construction on that layer, e.g. Python time in a JVM-only
# layer or skew in a layer whose stages have one task
_CORE = ("wall_s", "driver_s", "jobs", "stages", "tasks", "task_skew", "executor_cpu_s", "shuffle_write_mb")
_PY = ("python_run_s", "python_init_s", "python_in_mb", "python_out_mb")
_OUT = ("rows_out", "written_mb")
REPORTED = {
    "session.get_spark": ("wall_s", "driver_s", "jobs", "python_init_s"),
    "pipeline.materialize": _CORE + _PY + _OUT + ("rewrite_ratio",),
    "pipeline.reasoned": _CORE + _PY + _OUT,
    "linking.canonical_nodes": tuple(m for m in _CORE if m != "task_skew") + _OUT,
    "linking.canonical_edges": _CORE + _OUT,
    "export.write_ntriples": tuple(m for m in _CORE if m != "shuffle_write_mb") + _OUT,
    "sparql.make_query": ("wall_s", "driver_s", "jobs", "stages", "tasks", "executor_cpu_s", "shuffle_write_mb", "rows_out"),
    "trace": ("e2e_s", "layer_wall_coverage"),
}
NT_COLS = ["subj", "pred", "obj", "obj_is_literal", "obj_datatype"]

E2E_UNITS = {
    "setup_s": "s",
    "e2e_s": "s",
    "docs_per_s": "docs/s",
    "peak_python_rss_mb": "MB",
}


def _stat_fields(pid: int):
    """The fields of /proc/<pid>/stat after the command name, from the
    state on; None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rfind(")") + 2:].split()


def _children() -> dict:
    """ppid -> [pid] of every process, from /proc."""
    children = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(int(pid))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(pid))
    return children


def _start_time(pid: int):
    """The process's start time in clock ticks, or None once it has
    ended (a zombie has ended; its parent only has to reap it)."""
    fields = _stat_fields(pid)
    if fields is None or fields[0] == "Z":
        return None
    return fields[19]


def _descendants() -> dict:
    """pid -> start time of every live process below this one."""
    children = _children()
    out, todo = {}, list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        start = _start_time(pid)
        if start is not None:
            out[pid] = start
    return out


def _rss_tree_mb() -> dict:
    """RSS in MB of this process and all its descendants (driver
    Python, the JVM, Python workers), from /proc, by command name."""
    children = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page / 1e6
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
        except OSError:
            continue
        out[name] = out.get(name, 0.0) + rss
    return out


class RssSampler(threading.Thread):
    """Peak RSS of the process tree, in total and by command name, and
    of its Python processes (the driver and the Python workers). The
    JVM's share is left out of the reported peak: G1 grows the heap by
    its own timing, so the JVM's peak varied 2.1-3.0 GB between runs of
    the same input while the Python side varied by 1%."""

    def __init__(self, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_mb = 0.0
        self.peak_python_mb = 0.0
        self.peak_by_name = {}
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            by_name = _rss_tree_mb()
            self.peak_mb = max(self.peak_mb, sum(by_name.values()))
            self.peak_python_mb = max(
                self.peak_python_mb, sum(v for k, v in by_name.items() if k.startswith("python"))
            )
            for k, v in by_name.items():
                self.peak_by_name[k] = max(self.peak_by_name.get(k, 0.0), v)
            self._halt.wait(self.period_s)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def _loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _git_commit() -> str:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def stop_spark(spark) -> None:
    """Stop the session and the JVM that PySpark launched for it, then
    wait until every process started below this one has ended. Left to
    itself the JVM only notices some time after this process exited,
    and it would run on into the next run."""
    from pyspark import SparkContext

    procs = _descendants()
    try:
        if spark is not None:
            spark.stop()
    except Exception as err:  # e.g. a SIGTERM broke the py4j connection mid-call
        print(f"spark.stop() raised {type(err).__name__}: {err}", file=sys.stderr)
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may be gone already
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if jvm is not None:
        jvm.terminate()
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    # Python workers and anything else the JVM started
    deadline = time.time() + 30
    alive = [pid for pid in procs if _start_time(pid) == procs[pid]]
    while alive:
        for pid in alive:
            try:
                os.kill(pid, signal.SIGTERM if time.time() < deadline else signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.2)
        alive = [pid for pid in alive if _start_time(pid) == procs[pid]]


def tail_percentile(samples):
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, by the nearest-rank rule."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return 50, statistics.median(xs)
    pct = 100 * (n - 10) // n
    return pct, xs[max(0, -(-pct * n // 100) - 1)]


class Tracer:
    """Spans of the harness's calls into the package. With tracing on,
    each span also tags the Spark jobs it starts with its layer."""

    def __init__(self, spark, on: bool):
        self.spark, self.on = spark, on
        self.spans = []
        self.rows_returned = 0  # rows make_query calls returned to the driver

    def span(self, layer: str, fn, *args, **kw):
        if self.on:
            self.spark.sparkContext.setJobGroup(layer, layer)
        t0 = time.time()
        try:
            return fn(*args, **kw)
        finally:
            self.spans.append((layer, t0 * 1e3, time.time() * 1e3))
            if self.on:
                self.spark.sparkContext.setJobGroup("harness", "harness")


def pipeline_run(spark, pipe, src, out, tracer):
    """The five calls of one pipeline run; returns its wall seconds and
    what ``materialize`` returned."""
    from yamlpyowl_spark.export import write_ntriples
    from yamlpyowl_spark.operators.linking import canonical_edges, canonical_nodes

    t0 = time.time()
    res = tracer.span("pipeline.materialize", pipe.materialize, src, out, resume=True, reason=False)
    run_dir = f"run_id={res['run_id']}"

    def reasoned():
        triples = spark.read.parquet(f"{out}/triples/{run_dir}")
        pipe.reasoned(triples).write.mode("overwrite").parquet(f"{out}/inferred/{run_dir}")

    def nodes():
        canonical_nodes(spark.read.parquet(f"{out}/nodes")).write.mode("overwrite").parquet(f"{out}/canonical_nodes")

    def edges():
        canon = spark.read.parquet(f"{out}/canonical_nodes")
        canonical_edges(spark.read.parquet(f"{out}/edges"), canon).write.mode("overwrite").parquet(
            f"{out}/canonical_edges"
        )

    def export():
        triples = spark.read.parquet(f"{out}/triples/{run_dir}").select(*NT_COLS)
        inferred = spark.read.parquet(f"{out}/inferred/{run_dir}").select(*NT_COLS)
        write_ntriples(triples.unionByName(inferred), f"{out}/ntriples")

    tracer.span("pipeline.reasoned", reasoned)
    tracer.span("linking.canonical_nodes", nodes)
    tracer.span("linking.canonical_edges", edges)
    tracer.span("export.write_ntriples", export)
    return time.time() - t0, res


def query_pass(spark, out, queries, tracer, latencies=None):
    """Run the query mix once over the KG under ``out``; returns
    {query name: normalized rows}."""
    import checks
    from yamlpyowl_spark.operators.sparql import make_query

    triples = spark.read.parquet(f"{out}/triples").drop("run_id")
    results = {}
    for q in queries:
        t0 = time.perf_counter()
        rows = tracer.span("sparql.make_query", lambda: make_query(triples, q.sparql).collect())
        tracer.rows_returned += len(rows)
        if latencies is not None:
            latencies.append((time.perf_counter() - t0) * 1e3)
        results[q.name] = checks.normalize(rows, ordered="LIMIT" in q.sparql)
    return results


def run_one(args) -> int:
    t_proc = time.time()
    work = os.path.join(ROOT, ".bench_build", "perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d))
    # keep every file the run writes (package zip, Spark scratch, JVM
    # temp files, event log) inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["YPO_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)
    try:
        import yamlpyowl_spark
    except ImportError as err:
        yamlpyowl_spark = err
    if not os.path.abspath(getattr(yamlpyowl_spark, "__file__", "")).startswith(ROOT + os.sep):
        shutil.rmtree(work, ignore_errors=True)
        print(f"the yamlpyowl_spark package is not in {ROOT}: {yamlpyowl_spark}", file=sys.stderr)
        return 2
    import duckdb
    import pyspark

    import checks
    import gen
    import workloads

    context = {
        "nproc": os.cpu_count(),
        "loadavg_start": _loadavg(),
        "master": f"local[{CPUS}]",
        "master_note": "a Python-UDF task also holds a Python worker process",
        "driver_memory": DRIVER_MEM,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": _git_commit(),
    }
    # the benchmark's own work (generation, expected parse) is not set-up
    t_gen = time.time()
    wl, shape_fails = workloads.build(args.workload, args.seed)
    src_path = os.path.join(work, "input.parquet")
    gen.write_parquet(wl.corpus.rows, src_path)
    gen_s = time.time() - t_gen
    context["input"] = {"docs": wl.n_docs, "rows": len(wl.corpus.rows), **wl.props}

    spark = None
    fails = list(shape_fails)
    attempted = failed = 0
    try:
        from yamlpyowl_spark.plans.pipeline import KGPipeline
        from yamlpyowl_spark.plans.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                }
            )
        t0 = time.time()
        spark = get_spark(cpus=CPUS, app_name=f"perfbench-{args.workload}", extra_conf=conf)
        t1 = time.time()
        setup_s = t1 - t_proc - gen_s
        get_spark_span = ("session.get_spark", t0 * 1e3, t1 * 1e3)
        tracer = Tracer(spark, args.trace)
        if args.trace:
            spark.sparkContext.setJobGroup("harness", "harness")

        # ---- timed region: one pipeline run, then the query loop ----
        sampler = RssSampler()
        sampler.start()
        t_start = time.time()
        out = os.path.join(work, "out")
        attempted += wl.n_docs
        e2e = None
        try:
            e2e, _res = pipeline_run(spark, KGPipeline(spark), spark.read.parquet(src_path), out, tracer)
        except Exception as err:  # a crashed run fails all its documents
            failed += wl.n_docs
            fails.append(f"pipeline run raised {type(err).__name__}: {err}")
        latencies, q_results = [], []
        q_wall = 0.0
        if e2e is not None:
            # the first pass compiles the query plans; its rows are
            # checked but its latencies are not reported. Then at least
            # four timed passes: right after a cold pipeline run a
            # query's latency still drifts down pass by pass (JIT), and
            # the median of two passes spread 0.45 across seeds.
            warmup = _Tagged(spark, "query_warmup", args.trace)
            n_pass = 0
            while n_pass < 5 or time.time() < t_start + args.seconds:
                timed = n_pass > 0
                attempted += len(wl.queries)
                t_q = time.time()
                try:
                    q_results.append(
                        query_pass(spark, out, wl.queries, tracer if timed else warmup, latencies if timed else None)
                    )
                except Exception as err:
                    failed += len(wl.queries)
                    fails.append(f"query pass raised {type(err).__name__}: {err}")
                    break
                if timed:
                    q_wall += time.time() - t_q
                n_pass += 1
        sampler.stop()
        context["peak_rss_mb"] = round(sampler.peak_mb)
        context["peak_rss_mb_by_command"] = {k: round(v) for k, v in sampler.peak_by_name.items()}

        # ---- correctness ----
        if e2e is not None:
            con = duckdb.connect()
            run_fails = checks.check_run(con, out, wl)
            digests = checks.digests(con, out)
            pinned = _pinned().get(args.workload, {}).get(str(args.seed))
            if pinned is not None and pinned != digests:
                run_fails.append(f"output digests differ from the pinned ones: {_diff(pinned, digests)}")
            if run_fails:
                failed += wl.n_docs
                fails += run_fails
            twins = checks.query_twins(con, out, wl.queries)
            for res in q_results:
                for name, rows in res.items():
                    if rows != twins[name]:
                        failed += 1
                        fails.append(f"query {name}: {len(rows)} rows differ from its SQL twin ({len(twins[name])})")
            con.close()
            context["digests"] = digests
        context["loadavg_end"] = _loadavg()

        if args.trace:
            stop_spark(spark)  # the event log is complete once the session stopped
            spark = None
            n_fails = len(fails)
            metrics = _layer_report(
                work, [get_spark_span] + tracer.spans, tracer.rows_returned, e2e, out, fails, context
            )
            failed += len(fails) - n_fails
            units = {k: _unit(k) for k in metrics}
        else:
            metrics = {
                "setup_s": setup_s,
                "e2e_s": e2e or 0.0,
                "docs_per_s": wl.n_docs / e2e if e2e else 0.0,
                "peak_python_rss_mb": sampler.peak_python_mb,
            }
            units = E2E_UNITS
            # the query side is reported but not gated: across seeds its
            # median spread 0.26-0.35 of itself whenever the host was busy
            pct, tail = tail_percentile(latencies) if latencies else (0, 0.0)
            context["query"] = {
                "p50_ms": statistics.median(latencies) if latencies else None,
                "tail_ms": tail,
                "tail_percentile": pct,
                "per_s": len(latencies) / q_wall if q_wall else None,
                "timed": len(latencies),
                "ms_by_query": {
                    q.name: [round(x) for x in latencies[i::len(wl.queries)]] for i, q in enumerate(wl.queries)
                },
            }
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    for f in fails:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    print("context " + json.dumps(context, sort_keys=True))
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    if args.trace:
        metrics = {f"{layer}.{m}": metrics[f"{layer}.{m}"] for layer, ms in REPORTED.items() for m in ms
                   if f"{layer}.{m}" in metrics}
    correct = not fails
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


class _Tagged(Tracer):
    """Tags jobs with a fixed group that is not a reported layer."""

    def __init__(self, spark, group: str, on: bool):
        super().__init__(spark, on)
        self.group = group

    def span(self, layer, fn, *args, **kw):
        return super().span(self.group, fn, *args, **kw)


def _layer_report(work, spans, rows_returned, e2e, out, fails, context) -> dict:
    """Per-layer metrics from the run's event log (after the session
    stopped, so the log is complete)."""
    import eventlog

    events = eventlog.read_events(os.path.join(work, "events"))
    layers = eventlog.layer_metrics(events, spans)
    q = layers.get("sparql.make_query")
    if q:  # a query writes nothing; its output is the rows it returns
        q["rows_out"] = rows_returned / q["calls"]
    metrics = {}
    for layer in LAYERS:
        if layer not in layers:
            fails.append(f"layer {layer} has no span")
            continue
        for k, v in layers[layer].items():
            if k != "calls":
                metrics[f"{layer}.{k}"] = v
    if e2e:
        mat = layers["pipeline.materialize"]
        new_mb = _dir_mb(out, "triples")
        metrics["pipeline.materialize.rewrite_ratio"] = mat["written_mb"] / new_mb if new_mb else 0.0
        coverage = sum(layers[layer]["wall_s"] for layer in PIPELINE_LAYERS) / e2e
        metrics["trace.e2e_s"] = e2e
        metrics["trace.layer_wall_coverage"] = coverage
        if abs(coverage - 1) > 0.05:
            fails.append(f"layer wall_s values sum to {coverage:.3f} of e2e_s")
    context["jobs_by_group"] = eventlog.jobs_by_group(events)
    return metrics


def _unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[-1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix in ("task_skew", "rewrite_ratio", "layer_wall_coverage"):
        return "ratio"
    return "count"


def _dir_mb(out: str, table: str) -> float:
    total = 0
    for dirpath, _d, files in os.walk(os.path.join(out, table)):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet"))
    return total / 1e6


def _pinned() -> dict:
    with open(os.path.join(HERE, "digests.json")) as fh:
        return json.load(fh)


def _diff(a: dict, b: dict) -> list:
    return sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))


def run_all(args) -> int:
    """Every workload, untraced then traced, as child processes; prints
    each metric and the tracing overhead (traced minus untraced e2e_s)."""
    import workloads

    status = 0
    for name in workloads.WORKLOADS:
        e2e = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            r = subprocess.run(cmd, capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                res = {}
            if r.returncode or not res.get("correct"):
                sys.stderr.write(r.stderr[-4000:])
                status = 1
            print(f"== {name} trace={trace} exit={r.returncode} correct={res.get('correct')} "
                  f"attempted={res.get('attempted')} failed={res.get('failed')}")
            for k, m in res.get("metrics", {}).items():
                print(f"  {k} {m['value']:.6g} {m['unit']}")
            metrics = res.get("metrics", {})
            e2e[trace] = (metrics.get("e2e_s") or metrics.get("trace.e2e_s") or {}).get("value")
        if e2e.get(0) and e2e.get(1):
            print(f"  tracing overhead {e2e[1] - e2e[0]:+.3f} s ({e2e[1] / e2e[0] - 1:+.1%} of e2e_s)")
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds through the finally blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
