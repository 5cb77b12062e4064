"""Benchmark runner: one workload, one seed, one fresh Spark session.

    python3 perfbench/run.py --workload catalog_queries --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The inputs are generated from --seed into
``.perfbench_data/`` before anything is timed; the program's scratch state
for those inputs (``.scratch/pb_<workload>_*``) and the outputs of earlier
runs (``.perfbench_run/``) are deleted first, so every run starts from the
same state. A run is set-up, a cold pass, then a fixed number of window
passes derived from --seconds; after the timed work it reads the JVM's live
heap and the processes' peak RSS, stops Spark and waits for its processes,
and checks every result (against DuckDB, or by the publish properties).

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones, and the traced
run writes its spans to ``.perfbench_out/``. The line before it carries
information that is not a metric (host-speed loop before and after, the
tail latency and sample count, session settings, failures).
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import probe, stats  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, OpRec  # noqa: E402

# Fixed JVM heap cap (Spark's own default), so heap growth and peak RSS do
# not follow host RAM; the live heap of every workload is 80-95 MB.
DRIVER_MEM = "1g"

# name -> unit of every per-layer metric, as BENCHMARK.json lists them
PER_LAYER_UNITS = {
    m["name"]: m["unit"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
}
_SPAN_LAYERS = (
    "queries.build", "queries.exec", "sources.publish", "sources.read_latest", "sources.prune",
    "sources.rollback", "cli.ingest", "cli.scrape", "cli.ner", "streaming.batch",
)


_T0 = time.monotonic()


def _progress(msg: str) -> None:
    print(f"[perfbench +{time.monotonic() - _T0:.1f}s] {msg}", file=sys.stderr, flush=True)


class Ctx:
    """What the workloads share: paths, the session, the registry, the
    tracer, and the job-group tagging used by the traced run."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.root = str(ROOT)
        self.data_root = str(ROOT / ".perfbench_data")
        self.run_root = str(ROOT / ".perfbench_run")
        self.out_root = str(ROOT / ".perfbench_out")
        self.tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}", self.trace)
        self.spark = None
        self.queries = None
        self.log = sys.stderr

    @contextlib.contextmanager
    def group(self, rec: OpRec, phase: str):
        """Tag the Spark jobs an op launches in one phase with a job group
        (traced run only), so they can be counted afterwards."""
        if not self.trace:
            yield
            return
        sc = self.spark.sparkContext
        gid = f"pb:{rec.name}:{rec.pass_no}:{phase}"
        rec.groups.append(gid)
        sc.setJobGroup(gid, rec.name)
        try:
            yield
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)


def _pin_session(ctx: Ctx) -> dict:
    """Session settings, through the deployment variables the session
    factory already reads. Temp files are kept inside the checkout; the JVM
    would otherwise also keep its perf-data file in /tmp."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(ctx.run_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(ctx.run_root, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def _clean(ctx: Ctx, workload: str) -> None:
    shutil.rmtree(ctx.run_root, ignore_errors=True)
    for pattern in (
        os.path.join(ctx.data_root, f"pb_{workload}_*"),
        os.path.join(ctx.root, ".scratch", f"pb_{workload}_*"),
    ):
        for path in glob.glob(pattern):
            shutil.rmtree(path, ignore_errors=True)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and every process under it."""
    from pyspark import SparkContext

    pid = probe.jvm_pid(spark)
    procs = [pid, *probe.descendants(pid)]
    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.05)


class Runner:
    def __init__(self, ctx: Ctx, wl):
        self.ctx = ctx
        self.wl = wl
        self.recs: list[OpRec] = []
        self.pass_spans: list[int] = []
        self.worker_pids: set[int] = set()
        self.retained: list[tuple[int, float]] = []

    def run_pass(self, p: int) -> list[OpRec]:
        ctx, out = self.ctx, []
        with ctx.tracer.span("pass", index=p) as span:
            if span is not None:
                self.pass_spans.append(span["id"])
            for name, fn in self.wl.ops(p):
                rec = OpRec(name, p)
                with ctx.tracer.span("op", op=name, pass_no=p) as rec.span:
                    t0 = time.perf_counter()
                    try:
                        rec.result = fn(rec)
                    except Exception as e:  # an op failure is counted, the run goes on
                        rec.error = f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
                        traceback.print_exc(file=ctx.log)
                    rec.seconds = time.perf_counter() - t0
                if ctx.trace:
                    self.worker_pids |= probe.python_cpu_s(probe.jvm_pid(ctx.spark))[1]
                after = getattr(self.wl, "after_op", None)
                if after is not None:
                    try:
                        after(rec)
                    except Exception as e:
                        rec.extra["check_error"] = f"state unreadable: {type(e).__name__}: {e}"
                out.append(rec)
        if ctx.trace:
            self.retained.append(probe.retained(ctx.spark))
        ctx.spark.catalog.clearCache()
        self.recs.extend(out)
        return out


def _per_layer(ctx: Ctx, runner: Runner, window: list[OpRec], marks: dict) -> dict:
    tr = ctx.tracer
    setup = tr.self_times(within={marks["setup_span"]})
    win = tr.self_times(within=set(runner.pass_spans[1:]))
    m = {k: 0.0 for k in PER_LAYER_UNITS}
    for k in ("session.start", "registry.import", "catalog.load"):
        m[f"{k}_s"] = setup.get(k, 0.0)
    for k in _SPAN_LAYERS:
        m[f"{k}_s"] = win.get(k, 0.0)
    reader = probe.StatusReader(ctx.spark)
    jobs = {g: reader.jobs(g) for r in runner.recs for g in r.groups}
    for r in runner.recs:  # per-op job counts go into the spans file
        r.span["jobs"] = {g.rsplit(":", 1)[1]: len(jobs[g]) for g in r.groups}
    build_jobs, other_jobs = [], []
    for r in window:
        for g in r.groups:
            (build_jobs if g.endswith(":build") else other_jobs).extend(jobs[g])
    m["queries.build_jobs"] = len(build_jobs)
    m["queries.jobs"] = len(other_jobs)
    tot = reader.stage_totals(build_jobs + other_jobs)
    m["queries.tasks"] = tot["tasks"]
    for k in ("scan_mb", "shuffle_mb", "spill_mb"):
        m[f"queries.{k}"] = tot[k]
    m.update(reader.python_totals(set(build_jobs + other_jobs)))
    window_retained = runner.retained[1:] or [(0, 0.0)]
    m["queries.retained_blocks"] = max(b for b, _ in window_retained)
    m["queries.retained_mb"] = max(mb for _, mb in window_retained)
    m["queries.gc_s"] = marks["gc_end"] - marks["gc_start"]
    m["operators.py_cpu_s"] = marks["py_cpu_end"] - marks["py_cpu_start"]
    m["operators.workers_started"] = len(runner.worker_pids - marks["py_pids_start"])
    sizes = [r.extra["written"] for r in window if "written" in r.extra]
    m["sources.files_written"] = sum(f for f, _ in sizes)
    m["sources.bytes_written_mb"] = sum(b for _, b in sizes) / (1024 * 1024)
    snap = getattr(runner.wl, "snapshot_mb", None)
    m["sources.snapshot_mb"] = snap() if snap else 0.0
    return m


def _op_seconds(recs: list[OpRec]) -> dict[str, list[float]]:
    """Each op's wall time per pass, cold pass first."""
    out: dict[str, list[float]] = {}
    for r in recs:
        out.setdefault(r.name, []).append(round(r.seconds, 4))
    return out


def run(args) -> int:
    ctx = Ctx(args)
    wl = WORKLOADS[args.workload](ctx)
    host_before = stats.cpu_loop_s()
    _clean(ctx, args.workload)
    settings = _pin_session(ctx)
    wl.make_inputs()
    _progress("inputs generated")

    marks: dict = {}
    t0 = time.perf_counter()
    with ctx.tracer.span("setup") as span:
        marks["setup_span"] = span["id"] if span else None
        with ctx.tracer.span("session.start"):
            from sdg_data_catalog_spark.session import get_spark

            ctx.spark = get_spark(f"perfbench-{args.workload}")
        with ctx.tracer.span("registry.import"):
            from sdg_data_catalog_spark.queries.registry import all_queries

            ctx.queries = all_queries()
        with ctx.tracer.span("catalog.load"):
            wl.load()
    setup_s = time.perf_counter() - t0
    _progress(f"set up in {setup_s:.2f} s")

    runner = Runner(ctx, wl)
    cold = runner.run_pass(0)
    jvm = probe.jvm_pid(ctx.spark)
    if ctx.trace:
        marks["gc_start"] = probe.gc_s(ctx.spark)
        marks["py_cpu_start"], marks["py_pids_start"] = probe.python_cpu_s(jvm)
    _progress("cold pass done")
    window: list[OpRec] = []
    for p in range(1, 1 + wl.window_passes(args.seconds)):
        window.extend(runner.run_pass(p))
    if ctx.trace:
        marks["gc_end"] = probe.gc_s(ctx.spark)
        marks["py_cpu_end"] = probe.python_cpu_s(jvm)[0]

    heap_live = probe.heap_live_mb(ctx.spark)
    retained_after_clear = probe.retained(ctx.spark)
    rss_jvm, rss_py, n_py = probe.peak_rss_mb(jvm)
    layers = _per_layer(ctx, runner, window, marks) if ctx.trace else None
    _progress("window done")
    _stop(ctx.spark)
    _progress("spark stopped")

    bad = wl.check(runner.recs, int(settings["SPARK_GRAFT_CPUS"]))
    for r in runner.recs:
        if "check_error" in r.extra:
            bad[f"{r.name}#{r.pass_no}"] = r.extra["check_error"]
    failed = [r for r in runner.recs if r.error is not None or f"{r.name}#{r.pass_no}" in bad]
    _progress("checked")
    ok_window = [r.seconds for r in window if r.error is None]

    end_to_end = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cold_pass_s": {"value": sum(r.seconds for r in cold), "unit": "s"},
        "ops_per_s": {"value": len(ok_window) / sum(r.seconds for r in window), "unit": "1/s"},
        "op_p50_s": {"value": statistics.median(ok_window) if ok_window else 0.0, "unit": "s"},
        "heap_live_mb": {"value": heap_live, "unit": "MB"},
        "peak_rss_mb": {"value": rss_jvm + rss_py, "unit": "MB"},
    }
    if ctx.trace:
        os.makedirs(ctx.out_root, exist_ok=True)
        ctx.tracer.write(os.path.join(ctx.out_root, f"trace_{args.workload}_s{args.seed}.jsonl"))
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = end_to_end
    _clean(ctx, args.workload)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "window_passes": wl.window_passes(args.seconds),
        "window_ops": len(window),
        "op_tail_s": stats.tail(ok_window),
        "op_seconds": _op_seconds(runner.recs),
        "peak_rss_split_mb": {"jvm": rss_jvm, "python": rss_py, "python_processes": n_py},
        "retained_after_clear": {"blocks": retained_after_clear[0], "mb": retained_after_clear[1]},
        "host_loop_s": {"before": host_before, "after": stats.cpu_loop_s()},
        "settings": settings,
        "errors": {f"{r.name}#{r.pass_no}": r.error for r in runner.recs if r.error},
        "check_failures": bad,
    }
    if ctx.trace:
        info["end_to_end_traced"] = {k: v["value"] for k, v in end_to_end.items()}
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": not bad,
        "attempted": len(runner.recs),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "sdg_data_catalog_spark" / "__init__.py").is_file():
        print(f"perfbench: no sdg_data_catalog_spark package under {ROOT}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
