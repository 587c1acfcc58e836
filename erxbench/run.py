"""erx benchmark: one command, three seeded workloads.

    python3 erxbench/run.py --workload er_linkage --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads: er_linkage, corpus_dedup,
snapshot_curate (see erxbench/README.md).  Spark runs on local[nproc] with
an explicit driver heap and one BLAS thread per worker.  Every file the run
writes stays under ``.erxbench_work/`` and ``.erxbench_out/`` in the working
directory.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones, measured untraced.  With ``--trace 1`` the
run interleaves untraced and traced passes, and the metrics are the
per-layer ones, read from spans and from the Spark event log.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from spans import RssSampler, Tracer, by_group, read_event_log  # noqa: E402

DRIVER_MEMORY = "3g"

LAYERS = (
    "er.prepare", "er.block", "er.score", "er.cluster",
    "dedup.fuzzy", "dedup.collapse", "dedup.minhash", "dedup.cc",
    "curate.extract", "curate.latest", "curate.quality", "curate.clean",
    "curate.dedup", "curate.sample", "curate.chunks", "curate.merge",
)
LAYER_FIELDS = (
    ("s", "s"), ("task_s", "s"), ("shuffle_bytes", "bytes"),
    ("python_bytes", "bytes"), ("rows", "count"), ("failed_tasks", "count"),
)
EXTRA_LAYER_METRICS = (
    ("er.embed.wait_s", "s"),
    ("er.train.s", "s"),
    ("dedup.minhash.gate_pass", "ratio"),
    ("dedup.minhash.verify_yield", "ratio"),
    ("curate.write_bytes", "bytes"),
    ("unattributed.jobs", "count"),
    ("unattributed.task_s", "s"),
    ("unattributed.python_bytes", "bytes"),
    ("trace.coverage", "ratio"),
    ("trace.overhead_s", "s"),
    ("trace.wall_s", "s"),
)
END_TO_END = (
    ("setup_s", "s"), ("wall_s", "s"), ("throughput_per_s", "1/s"),
    ("quality", "ratio"), ("peak_rss_mb", "MB"),
)
QUALITY_NAME = {
    "er_linkage": "pairwise_f1",
    "corpus_dedup": "planted_pair_recall",
    "snapshot_curate": "cross_snapshot_recall",
}


def per_layer_names() -> list[tuple[str, str]]:
    names = [(f"{layer}.{f}", unit) for layer in LAYERS for f, unit in LAYER_FIELDS]
    return names + list(EXTRA_LAYER_METRICS)


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _environment(work: str) -> None:
    """Process environment, set before pyspark starts: one BLAS thread per
    Python worker, workers import the package from the working tree, and
    every scratch file lands under the run's work directory."""
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    tmp = os.path.join(work, "tmp")
    stage = os.path.join(work, "stage")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(stage, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["ERX_STAGE_ROOT"] = stage
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = tmp


PR_SET_CHILD_SUBREAPER = 36
END_GRACE_S = 30.0


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux),
    so Python workers that outlive the JVM that forked them are re-parented
    here, where ``_end_processes`` waits for them, instead of to init."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def _end_processes() -> None:
    """End the driver JVM and every process left under this one, and wait
    until each has ended.  Closing the JVM's stdin is its normal way out
    (the PySpark gateway exits on EOF); without this it would exit only
    after this process had, outliving the run.  Whatever has not ended
    after ``END_GRACE_S`` seconds is killed."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(END_GRACE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + END_GRACE_S
    while kids := _children():
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.monotonic() > deadline + END_GRACE_S:
            break  # unkillable (uninterruptible sleep); nothing more to do
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def make_spark(work: str, nproc: int, evdir: str | None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("erxbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "128m")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if evdir:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{evdir}")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _layer_metrics(wl, tracer, jobs: list[dict], untraced_walls: list[float]) -> dict:
    """Per-layer numbers of the traced passes: span wall times and rows
    (median over traced passes) and event-log figures per job group (median
    over passes, each pass summing that layer's groups)."""
    groups = by_group(jobs)
    spans = [s for s in tracer.spans if s["phase"] == "traced"]
    iters = [s for s in spans if s["name"] == "iteration"]
    by_iter: dict[int, dict[str, list[dict]]] = {}
    for it in iters:
        by_iter[it["id"]] = {}
    for s in spans:
        root = s
        while root["parent"] is not None and root["name"] not in ("iteration", "probe"):
            root = tracer.spans[root["parent"]]
        # probe spans belong to the pass just before them
        key = root["id"] if root["name"] == "iteration" else max(
            (i["id"] for i in iters if i["id"] < root["id"]), default=None
        )
        if key is not None and s["name"] not in ("iteration", "probe"):
            by_iter[key].setdefault(s["name"], []).append(s)

    def per_pass(name: str, fn) -> float:
        vals = [
            sum(fn(s) for s in layers[name])
            for layers in by_iter.values() if name in layers
        ]
        return _median(vals)

    def ev_field(s, field):
        return groups.get(s["group"], {}).get(field, 0)

    m: dict[str, float] = {}
    for layer in LAYERS:
        m[f"{layer}.s"] = per_pass(layer, lambda s: s["end"] - s["start"])
        m[f"{layer}.task_s"] = per_pass(layer, lambda s: ev_field(s, "task_s"))
        m[f"{layer}.shuffle_bytes"] = per_pass(
            layer, lambda s: ev_field(s, "shuffle_bytes"))
        m[f"{layer}.python_bytes"] = per_pass(
            layer, lambda s: ev_field(s, "python_bytes"))
        m[f"{layer}.rows"] = per_pass(layer, lambda s: s.get("rows", 0))
        m[f"{layer}.failed_tasks"] = per_pass(
            layer, lambda s: ev_field(s, "failed_tasks"))
    m["er.embed.wait_s"] = per_pass("er.embed.wait", lambda s: s["end"] - s["start"])
    m["er.train.s"] = wl.stats.get("er.train.s", 0.0)
    band = per_pass("dedup.minhash", lambda s: ev_field(s, "band_rows"))
    gate = per_pass("dedup.minhash", lambda s: ev_field(s, "gate_rows"))
    m["dedup.minhash.gate_pass"] = gate / band if band else 0.0
    m["dedup.minhash.verify_yield"] = m["dedup.minhash.rows"] / band if band else 0.0
    m["curate.write_bytes"] = wl.stats.get("write_bytes", 0)

    # jobs submitted during a traced pass under no job group: work the
    # program ran on driver threads of its own (they do not inherit the
    # caller's group), reported per pass instead of dropped
    windows = [(i["start"], i["end"]) for i in iters]
    loose = by_group([
        j for j in jobs
        if j["group"] is None and any(a <= j["time"] <= b for a, b in windows)
    ]).get(None, {})
    n = max(len(iters), 1)
    m["unattributed.jobs"] = loose.get("jobs", 0) / n
    m["unattributed.task_s"] = loose.get("task_s", 0.0) / n
    m["unattributed.python_bytes"] = loose.get("python_bytes", 0) / n

    traced_wall = _median([i["end"] - i["start"] for i in iters])
    untraced = _median(untraced_walls)
    covered = sum(m[f"{layer}.s"] for layer in wl.layers)
    covered += sum(m[f"{w}_s"] for w in wl.waits)
    m["trace.coverage"] = covered / untraced if untraced else 0.0
    m["trace.overhead_s"] = traced_wall - untraced
    m["trace.wall_s"] = traced_wall
    return m


def run(args, run_id: str, work: str) -> dict:
    nproc = _nproc()
    outdir = os.path.join(ROOT, ".erxbench_out")
    os.makedirs(outdir, exist_ok=True)
    _environment(work)
    evdir = os.path.join(work, "eventlog") if args.trace else None
    if evdir:
        os.makedirs(evdir)

    from workloads import WORKLOADS

    spark = None
    walls, rates, errors = [], [], []
    attempted = failed = 0

    def attempt(tr, timed: bool) -> None:
        """One pass of the workload plus its checks; a pass that raises or
        fails a check counts in ``failed``."""
        nonlocal attempted, failed
        tr.phase = "traced" if tr.enabled else ("untraced" if timed else "setup")
        attempted += 1
        try:
            if not tr.enabled and args.trace:
                spark.sparkContext.setJobGroup("untraced", "untraced", False)
            start = time.perf_counter()
            with tr.span("iteration"):
                res = wl.iterate(tr)
            wall = time.perf_counter() - start
            if tr.enabled:
                with tr.span("probe"):
                    wl.probe(res, tr)
            tr.phase = "check"
            errs = wl.check(res)
            wl.release(res)
        except Exception as e:
            traceback.print_exc()
            errs = [f"{type(e).__name__}: {e}"]
        if errs:
            failed += 1
            errors.extend(errs)
        elif timed and not tr.enabled:
            walls.append(wall)
            rates.append(wl.work_done(res) / wall)

    try:
        t_setup = time.perf_counter()
        spark = make_spark(work, nproc, evdir)
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        untraced = Tracer(spark, run_id, enabled=False)
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        wl.setup(tracer)
        # warm-up on the timed input itself, so that every timed pass runs
        # on warm JIT and codegen caches and the median does not move with
        # how many passes fit in the window
        for _ in range(wl.warm_passes):
            attempt(untraced, timed=False)
        setup_s = time.perf_counter() - t_setup

        import pyspark

        print(
            f"host: nproc={nproc} mem_total_mb={_mem_total_mb():.0f} "
            f"spark={pyspark.__version__} master=local[{nproc}] "
            f"driver_memory={DRIVER_MEMORY}",
            flush=True,
        )
        rss = RssSampler(spark.sparkContext._gateway.proc.pid).start()
        t0 = time.perf_counter()
        # a traced run makes rounds of one untraced and one traced pass and
        # swaps their order each round, so that a JIT still warming up does
        # not favour the later pass in the overhead figure
        rounds = 0
        while rounds < wl.min_passes or time.perf_counter() - t0 < args.seconds:
            rounds += 1
            pair = (untraced, tracer) if rounds % 2 else (tracer, untraced)
            for tr in pair if args.trace else (untraced,):
                attempt(tr, timed=True)
            if failed and not walls:
                break
        peak_rss_mb = rss.stop()
        tracer.phase = "check"
        try:
            final = wl.final_checks(untraced)
        except Exception as e:
            traceback.print_exc()
            final = [f"{type(e).__name__}: {e}"]
        if final:
            failed = max(failed, 1)
            errors.extend(final)
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            _end_processes()

    for e in errors:
        print(f"check failed: {e}", file=sys.stderr, flush=True)
    quality = wl.quality or 0.0
    print(
        f"{args.workload}: {QUALITY_NAME[args.workload]}={quality:.6f} ratio "
        f"throughput_counts={wl.unit_work.replace(' ', '_')} "
        f"fail_ratio={failed / attempted:.6f} ratio "
        f"pass_walls_s={','.join(f'{w:.3f}' for w in walls)} "
        + " ".join(
            f"{k}={v:.6g}" if isinstance(v, (int, float)) else f"{k}={v}"
            for k, v in sorted(wl.stats.items())
        ),
        flush=True,
    )
    if args.trace:
        values = _layer_metrics(wl, tracer, read_event_log(evdir), walls)
        tracer.write(os.path.join(outdir, f"spans-{run_id}.json"))
        metrics = {
            name: {"value": values[name], "unit": unit}
            for name, unit in per_layer_names()
        }
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": _median(walls),
            "throughput_per_s": _median(rates),
            "quality": quality,
            "peak_rss_mb": peak_rss_mb,
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}", flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("er_linkage", "corpus_dedup", "snapshot_curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # refuse to run (and print no result) without the program to measure
    if not os.path.isdir(os.path.join(ROOT, "entity_resolution_pipeline_spark")):
        print("erxbench: entity_resolution_pipeline_spark/ not found next to "
              "erxbench/; run from a full checkout", file=sys.stderr)
        return 2
    # a terminated run still takes the exit path that ends its processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _adopt_orphans()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".erxbench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
