"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Each run is one process with a fresh JVM on
Spark ``local[N]`` (N = min(2, nproc)), a fresh work directory, an empty
``SPARK_LOCAL_DIRS`` and an empty cluster memo, all under ``perfbench/_run``.
Operations run one after another (a closed loop with one client). The last
line of stdout is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

After the set-up, a warm-up runs the workload's code paths once, untimed, so
that the timed passes do not measure the start of the JVM's compiler and of
the Python workers. Passes then repeat until ``--seconds`` have gone (at least
``--min-passes``); each metric is the median over them. ``--trace 0`` reports
the end-to-end metrics. ``--trace 1`` makes the same passes with every layer
wrapped in spans and reports the per-layer metrics of the last one and the
time the tracer itself took (see ``spans.py``). The line before the result
holds the run configuration, the workload's own named metrics and the
per-operation walls; the spans of a traced run go to ``perfbench/_out``.
NOTES.md says why each workload exists and which layer metric should move
which end-to-end metric.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import compileall  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# Task slots. On a 4-core host two slots leave the other cores to the Spark
# driver (Python and the JVM's compiler threads), where these small workloads
# spend most of their time: the crawl measured 47 s at local[2], 54 s at
# local[4].
MAX_CORES = 2


class Context:
    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.scale = args.scale
        self.sf = {"bench": "sf0.01", "tiny": "sf0.001"}[args.scale]
        self.cores = min(MAX_CORES, os.cpu_count() or 1)
        self.bench_dir = BENCH_DIR
        self.cache_dir = os.path.join(BENCH_DIR, "_cache")
        self.out_dir = os.path.join(BENCH_DIR, "_out")
        self.run_dir = os.path.join(BENCH_DIR, "_run", f"{args.workload}-{os.getpid()}")
        self.local_dir = os.path.join(self.run_dir, "spark-local")
        self.tmp_dir = os.path.join(self.run_dir, "tmp")


class MemSampler(threading.Thread):
    """Peak memory of this process and all its descendants (the JVM and its
    Python workers), sampled every second from /proc. Each process counts
    its proportional set size: forked Python workers share most of their
    pages, and summing resident sizes would count those pages once per
    worker alive at the sample. Reading the JVM's smaps_rollup walks its
    page tables under its mmap lock (about 12 ms on a 4-core host), so the
    sampling is kept sparse."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        total = sum(self._pss_kb(p) for p in [os.getpid(), *descendants()])
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._stop_evt.wait(1.0):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _descends(pid: int, root: int, parent: dict) -> bool:
    while pid and pid in parent:
        if pid == root:
            return True
        pid = parent[pid]
    return pid == root


def descendants() -> list[int]:
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    me = os.getpid()
    return [p for p in parent if p != me and _descends(p, me, parent)]


def session(ctx: Context):
    from pegasus_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{ctx.workload}",
        master=f"local[{ctx.cores}]",
        shuffle_partitions=ctx.cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage back from the status
            # store; set in both modes so traced and untraced runs match
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.tmp_dir}",
            "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active context, then the JVM the gateway started, and wait
    for it. Safe to call twice."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _fs_type(path: str) -> str:
    best, fs = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, fs = mnt, parts[2]
    return fs


def _load_history(ctx: Context) -> list[dict]:
    path = os.path.join(ctx.out_dir, "history.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _expected(ctx: Context, history: list[dict]) -> dict:
    """Outputs every operation must reproduce: the file recorded at this
    commit for the workload (and for the crawl, seed 42), then the first
    earlier run in this checkout with the same workload, scale and seed."""
    want: dict = {}
    for name in (f"{ctx.workload}-{ctx.scale}.json",
                 f"{ctx.workload}-{ctx.scale}-seed{ctx.seed}.json"):
        path = os.path.join(BENCH_DIR, "expected", name)
        if os.path.exists(path):
            with open(path) as f:
                want.update(json.load(f))
    for h in history:
        if (h["workload"], h["scale"], h["seed"]) == (ctx.workload, ctx.scale, ctx.seed):
            for k, v in h["outputs"].items():
                want.setdefault(k, v)
            break
    return want


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["bench", "tiny"], default="bench",
                    help="tiny: the self-test's sf0.001 tables and small site")
    ap.add_argument("--record", action="store_true",
                    help="write the outputs of this run as the expected file")
    ap.add_argument("--min-passes", type=int, default=1,
                    help="warm passes to time at least, however long they take")
    ap.add_argument("--corrupt", default=None,
                    help="self-test: alter this operation's output fingerprint")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pegasus_spark")):
        print(f"perfbench: no pegasus_spark package under {ROOT}", file=sys.stderr)
        return 2
    # byte-compile once per checkout, so that no run times the compiling of
    # the program by the Spark driver and its Python workers; a one-time
    # cost of the checkout, like the site generation, not part of set-up
    t0 = time.perf_counter()
    for pkg in ("pegasus_spark", "perfbench"):
        compileall.compile_dir(os.path.join(ROOT, pkg), quiet=1)
    compile_s = time.perf_counter() - t0
    sys.path[:0] = [ROOT, BENCH_DIR]
    ctx = Context(args)
    ctx.compile_s = compile_s
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    for d in (ctx.local_dir, ctx.tmp_dir, ctx.cache_dir, ctx.out_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": ctx.local_dir,
        "TMPDIR": ctx.tmp_dir,
        "SPARK_GRAFT_CPUS": str(ctx.cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
    })
    try:
        return run(ctx, args)
    finally:
        shutil.rmtree(ctx.run_dir, ignore_errors=True)


def run(ctx: Context, args) -> int:
    sampler = MemSampler()
    sampler.start()
    if ctx.workload == "crawl":
        from crawl import CrawlWorkload as W
    else:
        from analytics import AnalyticsWorkload as W
    w = W(ctx)

    try:
        return measure(ctx, args, w, session(ctx), sampler)
    finally:
        stop_jvm()  # after an error; a finished run has stopped it


def measure(ctx: Context, args, w, spark, sampler) -> int:
    import pyspark

    from ops import Recorder
    from spans import Tracer, attribute, per_layer_spec, read_status_store

    t_session = time.perf_counter() - T_PROCESS - ctx.compile_s
    t0 = time.perf_counter()
    w.prepare(spark)  # cached per (scale, seed); not part of set-up
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    w.open(spark)
    # one cold set-up: process start, imports, JVM launch, session, inputs
    setup_s = t_session + time.perf_counter() - t0

    tracer = Tracer(spark, enabled=bool(args.trace))
    rec = Recorder(corrupt=args.corrupt, quiet=tracer.quiet)
    # The warm-up runs the workload's code paths once in the fresh JVM
    # (class loading, code generation, the JIT, the Python workers), untimed
    # and untraced. Then warm passes repeat until --seconds have gone, at
    # least --min-passes of them, each traced when --trace 1.
    t_warm = time.perf_counter()
    w.warm_up(Tracer(spark, enabled=False))
    warmup_s = time.perf_counter() - t_warm
    w.instrument(tracer)
    t_pass = time.perf_counter()
    try:
        while rec.pass_no < args.min_passes or time.perf_counter() - t_pass < args.seconds:
            rec.pass_no += 1
            tracer.reset()  # the per-layer metrics are those of the last pass
            w.run_pass(rec, tracer)
    finally:
        tracer.restore()
    measured_s = time.perf_counter() - t_pass
    peak_kb = sampler.peak_kb  # up to the end of the last pass

    # every pass must reproduce the recorded outputs, and agree with the
    # first pass where nothing was recorded
    history = _load_history(ctx)
    want = {} if args.record else _expected(ctx, history)
    for o in rec.ops:
        if o["ok"] and "output" in o:
            want.setdefault(o["name"], o["output"])
    rec.verify(want)

    if args.trace:
        jobs, stages = read_status_store(spark)
        layers = attribute(tracer.spans, jobs, stages, tracer.main_thread)
        with tracer.quiet():
            extras = w.layer_extras(tracer.spans)
    detail = w.detail()
    spark_version = pyspark.__version__
    t_stop = time.perf_counter()
    stop_jvm()

    # nothing may outlive the run: no child process, nothing in the local dirs
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    left = descendants()
    residue = os.listdir(ctx.local_dir)
    sampler.stop()
    teardown_s = time.perf_counter() - t_stop
    if left or residue:
        rec.ops.append({"pass": None, "name": "hygiene", "kind": "check", "wall_s": 0.0,
                        "ok": False,
                        "error": f"left behind: processes {left}, local dirs {residue}"})

    pass_ops = [o for o in rec.ops if o["kind"] != "check"]
    passes = sorted({o["pass"] for o in pass_ops})
    # medians over the timed passes of the run
    main_s = statistics.median(
        sum(o["wall_s"] for o in pass_ops if o["pass"] == i and o["kind"] == "main")
        for i in passes)
    pass_s = statistics.median(
        sum(o["wall_s"] for o in pass_ops if o["pass"] == i) for i in passes)
    op_walls = [{"name": n, "wall_s": statistics.median(
        o["wall_s"] for o in pass_ops if o["name"] == n)}
        for n in dict.fromkeys(o["name"] for o in pass_ops)]
    failed = sum(not o["ok"] for o in rec.ops)

    outputs = {}
    for o in pass_ops:
        if o["ok"] and "output" in o:
            outputs.setdefault(o["name"], o["output"])
    if args.record:
        path = os.path.join(BENCH_DIR, "expected", f"{ctx.workload}-{ctx.scale}"
                            + (f"-seed{ctx.seed}" if ctx.workload == "crawl" else "") + ".json")
        with open(path, "w") as f:
            json.dump(outputs, f, indent=1, sort_keys=True)
            f.write("\n")

    with open(os.path.join(ctx.out_dir, "history.jsonl"), "a") as f:
        f.write(json.dumps({"workload": ctx.workload, "scale": ctx.scale, "seed": ctx.seed,
                            "outputs": outputs}) + "\n")

    if args.trace:
        metrics = {}
        for name, unit, _ in per_layer_spec():
            layer, _, key = name.rpartition(".")
            if name == "tracing.pass_s":
                value = pass_s
            elif name == "tracing.overhead_s":
                value = tracer.cost_s
            elif layer in layers and key in layers[layer]:
                value = layers[layer][key]
            else:
                value = extras.get(name, 0.0)
            metrics[name] = {"value": value, "unit": unit}
        with open(os.path.join(ctx.out_dir, f"trace-{ctx.workload}-seed{ctx.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "ops": rec.ops, "detail": detail}, f)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_pss_mb": {"value": peak_kb / 1024, "unit": "MB"},
            "main_s": {"value": main_s, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
        }

    named = named_metrics(ctx, op_walls, detail, main_s)
    named["failed_op_frac"] = {"value": failed / len(rec.ops), "unit": "ratio"}
    print(json.dumps({
        "workload": ctx.workload, "seed": ctx.seed, "trace": args.trace,
        "config": {
            "nproc": os.cpu_count(), "local_cores": ctx.cores,
            "shuffle_partitions": ctx.cores,
            "workdir_fs": _fs_type(ctx.run_dir), "spark_local_dirs": ctx.local_dir,
            "spark": spark_version, "python": platform.python_version(),
            "tables": f"{ctx.sf}, fixed at seed 42 (read-only copies)",
            "site": f"{ctx.scale} site at seed {ctx.seed}",
            "site_gen_s": gen_s, "warmup_s": warmup_s, "passes": len(passes),
            "measured_s": measured_s, "teardown_s": teardown_s,
            "process_s": time.perf_counter() - T_PROCESS,
        },
        "named": named,
        "ops": [{k: o.get(k) for k in ("pass", "name", "wall_s", "ok", "error")}
                for o in rec.ops],
    }))
    print(json.dumps({"correct": failed == 0, "attempted": len(rec.ops),
                      "failed": failed, "metrics": metrics}))
    return 0


def named_metrics(ctx, ops: list[dict], detail: dict, main_s) -> dict:
    """The workload's metrics under the names NOTES.md defines."""
    def walls(ops, prefix):
        return [o["wall_s"] for o in ops if o["name"].startswith(prefix)]

    def total(ops, prefix):
        return {"value": sum(walls(ops, prefix)), "unit": "s"}

    if ctx.workload == "crawl":
        return {
            "crawl_pages_per_s": {"value": detail.get("pages", 0) / main_s if main_s else None,
                                  "unit": "pages/s"},
            "crawl_listing_pages_per_s": {"value": detail.get("listing_pages_per_s"),
                                          "unit": "pages/s"},
            "reports_s": total(ops, "report:"),
        }
    return {
        "analytics_warm_s": total(ops, "query:"),
        "curation_s": total(ops, "text_curation"),
        "image_curation_s": total(ops, "image_curation"),
    }


if __name__ == "__main__":
    sys.exit(main())
