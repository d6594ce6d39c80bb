"""scipi-spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload scipi_batch --seed 1 --seconds 40 --trace 0

Run from the repository root. Set-up generates the inputs from the seed
and starts ``scipi_spark.session.get_spark`` on ``local[nproc]``. The run
then times one iteration of the workload on that fresh session: the job
as a user submits it, with cold JIT, codegen caches and Python workers.
Its outputs are checked afterwards against references computed without
Spark. The iteration reads its inputs fresh from the generated files, in
its own store and checkpoint directories. ``--seconds`` is the nominal
length of that iteration; the run does not cut the iteration short or
repeat it to fill the time.

``--trace 1`` follows the timed iteration with a traced and an untraced
one and reports the per-layer metrics of the traced one, the warm-up cost
(first iteration minus the untraced one) and the tracing overhead
(traced minus untraced); it also writes the spans and a per-layer
summary, with each layer's share of the iteration, under
``.perfbench/traces/``.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it print
every metric by name with its unit, the failure ratio and the
configuration. All scratch state (inputs, Spark local dirs, stores,
warehouse, temp files) lives in ``.perfbench/run-<pid>/`` and is removed
at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: how many times set-up generates the inputs; setup_s counts the median
GEN_REPEATS = 3


def host_config() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    # a quarter of the host's memory, 1-4 GiB: the inputs are small and
    # the host is shared
    heap_mb = 1024 * max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    return {"cores": cores, "heap": f"{heap_mb}m", "young": f"{heap_mb // 3}m",
            "host_mem_gb": round(mem_kb / 2**20, 1)}


def configure_env(work: str, cfg: dict) -> dict:
    """Point every Spark and engine scratch location into ``work``;
    returns the extra Spark conf."""
    for d in ("local", "store", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cfg["cores"]),
        "SPARK_GRAFT_DRIVER_MEM": cfg["heap"],
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_STORE_DIR": os.path.join(work, "store"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the engine's Python UDFs run in worker processes that import it
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # few malloc arenas: the JVM's resident size then tracks its heap
        # and buffers, not how many threads happened to allocate
        "MALLOC_ARENA_MAX": "2",
    })
    return {
        # keep every stage, job, SQL execution and progress record of a
        # run, so status-store deltas and streaming progress are complete
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # fixed heap and young-generation sizes: no resizing decisions
        # that vary run to run, so peak memory follows the program. The
        # JIT stops at its first tier (C1), as for any short-lived JVM: a
        # run is one cold job, and C2 compiles competing with the tasks
        # for the host's few cores cost more than they return
        "spark.driver.extraJavaOptions": f"-Xms{cfg['heap']} -Xmn{cfg['young']} "
                                         "-XX:TieredStopAtLevel=1 "
                                         f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


class Run:
    """Operations attempted and failed: a layer call that raises, or an
    output that fails its check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, label: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(label)

    def check_outputs(self, label: str, got: dict, expected: dict) -> None:
        import check

        for name, want in expected.items():
            ok = name in got and check.digest(*got[name]) == want
            self.check(f"{label}:{name}", ok)

    def check_first(self, wl, out: dict) -> dict:
        """Check the first iteration's outputs against references computed
        without Spark (plain Python, numpy or DuckDB); returns the digests
        the traced iterations must reproduce."""
        import check

        for label, (got, want) in wl.reference_checks(out).items():
            self.check(f"reference:{label}",
                       got is not None and check.digest(*got) == check.digest(*want))
        return {k: check.digest(*v) for k, v in out.items()}


def stop_spark(spark) -> None:
    """Stop the context and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # the JVM ignored the close: make sure it ends
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a terminated run still stops its JVM and removes its scratch state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cfg = host_config()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        extra_conf = configure_env(work, cfg)
        sys.path[:0] = [HERE, ROOT]
        import gen
        from measure import StatusStore, Tracer, jvm_peak_rss_mb
        from workloads import LAYERS, WORKLOADS

        from scipi_spark.session import get_spark

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        run = Run()

        # --- set-up -------------------------------------------------------
        gen_s = []
        for i in range(GEN_REPEATS):
            t = time.perf_counter()
            inputs = os.path.join(work, f"inputs{i}")
            info = gen.generate(args.workload, args.seed, inputs)
            gen_s.append(time.perf_counter() - t)
            if i < GEN_REPEATS - 1:
                shutil.rmtree(inputs)
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra_conf)
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t
        store = StatusStore(spark)
        tracer = Tracer(store, f"{args.workload}-{args.seed}-{os.getpid()}", cfg["cores"],
                        enabled=False)
        wl = WORKLOADS[args.workload](spark, inputs, info)
        iters: list[dict] = []

        def iteration(traced: bool) -> dict:
            i = len(iters)
            spark.catalog.clearCache()
            tracer.enabled, tracer.iteration = traced, i
            if not traced:
                tracer.walls.clear()
            it_dir = os.path.join(work, f"it{i}")
            out: dict = {}
            before = store.snapshot()
            t = time.perf_counter()
            try:
                wl.iteration(tracer, it_dir, out)
            except Exception:  # counted as a failed operation, the run goes on
                traceback.print_exc()
                run.check(f"iteration{i}:raised", False)
            e2e = time.perf_counter() - t
            u = store.usage(before, store.snapshot())
            shutil.rmtree(it_dir, ignore_errors=True)
            iters.append({"traced": traced, "e2e_s": e2e, "usage": u})
            return out

        setup_s = time.perf_counter() - T_PROCESS - sum(gen_s) + statistics.median(gen_s)

        # --- timed: the first iteration on the fresh session ---------------
        expected = run.check_first(wl, iteration(False))
        if args.trace:
            # a traced, then an untraced iteration on the warmed session;
            # the per-layer metrics come from the traced one
            for traced in (True, False):
                run.check_outputs(f"iteration{len(iters)}", iteration(traced), expected)
            metrics = layer_metrics(tracer, LAYERS, iters, start_s, cfg["cores"])
            shares = layer_shares(metrics, LAYERS, iters[1])
            write_trace(tracer, metrics, shares, args, cfg, info)
        else:
            timed = iters[0]
            metrics = {
                "setup_s": (setup_s, "s"),
                "e2e_s": (timed["e2e_s"], "s"),
                "task_s": (timed["usage"].task_s, "s"),
                "cpu_s": (timed["usage"].cpu_s, "s"),
                "peak_rss_mb": (jvm_peak_rss_mb(spark), "MiB"),
            }

        # --- report ---------------------------------------------------------
        ratio = run.failed / run.attempted
        print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
        print(f"config cores={cfg['cores']} heap={cfg['heap']} young={cfg['young']} "
              f"spark={spark.version} "
              f"host_mem_gb={cfg['host_mem_gb']}")
        print(f"inputs rows={json.dumps(info['rows'])} bytes={json.dumps(info['bytes'])}")
        print(f"setup gen_s={statistics.median(gen_s):.3f} start_s={start_s:.3f}")
        print(f"iterations={len(iters)} spark_jobs={[it['usage'].jobs for it in iters]} "
              f"e2e_s_each={[round(it['e2e_s'], 3) for it in iters]}")
        # each layer's wall time in the last untraced iteration
        print(f"untraced_layer_s {json.dumps({k: round(v, 3) for k, v in tracer.walls.items()})}")
        for name, (value, unit) in metrics.items():
            print(f"{name} {value:.6g} {unit}")
        if args.trace:
            print(f"layer_share {json.dumps(shares)}")
        print(f"op_fail_ratio {ratio:.6g} ratio ({run.failed}/{run.attempted})")
        for f in run.failures:
            print(f"FAILED {f}")
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def layer_metrics(tracer, layers, iters, start_s, cores) -> dict:
    """Per-layer metrics from the traced iteration's spans; 0 where the
    workload does not call the layer. ``session.warmup_s`` is the first
    (cold) iteration minus the untraced iteration after the traced one."""
    generic = ("s", "task_s", "cpu_s", "idle_core_s", "jobs", "tasks", "shuffle_mb",
               "spill_mb", "rows_out")
    units = {"s": "s", "task_s": "s", "cpu_s": "s", "idle_core_s": "s", "jobs": "count",
             "tasks": "count", "shuffle_mb": "MiB", "spill_mb": "MiB", "rows_out": "rows"}
    extras = {
        "ingest": {"reject_ratio": "ratio"},
        "dedup": {"pair_yield": "ratio"},
        "similarity": {"pair_yield": "ratio"},
        "store.write": {"write_mb": "MiB"},
        "streaming": {"trigger_ms_p50": "ms", "add_batch_ms_p50": "ms", "wal_commit_ms_p50": "ms",
                      "planning_ms_p50": "ms", "state_rows": "rows", "state_mem_mb": "MiB",
                      "sink_mb": "MiB", "batches": "count"},
    }
    for rec in tracer.spans:
        if "pairs" in rec:
            # candidate pairs are read as the span's shuffle records: the
            # candidate-generating plan node differs per operator
            rec["pair_yield"] = rec["pairs"] / max(rec["shuffle_records"], 1)
    cold, traced, warm = (it["e2e_s"] for it in iters)
    c, w = iters[0]["usage"], iters[2]["usage"]
    out = {}
    for layer in layers:
        if layer == "session":
            # the session layer's work: start-up, plus the first
            # iteration's excess over a warm one (JIT, codegen, worker
            # start-up)
            s = start_s + cold - warm
            vals = {"s": s, "rows_out": 0}
            for k in ("task_s", "cpu_s", "jobs", "tasks", "shuffle_mb", "spill_mb"):
                vals[k] = getattr(c, k) - getattr(w, k)
            vals["idle_core_s"] = cores * s - vals["task_s"]
            for k in generic:
                out[f"session.{k}"] = (float(vals[k]), units[k])
            out["session.start_s"] = (start_s, "s")
            out["session.warmup_s"] = (cold - warm, "s")
            continue
        spans = [r for r in tracer.spans if r["name"] == layer]
        for k, unit in [(k, units[k]) for k in generic] + list(extras.get(layer, {}).items()):
            # a layer the workload does not call did no work: 0
            out[f"{layer}.{k}"] = (float(sum(r.get(k, 0) for r in spans)), unit)
    out["trace.overhead_s"] = (traced - warm, "s")
    return out


def layer_shares(metrics, layers, traced) -> dict:
    """Each called layer's share of the traced iteration: of its wall
    time (``s``) and of its executor task time (``task_s``)."""
    return {layer: {"s": round(metrics[f"{layer}.s"][0] / traced["e2e_s"], 4),
                    "task_s": round(metrics[f"{layer}.task_s"][0]
                                    / max(traced["usage"].task_s, 1e-9), 4)}
            for layer in layers if layer != "session" and metrics[f"{layer}.jobs"][0] > 0}


def write_trace(tracer, metrics, shares, args, cfg, info) -> None:
    """One spans file per run and a per-layer summary beside it."""
    d = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(d, exist_ok=True)
    base = os.path.join(d, tracer.run_id)
    tracer.dump(base + ".spans.jsonl")
    with open(base + ".summary.json", "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "config": cfg,
                   "inputs": {"rows": info["rows"], "bytes": info["bytes"]},
                   "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                   "share_of_iteration": shares},
                  f, indent=1, sort_keys=True)


if __name__ == "__main__":
    sys.exit(main())
