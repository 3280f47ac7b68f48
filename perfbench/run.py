"""Same-host benchmark of the superstore-spark engine.

One run:   python3 perfbench/run.py --workload headline --seed 1 --seconds 30 --trace 0
Everything: python3 perfbench/run.py all
Recompute headline's recorded results: python3 perfbench/run.py regen-expected

A run starts the session, stages its inputs three times and warms up
once; ``setup_s`` is session start + the median staging round + warm-up.
Then it runs whole passes
of the workload's ops in seed-shuffled order, one client, closed loop,
while another pass still fits in ``--seconds`` (always at least one).
Every op's output is checked. Human-readable lines go to stdout first;
the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
With ``--trace 1`` the spans are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
              ("load_s", "s"), ("peak_rss_mb", "MB")]


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and size the
    local master to this host."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Python workers import the engine from this checkout
        "PYTHONPATH": os.pathsep.join([ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]),
    })
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def _shutdown(ctx) -> None:
    """Stop the session and the JVM, then wait for every child to end."""
    from pyspark import SparkContext

    from perfbench.core import children_of

    gateway = SparkContext._gateway
    if ctx.spark is not None:
        ctx.spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while children_of(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    spec = importlib.util.find_spec("super_store_datawarehouse_spark")
    if spec is None or not os.path.abspath(spec.origin).startswith(ROOT + os.sep):
        print("perfbench: the engine package super_store_datawarehouse_spark is not "
              "in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    _prepare_env(work)
    from perfbench import core
    from perfbench.workloads import WORKLOADS, Ctx

    ctx = Ctx(work, seed, trace)
    wl = WORKLOADS[workload](ctx)
    sampler = core.RssSampler().start()
    try:
        start_s = ctx.start_session()
        staging = []
        for _ in range(3):
            t0 = time.perf_counter()
            wl.stage()
            staging.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        passes = []
        t_meas = time.perf_counter()
        while not passes or (time.perf_counter() - t_meas) + passes[-1] <= seconds:
            t0 = time.perf_counter()
            wl.run_pass()
            passes.append(time.perf_counter() - t0)
        t_trace = time.perf_counter()
        per_group = ctx.collect_rest()
        collect_s = time.perf_counter() - t_trace
    finally:
        try:
            _shutdown(ctx)
        finally:
            peak_mb = sampler.stop()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only when no other run uses it
            except OSError:
                pass

    summ = ctx.log.summary()
    e2e = {
        "setup_s": start_s + warm_s + statistics.median(staging),
        "run_s": statistics.median(passes),
        "op_p50_s": summ["op_p50_s"],
        "op_tail_s": summ["op_tail_s"],
        "load_s": statistics.median(wl.load_s),
        "peak_rss_mb": peak_mb,
    }
    print(f"# {workload} seed={seed} passes={len(passes)} ops={summ['ops']} "
          f"attempted={ctx.log.attempted} failed={ctx.log.failed}")
    for name, unit in END_TO_END:
        note = ""
        if name == "op_tail_s":
            pct = summ["op_tail_pct"]
            note = f"  (p{pct} of {summ['ops']} ops)" if pct is not None else \
                f"  (max of {summ['ops']} ops: too few for the 10-beyond rule)"
        print(f"{name:<14} {e2e[name]:>12.4f} {unit}{note}")
    print(f"{'fail_ratio':<14} {summ['fail_ratio']:>12.4f} ratio")
    for o in ctx.log.ops:
        print(f"  op {o.name:<40} {o.seconds:8.3f} s" + ("" if o.ok else f"  FAILED: {o.error}"))

    if trace:
        layers = layer_metrics(ctx, per_group, start_s, collect_s)
        _write_spans(ctx, workload, seed)
        print("# self time by span name (s)")
        for name, s in sorted(ctx.spans.self_by_name().items()):
            print(f"  {name:<20} {s:10.3f}")
        print("# per-layer metrics")
        units = {m["name"]: m["unit"] for m in _bench_json()["per_layer"]}
        for name in units:
            print(f"{name:<34} {layers[name]:>14.4f} {units[name]}")
        metrics = {n: {"value": _num(layers[n]), "unit": u} for n, u in units.items()}
    else:
        metrics = {n: {"value": _num(e2e[n]), "unit": u} for n, u in END_TO_END}
    print(json.dumps({
        "correct": ctx.log.failed == 0,
        "attempted": ctx.log.attempted,
        "failed": ctx.log.failed,
        "metrics": metrics,
    }))
    return 0


def _num(v: float) -> float:
    """JSON has no infinity; a failed op's latency reports as 1e9 s."""
    return 1e9 if math.isinf(v) else v


def layer_metrics(ctx, per_group: dict, session_start_s: float, collect_s: float) -> dict:
    """Fold spans and Spark's counters into the per-layer metric names."""
    out = dict.fromkeys((m["name"] for m in _bench_json()["per_layer"]), 0.0)
    out.update(ctx.layer)
    spans = ctx.spans.spans
    out["plans.build_s"] = sum(s.end - s.start for s in spans if s.name == "plans.build")
    drain = 0.0
    for s in spans:
        if s.name == "exec" and not s.op.startswith("stream:"):
            end = per_group.get(s.attrs["group"], {}).get("last_job_end", 0.0)
            if end:
                drain += max(0.0, s.attrs["epoch_end"] - end)
    out["drain.s"] = drain
    out["driver.other_s"] = sum(
        ctx.spans.self_time(i) for i, s in enumerate(spans) if s.parent is None)
    out["session.start_s"] = session_start_s
    out["cache.storage_peak_mb"] = ctx.storage_peak_mb
    out["trace.collect_s"] = collect_s
    return out


def _write_spans(ctx, workload: str, seed: int) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{workload}-seed{seed}.json")
    with open(path, "w") as fh:
        json.dump(ctx.spans.dump(), fh)
    print(f"# spans written to {os.path.relpath(path, ROOT)}")


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced then traced, each in its own process;
    prints the end-to-end table and the tracing overhead."""
    rows = []
    for wl in [w["name"] for w in _bench_json()["workloads"]]:
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed",
                   str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
            sys.stdout.write(proc.stdout)
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                return proc.returncode
            res[trace] = json.loads(proc.stdout.strip().splitlines()[-1])
        traced_run = next(
            float(ln.split()[1]) for ln in proc.stdout.splitlines() if ln.startswith("run_s "))
        rows.append((wl, res[0], traced_run - res[0]["metrics"]["run_s"]["value"]))
    print("\n# end-to-end (untraced) and tracing overhead (traced run_s - untraced run_s)")
    print("workload        " + " ".join(f"{n:>12}" for n, _ in END_TO_END) + "   overhead_s")
    for wl, r, over in rows:
        vals = " ".join(f"{r['metrics'][n]['value']:>12.3f}" for n, _ in END_TO_END)
        print(f"{wl:<15} {vals}   {over:>10.3f}   correct={r['correct']}")
    return 0


def regen_expected() -> int:
    """Row count and canonical hash of every headline query, computed from
    its registry DuckDB oracle over ``data/sf0.01``."""
    import duckdb

    sys.path.insert(0, ROOT)
    from super_store_datawarehouse_spark.plans import HARNESS
    from super_store_datawarehouse_spark.plans import extensions as _x  # noqa: F401
    from super_store_datawarehouse_spark.plans import harness as _h  # noqa: F401

    from perfbench.core import rows_hash
    from perfbench.workloads import DATA_DIR, EXPECTED_PATH, HEADLINE

    con = duckdb.connect()
    for f in sorted(os.listdir(DATA_DIR)):
        con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{DATA_DIR}/{f}')")
    out = {}
    for q in HEADLINE:
        t0 = time.perf_counter()
        rel = con.sql(HARNESS[q][1])
        rows = rel.fetchall()
        out[q] = {"rows": len(rows), "hash": rows_hash(list(rel.columns), rows)}
        print(f"{q}: {len(rows)} rows ({time.perf_counter() - t0:.1f} s)", file=sys.stderr)
    with open(EXPECTED_PATH, "w") as fh:
        json.dump({"source": "registry DuckDB oracle SQL over perfbench/data/sf0.01",
                   "queries": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    argv = sys.argv[1:] if argv is None else argv
    if argv[:1] == ["regen-expected"]:
        return regen_expected()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", nargs="?", choices=["all"])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        print("perfbench: BENCHMARK.json not found at the checkout root", file=sys.stderr)
        return 2
    seconds = args.seconds if args.seconds is not None else _bench_json()["run_seconds"]
    if args.mode == "all":
        return run_all(args.seed, seconds)
    if args.workload not in [w["name"] for w in _bench_json()["workloads"]]:
        ap.error(f"--workload must be one of the workloads in BENCHMARK.json, got {args.workload!r}")
    return run_one(args.workload, args.seed, seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
