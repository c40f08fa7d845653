#!/usr/bin/env python3
"""Benchmark of record for the engine: one workload per process.

    python3 perfbench/run.py --workload mag_graph --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. The run generates its input tables once
(under ``.perfbench/``), sets the engine up three times (session, entry
import, bucketed layout), runs one cold pass over the workload's operations
that checks every output against ``expected.json``, then runs timed warm
passes for ``--seconds``. The seed shuffles the order of the operations in
every pass. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` untraced and traced
passes alternate and the metrics are the per-layer ones, with the spans
written to ``.perfbench/out/``. See README.md.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
EXPECTED = os.path.join(HERE, "expected.json")

SCALE = 0.01  # input size: 60k lineitem rows, 10k events, 500 documents
# one core is left to the driver's Python thread, the JIT and the GC, which
# carry most of a short query's time
CORES = max(1, min(4, (os.cpu_count() or 2) - 1))
DRIVER_MEMORY = "1g"
SETUPS = 3  # setup_s is the median of this many set-ups in one run

SPEC = os.path.join(ROOT, "BENCHMARK.json")  # metric names and units


def _parse(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--expected", default=EXPECTED, help="expected outputs (JSON)")
    p.add_argument("--record-expected", action="store_true",
                   help="store this run's checked outputs in --expected instead of comparing")
    return p.parse_args(argv)


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isfile(
        os.path.join(ROOT, "iconic_data_science_spark", "session.py")
    )


def _ensure_data() -> tuple[str, str]:
    """Generate the input tables once per checkout (keyed by the
    generator's source, so an edited generator writes fresh tables)."""
    import hashlib

    import datagen

    with open(datagen.__file__, "rb") as fh:
        key = hashlib.sha1(fh.read() + repr(SCALE).encode()).hexdigest()[:12]
    base = os.path.join(WORK, f"data-{key}")
    tables, small = os.path.join(base, "tables"), os.path.join(base, "lineitem_small_files")
    if not os.path.exists(os.path.join(base, "DONE")):
        shutil.rmtree(base, ignore_errors=True)
        datagen.generate(tables, small, SCALE)
        open(os.path.join(base, "DONE"), "w").close()
    return tables, small


def _session_env(run_dir: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python workers write inside the
    run directory, and pin the engine's core count."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_BUCKETED="1",
    )
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


class Bench:
    """One run's session, set-up timings, failure counts and passes."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.run_dir = os.path.join(WORK, "run")
        self.spark = None
        self.setups: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    # -- set-up ------------------------------------------------------------

    def set_up(self, data_dir: str, conf: dict[str, str]) -> None:
        """Session start, entry import and bucketed-layout write, each
        timed. Every set-up after the first re-creates the SparkContext (in
        the same JVM) and re-imports the engine's modules."""
        if self.spark is not None:
            self.spark.stop()
        for name in [m for m in sys.modules if m == "__spark_entry__" or m.startswith("iconic_data_science_spark")]:
            del sys.modules[name]
        with self.tracer.span("setup") as root:
            t0 = time.perf_counter()
            with self.tracer.span("session.start"):
                session = importlib.import_module("iconic_data_science_spark.session")
                self.spark = session.get_spark(
                    app_name="perfbench", master=f"local[{CORES}]",
                    driver_memory=DRIVER_MEMORY, extra_conf=conf,
                )
            t1 = time.perf_counter()
            with self.tracer.span("entry.import"):
                entry = importlib.import_module("__spark_entry__")
            t2 = time.perf_counter()
            catalog = importlib.import_module("iconic_data_science_spark.catalog")
            magmap = importlib.import_module("iconic_data_science_spark.magmap")
            if self.tracer.enabled:
                self._trace_catalog(catalog)
            with self.tracer.span("magmap.bucket"):
                magmap.prepare_bucketed_tables(catalog.Catalog(self.spark, data_dir))
            t3 = time.perf_counter()
        t = {"session.start_s": t1 - t0, "entry.import_s": t2 - t1, "magmap.bucket_s": t3 - t2, "total_s": t3 - t0}
        if root is not None:
            root["counts"] = dict(t)
        self.setups.append(t)
        self.mods = {
            "queries": entry.queries(),
            "catalog": catalog,
            "sinks": importlib.import_module("iconic_data_science_spark.sources.sinks"),
            "events": importlib.import_module("iconic_data_science_spark.streaming.events"),
        }

    def _trace_catalog(self, catalog) -> None:
        """Time base-relation resolution from outside: wrap the public
        ``Catalog.table`` of this set-up's module in a span."""
        inner = catalog.Catalog.table
        tracer = self.tracer

        def table(cat, name):
            with tracer.span("catalog.resolve", table=name):
                return inner(cat, name)

        catalog.Catalog.table = table

    # -- operations --------------------------------------------------------

    def run_op(self, ctx, op, check: bool, traced: bool, status) -> dict:
        """One operation. Returns its record; ``latency_s`` covers build
        and action only (preparation, checks and status reads are
        outside)."""
        from pyspark.sql import DataFrame

        op.prepare(ctx)
        rec: dict = {"op": op.name, "kind": op.kind}
        tag = f"{op.name}-{len(self.tracer.spans)}"
        df = out = None
        with self.tracer.span("op", op=op.name) as sp:
            t0 = time.perf_counter()
            try:
                if traced:
                    status.set_group(f"build-{tag}")
                tb = time.perf_counter()
                with self.tracer.span("build"):
                    df = op.build(ctx)
                t1 = time.perf_counter()
                if traced and isinstance(df, DataFrame) and not df.isStreaming:
                    with self.tracer.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                if traced:
                    status.set_group(f"exec-{tag}")
                with self.tracer.span("exec"):
                    t2 = time.perf_counter()
                    out = op.verify(ctx, df) if check else op.execute(ctx, df)
                t3 = time.perf_counter()
                rec.update(latency_s=t3 - t0, build_s=t1 - tb, exec_s=t3 - t2)
                if traced:  # time the tracing itself added inside the timed region
                    rec["trace.inserted_s"] = (tb - t0) + (t2 - t1)
            except Exception:
                rec["error"] = traceback.format_exc(limit=3)
            finally:
                if traced:
                    status.clear_group()
        self.attempted += 1
        if check and "error" not in rec:
            rec["rows"], rec["hash"] = out
        if traced and "error" not in rec:
            self._layer_counts(rec, ctx, op, df, out, tag, status, sp)
        df = out = None
        gc.collect()
        if traced:
            rec["mat.leaked_rdds"] = status.storage()[0]
        if "error" in rec:
            self.failed += 1
            self.failures.append(f"{op.name}: {rec['error'].strip().splitlines()[-1]}")
        return rec

    def _layer_counts(self, rec, ctx, op, df, out, tag, status, span) -> None:
        from iconic_data_science_spark.plans.inspect import shuffle_count
        from workloads import dir_stats

        status.settle()
        b = status.group_stats(f"build-{tag}")
        rec.update({"build.jobs": b["jobs"], "build.job_s": b["job_s"]})
        if "progress" in (out or {}):
            prog = out["progress"]
            e = status.group_stats(str(prog[0].runId)) if prog else status.group_stats(f"exec-{tag}")
            rows = sum(p.numInputRows for p in prog)
            rec.update({
                "stream.s": rec["exec_s"],
                "stream.batches": len(prog),
                "stream.rows": rows,
                "stream.state_rows": sum(s.numRowsTotal for s in prog[-1].stateOperators) if prog else 0,
            })
        else:
            e = status.group_stats(f"exec-{tag}")
        rec.update({f"exec.{k}": v for k, v in e.items()})
        if "path" in (out or {}):
            files, size = dir_stats(out["path"])
            rec.update({"sink.s": rec["exec_s"], "sink.output_mb": size / 2**20, "sink.files": files,
                        "sink.input_mb": op.input_bytes(ctx, df) / 2**20})
        plan = [s for s in self.tracer.spans if s["name"] == "plan" and s["parent"] == span["id"]]
        if plan:
            phases = df._jdf.queryExecution().tracker().phases()  # a Scala Map
            found = [phases.get(k) for k in ("analysis", "optimization", "planning")]
            rec["plan.s"] = sum(p.get().durationMs() for p in found if p.isDefined()) / 1e3
            rec["plan.exchanges"] = shuffle_count(df)
        rec["catalog.resolve_s"] = sum(
            s["end"] - s["start"] for s in self.tracer.spans[span["id"]:] if s["name"] == "catalog.resolve"
        )
        rec["mat.rdds"], rec["mat.mb"] = status.storage()
        span["counts"] = {k: v for k, v in rec.items() if "." in k}

    def run_pass(self, ctx, ops, rng, check: bool, traced: bool, status) -> dict:
        order = list(ops)
        rng.shuffle(order)
        gc0 = status.gc_s() if traced else 0.0
        self.tracer.enabled = traced  # an untraced pass records no spans
        with self.tracer.span("pass", check=check):
            recs = [self.run_op(ctx, op, check, traced, status) for op in order]
        p = {"traced": traced, "check": check, "order": [op.name for op in order], "ops": recs,
             "pass_s": sum(r.get("latency_s", 0.0) for r in recs)}
        if traced:
            p["jvm.gc_s"] = status.gc_s() - gc0
        return p


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _layer_metrics(bench: Bench, passes: list[dict], check_pass: dict) -> dict[str, float]:
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]

    def per_pass(key, agg=sum):
        return _median([agg([r.get(key, 0) for r in p["ops"]] or [0]) for p in traced])

    m = {k: per_pass(k) for k in (
        "catalog.resolve_s", "build.jobs", "build.job_s", "plan.s", "plan.exchanges",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks", "exec.task_run_s",
        "exec.task_cpu_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
        "exec.input_mb", "sink.s", "sink.output_mb", "sink.files", "stream.s", "stream.batches",
        "stream.state_rows",
    )}
    m["build.s"] = per_pass("build_s")
    m["exec.s"] = per_pass("exec_s")
    m["build.self_s"] = m["build.s"] - m["catalog.resolve_s"]
    m["build.cold_jobs"] = sum(r.get("build.jobs", 0) for r in check_pass["ops"])
    m["exec.core_util"] = m["exec.task_run_s"] / (m["exec.s"] * CORES) if m["exec.s"] else 0.0
    m["mat.rdds"] = per_pass("mat.rdds", max)
    m["mat.mb"] = per_pass("mat.mb", max)
    m["mat.leaked_rdds"] = _median([p["ops"][-1].get("mat.leaked_rdds", 0) for p in traced])
    m["jvm.gc_s"] = _median([p["jvm.gc_s"] for p in traced])
    sink_in = per_pass("sink.input_mb")
    m["sink.write_amp"] = m["sink.output_mb"] / sink_in if sink_in else 0.0
    m["stream.rows_per_s"] = per_pass("stream.rows") / m["stream.s"] if m["stream.s"] else 0.0
    m["setup.cold_s"] = bench.setups[0]["total_s"]
    for k in ("session.start_s", "entry.import_s", "magmap.bucket_s"):
        m[k] = _median([s[k] for s in bench.setups])
    m["trace.pass_s"] = _median([p["pass_s"] for p in traced])
    m["trace.untraced_pass_s"] = _median([p["pass_s"] for p in untraced])
    m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.untraced_pass_s"]
    m["trace.inserted_s"] = per_pass("trace.inserted_s")
    return m


def _end_to_end(bench: Bench, passes: list[dict], peak_bytes: int) -> dict[str, float]:
    per_op: dict[str, list[float]] = {}
    for p in passes:
        for r in p["ops"]:
            if "latency_s" in r:
                per_op.setdefault(r["op"], []).append(r["latency_s"])
    medians = [statistics.median(v) for v in per_op.values()]
    return {
        "setup_s": _median([s["total_s"] for s in bench.setups]),
        "pass_s": _median([p["pass_s"] for p in passes]),
        "query_geomean_s": math.exp(statistics.fmean(math.log(x) for x in medians)) if medians else 0.0,
        "peak_rss_mb": peak_bytes / 2**20,
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for
    every process this run started to end."""
    from pyspark import SparkContext

    from probes import descendants

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = _parse(argv)
    if not _engine_present():
        print("perfbench: run from the root of a checkout that holds the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    expected = {}
    if not args.record_expected:
        with open(args.expected) as fh:
            expected = json.load(fh)[args.workload]

    from probes import RssSampler, SparkStatus, Tracer
    from workloads import WORKLOADS, Ctx

    data_dir, small_dir = _ensure_data()
    tracer = Tracer(enabled=bool(args.trace))
    bench = Bench(tracer)
    shutil.rmtree(bench.run_dir, ignore_errors=True)
    conf = _session_env(bench.run_dir)
    ops = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    with RssSampler() as rss:
        try:
            for _ in range(SETUPS):
                bench.set_up(data_dir, conf)
            ctx = Ctx(bench.spark, data_dir, small_dir, bench.run_dir, bench.mods)
            status = SparkStatus(bench.spark)
            check = bench.run_pass(ctx, ops, rng, check=True, traced=bool(args.trace), status=status)
            passes: list[dict] = []
            t0 = time.perf_counter()
            # start another pass only if it should end within --seconds
            while len(passes) < 1 + args.trace or (
                time.perf_counter() - t0 + passes[-1]["pass_s"] <= args.seconds
            ):
                # untraced and traced passes alternate U T T U, so the warm-up
                # drift cancels in the overhead estimate
                traced = bool(args.trace) and len(passes) % 4 in (1, 2)
                passes.append(bench.run_pass(ctx, ops, rng, check=False, traced=traced, status=status))
        finally:
            if bench.spark is not None:
                _stop_spark(bench.spark)
        peak = rss.peak_bytes
        peak_by_process = rss.peak_by_process

    got = {r["op"]: {"rows": r["rows"], "hash": r["hash"]} for r in check["ops"] if "rows" in r}
    for op in ops:
        if args.record_expected or op.name not in got:
            continue
        if got[op.name] != expected.get(op.name):
            bench.failed += 1
            bench.failures.append(f"{op.name}: output {got[op.name]} != expected {expected.get(op.name)}")
    if args.record_expected:
        _record_expected(args.expected, args.workload, got, [op.name for op in ops])

    untraced = [p for p in passes if not p["traced"]]
    e2e = _end_to_end(bench, untraced, peak)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "scale": SCALE, "cores": CORES, "setups": bench.setups, "check_pass": check, "passes": passes,
        "end_to_end": e2e, "peak_rss_by_process_mb": peak_by_process, "failures": bench.failures,
    }
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    if args.trace:
        tracer.self_times()
        record["layers"] = _layer_metrics(bench, passes, check)
        record["spans"] = tracer.spans
        _print_layers(record)
    values = record["layers"] if args.trace else e2e
    with open(SPEC) as fh:
        listed = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    with open(os.path.join(WORK, "out", name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for f in bench.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    share = bench.failed / max(1, bench.attempted)
    print(f"perfbench: workload={args.workload} seed={args.seed} passes={len(passes)} "
          f"pass_s={[round(p['pass_s'], 3) for p in passes]} failed_share={share:.4f} "
          f"order={passes[0]['order']}")
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


def _record_expected(path: str, workload: str, got: dict, names: list[str]) -> None:
    missing = [n for n in names if n not in got]
    if missing:
        raise SystemExit(f"perfbench: cannot record expected outputs, failed: {missing}")
    data = {}
    if os.path.exists(path):
        with open(path) as fh:
            data = json.load(fh)
    data[workload] = {n: got[n] for n in names}
    with open(path, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")


def _print_layers(record: dict) -> None:
    """Per-operation layer table of the traced passes (medians)."""
    traced = [p for p in record["passes"] if p["traced"]]
    keys = ("build_s", "build.jobs", "plan.s", "plan.exchanges", "exec_s", "exec.jobs",
            "exec.tasks", "exec.task_run_s", "mat.rdds", "mat.leaked_rdds")
    print("perfbench: per-operation layers (median over traced passes)")
    print("  " + " ".join(f"{k:>15}" for k in ("op",) + keys))
    for name in sorted({r["op"] for p in traced for r in p["ops"]}):
        rows = [r for p in traced for r in p["ops"] if r["op"] == name]
        vals = [_median([r.get(k, 0) for r in rows]) for k in keys]
        print(f"  {name[:15]:>15} " + " ".join(f"{v:>15.3f}" for v in vals))


if __name__ == "__main__":
    sys.exit(main())
