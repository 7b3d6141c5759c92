"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload flight_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The process generates its inputs from the
seed, starts the session, warms up on a tiny input, then runs closed-loop
operations until ``--seconds`` have passed (at least one). The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it holds the details: per-part medians with sample counts, the failed
checks, ``SPARK_GRAFT_CPUS`` and ``nproc``.

With ``--trace 1`` untraced and traced operations alternate; the spans
of the traced ones are written to ``perfbench/.traces/``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "airflow_project_flight_price_analysis_spark"
sys.path[:0] = [ROOT, HERE]

import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

# (name, unit) of every per-layer metric; a layer a workload bypasses reads 0
PER_LAYER = [
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("star.ingest_s", "s"), ("star.ingest_jobs", "count"),
    ("star.ingest_shuffle_bytes", "bytes"), ("star.ingest_new_ratio", "ratio"),
    ("star.plan_s", "s"),
    ("flight_pipeline.count_actions", "count"), ("flight_pipeline.count_s", "s"),
    ("flight_pipeline.write_s", "s"), ("flight_pipeline.output_bytes", "bytes"),
    ("flight_pipeline.cpu_s", "s"), ("flight_pipeline.driver_gap_s", "s"),
    ("flight_pipeline.rewrite_ratio", "ratio"),
    ("kpi.build_s", "s"), ("kpi.exec_s", "s"),
    ("kpi.q01_s", "s"), ("kpi.q02_s", "s"), ("kpi.q03_s", "s"), ("kpi.q04_s", "s"),
    ("kpi.q05_s", "s"), ("kpi.tasks", "count"), ("kpi.shuffle_bytes", "bytes"),
    ("kpi.driver_gap_s", "s"),
    ("corpus_pipeline.self_s", "s"), ("corpus_pipeline.jobs", "count"),
    ("corpus_pipeline.cpu_s", "s"), ("corpus_pipeline.shuffle_bytes", "bytes"),
    ("corpus_pipeline.driver_gap_s", "s"),
    ("graph.closure_s", "s"), ("graph.closure_jobs", "count"),
    ("multimodal.build_s", "s"), ("multimodal.exec_s", "s"),
    ("multimodal.tasks", "count"), ("multimodal.python_wait_s", "s"),
    ("streaming.build_s", "s"), ("streaming.exec_s", "s"),
    ("streaming.jobs", "count"), ("streaming.driver_gap_s", "s"),
    ("jvm.gc_s", "s"), ("spark.failed_tasks", "count"), ("trace.overhead_s", "s"),
    # the workloads' own end-to-end parts, from the untraced operations
    ("etl_full_s", "s"), ("etl_incr_s", "s"), ("etl_bytes_ratio", "ratio"),
    ("dash_refresh_s", "s"), ("curate_s", "s"), ("media_s", "s"), ("stream_s", "s"),
    ("fail_ratio", "ratio"),
]
PARTS = ["etl_full_s", "etl_incr_s", "etl_bytes_ratio", "dash_refresh_s",
         "curate_s", "media_s", "stream_s"]


def layer_metrics(tr, spans: list[dict]) -> dict:
    """Per-layer metrics of one traced operation, from its spans."""
    def named(name):
        return [s for s in spans if s["name"] == name]

    def prefixed(prefix):
        return [s for s in spans if s["name"].startswith(prefix)]

    def wall(ss):
        return sum(s["end"] - s["start"] for s in ss)

    m = {}
    runs = named("flight_pipeline.run_pipeline")
    ingest = tr.stats(named("star.ingest_increment"))
    m["star.ingest_s"] = ingest["wall_s"]
    m["star.ingest_jobs"] = ingest["jobs"]
    m["star.ingest_shuffle_bytes"] = ingest["shuffle_bytes"]
    incr = [s["counts"] for s in runs if s["counts"].get("phase") == "incr"]
    if incr and incr[0].get("incoming"):
        m["star.ingest_new_ratio"] = incr[0]["new"] / incr[0]["incoming"]
    if incr and incr[0].get("new"):
        m["flight_pipeline.rewrite_ratio"] = incr[0]["fact"] / incr[0]["new"]
    m["star.plan_s"] = wall(named("star.clean_flights") + named("star.build_star_schema"))
    m["flight_pipeline.count_actions"], m["flight_pipeline.count_s"] = \
        tr.executions_in(runs, "count")
    m["flight_pipeline.write_s"] = tr.executions_in(runs, "parquet")[1]
    fp = tr.stats(runs)
    m["flight_pipeline.output_bytes"] = fp["output_bytes"]
    m["flight_pipeline.cpu_s"] = fp["cpu_s"]
    m["flight_pipeline.driver_gap_s"] = fp["driver_gap_s"]

    kpi = tr.stats(prefixed("kpi."))
    m["kpi.build_s"] = wall(prefixed("kpi.build."))
    m["kpi.exec_s"] = wall(prefixed("kpi.exec."))
    for q in ("q01", "q02", "q03", "q04", "q05"):
        m[f"kpi.{q}_s"] = wall(named(f"kpi.build.{q}") + named(f"kpi.exec.{q}"))
    m["kpi.tasks"] = kpi["tasks"]
    m["kpi.shuffle_bytes"] = kpi["shuffle_bytes"]
    m["kpi.driver_gap_s"] = kpi["driver_gap_s"]

    curate = named("corpus_pipeline.curate_corpus")
    cp = tr.stats(curate)
    m["corpus_pipeline.self_s"] = sum(tr.self_s(s) for s in curate)
    m["corpus_pipeline.jobs"] = cp["jobs"]
    m["corpus_pipeline.cpu_s"] = cp["cpu_s"]
    m["corpus_pipeline.shuffle_bytes"] = cp["shuffle_bytes"]
    m["corpus_pipeline.driver_gap_s"] = cp["driver_gap_s"]
    closure = tr.stats(named("graph.dedup_transitive"))
    m["graph.closure_s"] = closure["wall_s"]
    m["graph.closure_jobs"] = closure["jobs"]

    mm = tr.stats(prefixed("multimodal."))
    m["multimodal.build_s"] = wall(prefixed("multimodal.build."))
    m["multimodal.exec_s"] = wall(prefixed("multimodal.exec."))
    m["multimodal.tasks"] = mm["tasks"]
    m["multimodal.python_wait_s"] = mm["python_wait_s"]
    st = tr.stats(prefixed("streaming."))
    m["streaming.build_s"] = wall(prefixed("streaming.build."))
    m["streaming.exec_s"] = wall(prefixed("streaming.exec."))
    m["streaming.jobs"] = st["jobs"]
    m["streaming.driver_gap_s"] = st["driver_gap_s"]

    op = tr.stats(named("op"))
    m["jvm.gc_s"] = op["gc_s"]
    m["spark.failed_tasks"] = op["failed_tasks"]
    return m


def _median(values: list) -> float:
    return statistics.median(values) if values else 0.0


def _prepare_env(work: str) -> None:
    """Keep every file a run leaves inside ``work``, and put the package
    on the Python workers' path (mapInPandas workers import it)."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM of the run, the spark-submit launcher included: temp files
    # in `work`, and no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in (PKG, "tests/oracle_util.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; expected one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from airflow_project_flight_price_analysis_spark.session import get_spark

    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    t_session = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    try:
        chk = workloads.Checks()
        off = Tracer(spark, "off", enabled=False)
        t_warm = time.perf_counter()
        wl.warmup(spark, off, chk)
        t_ready = time.perf_counter()
        setup = {"setup_s": t_ready - T0, "session.start_s": t_warm - t_session,
                 "session.warmup_s": t_ready - t_warm}

        tr = Tracer(spark, f"{args.workload}-{args.seed}", enabled=bool(args.trace))
        plain, traced, layers = [], [], []
        while True:
            use_trace = bool(args.trace) and len(traced) < len(plain)
            t = time.perf_counter()
            if use_trace:
                first = len(tr.spans)
                with tr.span("op"):
                    parts = wl.op(spark, tr, chk)
                tr.harvest()
                layers.append(layer_metrics(tr, tr.spans[first:]))
            else:
                parts = wl.op(spark, off, chk)
            if parts:
                # op_s: the public calls only; wall_s adds checks and tracing
                (traced if use_trace else plain).append({
                    **parts, "op_s": sum(v for k, v in parts.items() if k.endswith("_s")),
                    "wall_s": time.perf_counter() - t})
            elapsed = time.perf_counter() - t_ready
            if elapsed >= args.seconds and plain and (traced or not args.trace):
                break
            if elapsed >= max(args.seconds, 1) * 4 + 60:
                break  # every operation keeps failing; report what was seen
    finally:
        _stop(spark)

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "nproc": len(os.sched_getaffinity(0)),
        "ops": len(plain),
        "op_s_each": [{k: round(v, 3) for k, v in p.items()} for p in plain],
        "setup": setup,
        "medians": {k: _median([p[k] for p in plain if k in p])
                    for k in ["op_s"] + PARTS if any(k in p for p in plain)},
        "errors": chk.errors[:20],
    }
    if args.trace:
        values = {
            **{k: _median([m.get(k, 0.0) for m in layers]) for k, _ in PER_LAYER},
            **{k: v for k, v in setup.items() if k != "setup_s"},
            **{k: _median([p[k] for p in plain if k in p]) for k in PARTS},
            "trace.overhead_s": (_median([p["wall_s"] for p in traced])
                                 - _median([p["wall_s"] for p in plain])),
            "fail_ratio": chk.failed / max(chk.attempted, 1),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER}
        os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
        record = {**tr.record(), "layers_per_op": layers, "detail": detail}
        with open(os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}.json"),
                  "w") as fh:
            json.dump(record, fh, indent=1)
        detail["self_sum_ok"] = record["self_sum_ok"]
    else:
        metrics = {
            "op_s": {"value": _median([p["op_s"] for p in plain]), "unit": "s"},
            "setup_s": {"value": setup["setup_s"], "unit": "s"},
        }
    print(json.dumps(detail), flush=True)
    print(json.dumps({"correct": chk.failed == 0, "attempted": chk.attempted,
                      "failed": chk.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
