"""The repository benchmark: one command, named workloads, verified outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see BENCHMARK.json for why each
was chosen):

- ``dbt_daily``: each op is one ``Engine.run()`` plus ``Engine.test()`` of an
  eight-model dbt project on a freshly generated day batch.
- ``corpus_curation``: each op is one extension operator of the query
  catalog over a generated corpus.

Both are closed loops with one client on ``local[<all cores>]``: an op starts
only after the previous one finished. All inputs come from ``--seed``.

With ``--trace 0`` the run measures the end-to-end metrics. With
``--trace 1`` the benchmark's own wrappers record a span around every call
into the program's layers, count Spark jobs, stages and tasks per op, and
report the per-layer metrics; spans are written to ``.perfbench_out/``.

Set-up time ``setup_s`` runs once per process: the session start (program
import plus ``get_spark``), the workload's preparation (source registration,
and the initial build on ``dbt_daily``) and the warm-up ops. A JVM start and
a cold first build cannot be repeated inside one process, so steadiness of
``setup_s`` comes from the median over runs. Input generation and the
correctness checks are outside every timed interval.

See perfbench/README.md for the metrics, the tracing and the measured
spreads behind the bounds in BENCHMARK.json.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it is
a JSON report with every metric, its unit and what it is paired with.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# per-layer metric -> (unit, the end-to-end metric it should move)
PER_LAYER = {
    "session.get_spark_s": ("s", "setup_s on both workloads"),
    "sources.load_table_calls": ("count", "op_p50_s on corpus_curation"),
    "sources.load_table_s": ("s", "op_p50_s on corpus_curation"),
    "plans.build_s": ("s", "op_p50_s on corpus_curation"),
    "plans.exec_s": ("s", "op_p50_s on corpus_curation"),
    "spark.jobs": ("count", "op_p50_s on both workloads"),
    "spark.stages": ("count", "op_p50_s on both workloads"),
    "spark.tasks": ("count", "op_p50_s on both workloads"),
    "spark.tasks_failed": ("count", "op_p50_s and fail_ratio on both workloads"),
    "engine.run_s": ("s", "op_p50_s and rows_written_per_s on dbt_daily"),
    "engine.test_s": ("s", "op_p50_s on dbt_daily"),
    "engine.run_model_s.seed": ("s", "op_p50_s on dbt_daily"),
    "engine.run_model_s.view": ("s", "op_p50_s on dbt_daily"),
    "engine.run_model_s.table": ("s", "op_p50_s on dbt_daily"),
    "engine.run_model_s.merge": ("s", "op_p50_s and rows_written_per_s on dbt_daily"),
    "engine.run_model_s.append": ("s", "op_p50_s on dbt_daily"),
    "engine.run_model_s.insert_overwrite": ("s", "op_p50_s on dbt_daily"),
    "engine.run_model_s.snapshot": ("s", "op_p50_s on dbt_daily"),
    "engine.rows_written": ("count", "rows_written_per_s on dbt_daily"),
    "engine.merge_rewrite_ratio": ("ratio", "op_p50_s and rows_written_per_s on dbt_daily"),
    "catalog.partitions_written": ("count", "op_p50_s on dbt_daily"),
    "catalog.s_per_partition": ("s", "op_p50_s on dbt_daily"),
    "catalog.calls": ("count", "op_p50_s on dbt_daily"),
    "catalog.busy_s": ("s", "op_p50_s on dbt_daily"),
    "quality.checks": ("count", "engine.test_s and fail_ratio on dbt_daily"),
    "quality.failing_rows": ("count", "engine.test_s and fail_ratio on dbt_daily"),
    "extensions.cached_frames": ("count", "peak_rss_mb on corpus_curation"),
    "engine.bytes_on_disk": ("bytes", "storage_amp on dbt_daily"),
    "engine.bytes_live": ("bytes", "storage_amp on dbt_daily"),
    "sources.self_s": ("s", "op_p50_s on both workloads"),
    "plans.self_s": ("s", "op_p50_s on corpus_curation"),
    "engine.self_s": ("s", "op_p50_s on dbt_daily"),
    "catalog.self_s": ("s", "op_p50_s on dbt_daily"),
    "operators.self_s": ("s", "op_p50_s on dbt_daily"),
    "materializations.self_s": ("s", "op_p50_s on dbt_daily"),
    "quality.self_s": ("s", "op_p50_s on dbt_daily"),
    "extensions.self_s": ("s", "op_p50_s on corpus_curation"),
    "trace.overhead_s": ("s", "traced op_p50_s minus untraced op_p50_s"),
}
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_min": "1/min",
    "peak_rss_mb": "MB",
}


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["dbt_daily", "corpus_curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _check_metric_names() -> None:
    """BENCHMARK.json and this file must name the same metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if {m["name"] for m in spec["end_to_end"]} != set(END_TO_END) or \
            {m["name"] for m in spec["per_layer"]} != set(PER_LAYER):
        raise SystemExit("BENCHMARK.json and perfbench/run.py name different metrics")


def _percentile_with_10_beyond(values: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples above it, if any."""
    n = len(values)
    if n <= 10:
        return None, None
    q = (n - 10) / n
    s = sorted(values)
    return s[max(int(q * n) - 1, 0)], round(100 * q, 1)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the Spark JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def run(args: argparse.Namespace) -> int:
    from tracing import RssSampler, SparkWork, Tracer

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, the launcher's too, would write a perf-data file to /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        import workloads

        # -- inputs (outside every timed interval) -------------------------
        t = time.perf_counter()
        cls = {"dbt_daily": workloads.DbtDaily,
               "corpus_curation": workloads.CorpusCuration}[args.workload]
        wl = cls(None, work, args.seed)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = wl.jvm_heap
        # a traced run traces the 1st and 4th op of each kind and not the 2nd
        # and 3rd, so the overhead estimate is not skewed by the JVM still
        # getting faster from one op to the next
        min_ops = max(wl.min_ops, 4 * wl.pass_len if args.trace else 0)
        # every op takes over a second, so no run starts more ops than this
        max_ops = min_ops + int(args.seconds) + 1
        wl.make_inputs(max_ops)
        gen_s = time.perf_counter() - t

        # -- set-up ----------------------------------------------------------
        from dbt_glue_spark.session import get_spark

        tracer = Tracer()  # records nothing until made active
        tracer.active = bool(args.trace)
        with tracer.span("session.get_spark", "session"):
            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                warehouse_dir=os.path.join(work, "spark-warehouse"),
                extra_conf={"spark.driver.extraJavaOptions":
                            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"},
            )
        tracer.active = False
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - _T0 - gen_s  # imports + JVM start
        wl.spark = spark
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up(tracer)
        warm_s = time.perf_counter() - t
        setup_s = session_s + prepare_s + warm_s

        # -- timed phase -----------------------------------------------------
        sw = SparkWork(spark) if args.trace else None
        if args.trace:
            tracer.install()
        lat: list[float] = []
        traced: list[bool] = []
        per_op: list[dict[str, int]] = []
        seen: dict[str, int] = {}
        failed_ops: set[int] = set()
        errors: list[str] = []
        wall0_ms = int(time.time() * 1000)
        t_start = time.perf_counter()
        i = 0
        while True:
            elapsed = time.perf_counter() - t_start
            if i >= max_ops or (
                    i >= min_ops and i % wl.pass_len == 0 and elapsed >= args.seconds):
                break
            kind = wl.kind(i)
            on = bool(args.trace) and seen.get(kind, 0) % 4 in (0, 3)
            seen[kind] = seen.get(kind, 0) + 1
            if sw:
                sw.begin()
            tracer.op, tracer.active = i, on
            t_wall = time.time()
            t = time.perf_counter()
            try:
                if wl.op(i, tracer):
                    failed_ops.add(i)
            except Exception:  # noqa: BLE001 — a failed op counts, the loop goes on
                errors.append(traceback.format_exc(limit=3))
                failed_ops.add(i)
            lat.append(time.perf_counter() - t)
            traced.append(on)
            tracer.active = False
            if sw:
                per_op.append({**sw.end(), **wl.after_op(t_wall)})
            i += 1
        timed_s = time.perf_counter() - t_start
        wall1_ms = int(time.time() * 1000)
        tracer.uninstall()

        # -- correctness and report (outside every timed interval) ----------
        n = len(lat)
        problems, wrong = wl.verify(n)
        problems += [e.strip().splitlines()[-1] for e in errors]
        failed = len(failed_ops | wrong)
        rss.stop()
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(lat),
            "ops_per_min": 60.0 * n / timed_s,
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        tail, tail_pct = _percentile_with_10_beyond(lat)
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
            "op_p50_samples": n,
            "op_latencies_s": lat,
            "op_tail_s": tail, "op_tail_percentile": tail_pct,
            "fail_ratio": failed / n,
            **wl.report(wall0_ms, wall1_ms, n, timed_s),
            "timed_s": timed_s, "input_gen_s": gen_s,
            "setup_parts_s": {"session": session_s, "prepare": prepare_s,
                              "warm_up": warm_s},
            "peak_rss_by_process_mb": rss.peak_parts_mb,
            "problems": problems,
        }
        if args.trace:
            layer = _per_layer(wl, tracer, lat, traced, per_op, min_ops)
            report["per_layer"] = {k: {"value": v, "unit": PER_LAYER[k][0],
                                       "moves": PER_LAYER[k][1]} for k, v in layer.items()}
            report["per_op_counts"] = per_op[:min_ops]
            report["op_traced"] = traced
            tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                     f"spans-{args.workload}-seed{args.seed}.jsonl"))
            out = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in layer.items()}
        else:
            out = report["end_to_end"]
        print(json.dumps(report, default=str))
        print(json.dumps({"correct": not problems, "attempted": n, "failed": failed,
                          "metrics": out}))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)


def _per_layer(wl, tracer, lat, traced, per_op, k) -> dict[str, float]:
    """Per-layer metrics, per op, over the first ``k`` ops of a traced run.

    Counts come from all ``k`` ops and repeat exactly for the same code and
    seed; times come from the traced ones among them. A metric of a layer
    the workload does not use reads 0."""
    k = min(k, len(lat))  # fewer only when the run hit its time limit
    ops = {i for i in range(k) if traced[i]}

    def span_s(name: str) -> float:
        return tracer.total(ops, name)[1] / len(ops)

    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.get_spark_s"] = tracer.total({-1}, "session.get_spark")[1]
    for key in {key for c in per_op[:k] for key in c}:
        m[key] = sum(c[key] for c in per_op[:k]) / k
    m.update(wl.final_counts())
    calls, secs = tracer.total(ops, "sources.load_table")
    m["sources.load_table_calls"] = calls / len(ops)
    m["sources.load_table_s"] = secs / len(ops)
    for name in ("plans.build", "plans.exec", "engine.run", "engine.test"):
        m[f"{name}_s"] = span_s(name)
    for mat in ("seed", "view", "table", "merge", "append", "insert_overwrite", "snapshot"):
        m[f"engine.run_model_s.{mat}"] = span_s(f"engine.run_model.{mat}")
    if m["catalog.partitions_written"]:
        m["catalog.s_per_partition"] = (m["engine.run_model_s.insert_overwrite"]
                                        / m["catalog.partitions_written"])
    calls, busy = tracer.outer_total(ops, "catalog")
    m["catalog.calls"] = calls / len(ops)
    m["catalog.busy_s"] = busy / len(ops)
    m["quality.checks"] = tracer.outer_total(ops, "quality")[0] / len(ops)
    for layer, secs in tracer.self_times(ops).items():
        m[f"{layer}.self_s"] = secs / len(ops)
    on = [x for x, t in zip(lat, traced) if t]
    off = [x for x, t in zip(lat, traced) if not t]
    if on and off:
        m["trace.overhead_s"] = statistics.median(on) - statistics.median(off)
    return m


def main(argv: list[str] | None = None) -> int:
    args = _parse(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, "dbt_glue_spark")):
        print("perfbench: the program (dbt_glue_spark/) is not in this checkout",
              file=sys.stderr)
        return 2
    _check_metric_names()
    sys.path[:0] = [HERE, ROOT]
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
