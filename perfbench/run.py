"""Layered benchmark of the osm_addr_bot_spark engine.

    python3 perfbench/run.py --workload incremental_hourly --seed 42 --seconds 15 --trace 0
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --write-pins

One run builds its inputs from ``--seed``, starts the engine's default
``get_spark`` session on ``local[nproc]`` several times (``setup_s`` is
the median), then runs the workload's fixed op schedule back to back in
one driver process; the end-to-end metrics cover its measured ops. The
work is fixed so that every run's figures cover the same ops: on 4
cores the measured ops of every workload take longer than BENCHMARK.json's
``run_seconds``, and ``--seconds`` is only recorded. ``--trace 1`` runs
one untraced warm-up op, then traced ops that repeat it, and reports
the per-layer metrics.

The last stdout line is the result: ``{"correct", "attempted",
"failed", "metrics"}``. The line before it is the full run record
(host stamps, per-op walls and digests, gate errors), also written to
``.perfbench_out/``. The exit code is 0 only when the gate passes.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2
COVERAGE = (0.9, 1.05)  # traced wall the wrapped layers, plan build and sinks must account for
CANARY_ITERS = 500_000  # bench_extra.host_canary loop length (~0.4 s on a 4-core Xeon VM)

LAYERS = (
    "session", "pipeline", "parse", "fanout", "gates", "dedup", "duplicates", "place",
    "streets", "guilt", "report", "tiles", "checkpoint", "datapipe.dedup", "datapipe.text",
)
JOIN_LAYERS = ("duplicates", "place", "streets")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare_env(work: str) -> int:
    """Point the package, the JVM and every temp path at the checkout;
    returns the core count the session runs on."""
    nproc = len(os.sched_getaffinity(0))
    os.makedirs(f"{work}/tmp", exist_ok=True)
    sys.path[:0] = [ROOT]
    os.environ.pop("SPARK_SUBMIT_MODE", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=f"{work}/tmp",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    )
    tempfile.tempdir = f"{work}/tmp"  # tempfile caches TMPDIR on first use
    return nproc


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(setups: list[float], ops: list[dict]) -> dict[str, float]:
    wall = sum(o["wall_s"] for o in ops)
    return {
        "setup_s": _median(setups),
        "wall_s": wall,
        "cpu_s": sum(o["cpu_s"] for o in ops),
        "docs_per_s": sum(o["docs"] for o in ops) / wall if wall else 0.0,
    }


def per_layer(
    tv: dict, ev: dict, setups: list[float], ops: list[dict], ckpt_mb: float, rss_mb: float
) -> dict[str, float]:
    import eventlog

    m: dict[str, float] = {"session.start_s": _median(setups), "session.peak_rss_mb": rss_mb}
    for layer in LAYERS:
        r = eventlog.rollup(ev, layer)
        if layer == "pipeline":  # driver glue: jobs no layer claimed
            for k, v in eventlog.rollup(ev, "(none)").items():
                r[k] += v
        for k in ("jobs", "tasks", "failed_tasks"):
            m[f"{layer}.{k}"] = r[k]
    m["pipeline.plan_build_s"] = tv.get("pipeline.plan_build_s", 0.0)
    for layer in ("parse", "fanout", "gates", "dedup", *JOIN_LAYERS, "guilt", "report"):
        m[f"{layer}.exec_s"] = tv.get(f"{layer}.exec_s", 0.0)
        m[f"{layer}.rows_out"] = tv.get(f"{layer}.rows_out", 0)
    m["parse.input_mb"] = eventlog.rollup(ev, "parse")["input_mb"]
    for layer in JOIN_LAYERS:
        s = ev.get(layer, {})
        cand = s.get("candidates", 0)
        m[f"{layer}.candidates"] = cand
        m[f"{layer}.keep_ratio"] = m[f"{layer}.rows_out"] / cand if cand else 0.0
        for k in ("shuffle_write_mb", "spill_mb", "task_skew", "slot_idle_frac"):
            m[f"{layer}.{k}"] = s.get(k, 0.0)
    m["guilt.shuffle_write_mb"] = ev.get("guilt", {}).get("shuffle_write_mb", 0.0)
    m["report.slot_idle_frac"] = ev.get("report", {}).get("slot_idle_frac", 0.0)
    m["tiles.overlap.exec_s"] = tv.get("tiles.overlap.exec_s", 0.0)
    m["tiles.overlap.rows_out"] = tv.get("tiles.overlap.rows_out", 0)
    m["checkpoint.stage_write_s"] = tv.get("checkpoint.stage_write.exec_s", 0.0)
    m["checkpoint.lineage_s"] = tv.get("checkpoint.lineage.exec_s", 0.0)
    m["checkpoint.commit_s"] = tv.get("checkpoint.commit.exec_s", 0.0)
    m["checkpoint.bytes_written_mb"] = ckpt_mb
    m["checkpoint.backlog_rows"] = tv.get("checkpoint.backlog.rows_out", 0)
    d = "datapipe.dedup"
    for k in ("minhash", "simhash", "simhash_pairs", "ngram"):
        m[f"{d}.{k}.exec_s"] = tv.get(f"{d}.{k}.exec_s", 0.0)
    m[f"{d}.lsh.candidates"] = tv.get(f"{d}.lsh.rows_out", 0)
    checked = tv.get(f"{d}.lsh.checked", 0)
    m[f"{d}.lsh.precision"] = tv.get(f"{d}.lsh.true", 0) / checked if checked else 0.0
    m[f"{d}.components.sweeps"] = tv.get(f"{d}.components.sweeps", 0)
    m[f"{d}.ngram.shuffle_write_mb"] = ev.get(f"{d}.ngram", {}).get("shuffle_write_mb", 0.0)
    m["datapipe.text.winnow.exec_s"] = tv.get("datapipe.text.winnow.exec_s", 0.0)
    m["datapipe.text.winnow.pairs"] = tv.get("datapipe.text.winnow_pairs.rows_out", 0)
    traced = [o for o in ops if o["kind"] == "traced"]
    wall = sum(o["wall_s"] for o in traced)
    sink = sum(o["sink_s"] for o in traced)
    accounted = m["pipeline.plan_build_s"] + sink + sum(v for k, v in tv.items() if k.endswith(".exec_s"))
    m["trace.wall_s"] = wall
    m["trace.sink_s"] = sink
    m["trace.coverage"] = accounted / wall if wall else 0.0
    return m


def gate_ops(wl, name: str, seed: int, ops: list[dict], use_pins: bool = True) -> tuple[bool, list[str]]:
    """(pins applied, errors): digest every op's outputs, check each
    distinct op key once, and compare traced ops and pins."""
    import gate

    errors = []
    checked = set()
    for op in ops:
        outs = wl.outputs(op["out_dir"])
        op["digests"] = {k: gate.digest(t) for k, t in outs.items()}
        if op["key"] not in checked:
            checked.add(op["key"])
            errors += [f"{op['key']}: {e}" for e in wl.check(op["key"], outs)]
    errors += gate.consistent(ops)
    pinned, pin_errors = gate.check_pins(name, wl.params(seed), ops) if use_pins else (False, [])
    return pinned, errors + pin_errors


def run_bench(
    name: str, seed: int, seconds: float, trace: bool, keep_work: bool = False,
    wl=None, use_pins: bool = True,
) -> tuple[dict, dict]:
    """(result, record) of one run; ``wl`` overrides the named workload
    (the self-test runs smaller ones)."""
    run_id = f"{name}-s{seed}-t{int(trace)}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_tmp", run_id)
    nproc = prepare_env(work)

    import bench
    import bench_extra
    from osm_addr_bot_spark.pipeline import PERSIST_LEVEL

    import eventlog
    import harness
    import tracing

    stamps = {"nproc": nproc, "foreign_spark_pids_before": bench.foreign_spark_pids(),
              "host_canary_iters": CANARY_ITERS,
              "host_canary_before": bench_extra.host_canary(CANARY_ITERS)}
    wl = wl or harness.WORKLOADS[name]()
    try:
        wl.prepare(seed, work)
        setups = []
        for i in range(SETUPS if not trace else 1):
            spark, s = harness.start_session(work, event_log=trace)
            setups.append(s)
            if i < (SETUPS if not trace else 1) - 1:
                harness.stop_session(spark)

        tracer = tracing.Tracer(spark, run_id, PERSIST_LEVEL)
        ops: list[dict] = []
        errors: list[str] = []
        attempted = failed = 0
        try:
            for i, op_kind in enumerate(wl.schedule(trace)):
                traced = op_kind == "traced"
                if traced and not tracer.spans:
                    wl.before_traced(tracer)
                out_dir = f"{work}/out/{i}"
                attempted += 1
                cpu0, steal0 = harness.tree_cpu_s(), harness.steal_s()
                try:
                    if traced:
                        with tracer.span(f"op{i}"), tracer.described("pipeline"):
                            op = wl.op(spark, out_dir)
                        wl.after_traced(tracer)
                    else:
                        op = wl.op(spark, out_dir)
                except Exception as e:  # noqa: BLE001 — counted, reported, and fails the gate
                    traceback.print_exc()
                    failed += 1
                    errors.append(f"op {i}: {type(e).__name__}: {str(e)[:500]}")
                    break
                finally:
                    spark.catalog.clearCache()
                op.update(kind=op_kind, out_dir=out_dir, cpu_s=harness.tree_cpu_s() - cpu0,
                          steal_s=harness.steal_s() - steal0)
                ops.append(op)
        finally:
            tracer.uninstall()
        rss_mb = harness.jvm_peak_rss_mb()
        app_id = spark.sparkContext.applicationId
        ckpt_mb = sum(harness.dir_mb(c) for c in {o.get("ckpt") for o in ops if o["kind"] == "traced"})
        harness.stop_session(spark)
        stamps["host_canary_after"] = bench_extra.host_canary(CANARY_ITERS)
        stamps["foreign_spark_pids_after"] = bench.foreign_spark_pids()
        stamps["contaminated"] = bool(stamps["foreign_spark_pids_before"] or stamps["foreign_spark_pids_after"])
        if stamps["contaminated"]:
            errors.append("contaminated: other Spark/pytest processes were running")

        pinned, gate_errors = gate_ops(wl, name, seed, ops, use_pins)
        errors += gate_errors
        if len(ops) < len(wl.schedule(trace)):
            errors.append(f"only {len(ops)} ops completed")

        if trace:
            (log,) = glob.glob(os.path.join(work, "eventlog", f"*{app_id}*"))
            ev = eventlog.layer_stats(log, nproc, since_ms=int(tracer.spans[0]["start"] * 1000) if tracer.spans else 0)
            metrics = per_layer(tracer.values, ev, setups, ops, ckpt_mb, rss_mb)
            kind = "per_layer"
            if not COVERAGE[0] <= metrics["trace.coverage"] <= COVERAGE[1]:
                errors.append(f"layers account for {metrics['trace.coverage']:.3f} of the traced wall, "
                              f"outside {COVERAGE}")
        else:
            metrics = end_to_end(setups, [o for o in ops if o["kind"] == "measured"])
            kind = "end_to_end"
        units = {m["name"]: m["unit"] for m in spec()[kind]}
        missing = set(units) ^ set(metrics)
        if missing:
            errors.append(f"metric set differs from BENCHMARK.json: {sorted(missing)}")
        result = {
            "correct": not errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()},
        }
        record = {
            "run_id": run_id, "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
            "params": wl.params(seed), "pins_applied": pinned, **stamps,
            "setups_s": setups, "peak_rss_mb": rss_mb,
            "ops": [{k: o[k] for k in ("key", "kind", "wall_s", "cpu_s", "steal_s", "sink_s", "docs", "digests")}
                    for o in ops],
            "error_rate": failed / attempted if attempted else 0.0,
            "errors": errors, "result": result, "work": work if keep_work else None,
        }
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
            json.dump(record, f, indent=1)
        if trace:
            with open(os.path.join(out_dir, f"{run_id}.spans.json"), "w") as f:
                json.dump(tracer.dump(), f)
        return result, record
    finally:
        if not keep_work:
            shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--write-pins", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "osm_addr_bot_spark")):
        print(f"perfbench: no osm_addr_bot_spark package next to {HERE}", file=sys.stderr)
        return 2
    if args.self_test or args.write_pins:
        import selftest

        return selftest.main(args.write_pins)
    if not args.workload:
        ap.error("--workload is required")
    result, record = run_bench(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(record), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
