"""Self-test of the benchmark, and the pin writer.

``python3 perfbench/run.py --self-test`` checks, on small inputs:

  * an untraced and a traced run pass the gate, print exactly the
    BENCHMARK.json metrics with their units, and keep the result schema;
  * a corrupted output (one report without its sign-off, one issue row
    dropped) fails the gate;
  * the 12k-document seed-42 world with the full 8-hour window still
    yields 13409 issues, 5595 reports and 581 overlap tiles.

``python3 perfbench/run.py --write-pins`` runs every workload at its
default seed and writes the per-op digests to perfbench/pins.json.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

import run

DEFAULT_SEED = 42
FULL_WINDOW = {"n_docs": 12000, "seed": 42, "issues": 13409, "reports": 5595, "overlap": 581}


def _check_result(result: dict, kind: str) -> list[str]:
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(result)}")
    if not (isinstance(result["attempted"], int) and result["attempted"] >= 1 and isinstance(result["failed"], int)):
        errors.append("attempted/failed are not whole numbers with attempted >= 1")
    want = {m["name"]: m["unit"] for m in run.spec()[kind]}
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    if got != want:
        errors.append(f"{kind} metrics/units differ: {sorted(set(got.items()) ^ set(want.items()))[:6]}")
    for k, v in result["metrics"].items():
        if set(v) != {"value", "unit"} or not isinstance(v["value"], (int, float)):
            errors.append(f"metric {k} is not {{value, unit}} with a number")
    if not result["correct"]:
        errors.append("gate failed on a clean run")
    return errors


def _corrupt(out_dir: str) -> None:
    """Drop the sign-off of one report and one issue row, in place."""
    for name, fix in (
        ("reports", lambda t: t.set_column(
            t.schema.get_field_index("message"), "message",
            pa.array([m[:-1] if i == 0 else m for i, m in enumerate(t.column("message").to_pylist())]))),
        ("issues", lambda t: t.slice(1)),
    ):
        path = os.path.join(out_dir, name)
        table = fix(pq.read_table(path))
        for f in os.listdir(path):
            os.remove(os.path.join(path, f))
        pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _full_window_counts(work: str) -> dict:
    """Issue/report/overlap counts of the full 8-hour window over the
    12k-document world, through the engine's default session."""
    import harness
    from osm_addr_bot_spark.datagen import T0, WINDOW_S, generate
    from osm_addr_bot_spark.pipeline import run_pipeline

    run.prepare_env(work)
    world = f"{work}/world12k"
    generate(world, n_docs=FULL_WINDOW["n_docs"], seed=FULL_WINDOW["seed"])
    spark, _ = harness.start_session(work)
    try:
        out = run_pipeline(spark, world, start_ts=T0, end_ts=T0 + WINDOW_S)
        return {n: out[n].count() for n in ("issues", "reports", "overlap")}
    finally:
        harness.stop_session(spark)


def self_test() -> int:
    import harness

    errors: list[str] = []
    tiny = harness.HourlyWorkload(n_docs=300)
    result, record = run.run_bench("incremental_hourly", 7, 0, False, keep_work=True, wl=tiny, use_pins=False)
    errors += [f"untraced: {e}" for e in _check_result(result, "end_to_end") + record["errors"]]
    try:
        # the same ops, re-gated after corrupting the last op's outputs
        ops = [dict(o, out_dir=f"{record['work']}/out/{i}") for i, o in enumerate(record["ops"])]
        _corrupt(ops[-1]["out_dir"])
        _, corrupted = run.gate_ops(tiny, "incremental_hourly", 7, ops, use_pins=False)
        if not corrupted:
            errors.append("a corrupted output passed the gate")
        print(f"corrupted output -> {len(corrupted)} gate errors, e.g. {corrupted[:2]}", flush=True)
    finally:
        shutil.rmtree(record["work"], ignore_errors=True)

    tiny_traced = harness.HourlyWorkload(n_docs=300)
    result, record = run.run_bench("incremental_hourly", 7, 0, True, wl=tiny_traced, use_pins=False)
    errors += [f"traced: {e}" for e in _check_result(result, "per_layer") + record["errors"]]
    cov = result["metrics"]["trace.coverage"]["value"]
    print(f"traced coverage {cov:.3f}", flush=True)

    work = os.path.join(run.ROOT, ".perfbench_tmp", f"selftest-{os.getpid()}")
    try:
        counts = _full_window_counts(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    want = {k: FULL_WINDOW[k] for k in ("issues", "reports", "overlap")}
    if counts != want:
        errors.append(f"12k-doc full window: {counts} != {want}")
    print(f"12k-doc full window: {counts}", flush=True)

    for e in errors:
        print(f"SELF-TEST FAIL: {e}", flush=True)
    print("self-test", "failed" if errors else "passed", flush=True)
    return 1 if errors else 0


def write_pins() -> int:
    import harness

    pins = {}
    for name in harness.WORKLOADS:
        t0 = time.time()
        result, record = run.run_bench(name, DEFAULT_SEED, run.spec()["run_seconds"], False, use_pins=False)
        if not result["correct"]:
            print(f"{name}: gate failed, not pinned: {record['errors']}", flush=True)
            return 1
        pins[name] = {
            "params": record["params"],
            "outputs": {o["key"]: o["digests"] for o in record["ops"]},
        }
        print(f"{name}: pinned {sorted(pins[name]['outputs'])} in {time.time() - t0:.0f} s", flush=True)
    with open(os.path.join(run.HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


def main(write_pins_only: bool = False) -> int:
    return write_pins() if write_pins_only else self_test()
