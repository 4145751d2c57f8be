"""Benchmark entry point.

    python3 perfbench/run.py --workload refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, sets up the engine's Spark session on ``local[<usable cpus>]``
several times (the median is ``setup_s``), warms up, then measures for
``--seconds`` and checks every output. Human-readable report lines go to
stdout first; the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are BENCHMARK.json's ``end_to_end`` list, with ``--trace 1``
its ``per_layer`` list (a traced, fixed operation sequence).

Everything the run writes stays under ``.bench_work/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "atlassian_confluence_data_pipeline_spark"
SETUP_REPS = 5


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        return _fail(f"engine package {PACKAGE!r} not found under {ROOT}")
    try:
        spec = _load_spec()
    except (OSError, ValueError) as exc:
        return _fail(f"cannot read BENCHMARK.json: {exc}")
    names = sorted(w["name"] for w in spec["workloads"])
    if args.workload not in names:
        return _fail(f"unknown workload {args.workload!r}; valid: {names}")

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    # keep every temp file (Python, JVM, Spark scratch) inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.chdir(work)
    sys.path[:0] = [ROOT, HERE]

    import workloads
    from harness import Outcome, Session, cpus, median

    wl = workloads.WORKLOADS[args.workload](args.seed, work)
    sess = Session(work, cpus())
    out = Outcome()
    lines: list[str] = []
    metrics: dict[str, float] = {}
    try:
        setup_s, session_s = [], []
        t_start = time.perf_counter()
        for _ in range(SETUP_REPS):
            sess.stop()
            t0 = time.perf_counter()
            wl.generate(os.path.join(work, "inputs"))
            t1 = time.perf_counter()
            spark = sess.start()
            t2 = time.perf_counter()
            wl.prepare(spark)
            setup_s.append(time.perf_counter() - t0)
            session_s.append(t2 - t1)
        t_warm = time.perf_counter()
        wl.warm(spark, out)
        t_measure = time.perf_counter()
        lines.append(f"phase setup = {t_warm - t_start:.1f} s, warm-up = {t_measure - t_warm:.1f} s")
        if args.trace:
            layer, rec, untraced, traced, what = wl.traced(sess, out)
            layer["session.get_session_s"] = median(session_s)
            layer["session.cold_start_s"] = session_s[0]
            rec.dump(os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = layer
            lines.append(
                f"tracing overhead ({what}): traced {traced:.3f} s vs untraced "
                f"{untraced:.3f} s = {100.0 * (traced / untraced - 1.0):+.1f}%"
            )
            for name, value in sorted(getattr(wl, "baseline", {}).items()):
                lines.append(f"baseline {name} = {value[0]:.6g} {value[1]} (not gated)")
        else:
            e2e, report = wl.timed(sess, args.seconds, out)
            metrics = dict(e2e)
            for name, (value, unit, n) in report.items():
                lines.append(f"metric {name} = {value:.6g} {unit} (n={n})")
            lines.append(f"metric setup_s = {median(setup_s):.6g} s (n={len(setup_s)})")
            # only the first set-up launches the JVM; the median leaves it out
            lines.append(f"metric setup_cold_s = {setup_s[0]:.6g} s (n=1, not gated)")
            lines.append("setup reps: " + ", ".join(f"{x:.3f}" for x in setup_s) + " s")
        lines.append(f"phase measure and check = {time.perf_counter() - t_measure:.1f} s")
        metrics["setup_s"] = median(setup_s)
        driver_mb, jvm_mb = sess.rss_parts_mb()
        metrics["process.peak_rss_mb"] = driver_mb + jvm_mb
        lines.append(
            f"metric peak_rss_mb = {driver_mb + jvm_mb:.6g} MB "
            f"(driver {driver_mb:.0f} + JVM {jvm_mb:.0f}; n=1)"
        )
    except Exception:  # a failed operation is reported, not raised
        traceback.print_exc()
        out.op(False, "workload aborted")
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)

    key = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[key]}
    result = {}
    for name, unit in units.items():
        value = float(metrics.get(name, 0.0))
        result[name] = {"value": value, "unit": unit}
        if args.trace:
            lines.append(f"layer {name} = {value:.6g} {unit}")
    frac = out.failed / max(1, out.attempted)
    lines.append(f"metric ops_failed_frac = {frac:.6g} failed/attempted (n={out.attempted})")
    for p in out.problems:
        lines.append(f"problem: {p}")
    for line in lines:
        print(line)
    ok = out.failed == 0 and bool(metrics)
    print(json.dumps({
        "correct": ok,
        "attempted": max(1, out.attempted),
        "failed": out.failed if ok or out.failed else 1,
        "metrics": result,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
