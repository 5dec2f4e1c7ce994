"""Benchmark command: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run from the repository root.  The command starts Spark ``local[4]``
through ``runtime.session.get_spark``, sets the workload up twice (the
first launches the JVM and is ``setup_s``; the second starts a session
on the running JVM), then runs passes back to back until
``--seconds`` is spent, checks the outputs, and prints a readable report
followed by one JSON line.  With ``--trace 1`` it then runs one traced
pass, writes the spans to ``.perfbench-work/<workload>/spans.json`` and
reports the per-layer metrics of ``BENCHMARK.json`` instead of the
end-to-end ones.  A layer the workload never calls reads 0.  See
``perfbench/README.md``.

The exit code is 0 only when every operation and check passed.  All
scratch output stays under ``.perfbench-work/`` in the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["headline", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def scratch_env(work: str) -> None:
    """Keep the JVM's, Spark's and Python's scratch files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")  # Python workers
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def closed_loop(wl, spark, tracer, seconds: float, first: int, ref: dict | None,
                min_passes: int = 3):
    """Passes back to back until ``min_passes`` ran and the next one would
    overrun ``seconds``.  Three passes let a median drop one slow pass."""
    from harness import median

    passes = []
    deadline = time.perf_counter() + seconds
    i = first
    while True:
        wl.ops += 1
        try:
            res = wl.run_pass(spark, tracer, i)
        except Exception:  # noqa: BLE001 - a failed pass is counted, the loop goes on
            wl.failures.append(f"pass {i} raised:\n{traceback.format_exc()}")
            res = None
        i += 1
        if res is not None:
            ref = ref if ref is not None else res["hashes"]
            if res["hashes"] != ref:
                wl.failures.append(f"pass {i - 1} hashes {res['hashes']} != {ref}")
            passes.append(res)
        left = deadline - time.perf_counter()
        if i - first >= min_passes and left <= median([p["pass_s"] for p in passes] or [0.0]):
            return passes, ref


def span_totals(tracer) -> dict[str, float]:
    total: dict[str, float] = {}
    for s in tracer.spans:
        total[s["name"]] = total.get(s["name"], 0.0) + s["end"] - s["start"]
    return total


def layer_table(tracer, pass_name: str) -> tuple[list[str], float]:
    """Self time of each layer in the traced pass, and the share of the
    pass's wall that its layer spans cover; the rest is the pass's own
    time between layer calls.  Layer calls made outside the pass (the
    traced run's probes) are listed below it."""
    root = next(s for s in tracer.spans if s["name"] == pass_name)
    inside = tracer.subtree(root)
    wall = root["end"] - root["start"]
    own = tracer.self_times(inside)
    gap = own.pop(pass_name)
    lines = [f"  {'layer (traced pass)':<34}{'self s':>10}{'share':>9}"]
    for name, sec in sorted(own.items(), key=lambda kv: -kv[1]):
        lines.append(f"  {name:<34}{sec:>10.3f}{sec / wall:>9.1%}")
    lines.append(f"  {'(pass, between layers)':<34}{gap:>10.3f}{gap / wall:>9.1%}")
    lines.append(f"  layers cover {1 - gap / wall:.1%} of the traced pass's {wall:.3f} s")
    ids = {s["id"] for s in inside}
    rest = tracer.self_times([s for s in tracer.spans if s["id"] not in ids])
    lines.append(f"  {'layer (outside the pass)':<34}{'self s':>10}")
    for name, sec in sorted(rest.items(), key=lambda kv: -kv[1]):
        lines.append(f"  {name:<34}{sec:>10.3f}")
    return lines, 1 - gap / wall


def measure(wl, sess, args, work: str) -> dict:
    from harness import SETUPS, Tracer, host_ref_s, median, peak_rss_mb
    import checks
    # engine modules load before any clock starts: setup_s times Spark, not imports
    import eristropy_spark.operators.rollup  # noqa: F401
    import eristropy_spark.runtime.session  # noqa: F401
    import eristropy_spark.sources.tokens  # noqa: F401

    tracer = Tracer(bool(args.trace), f"{wl.name}-seed{args.seed}-{os.getpid()}")
    quiet = Tracer(False, "untraced")
    host_ref = [host_ref_s()]
    setups, session_s, input_s = [], [], []
    for k in range(SETUPS):
        if k:  # the JVM stays up: this set-up starts a session on it
            wl.release()
            sess.stop()
        t0 = time.perf_counter()
        with tracer.span("runtime.session"):
            spark = sess.start()
            wl.warm(spark)
        t1 = time.perf_counter()
        with tracer.span("sources.input"):
            wl.materialize(spark)
        t2 = time.perf_counter()
        setups.append(t2 - t0)
        session_s.append(t1 - t0)
        input_s.append(t2 - t1)

    wl.prepare(spark)
    passes, ref = closed_loop(wl, spark, quiet, args.seconds, 0, None)
    host_ref.append(host_ref_s())

    wl.ops += 1  # the correctness gate, on the last measured pass
    t0 = time.perf_counter()
    try:
        wl.check(spark)
    except Exception:  # noqa: BLE001 - a crashed check is a failed check
        wl.failures.append(f"check raised:\n{traceback.format_exc()}")
    checks_s = time.perf_counter() - t0

    traced = []
    if args.trace:  # one traced pass after the measured ones
        traced, ref = closed_loop(wl, spark, tracer, 0.0, len(passes), ref, min_passes=1)
        tracer.walk_plans()
    if ref is not None:
        wl.failures += checks.hashes_match_record(
            os.path.join(os.path.dirname(work), "hashes.json"),
            f"{wl.name}|seed={args.seed}|local[4]", ref, record_new=not wl.failures)

    out = {
        "setups": setups,
        "host_ref_s": host_ref,
        "passes": [p["pass_s"] for p in passes],
        "e2e": {
            "setup_s": (setups[0], "s"),
            "pass_s": (wl.pass_metric(passes) if passes else 0.0, "s"),
        },
        "peak_rss_mb": peak_rss_mb(),
        "checks_s": checks_s,
        "named": wl.named_metrics(passes) if passes else {},
        "query_s": [p["query_s"] for p in passes if "query_s" in p],
        "layers": {},
    }
    if traced and passes:
        span_s = span_totals(tracer)
        baseline = {"pass_s": median(out["passes"]), "hashes": ref}
        layers = {
            "runtime.peak_rss_mb": out["peak_rss_mb"],
            "runtime.session_s": session_s[0],
            "runtime.warm_setup_s": median(setups[1:]),
            "sources.input_s": median(input_s),
            "functions.entropy_points_s": span_s.get("functions.entropy_points", 0.0),
            "operators.make_stationary_s": span_s.get("operators.make_stationary", 0.0),
            "operators.cascade_cold_s": span_s.get("operators.cascade", 0.0),
            "operators.cascade_warm_s": span_s.get("operators.cascade_rerun", 0.0),
            "operators.gapfill_s": span_s.get("operators.gapfill_locf", 0.0),
            "runtime.publish_s": span_s.get("runtime.publish", 0.0),
            "trace.overhead_frac": traced[0]["pass_s"] / baseline["pass_s"] - 1.0,
            **tracer.plan.layer_metrics(),
        }
        try:
            layers.update(wl.trace_layers(sess, span_s, traced, baseline))
        except Exception:  # noqa: BLE001 - counted; the layer rows stay 0
            wl.failures.append(f"layer probes raised:\n{traceback.format_exc()}")
        out["table"], layers["trace.attributed_frac"] = layer_table(tracer, f"{wl.name}.pass")
        tracer.write(os.path.join(work, "spans.json"))
        out["layers"] = layers
    return out


def report(wl, args, out: dict, spec: dict) -> dict:
    attempted = max(1, wl.ops)
    failed = min(attempted, len(wl.failures))
    print(f"perfbench {wl.name} seed={args.seed} trace={args.trace} "
          f"load_avg={os.getloadavg()[0]:.2f} (context only)")
    print("  host_ref_s: " + " ".join(f"{s:.4f}" for s in out["host_ref_s"])
          + " (fixed NumPy sort before set-up and after the passes; context only)")
    print("  setups s (first launches the JVM): "
          + " ".join(f"{s:.3f}" for s in out["setups"]))
    print("  passes s: " + " ".join(f"{s:.3f}" for s in out["passes"]))
    print(f"  checks s: {out['checks_s']:.3f}")
    rows = dict(out["e2e"])
    rows.update(out["named"])
    rows["peak_rss_mb"] = (out["peak_rss_mb"], "MB")
    rows["failed_frac"] = (failed / attempted, f"ratio ({failed}/{attempted})")
    for name, (value, unit) in rows.items():
        print(f"  {name:<30}{value:>16.4f} {unit}")
    for name in out["query_s"][0] if out["query_s"] else []:
        times = " ".join(f"{p[name]:.3f}" for p in out["query_s"])
        print(f"    query {name:<26}{times} s")
    for msg in wl.failures:
        print("  FAILED: " + msg.replace("\n", "\n    "))
    if args.trace:
        print("\n".join(out.get("table", [])))
        metrics = {m["name"]: {"value": float(out["layers"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
        for name, value in sorted({**{k: m["value"] for k, m in metrics.items()},
                                   **out["layers"]}.items()):
            print(f"  {name:<42}{value:>18.4f}")
    else:
        metrics = {m["name"]: {"value": float(out["e2e"][m["name"]][0]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    return {"correct": not wl.failures, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "eristropy_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench-work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    scratch_env(work)
    sys.path[:0] = [HERE, ROOT]

    from harness import Session
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work)
    sess = Session()
    try:
        out = measure(wl, sess, args, work)
    finally:
        sess.shutdown()
    result = report(wl, args, out, spec)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
