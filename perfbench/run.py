"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. ``--trace 0`` measures and prints the
end-to-end metrics; ``--trace 1`` runs the same workload with spans
around the program's entry points and prints the per-layer metrics.
Either way the last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``, and a fuller
artifact (machine, latencies, spans) is written under
``perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# end-to-end metric -> unit; every workload reports all of them
E2E_UNITS = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "store_bytes_per_input_byte": "ratio",
    "latency_p50_s": "s",
    "requests_per_s": "1/s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _import_program() -> bool:
    """Make the checkout importable here and in Spark's Python workers."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    try:
        import lighthouse_spark  # noqa: F401
        import tests.oracle_composite  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return False
    return True


def main(argv=None) -> int:
    args = _args(argv)
    # a SIGTERM (e.g. from a timeout) unwinds through the finally below,
    # which stops the JVM and its Python workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not _import_program():
        return 2
    from perfbench import harness, layers
    from perfbench.workloads import REQUIRED_WRAPPERS, WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = harness.fresh_dir(
        os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}"))
    info = harness.machine()
    probe0 = harness.cpu_probe()
    ticks0 = harness.cpu_ticks()
    rss = harness.RssSampler().start()
    t_session = time.perf_counter()
    spark = harness.start_session(info, work)
    session_s = time.perf_counter() - t_session
    tracer = None
    try:
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.install()
        ctx = Ctx(spark=spark, work=work, seed=args.seed, seconds=args.seconds,
                  nproc=info["nproc"], tracer=tracer)
        res = WORKLOADS[args.workload](ctx)
        if tracer is not None:
            tracer.uninstall()
            tracer.check_fired(REQUIRED_WRAPPERS[args.workload])
            probe1 = harness.cpu_probe()
            metrics, detail = layers.compute(tracer, ctx, res, session_s, (probe0, probe1),
                                             info["nproc"])
            units = layers.UNITS
    finally:
        harness.stop_session(spark)
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    ticks1 = harness.cpu_ticks()
    steal_share = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])

    led = ctx.ledger
    lat = res["op_latencies"]
    if not lat:
        print("perfbench: no timed operation completed", file=sys.stderr)
        return 3
    setup_s = session_s + sum(ctx.setup.values())
    if tracer is None:
        metrics = {
            "setup_s": setup_s,
            "build_docs_per_s": res["build_docs_per_s"],
            "store_bytes_per_input_byte": res["store_bytes_per_input_byte"],
            "latency_p50_s": harness.median(lat),
            "requests_per_s": res["requests"] / res["loop_s"],
        }
        units = E2E_UNITS
        detail = {}
    else:
        metrics["peak_rss_mb"] = peak_mb
    for name, ok, msg in led.checks:
        if not ok:
            print(f"perfbench: check failed: {name}: {msg}", file=sys.stderr)
    parts = " ".join(f"{k}={v:.2f}s" for k, v in ctx.setup.items())
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(lat)} ops (op = {res['unit']}), p50={harness.median(lat):.4f}s, "
          f"setup={setup_s:.2f}s (session={session_s:.2f}s {parts}), steal={steal_share:.3f}, "
          f"wall={time.perf_counter() - T_START:.1f}s", file=sys.stderr)
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "machine": info, "session_s": session_s, "setup": ctx.setup,
        "peak_rss_parts_mb": rss.peak_parts, "host_steal_share": steal_share,
        "ops": [(o.kind, o.seconds, o.ok) for o in led.ops],
        "checks": led.checks,
        "result": {k: v for k, v in res.items() if isinstance(v, (int, float, str))},
        "metrics": metrics, **detail,
    }
    out_dir = os.path.join(ROOT, "perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(artifact, f, default=str)
    print(json.dumps({
        "correct": led.failed == 0,
        "attempted": led.attempted,
        "failed": led.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
