"""Scaling-efficiency evidence for the north_rule (N vs 4N).

No real cluster exists in this sandbox, so per the driver's rule the
two-cluster-size criterion is evidenced by running the IDENTICAL job
at two parallelism levels on identical input: local[N] and local[4N].

Job = the headline pipeline: synthesize the (repo,path,commit,lang,
content) corpus → tokenize (code-aware) → build + persist compressed
sharded postings → run the BM25 WAND query set. Corpus size is chosen
so compute (tokenize/encode — the part that scales) dominates fixed
driver overhead, which a real 4N-executor cluster would also amortize.

Prints one JSON line and appends a row to BASELINE.md when run with
--update-baseline.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

N_DOCS = int(os.environ.get("SCALING_N_DOCS", "80000"))
N_SMALL = int(os.environ.get("SCALING_N", "8"))
# Probe gate (VERDICT r5 next #4): this VM's 8-vs-32-process pure-CPU
# ceiling swings 2.8x-4.05x within the hour with co-tenant load; Spark
# scaling rows measured in sub-3.5x windows are noise, not signal.
# The probe runs FIRST and the bench refuses to record a row below
# the gate — "quiet window" is protocol now, not narrative.
MIN_PROBE = float(os.environ.get("SCALING_MIN_PROBE", "3.5"))

_PROBE_CHILD = r"""
import os, sys, time
# single-threaded pure-Python work: no BLAS threads (a numpy matmul
# here oversubscribes at 32 procs and fakes a ~1.1x ceiling)
x = 88172645463325252
t0 = time.perf_counter()
for _ in range(4_000_000):
    x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 7
    x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
print(time.perf_counter() - t0)
"""


def _probe_level(nproc: int) -> float:
    """Aggregate throughput (work-units/s) of `nproc` concurrent
    single-threaded pure-Python processes."""
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1",
               MKL_NUM_THREADS="1")
    t0 = time.perf_counter()
    procs = [
        subprocess.Popen([sys.executable, "-c", _PROBE_CHILD],
                         stdout=subprocess.PIPE, env=env)
        for _ in range(nproc)
    ]
    for p in procs:
        p.wait()
    return nproc / (time.perf_counter() - t0)


def cpu_ceiling_probe() -> float:
    """8-vs-32-process pure-CPU throughput ratio (ideal 4.0 on 32
    cores). Interleaved small,big,small,big; best per level."""
    s1 = _probe_level(N_SMALL)
    b1 = _probe_level(N_SMALL * 4)
    s2 = _probe_level(N_SMALL)
    b2 = _probe_level(N_SMALL * 4)
    return max(b1, b2) / max(s1, s2)
QUERIES = ["the return license", "getUserName parseHttpRequest", "sparklight", "sym7 sym42 merge"]

# The WORK is identical at both levels: same corpus partitioning, same
# shard count, same shuffle partitioning — only executor-thread count
# differs (exactly what N-vs-4N executors changes on a real cluster).
# One warmup build amortizes JVM/codegen warmup; best-of-2 timed runs
# suppresses single-machine noise.
_CHILD = r"""
import json, sys, tempfile, time, shutil
cpus = int(sys.argv[1]); n_docs = int(sys.argv[2])
from lighthouse_spark import get_spark
from lighthouse_spark.sources.corpus import synthetic_corpus
from lighthouse_spark.sources.store import build_and_save
from lighthouse_spark.plans.indexer import FieldSpec
from lighthouse_spark.operators import wand
from lighthouse_spark.functions.analysis import tokenize_text

spark = get_spark("scaling", cpus=cpus, shuffle_partitions=128)
docs = synthetic_corpus(spark, n_docs, partitions=128).cache()
docs.count()  # materialize input outside the timed window

def one_build(tag):
    d = tempfile.mkdtemp(prefix=f"scal{cpus}{tag}_")
    t0 = time.time()
    ci = build_and_save(docs, "doc_id", {"content": FieldSpec("content")}, d + "/idx",
                        mode="code", n_shards=64)
    return time.time() - t0, d, ci

# warmup (JVM + codegen + python worker pool)
_, dw, _ = one_build("w")
shutil.rmtree(dw, ignore_errors=True)
b1, d1, ci = one_build("a")
b2, d2, ci2 = one_build("b")
shutil.rmtree(d2, ignore_errors=True)
build_s = min(b1, b2)
qs = %QUERIES%
res = {}
t0 = time.time()
for q in qs:
    rows = wand.wand_topk(ci, "content", tokenize_text(q, "code"), k=10).collect()
    res[q] = [(r["doc_id"], round(r["score"], 9)) for r in rows]
query_s = time.time() - t0
shutil.rmtree(d1, ignore_errors=True)
spark.stop()
print("CHILD:" + json.dumps({"cpus": cpus, "build_s": build_s, "query_s": query_s,
                             "docs_per_sec": n_docs / build_s, "results": res}))
"""


def run_level(cpus: int) -> dict:
    code = _CHILD.replace("%QUERIES%", repr(QUERIES))
    cmd = [sys.executable, "-c", code, str(cpus), str(N_DOCS)]
    # SCALING_TASKSET=1 pins each level's WHOLE process tree (JVM task
    # threads AND the Arrow/pandas python workers) to exactly `cpus`
    # cores. Without it, "local[8]" on this 32-vCPU box is only 8 JVM
    # task threads — the r8 build's python workers, arrow serializer
    # and GC threads spill onto the other 24 idle vCPUs, so the small
    # level borrows silicon a real 8-core node would not have and the
    # N-vs-4N efficiency reads artificially low. Pinning restores the
    # proxy's meaning for a pipeline that does its heavy lifting
    # outside the JVM task threads.
    if os.environ.get("SCALING_TASKSET"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    p = subprocess.run(
        cmd,
        capture_output=True, text=True, cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    for line in p.stdout.splitlines():
        if line.startswith("CHILD:"):
            return json.loads(line[6:])
    raise RuntimeError(f"child local[{cpus}] failed:\n{p.stdout[-2000:]}\n{p.stderr[-4000:]}")


def _best(a: dict, b: dict) -> dict:
    return a if a["build_s"] <= b["build_s"] else b


def main() -> None:
    # interleave the two levels (N, 4N, N, 4N) and take each level's
    # best run: single-machine background noise drifts on the minutes
    # scale and would otherwise bias whichever level ran later.
    # SCALING_ROUNDS=1 runs each level once (each child still does a
    # warmup build + best-of-2 timed builds internally).
    rounds = int(os.environ.get("SCALING_ROUNDS", "2"))
    probe = cpu_ceiling_probe()
    if probe < MIN_PROBE and "--force" not in sys.argv:
        print(json.dumps({
            "metric": "scaling_efficiency_build_throughput",
            "gated": True,
            "cpu_probe_ratio": round(probe, 3),
            "min_probe": MIN_PROBE,
            "note": "co-tenant window — no row recorded; retry when quiet",
        }))
        return
    # SCALING_BIG_FIRST=1 runs the 4N level first: on a VM whose quiet
    # windows flicker on the minutes scale, the start-gated window is
    # freshest for whichever level runs first, and the 32-way level is
    # the one a mid-run burst hurts most (observed r7/r8: every gated
    # attempt's window collapsed within ~2 min, so small-first
    # systematically deflated efficiency). The end probe below makes
    # the collapse visible per row either way.
    # The order holds in every round.
    big_first = bool(os.environ.get("SCALING_BIG_FIRST"))
    order = [N_SMALL * 4, N_SMALL] if big_first else [N_SMALL, N_SMALL * 4]
    best: dict[int, dict] = {}
    for _ in range(rounds):
        for n in order:
            r = run_level(n)
            best[n] = _best(best[n], r) if n in best else r
    small, big = best[N_SMALL], best[N_SMALL * 4]
    probe_end = cpu_ceiling_probe()
    identical = small["results"] == big["results"]
    eff = (big["docs_per_sec"] / small["docs_per_sec"]) / 4.0
    out = {
        "metric": "scaling_efficiency_build_throughput",
        "n_docs": N_DOCS,
        "levels": {
            f"local[{N_SMALL}]": {
                "build_s": round(small["build_s"], 2),
                "docs_per_sec": round(small["docs_per_sec"], 1),
                "query_s": round(small["query_s"], 2),
            },
            f"local[{N_SMALL * 4}]": {
                "build_s": round(big["build_s"], 2),
                "docs_per_sec": round(big["docs_per_sec"], 1),
                "query_s": round(big["query_s"], 2),
            },
        },
        "efficiency": round(eff, 3),
        "rank_identical_across_levels": identical,
        "cpu_probe_ratio": round(probe, 3),
        "cpu_probe_end_ratio": round(probe_end, 3),
        "pinned": bool(os.environ.get("SCALING_TASKSET")),
        "big_first": big_first,
    }
    print(json.dumps(out))
    if "--update-baseline" in sys.argv:
        row = (
            f"| measured {time.strftime('%Y-%m-%d')} | {N_DOCS} docs | "
            f"local[{N_SMALL}]: {out['levels'][f'local[{N_SMALL}]']['docs_per_sec']} docs/s | "
            f"local[{N_SMALL*4}]: {out['levels'][f'local[{N_SMALL*4}]']['docs_per_sec']} docs/s | "
            f"efficiency {out['efficiency']} | rank-identical: {identical} | "
            f"cpu-probe {out['cpu_probe_ratio']}x→{out['cpu_probe_end_ratio']}x |"
            + (" pinned |" if out["pinned"] else "")
            + (" big-first |" if big_first else "") + "\n"
        )
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BASELINE.md"), "a") as f:
            f.write(row)


if __name__ == "__main__":
    main()
