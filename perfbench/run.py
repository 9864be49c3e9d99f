"""Link-graph benchmark: one workload, one seed, one driver process.

Run from the root of a checkout::

    python3 perfbench/run.py --workload crawl_pagerank --seed 1 --seconds 5 --trace 0

A run starts a ``local[nproc]`` session sized from the host, generates the
seed's inputs, warms the JVM with one pass over a separate crawl of the same
size, then repeats the workload's pass (a closed loop of one client) until
``--seconds`` have been spent in passes, and gates every call's output
against networkx.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the run adds one traced pass and the layer probes
(``layers.py``) and the last line carries the per-layer metrics, including
the tracing overhead (traced pass minus untraced pass). The line before it
is the full record: host load and steal before and after, set-up phases,
per-call times and the workload's own figures. Records and spans are also
written under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Input generation repeats this many times in set-up and reports the median;
# session start and the warm-up pass happen once.
SETUP_REPEATS = 3


def parse_args():
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def main() -> int:
    args = parse_args()
    import linkgraph  # noqa: F401  (the program under test must be present)

    from perfbench import harness as H
    from perfbench import layers as L
    from perfbench import reference as R
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    base = os.path.join(ROOT, ".perfbench_work")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(base, "runs", run_id)
    cores = H.host_cores()
    load_before = H.host_load()

    t0 = time.perf_counter()
    spark, driver_mb = H.start_spark(work, cores)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, run_id, enabled=False)
        bench = H.Bench(spark, work, args.seed, tracer)
        wl = WORKLOADS[args.workload](bench)
        inputs_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare()
            inputs_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + H.median(inputs_s) + warm_s

        passes = []
        t_loop = time.perf_counter()
        while not passes or time.perf_counter() - t_loop < args.seconds:
            with tracer.span("pass", i=len(passes)):
                passes.append(wl.run_pass(len(passes)))
        loop_s = time.perf_counter() - t_loop
        peak_rss = H.jvm_peak_rss_mb()

        traced, probes, overhead_s = [], [], None
        if args.trace:
            tracer.enabled = True
            with tracer.span("pass", i="traced"):
                traced = wl.run_pass("traced")
            with tracer.span("probes"):
                probes = L.run_probes(bench, wl, traced)
            tracer.enabled = False
            overhead_s = sum(c["wall_s"] for c in traced) - H.median(
                [sum(c["wall_s"] for c in p) for p in passes]
            )

        ref = R.cached(os.path.join(base, "ref", f"{args.workload}-{args.seed}.json"), wl.reference)
        calls = [c for p in passes for c in p] + traced
        failures = [
            f"{c['attrs'].get('i')}:{c['op']}: {reason}"
            for c in calls
            if (reason := wl.check(c, ref))
        ]
        failures += [f"probe:{c['op']}: {reason}" for c in probes if (reason := L.check_probe(c))]
        attempted = len(calls) + len(probes)

        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": {
                "cores": cores,
                "mem_total_mb": H.host_mem_mb(),
                "driver_mem_mb": driver_mb,
                "proc_before": load_before,
            },
            "setup": {"session_s": session_s, "inputs_s": inputs_s, "warm_up_s": warm_s, "setup_s": setup_s},
            "passes": len(passes),
            "wall_s": loop_s,
            "summary": {
                k: {"value": v, "unit": u}
                for k, (v, u) in wl.summary([c for p in passes for c in p]).items()
            },
            "calls": [
                {
                    "op": c["op"],
                    "wall_s": c["wall_s"],
                    "cpu_s": c["cpu_s"],
                    "pinned_rdds_left": c["pinned_rdds_left"],
                    **c["attrs"],
                }
                for c in calls
            ],
            "attempted": attempted,
            "failed": len(failures),
            "failures": failures,
        }
        if args.trace:
            tracer.collect()
            metrics = L.layer_metrics(tracer.spans, overhead_s, peak_rss)
        else:
            metrics = e2e_metrics(passes, setup_s)
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.write(os.path.join(base, "traces", f"{run_id}.jsonl"))
    finally:
        H.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    load_after = H.host_load()
    record["host"]["proc_after"] = load_after
    record["host"]["steal_share"] = H.steal_share(load_before, load_after)
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    with open(os.path.join(base, "records", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": record["metrics"],
            }
        )
    )
    return 0


def e2e_metrics(passes, setup_s: float) -> dict:
    """End-to-end metrics of the untraced passes; every workload reports
    each of them."""
    from perfbench.harness import median

    algos = [c for p in passes for c in p if c["op"] != "build"]
    work = sum(c["edges"] * c["supersteps"] for c in algos)
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (median([sum(c["wall_s"] for c in p) for p in passes]), "s"),
        "edges_per_s_iter": (work / sum(c["wall_s"] for c in algos), "1/s"),
    }


if __name__ == "__main__":
    sys.exit(main())
