"""ER pipeline benchmark: ``ERPipeline.run`` end to end on seeded corpora.

    python3 perfbench/run.py --workload crawl_dup --seed 1 --seconds 10 --trace 0

One run, in one process: start a local Spark session, generate the
workload's slices from the seed and write them as parquet, warm up on
slice 0 (the workload's extraction: Python worker pool and matchers),
then run the pipeline over fresh slices to a ``noop`` sink until
``--seconds`` of timed passes have elapsed, checking every pass's
output. ``--trace 1`` instead makes one traced pass that calls each
layer by hand (see ``layers.py``) and reports per-layer metrics. See
``README.md``.

The last stdout line is the JSON result; the line before it holds the
workload's input properties and the run's provenance.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host  # noqa: E402

MAX_TIMED_PASSES = 2


def timed_passes(spark, inputs, paths, run_dir, seconds) -> tuple[list, int, list]:
    """Untraced passes over fresh slices until ``seconds`` of passes have
    elapsed, each checked; then, for a durable workload, the resume
    check. -> (passes, checks attempted, failures)."""
    from perfbench.checks import Oracle
    from perfbench.passes import check_pass, resume_check, run_pass

    w = inputs.workload
    oracle = Oracle(inputs.word2ner, w.cfg)
    passes, failures = [], []
    attempted = k = 0
    timed = 0.0
    while k < MAX_TIMED_PASSES and (k == 0 or timed < seconds):
        k += 1
        out_dir = os.path.join(run_dir, f"pass{k}") if w.durable else None
        attempted += 1
        try:
            # RSS is sampled over the pass only, not over its checks
            ticks0 = host.cpu_ticks()
            with host.RssSampler(host.jvm_pid()) as sampler:
                secs, pipe, clusters, docs = run_pass(spark, inputs, paths[k], out_dir)
            ticks1 = host.cpu_ticks()
            timed += secs
            t0 = time.perf_counter()
            chk = check_pass(inputs, k, pipe, clusters, docs, oracle)
            chk["check_s"] = time.perf_counter() - t0
            pipe.unpersist()
        except Exception:  # a failed pass is counted, not fatal
            failures.append(f"pass {k}: {traceback.format_exc(limit=3)}")
            continue
        if chk["byte_mismatches"]:
            failures.append(f"pass {k}: extracted text differs for {chk['byte_mismatches'][:3]}")
        passes.append({"k": k, "out_dir": out_dir,
                       "docs": len(inputs.slices[k]), "seconds": secs,
                       "rss_mb": sampler.peak_mb,
                       "steal_share": (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
                       "stages": {m.name: m.seconds for m in pipe.metrics},
                       **chk})
    if not passes:
        raise RuntimeError("no timed pass completed:\n" + "\n".join(failures))

    # ---- resume: all six stages must resume and reproduce the hash ----
    if w.durable:
        attempted += 1
        last = passes[-1]
        resumed, same = resume_check(
            spark, inputs, paths[last["k"]], last["out_dir"], last["hash"])
        if len(resumed) != 6 or not same:
            failures.append(f"resume: resumed {resumed}, hash match {same}")
    return passes, attempted, failures


def measure(args) -> tuple[dict, dict]:
    from perfbench.passes import run_pass, warm_up
    from perfbench.workloads import (
        CORES, WORKLOADS, make_inputs, properties, write_slices,
    )

    w = WORKLOADS[args.workload]
    run_dir = os.path.join(host.ROOT, ".perfbench_out", f"{w.name}-s{args.seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    info = {"workload": w.name, "seed": args.seed, **host.provenance(),
            "loadavg_start": host.loadavg1()}

    # ---- set-up: session, inputs, warm-up ----
    t_setup = time.perf_counter()
    spark = host.start_session(CORES, run_dir, event_log=bool(args.trace))
    try:
        t_jvm = time.perf_counter() - t_setup
        # warm-up + timed passes, or warm-up + the traced pass's slice
        inputs = make_inputs(w, args.seed, 1 + (1 if args.trace else MAX_TIMED_PASSES))
        paths = write_slices(inputs, os.path.join(run_dir, "input"))
        t_inputs = time.perf_counter()
        warm_up(spark, inputs, paths[0])
        if args.trace:
            # a full pass too, so the traced chain and its reference
            # run() both find the JIT warm
            run_pass(spark, inputs, paths[0], None)[1].unpersist()
        t_warm = time.perf_counter()
        setup_s = t_warm - t_setup
        info["setup_parts_s"] = {"session": t_jvm, "inputs": t_inputs - t_jvm - t_setup,
                                 "warm": t_warm - t_inputs}
        info["properties"] = properties(inputs)
        if args.trace:
            from perfbench.layers import traced_pass

            passes, attempted, failures = [], 1, []
            metrics = traced_pass(spark, inputs, 1, paths[1], run_dir)
            if not metrics.pop("_hash_ok"):
                failures.append("traced clusters differ from run()")
        else:
            passes, attempted, failures = timed_passes(
                spark, inputs, paths, run_dir, args.seconds)
    finally:
        host.stop_session(spark)
    if args.trace:
        from perfbench.layers import attach_event_log

        attach_event_log(metrics, os.path.join(run_dir, "eventlog"))
    else:
        metrics = {
            "docs_per_s": (statistics.median(p["docs"] / p["seconds"] for p in passes), "1/s"),
            "setup_s": (setup_s, "s"),
            "pairwise_f1": (statistics.median(p["f1"]["f1"] for p in passes), "ratio"),
            "worker_rss_mb": (max(p["rss_mb"] for p in passes), "MB"),
            "ok_share": ((attempted - len(failures)) / attempted, "ratio"),
        }
        info["samples"] = {"docs_per_s": len(passes)}

    info["loadavg_end"] = host.loadavg1()
    info["passes"] = [
        {k: p[k] for k in ("docs", "seconds", "rss_mb", "steal_share", "stages", "f1", "check_s")}
        for p in passes
    ]
    info["failures"] = failures
    info["total_s"] = time.perf_counter() - t_setup
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"info": info, "result": result}, f, indent=1, default=str)
    _cleanup(run_dir)
    return info, result


def _cleanup(run_dir: str) -> None:
    """Keep the result, spans and event log; drop inputs and stage data."""
    for name in os.listdir(run_dir):
        if name not in ("result.json", "spans.json", "eventlog"):
            p = os.path.join(run_dir, name)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    info, result = measure(args)
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
