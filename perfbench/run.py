"""Benchmark entry point: one run of one workload, printed as one JSON line.

    python3 perfbench/run.py --workload stream_wordcount_join --seed 1 \
        --seconds 10 --trace 0

Runs from the root of a checkout (the package directory must sit next to
``perfbench/``). Work files go under ``.perfbench_work/`` and are removed at
exit; each run's artifact (provenance, every metric, check failures) goes
to ``.perfbench_out/<workload>-seed<seed>-trace<t>.json``, and a traced
run also writes its spans next to it.

With ``--trace 0`` the result line carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics; a traced run also reports its
end-to-end metrics minus those of the untraced artifact of the same
workload and seed (the tracing overhead), when that artifact exists.
The exit status is 0 only if every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import (PACKAGE, RssSampler, Tracer, jvm_process,  # noqa: E402
                     now_ms, provenance, result_line, start_spark,
                     stop_spark)
from batch import QUERIES as BATCH_QUERIES  # noqa: E402
from streams import LEG_METRICS, SINK_METRICS, WORKLOAD_LEGS  # noqa: E402

STREAMS = tuple(WORKLOAD_LEGS)
WORKLOADS = STREAMS + ("batch_sf01",)

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "catchup_rps": "1/s",
    "batch_total_s": "s",
    "peak_rss_mb": "MB",
}

LAYERS = ("harness", "engine", "queries", "operators",
          "microbatch", "sources.filebroker", "streaming", "sinks")
PER_LAYER = {
    **{f"self_ms.{layer}": "ms" for layer in LAYERS},
    # queries / operators (batch plan build and execution), Spark stages
    **{f"{kind}.{q}": unit for q in BATCH_QUERIES
       for kind, unit in (("build_s", "s"), ("exec_s", "s"),
                          ("jobs", "count"), ("executor_run_s", "s"),
                          ("shuffle_write_bytes", "bytes"))},
    "build_total_s": "s", "exec_total_s": "s", "jobs_total": "count",
    "executor_run_s": "s", "shuffle_write_bytes": "bytes",
    "spill_bytes_total": "bytes", "task_skew_max": "ratio",
    "failed_tasks_total": "count",
    # per streaming query: micro-batch driver, sources.filebroker and the
    # generator, state store; then the sinks
    **{f"{k}.{leg}": u for leg in ("wordcount", "join")
       for k, u in LEG_METRICS.items()},
    **SINK_METRICS,
}


def _artifact_path(out_dir: str, workload: str, seed: int, trace: bool
                   ) -> str:
    return os.path.join(out_dir, f"{workload}-seed{seed}-trace{int(trace)}"
                                 ".json")


def overhead(traced: dict, untraced: dict) -> dict[str, float]:
    """Traced minus untraced, per end-to-end metric."""
    return {k: traced[k] - untraced[k] for k in END_TO_END
            if k in traced and k in untraced}


def run(workload: str, seed: int, seconds: float, trace: bool,
        out_dir: str) -> int:
    t_start = now_ms()
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    tracer = Tracer(trace)
    root_span = tracer.reserve()
    rss = RssSampler()

    def session():
        spark = start_spark(ROOT, work)
        rss.add_pid(jvm_process(spark).pid)
        return spark

    if workload in STREAMS:
        from streams import StreamRun
        job = StreamRun(workload, work, seed, seconds, tracer, session)
    else:
        from batch import BatchRun
        job = BatchRun(ROOT, work, seed, seconds, tracer, session)
        # input tables exist before set-up time and memory are measured
        job.prepare()
        t_start = now_ms()
    with rss:
        try:
            m = job.run(t_start, root_span)
            m["peak_rss_mb"] = rss.peak_mb
            with tracer.span("check", "check", root_span):
                attempted, failed, problems = job.check()
            layers: dict[str, float] = {}
            if trace:
                job.trace_batches(root_span)
                layers = job.layer_metrics()
        finally:
            job.stop()
            if job.spark is not None:
                stop_spark(job.spark)
            shutil.rmtree(work, ignore_errors=True)
    tracer.add(workload, "harness", t_start, now_ms(), None, workload,
               sid=root_span)

    prov = provenance(ROOT, workload, seed, seconds, trace,
                      0.1 if workload == "batch_sf01" else None)
    prov["data"] = m.get("data")
    doc = {"provenance": prov,
           "end_to_end": {k: m[k] for k in END_TO_END},
           "attempted": attempted, "failed": failed,
           "failed_frac": failed / attempted if attempted else 1.0,
           "problems": problems[:50],
           "extra": {k: v for k, v in m.items() if k not in END_TO_END}}
    if trace:
        for layer, ms in tracer.self_ms_by_layer().items():
            if f"self_ms.{layer}" in PER_LAYER:
                layers[f"self_ms.{layer}"] = ms
        doc["per_layer"] = {k: float(layers.get(k, 0.0)) for k in PER_LAYER}
        spans = _artifact_path(out_dir, workload, seed, True)[:-5] \
            + "-spans.json"
        tracer.write(spans)
        doc["span_file"] = os.path.relpath(spans, ROOT)
        base = _artifact_path(out_dir, workload, seed, False)
        if os.path.exists(base):
            with open(base) as f:
                doc["tracing_overhead"] = overhead(m, json.load(f)[
                    "end_to_end"])
    with open(_artifact_path(out_dir, workload, seed, trace), "w") as f:
        json.dump(doc, f, indent=1)

    correct = failed == 0
    for p in problems[:20]:
        print(f"CHECK FAILED {workload}: {p}")
    print(f"{workload}: attempted={attempted} failed={failed} "
          f"failed_frac={doc['failed_frac']:.6f}")
    for k, unit in END_TO_END.items():
        print(f"{workload} {k} = {m[k]:.6g} {unit}")
    for k, v in doc.get("tracing_overhead", {}).items():
        print(f"{workload} tracing_overhead {k} = {v:+.6g} {END_TO_END[k]}")
    for k, unit in PER_LAYER.items() if trace else ():
        print(f"{workload} {k} = {doc['per_layer'][k]:.6g} {unit}")
    metrics = ({k: (doc["per_layer"][k], u) for k, u in PER_LAYER.items()}
               if trace else {k: (m[k], u) for k, u in END_TO_END.items()})
    print(result_line(correct, attempted, failed, metrics))
    return 0 if correct else 1


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="length of the measured window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: package {PACKAGE!r} not found next to perfbench/ "
              f"(looked in {ROOT}); run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    return run(args.workload, args.seed, args.seconds, bool(args.trace),
               os.path.join(ROOT, ".perfbench_out"))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
