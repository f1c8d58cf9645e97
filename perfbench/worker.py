"""One benchmark run inside its own process (and so its own JVM).

    python3 -m perfbench.worker --workload W --seed N --seconds S
        --trace 0|1 --work DIR [--trace-out FILE]

Run from the repository root.  Every event goes to stdout as one line
``PERFBENCH <json>``; ``run.py`` reads them, samples memory, checks the
outputs and prints the result.  Spark's own logging goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid


def emit(rec: dict) -> None:
    rec["t"] = time.time()
    sys.stdout.write("PERFBENCH " + json.dumps(rec) + "\n")
    sys.stdout.flush()


def start_session(work: str, trace: bool):
    from dataflow_spark.session import get_spark
    from perfbench.workloads import CORES

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # per-stage peaks of the JVM's heap use, polled between heartbeats
                "spark.eventLog.logStageExecutorMetrics": "true",
                "spark.executor.metrics.pollingInterval": "100ms",
            }
        )
    return get_spark(app_name="perfbench", cpus=CORES, extra_conf=conf)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace-out", default=None)
    a = ap.parse_args()

    from perfbench import workloads
    from perfbench.trace import TaskFold, Tracer, read_event_log, stream_spans

    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(a.work, sub), exist_ok=True)
    emit({"ev": "start"})
    t0 = time.time()
    spark = start_session(a.work, bool(a.trace))
    session_s = time.time() - t0
    tracer = Tracer(uuid.uuid4().hex, bool(a.trace), spark)
    wl = workloads.make(a.workload, spark, a.work, a.seed, tracer, a.seconds)
    with tracer.span("corpus.build"):
        t1 = time.time()
        wl.build()
        build_s = time.time() - t1
    with tracer.span("warmup"):
        t2 = time.time()
        wl.warmup()
        warm_s = time.time() - t2
    emit({"ev": "setup", "session_start_s": session_s, "corpus_build_s": build_s, "warmup_s": warm_s,
          "input_tokens": wl.input_tokens, **wl.check_inputs()})

    emit({"ev": "timed_start"})
    if not a.trace:
        wl.measure(a.seconds, emit)
    elif a.workload == "batch":
        # the untraced pass shape first, in this same process, so the
        # tracing overhead shows next to it; then the layer-by-layer pass
        tracer.enabled = False
        wl.measure(0, emit)
        tracer.enabled = True
        with tracer.span("pass") as attrs:
            tp = time.time()
            out = wl.run_pass(0, layered=True)
            attrs["wall_s"] = time.time() - tp
        emit({"ev": "traced_pass", "wall_s": attrs["wall_s"], "tokens": wl.input_tokens, "out": out})
    else:
        with tracer.span("pass"):
            wl.measure(a.seconds, emit)
    emit({"ev": "timed_end"})

    if not a.trace:
        # run.py kills the rest of this process group (the JVM and its
        # Python workers) and waits for it; a clean stop only costs time
        emit({"ev": "done"})
        os._exit(0)
    layers: dict[str, float] = {}
    pass_span = next(s for s in tracer.spans if s["name"] == "pass")
    if a.workload != "batch":
        stream_spans(tracer, wl.progress, pass_span["id"])
    spark.stop()  # flushes the event log
    fold = TaskFold(
        read_event_log(os.path.join(a.work, "eventlog")),
        workloads.CORES,
        (pass_span["start"], pass_span["end"]),
    )
    selfs = tracer.self_times(pass_span["id"])
    layers.update({"session.start_s": session_s, "corpus.build_s": build_s, "warmup_s": warm_s})
    for layer in ("scan", "filters", "dedup_exact", "evaluators"):
        layers[f"{layer}.busy_s"] = fold.total(fold.select({layer}), "run_s")
        layers[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    layers["scan.input_bytes"] = fold.total(fold.select({"scan"}), "input_bytes")
    for name, key in (("minhash.edges", "edges"), ("minhash.cc", "cc"), ("minhash.keep", "keep")):
        layers[f"minhash.{key}_busy_s"] = selfs.get(name, 0.0)
    layers["mem.jvm_heap_peak_mb"] = fold.heap_peak_bytes() / 2**20
    layers.update(wl.layer_metrics(fold))
    tracer.write(a.trace_out, {"workload": a.workload, "seed": a.seed, "self_times": selfs,
                               "layers": layers})
    emit({"ev": "layers", "layers": layers})
    emit({"ev": "done"})


if __name__ == "__main__":
    main()
