"""Interleaved A/B of the ``stream`` benchmark workload between two checkouts.

    python tools/bench_stream_ab.py PARENT_DIR CHANGE_DIR OUT.json [SEED ...]

For each seed, runs ``perfbench/run.py --workload stream --seconds 10`` in
both checkouts, alternating which goes first, and reads each run's end-to-end
metrics, correctness and, from its ``.perfbench/results`` record, each
tier's drain rate and the number of measured micro-batches that read no rows
(watermark-only batches).  Then, once per checkout, a probe runs the exact
tier (warm-up, drain, open loop) on the first seed and reports what the
benchmark itself does not: the state operator's ``allRemovalsTimeMs`` summed
over the timed micro-batches, and the late rows the sink's ``_metrics.jsonl``
counted (all batches) next to the planted late rows of the landed files.
Each run and probe is its own process and JVM.  Writes OUT.json with every
run, per-side medians and quartiles, and the per-pair change of
``tok_per_s``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys

SECONDS = "10"
METRICS = ("tok_per_s", "freshness_p50_s", "freshness_p90_s", "setup_s")


def run_bench(tree: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream", "--seed", str(seed),
         "--seconds", SECONDS, "--trace", "0"],
        cwd=tree, capture_output=True, text=True, check=True,
    ).stdout
    res = json.loads(out.strip().splitlines()[-1])
    rec_path = max(
        glob.glob(os.path.join(tree, ".perfbench", "results", f"stream-s{seed}-t0-*.json")),
        key=os.path.getmtime,
    )
    with open(rec_path) as fh:
        rec = json.load(fh)
    tiers = {}
    for p in rec["passes"]:
        tiers[p["tier"]] = {
            "drain_tok_per_s": p["tokens"] / p["wall_s"],
            "batches": p["batches"],
            "watermark_only_batches": sum(1 for _, rows, _ in p["out"]["batch_ms"] if rows == 0),
        }
    return {
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        **{m: res["metrics"][m]["value"] for m in METRICS if m in res["metrics"]},
        "tiers": tiers,
    }


def probe(seed: int) -> None:
    """Child process, cwd = the checkout: runs the exact tier and prints
    its state-operator, batch and late-row counts as JSON."""
    import tempfile

    sys.path.insert(0, os.getcwd())
    from perfbench import oracle
    from perfbench.trace import late_rows
    from perfbench.worker import start_session
    from perfbench.workloads import StreamWorkload

    with tempfile.TemporaryDirectory() as work:
        spark = start_session(work, trace=False)
        wl = StreamWorkload(spark, work, seed, float(SECONDS))
        wl.build()
        tier = wl.tiers["exact"]
        tier.warmup()
        tier.measure(lambda ev: None)
        ops = [op for p in tier.progress for op in p.get("stateOperators", [])]
        with open(os.path.join(tier.run_dir, "out", "_metrics.jsonl")) as fh:
            sink_late = sum(json.loads(x).get("late_rows", 0) for x in fh if x.strip())
        landed = oracle.parquet_files(os.path.join(tier.run_dir, "in"))
        print(json.dumps({
            "all_removals_ms": sum(op.get("allRemovalsTimeMs", 0) for op in ops),
            "all_updates_ms": sum(op.get("allUpdatesTimeMs", 0) for op in ops),
            "batches": len(tier.progress),
            "watermark_only_batches": sum(1 for p in tier.progress if p["numInputRows"] == 0),
            "progress_late_rows": late_rows(tier.progress),
            "sink_late_rows": sink_late,
            "planted_late_rows": len(oracle.planted_late(oracle.read_corpus(landed))),
        }))
        spark.stop()


def run_probe(tree: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--probe", str(seed)],
        cwd=tree, capture_output=True, text=True, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def quartiles(xs: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {"median": med, "q1": q1, "q3": q3}


def main() -> None:
    if sys.argv[1] == "--probe":
        probe(int(sys.argv[2]))
        return
    parent, change, out_path = sys.argv[1:4]
    seeds = [int(s) for s in sys.argv[4:]] or [101, 202, 303, 404, 505]
    sides = {"parent": os.path.abspath(parent), "change": os.path.abspath(change)}
    runs = []
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = {"seed": seed, "side": side, **run_bench(sides[side], seed)}
            print(json.dumps(r), flush=True)
            runs.append(r)
    by = {s: [r for r in runs if r["side"] == s] for s in sides}
    summary = {}
    for s, rs in by.items():
        summary[s] = {m: quartiles([r[m] for r in rs]) for m in METRICS}
        for t in ("exact", "indexed"):
            summary[s][f"{t}_drain_tok_per_s"] = quartiles([r["tiers"][t]["drain_tok_per_s"] for r in rs])
            summary[s][f"{t}_watermark_only_batches"] = sum(r["tiers"][t]["watermark_only_batches"] for r in rs)
        summary[s]["all_correct"] = all(r["correct"] for r in rs)
        summary[s]["failed_ops"] = f"{sum(r['failed'] for r in rs)}/{sum(r['attempted'] for r in rs)}"
        summary[s]["exact_probe"] = run_probe(sides[s], seeds[0])
    pairs = [
        next(r for r in by["change"] if r["seed"] == seed)["tok_per_s"]
        / next(r for r in by["parent"] if r["seed"] == seed)["tok_per_s"] - 1
        for seed in seeds
    ]
    doc = {
        "workload": "stream",
        "seconds": float(SECONDS),
        "seeds": seeds,
        "method": "interleaved perfbench runs (order alternates per seed), one process and JVM per run",
        "summary": summary,
        "tok_per_s_pair_change": [round(x, 4) for x in pairs],
        "pairs_better": sum(1 for x in pairs if x > 0),
        "runs": runs,
    }
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1)


if __name__ == "__main__":
    main()
