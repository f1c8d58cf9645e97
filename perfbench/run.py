"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root.  Workloads, metric names and units are in
BENCHMARK.json; the workloads themselves are in ``workloads.py``.

Each run starts one worker process (``worker.py``, its own Spark driver
JVM), checks every output against ``oracle.py`` and prints one JSON object
as the last line of stdout.  A worker that dies (say, a JVM crash) is a
failed operation, not a lost run: it is started once more while time allows.
With ``--trace 1`` the worker also records spans and Spark's event log, the
memory of its process tree is sampled during the timed part, and the JSON
carries the per-layer metrics instead of the end-to-end ones; the spans go
to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

RUN_LIMIT_S = 170.0  # a run must end within 180 s
PAGE = os.sysconf("SC_PAGE_SIZE")


def proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (parent pid, process group, state) of every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] not in "ZX":
            out[int(name)] = (int(fields[1]), int(fields[2]), fields[0])
    return out


class ProcessTree:
    """Every process descended from the worker, including ones that
    outlive their parent (the JVM once the worker exits) or leave its
    process group (the PySpark daemon and its forked Python workers)."""

    def __init__(self, root: int):
        self.known = {root}

    def refresh(self) -> set[int]:
        table = proc_table()
        alive = {p for p in self.known if p in table}
        frontier = list(alive)
        while frontier:
            parent = frontier.pop()
            for pid, (ppid, _, _) in table.items():
                if ppid == parent and pid not in alive:
                    alive.add(pid)
                    frontier.append(pid)
        self.known |= alive
        return alive

    def memory(self) -> tuple[int, dict[str, int]]:
        """Resident bytes of the tree, pages shared between forked Python
        workers counted once: the JVM's RSS (it shares nothing large) plus
        every other member's proportional set size.  A JVM child caught
        between fork and exec is a copy of the JVM and is skipped.  Reading
        the JVM's own smaps would cost the box more CPU than the sample is
        worth.  Returns the total and the bytes per process."""
        per: dict[str, int] = {}
        alive = self.refresh()

        def is_java(pid: int) -> bool:
            try:
                return os.readlink(f"/proc/{pid}/exe").endswith("/java")
            except OSError:
                return False

        table = proc_table()
        for pid in alive:
            try:
                if is_java(pid):
                    if pid in table and is_java(table[pid][0]):
                        continue
                    with open(f"/proc/{pid}/stat") as fh:
                        per[f"java:{pid}"] = int(fh.read().rsplit(")", 1)[1].split()[21]) * PAGE
                    continue
                with open(f"/proc/{pid}/comm") as fh:
                    name = f"{fh.read().strip()}:{pid}"
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            per[name] = int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        return sum(per.values()), per

    def stop(self) -> None:
        """Freeze the tree so nothing new forks, kill every member and its
        process group, and wait until all of them are gone."""
        for sig in (signal.SIGSTOP, signal.SIGKILL):
            alive = self.refresh()
            groups = {proc_table().get(p, (0, 0, ""))[1] for p in alive} - {0, os.getpgrp()}
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            if sig == signal.SIGKILL:
                for g in groups:
                    try:
                        os.killpg(g, sig)
                    except ProcessLookupError:
                        pass
        deadline = time.time() + 10
        while time.time() < deadline and self.known & proc_table().keys():
            time.sleep(0.05)


class Attempt:
    """One worker process: its events, and (traced runs) the memory peak
    of its timed window."""

    def __init__(self, args, work: str, trace_out: str, deadline: float):
        self.work = work
        os.makedirs(work, exist_ok=True)
        env = dict(os.environ)
        # the program's own master and driver memory
        env.pop("SPARK_GRAFT_MASTER", None)
        env.pop("SPARK_DRIVER_MEM", None)
        env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
        env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        env["TMPDIR"] = os.path.join(work, "tmp")
        os.makedirs(env["TMPDIR"], exist_ok=True)
        cmd = [
            sys.executable, "-m", "perfbench.worker",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--trace-out", trace_out,
        ]
        self.log_path = os.path.join(work, "worker.log")
        self.events: list[dict] = []
        self.timed = False
        self.peak_rss = 0
        self.peak_detail: dict[str, int] = {}
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(
                cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                text=True, start_new_session=True,
            )
        tree = ProcessTree(self.proc.pid)
        reader = threading.Thread(target=self._read, daemon=True)
        reader.start()
        try:
            while self.proc.poll() is None and time.time() < deadline:
                if self.timed and args.trace:
                    mem, per = tree.memory()
                    if mem > self.peak_rss:
                        self.peak_rss, self.peak_detail = mem, per
                else:
                    tree.refresh()
                time.sleep(0.1)
        finally:
            tree.stop()
            self.proc.wait()
            reader.join(timeout=5)

    def _read(self) -> None:
        for line in self.proc.stdout:
            if not line.startswith("PERFBENCH "):
                continue
            ev = json.loads(line[len("PERFBENCH "):])
            if ev["ev"] == "timed_start":
                self.timed = True
            elif ev["ev"] == "timed_end":
                self.timed = False
            self.events.append(ev)

    def of(self, kind: str) -> list[dict]:
        return [e for e in self.events if e["ev"] == kind]

    @property
    def done(self) -> bool:
        return bool(self.of("done"))

    def log_tail(self, n: int = 30) -> str:
        with open(self.log_path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])


def pct(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def check_pass(workload: str, setup: dict, out: dict, cache: dict) -> list[str]:
    """Independent check of one pass's output (see oracle.py)."""
    from perfbench import oracle

    if workload == "batch":
        import numpy as np

        if "expected" not in cache:
            cache["expected"] = oracle.text_batch_expected(setup["documents"])
            cache["rows"] = oracle.read_corpus(oracle.parquet_files(setup["corpus"]))
        return oracle.check_text_batch(cache["expected"], out["text"]) + oracle.check_minhash(
            cache["rows"], np.load(out["minhash"]["survivors"]).tolist()
        )
    tier = out["tier"]
    rows = oracle.read_corpus(out["inputs"])
    watermark = tier == "exact"
    errs = oracle.check_stream_sink(rows, out["sink"], watermark, min_tok=8 if watermark else 0)
    planted = cache[f"planted_late.{tier}"] = len(oracle.planted_late(rows))
    if out["late_rows"] > planted:
        errs.append(f"watermark dropped {out['late_rows']} rows, more than the {planted} planted late rows")
    if out["unconsumed"]:
        errs.append(f"{len(out['unconsumed'])} landed files were never consumed")
    if not out["freshness_s"]:
        errs.append("no open-loop file was committed")
    return [f"{tier}: {e}" for e in errs]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_path) or not os.path.isfile(
        os.path.join(ROOT, "dataflow_spark", "__init__.py")
    ):
        print("perfbench: run from the repository root (needs BENCHMARK.json and dataflow_spark/)",
              file=sys.stderr)
        return 2
    with open(bench_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    t_run = time.time()
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench")
    trace_out = os.path.join(base, "traces", f"{stamp}.json")
    attempts: list[Attempt] = []
    for k in range(2):
        work = os.path.join(base, "work", f"{stamp}-{k}")
        att = Attempt(args, work, trace_out, t_run + RUN_LIMIT_S)
        attempts.append(att)
        if att.done:
            break
        print(f"perfbench: worker attempt {k} ended early (exit {att.proc.returncode});"
              f" log tail:\n{att.log_tail()}", file=sys.stderr)
        # another attempt needs a whole set-up; start it only with time left
        if time.time() - t_run > RUN_LIMIT_S / 3:
            break

    ok_setups = [a.of("setup")[0] for a in attempts if a.of("setup")]
    if not ok_setups:
        print("perfbench: no worker finished set-up; nothing measured", file=sys.stderr)
        return 1

    from perfbench.workloads import STREAM

    is_stream = args.workload == "stream"
    attempted = failed = 0
    errors: list[str] = []
    walls, toks, fresh, steal = [], [], [], []
    tiers: dict[str, dict] = {}  # stream: the last checked pass of each tier
    cache: dict = {}
    layers: dict[str, float] = {}
    traced = None
    for a in attempts:
        setup = a.of("setup")[0] if a.of("setup") else None
        if not a.done:
            # the pass (or set-up) in flight when the worker died
            attempted += 1
            failed += 1
        for e in a.of("pass"):
            errs = check_pass(args.workload, setup, e["out"], cache) + ([e["error"]] if e.get("error") else [])
            n_ops = e.get("batches", 1) or 1
            attempted += n_ops
            if errs:
                failed += n_ops
                errors += errs
                continue
            walls.append(e["wall_s"])
            toks.append(e["tokens"] / e["wall_s"])
            steal.append(e["steal_s"])
            if is_stream:
                tiers[e["tier"]] = e
            else:
                # a batch pass returns two results, each fresh once its job
                # returns, counted from when the job's input was ready
                fresh += [e["out"]["text_s"], e["out"]["minhash_s"]]
        for e in a.of("traced_pass"):
            errs = check_pass(args.workload, setup, e["out"], cache)
            errors += errs
            traced = e["tokens"] / e["wall_s"]
        if a.of("layers"):
            layers = a.of("layers")[0]["layers"]

    setup_s = statistics.median(
        s["session_start_s"] + s["corpus_build_s"] + s["warmup_s"] for s in ok_setups
    )
    metrics: dict[str, float] = {}
    if is_stream and tiers.keys() == STREAM.keys():
        # both tiers' drained tokens over both drain walls; freshness is the
        # mean over the tiers of each tier's percentile, so each tier weighs
        # the same whatever its sample count
        fresh = [f for e in tiers.values() for f in e["out"]["freshness_s"]]
        metrics = {
            "tok_per_s": sum(e["tokens"] for e in tiers.values()) / sum(e["wall_s"] for e in tiers.values()),
            "freshness_p50_s": statistics.mean(pct(e["out"]["freshness_s"], 50) for e in tiers.values()),
            "freshness_p90_s": statistics.mean(pct(e["out"]["freshness_s"], 90) for e in tiers.values()),
            "setup_s": setup_s,
        }
    elif walls and not is_stream:
        metrics = {
            "tok_per_s": statistics.median(toks),
            "freshness_p50_s": pct(fresh, 50),
            "freshness_p90_s": pct(fresh, 90),
            "setup_s": setup_s,
        }
    correct = not errors and bool(metrics)
    error_rate = failed / attempted if attempted else 1.0
    unit = "micro-batches" if is_stream else "timed passes"
    print(f"{args.workload} seed={args.seed} trace={args.trace}")
    for m in spec["end_to_end"]:
        if m["name"] in metrics:
            print(f"  {m['name']:<18} {metrics[m['name']]:.6g} {m['unit']}")
    print(f"  {'error_rate':<18} {error_rate:.4g} ({failed} failed / {attempted} {unit})")
    print(f"  freshness samples  {len(fresh)}   steal_s per pass {[round(s, 3) for s in steal]}")
    for e in (e for a in attempts for e in a.of("pass") if is_stream):
        t = e["tier"]
        print(f"  {t:<8} drain {e['tokens'] / e['wall_s']:.6g} tokens/s,"
              f" freshness p50 {pct(e['out']['freshness_s'] or [0.0], 50):.4g} s"
              f" p90 {pct(e['out']['freshness_s'] or [0.0], 90):.4g} s;"
              f" late rows dropped {e['out']['late_rows']} of {cache.get(f'planted_late.{t}')} planted late;"
              f" open-loop generator at most {e['out']['gen_lateness_max_s']:.3f} s late")
    for err in errors[:10]:
        print(f"  CHECK FAILED: {err}")

    if args.trace:
        layers = dict(layers)
        pass_tok = metrics.get("tok_per_s", 0.0) if is_stream else (toks[0] if toks else 0.0)
        layers["trace.tok_per_s"] = traced if traced is not None else pass_tok
        layers["trace.fused_tok_per_s"] = pass_tok
        layers["diag.steal_s"] = float(sum(steal))
        layers["stream.planted_late_rows"] = float(cache.get("planted_late.exact", 0))
        layers["mem.peak_rss_mb"] = max(a.peak_rss for a in attempts) / 2**20
        out_metrics = {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec["per_layer"]
        }
        if is_stream:  # stream spans are built from progress after the run
            print(f"  layer times (s), drain at {layers['trace.tok_per_s']:.6g} tokens/s with the event log on:")
        else:
            print(f"  layer self times (s), traced pass at {layers['trace.tok_per_s']:.6g} tokens/s,"
                  f" untraced pass shape at {layers['trace.fused_tok_per_s']:.6g} tokens/s:")
        for k in sorted(layers):
            if k.endswith(("self_s", "busy_s")) and layers[k]:
                print(f"    {k:<28} {layers[k]:.4f}")
        print(f"  spans: {os.path.relpath(trace_out, ROOT)}")
    else:
        out_metrics = {
            m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
            if m["name"] in metrics
        }
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": out_metrics}
    record = dict(result, workload=args.workload, seed=args.seed, trace=args.trace,
                  errors=errors, walls=walls, steal_s=steal, freshness_s=fresh,
                  setups=ok_setups, wall_s=time.time() - t_run,
                  passes=[e for a in attempts for e in a.of("pass")],
                  peak_memory_by_process=[a.peak_detail for a in attempts])
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", f"{stamp}.json"), "w") as fh:
        json.dump(record, fh)
    for a in attempts:
        shutil.rmtree(a.work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
