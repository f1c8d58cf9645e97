"""The benchmark's two workloads.

Each workload builds its input from the seed, warms up, and then runs timed
passes (batch) or, per streaming tier, a drain plus an open-loop phase
(stream) through the package's public entry points only.  The worker
process drives them; the parent process checks their outputs with
``oracle.py``.

Why these two (they stress different layers):

* ``batch``: two jobs a pass.  The text job is the pt_pipeline chain, where
  rule filters and evaluators do most of the work, with one high-dup-rate
  exact-dedup shuffle.  The MinHash job runs on long token-only docs with a
  low dup rate: the Arrow signature UDF, band shuffle and connected
  components do the work, the filter layer none.  They share one workload
  because every run pays a JVM start and a cold first job (~20 s), and the
  full set of runs must stay within an hour.  The text job has few tokens
  (short prose rows) but is sized to take more than half of the pass wall,
  so a change in its layers moves ``tok_per_s`` at least as much as one in
  MinHash's.
* ``stream``: both streaming tiers on the same files, one after the other.
  The exact tier is ``run_dedup_filter_stream`` as ``jobs/stream_job.py
  --mode exact`` calls it: the state store, the per-batch fixed cost and
  sink writes beside source reads.  The indexed tier is
  ``run_exact_dedup_stream_indexed`` with a small trigger, so there are
  many generations: segment writes and probe reads are the state, and no
  watermark applies.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

CORES = 4

# batch, text job: base documents x replicas; 30% of replicas are exact
# copies, the rest carry one replica-specific leading word (near dups)
TEXT_BASE_DOCS = 100
TEXT_REPLICAS = 12
# batch, MinHash job: token-corpus rows (mean ~1000 tokens a row)
MINHASH_ROWS = 2400
# batch: a run makes round(seconds / PASS_S) timed passes, at least one; a
# warm pass takes about 5 s on 4 cores, so --seconds 10 makes 3 passes and
# measures about 15 s
PASS_S = 3.5
# stream tiers: rows per landed file, warm-up files, and per tier the files
# in the drain backlog, files per trigger, the open-loop arrival rate in
# files/s (below what one trigger's fixed cost sustains, so the backlog does
# not grow), and how long the open loop lasts as a share of --seconds
STREAM_FILE_ROWS = 40
STREAM_WARMUP_FILES = 2
STREAM = {
    "exact": {"backlog": 16, "trigger": 8, "rate": 2.0, "open": 0.6},
    "indexed": {"backlog": 24, "trigger": 8, "rate": 2.5, "open": 0.8},
}


def steal_s() -> float:
    """Hypervisor steal time of the whole box so far, in seconds
    (/proc/stat, cpu line, 8th field); a diagnostic next to each pass."""
    try:
        with open("/proc/stat") as fh:
            jiffies = int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0.0
    return jiffies / os.sysconf("SC_CLK_TCK")


def dir_tokens(path: str) -> int:
    return int(
        sum(
            pq.read_table(os.path.join(path, f), columns=["n_tok"]).column("n_tok").to_numpy().sum()
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        )
    )


# ---------------------------------------------------------------------------
# text documents (pure Python from the seed)
# ---------------------------------------------------------------------------

_STOP = "the of and to in is it that for on with as was at by from this be are".split()


def make_documents(path: str, seed: int) -> int:
    """Write ``documents.parquet`` (doc_id, text, source) for the text job.
    Most docs are plain prose; a fixed number of each other kind fails one
    rule filter.  Doc and sentence lengths follow a fixed cycle, so the
    seed changes the words but not the work (n-gram scoring is quadratic
    in doc length).  ASCII only, single spaces and newlines, so
    ``str.split`` and the engine's ``\\s+`` split agree."""
    import pyarrow as pa

    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({"".join(rng.choice(letters) for _ in range(rng.randint(3, 9))) for _ in range(4000)})

    def prose(i: int) -> str:
        sents = []
        for j in range(3 + i % 7):
            n_words = 5 + (3 * i + j) % 10
            ws = [rng.choice(_STOP) if rng.random() < 0.3 else rng.choice(vocab) for _ in range(n_words)]
            ws[0] = ws[0].capitalize()
            sents.append(" ".join(ws) + rng.choice(".!?") + ("\n" if j % 5 == 4 else " "))
        return "".join(sents).strip()

    quota = {"short": 0.04, "colon": 0.03, "lorem": 0.03, "mark": 0.03, "curly": 0.03,
             "longword": 0.03, "repeat": 0.03, "caps": 0.04, "symbol": 0.04}
    kinds = [k for k, w in quota.items() for _ in range(max(1, round(w * TEXT_BASE_DOCS)))]
    kinds += ["plain"] * (TEXT_BASE_DOCS - len(kinds))
    rng.shuffle(kinds)
    base = []
    for i, kind in enumerate(kinds):
        t = prose(i)
        if kind == "short":
            t = " ".join(rng.choice(vocab) for _ in range(1 + i % 4))
        elif kind == "colon":
            t = t[:-1] + ":"
        elif kind == "lorem":
            t = "Lorem ipsum " + t
        elif kind == "mark":
            t = t + " Copyright " + rng.choice(vocab)
        elif kind == "curly":
            t = " ".join("{" + w + "}" if rng.random() < 0.5 else w for w in t.split(" "))
        elif kind == "longword":
            t = " ".join(w * 3 for w in t.split(" "))
        elif kind == "repeat":
            t = " ".join([rng.choice(vocab)] * (20 + i % 41)) + "."
        elif kind == "caps":
            t = " ".join(w.upper() if rng.random() < 0.6 else w for w in t.split(" "))
        elif kind == "symbol":
            t = " ".join("#" + w if rng.random() < 0.6 else w for w in t.split(" "))
        base.append(t)
    ids, texts, sources = [], [], []
    srcs = ["cc", "wiki", "code", "books", "forum"]
    for rep in range(TEXT_REPLICAS):
        for i, t in enumerate(base):
            ids.append(rep * TEXT_BASE_DOCS + i)
            texts.append(t if rep % 10 < 3 else rng.choice(vocab) + " " + t)
            sources.append(srcs[i % len(srcs)])
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts, "source": sources}),
        os.path.join(path, "documents.parquet"),
    )
    return len(ids)


# ---------------------------------------------------------------------------
# token-corpus files for the MinHash job and the streams (numpy from the seed)
# ---------------------------------------------------------------------------


def write_token_files(
    path: str, seed: int, n_files: int, rows_per_file: int
) -> tuple[list[str], dict[str, int]]:
    """``n_files`` parquet files of ``rows_per_file`` rows each, in arrival
    (doc_seq) order, with the corpus layer's schema and the planted
    patterns of ``corpus.synthetic_corpus``: power-law lengths in
    [8, 4096], ~5% exact copies of the row 13 places earlier, ~5% near
    copies of the row 7 places earlier (a tenth of the positions redrawn),
    ~3% high-repetition rows (one 5-gram tiled), ~1% degenerate rows (one
    token repeated), ~2% of rows one hour late; otherwise event time is one
    second per row plus up to 29 s of jitter.  As there, a copy's parent
    must be a plain row.  Returns the file names in arrival order and their
    token counts."""
    import datetime as dt

    import pyarrow as pa

    rng = np.random.default_rng(seed % 2**64)
    n = n_files * rows_per_file
    # doc_seq differs between seeds but stays far below int64's range;
    # event time does not depend on the seed, so any seed gives timestamps
    # that every layer can hold
    seq0 = (seed % 1_000_000) * 1_000_003
    # stratified per file: every file draws its lengths from the same
    # quantiles, so token totals barely move between seeds
    u = np.concatenate(
        [(rng.permutation(rows_per_file) + rng.random(rows_per_file)) / rows_per_file for _ in range(n_files)]
    )
    lens = (8 + np.floor(u**3 * 4088)).astype(np.int64)
    kind = rng.random(n)
    late = (rng.random(n) < 0.02) & (np.arange(n) > 0)
    plain = kind < 0.86
    toks: list[np.ndarray] = []
    for i in range(n):
        if 0.90 <= kind[i] < 0.95 and i >= 13 and plain[i - 13]:
            toks.append(toks[i - 13])
        elif kind[i] >= 0.95 and i >= 7 and plain[i - 7]:
            t = toks[i - 7].copy()
            redraw = rng.random(len(t)) < 0.1
            t[redraw] = rng.integers(0, 50257, int(redraw.sum()), dtype=np.int32)
            toks.append(t)
        elif 0.87 <= kind[i] < 0.90:
            toks.append(np.resize(rng.integers(0, 50257, 5, dtype=np.int32), lens[i]))
        elif 0.86 <= kind[i] < 0.87:
            toks.append(np.full(lens[i], rng.integers(0, 50257), dtype=np.int32))
        else:
            toks.append(rng.integers(0, 50257, lens[i], dtype=np.int32))
    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    ev_us = ((base + np.arange(n) + rng.integers(0, 30, n) - late * 3600) * 1e6).astype(np.int64)
    sources = np.array(["cc", "wiki", "code", "books", "forum"])[rng.choice(5, n, p=[0.7, 0.1, 0.1, 0.05, 0.05])]
    os.makedirs(path, exist_ok=True)
    names, counts = [], {}
    for k in range(n_files):
        sl = slice(k * rows_per_file, (k + 1) * rows_per_file)
        seqs = np.arange(n)[sl] + seq0
        arr = toks[sl]
        tab = pa.table(
            {
                "doc_id": [f"{s}-{q:012d}" for s, q in zip(sources[sl], seqs)],
                "doc_seq": pa.array(seqs, pa.int64()),
                "text": pa.nulls(len(arr), pa.string()),
                "tokens": pa.array(arr, pa.list_(pa.int32())),
                "n_tok": pa.array([len(a) for a in arr], pa.int32()),
                "source": sources[sl].tolist(),
                "event_time": pa.array(ev_us[sl], pa.timestamp("us", tz="UTC")),
            }
        )
        name = f"part-{k:05d}.parquet"
        pq.write_table(tab, os.path.join(path, name))
        names.append(name)
        counts[name] = int(sum(len(a) for a in arr))
    return names, counts


# ---------------------------------------------------------------------------
# batch workloads
# ---------------------------------------------------------------------------


class TextJob:
    """The pt_pipeline chain over seeded prose: token filters and ten
    registry text filters, exact dedup, quality and n-gram scores, then an
    aggregate that consumes every score so the evaluators are not pruned."""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.docs = os.path.join(work, "docs")
        self.corpus_dir = os.path.join(work, "text_corpus")

    def build(self, spark) -> int:
        from dataflow_spark.corpus import tokenized_corpus

        make_documents(self.docs, self.seed)
        # several files, so the scan splits across every core
        tokenized_corpus(spark, self.docs).repartition(4 * CORES).write.parquet(self.corpus_dir)
        return dir_tokens(self.corpus_dir)

    @staticmethod
    def filters(df):
        from dataflow_spark.core.stage import get_operator
        from dataflow_spark.operators.filters import keep_n_tok_range, keep_unique_tokens

        df = df.where(keep_n_tok_range(5, 100000)).where(keep_unique_tokens(0.1))
        for name, kw in (
            ("ContentNullFilter", {}),
            ("WordNumberFilter", {"min_words": 5, "max_words": 100000}),
            ("ColonEndFilter", {}),
            ("LoremIpsumFilter", {}),
            ("WatermarkFilter", {}),
            ("CurlyBracketFilter", {}),
            ("MeanWordLengthFilter", {"min_len": 2.0, "max_len": 12.0}),
            ("UniqueWordsFilter", {"threshold": 0.1}),
            ("CapitalWordsFilter", {"threshold": 0.4}),
            ("SymbolWordRatioFilter", {}),
        ):
            df = get_operator(name, input_key="text", **kw).apply(df)
        return df

    @staticmethod
    def dedup_exact(df):
        from dataflow_spark.operators import dedup

        return dedup.exact_dedup(df.withColumn("_th", dedup.token_hash()), hash_col="_th").drop("_th")

    @staticmethod
    def evaluators(df):
        from pyspark.sql import functions as F

        from dataflow_spark.functions.text import ngram_unique_ratio
        from dataflow_spark.operators.evaluators import quality_score

        return df.withColumn("QualityScore", quality_score("text")).withColumn(
            "NgramScore", ngram_unique_ratio(F.col("tokens"), 3)
        )

    STEPS = (("filters", filters), ("dedup_exact", dedup_exact), ("evaluators", evaluators))

    def run(self, spark, tracer, layers: dict | None) -> dict:
        """One pass; ``layers`` (a dict to fill) runs it layer by layer."""
        from pyspark.sql import functions as F

        with tracer.span("scan"):
            df = spark.read.parquet(self.corpus_dir)
            if layers is not None:
                df = df.localCheckpoint(eager=True)
        if layers is None:
            for _, fn in self.STEPS:
                df = fn(df)
        else:
            rows = {"scan": float(df.count())}
            for name, fn in self.STEPS:
                with tracer.span(name):
                    df = fn(df).localCheckpoint(eager=True)
                rows[name] = float(df.count())
            layers.update(
                {
                    "filters.rows_in": rows["scan"],
                    "filters.rows_out": rows["filters"],
                    "filters.keep_frac": rows["filters"] / rows["scan"] if rows["scan"] else 0.0,
                    "dedup_exact.drop_frac": (
                        1.0 - rows["dedup_exact"] / rows["filters"] if rows["filters"] else 0.0
                    ),
                }
            )
        with tracer.span("aggregate"):
            r = df.agg(
                F.count("*").alias("rows"),
                F.sum("n_tok").alias("tokens"),
                F.sum("QualityScore").alias("quality_sum"),
                F.sum("NgramScore").alias("ngram_sum"),
            ).collect()[0]
        return {k: (float(r[k]) if r[k] is not None else 0.0) for k in r.asDict()}


class MinhashJob:
    """``dedup.minhash_dedup(use_tokens=True, token_ngram=3, bands=16)``
    over long token-only docs with a low dup rate; returns the survivors."""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.corpus_dir = os.path.join(work, "token_corpus")

    def build(self, spark) -> int:
        _, counts = write_token_files(self.corpus_dir, self.seed, 2 * CORES, MINHASH_ROWS // (2 * CORES))
        return sum(counts.values())

    def run(self, spark, tracer, layers: dict | None, i: int) -> dict:
        from pyspark.sql import functions as F

        from dataflow_spark.operators import dedup

        with tracer.span("scan"):
            df = spark.read.parquet(self.corpus_dir)
            if layers is not None:
                df = df.localCheckpoint(eager=True)
        if layers is None:
            kept = dedup.minhash_dedup(df, use_tokens=True, token_ngram=3, bands=16)
            seqs = kept.select("doc_seq").toPandas()["doc_seq"].to_numpy(np.int64)
        else:
            # the three calls minhash_dedup makes, one span each
            rows_in = df.count()
            with tracer.span("minhash.edges"):
                bands = dedup.minhash_bands_from_tokens_udf(128, 16, 3, 1)(F.col("tokens"))
                edges = dedup.minhash_candidate_edges(df, None, "doc_seq", 128, 16, 1, bands_expr=bands)
            n_edges = edges.count()
            with tracer.span("minhash.cc"):
                kept = dedup.keep_cluster_min(df, edges, "doc_seq", edges_materialized=True)
            with tracer.span("minhash.keep"):
                seqs = kept.select("doc_seq").toPandas()["doc_seq"].to_numpy(np.int64)
            layers["minhash.candidate_edges"] = float(n_edges)
            layers["minhash.drop_per_edge"] = (rows_in - len(seqs)) / n_edges if n_edges else 0.0
        path = os.path.join(self.work, f"survivors_{i}.npy")
        np.save(path, seqs)
        return {"survivors": path, "rows": len(seqs)}


class BatchWorkload:
    """Input built once; each timed pass runs the text job, then the
    MinHash job, on it."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.text, self.minhash = TextJob(work, seed), MinhashJob(work, seed)
        self.input_tokens = 0
        self.layers: dict[str, float] = {}

    def build(self) -> None:
        self.input_tokens = self.text.build(self.spark) + self.minhash.build(self.spark)

    def check_inputs(self) -> dict:
        return {
            "documents": os.path.join(self.text.docs, "documents.parquet"),
            "corpus": self.minhash.corpus_dir,
        }

    def run_pass(self, i: int, layered: bool = False) -> dict:
        layers = self.layers if layered else None
        t0 = time.time()
        text = self.text.run(self.spark, self.tracer, layers)
        t1 = time.time()
        minhash = self.minhash.run(self.spark, self.tracer, layers, i)
        return {"text": text, "minhash": minhash, "text_s": t1 - t0, "minhash_s": time.time() - t1}

    def warmup(self) -> None:
        # one pass leaves the next one's text job about 25% slower than the
        # pass after it (code still compiling), so warm up with two
        for i in (-2, -1):
            self.run_pass(i)

    def measure(self, seconds: float, emit) -> None:
        # a fixed number of passes for a given --seconds: a time-bounded
        # loop would fit an extra, faster pass into some runs and not others
        for i in range(max(1, round(seconds / PASS_S))):
            emit({"ev": "pass_begin", "i": i})
            st0, t0 = steal_s(), time.time()
            out = self.run_pass(i)
            wall = time.time() - t0
            emit({"ev": "pass", "i": i, "wall_s": wall, "tokens": self.input_tokens,
                  "steal_s": steal_s() - st0, "out": out})

    def layer_metrics(self, fold) -> dict[str, float]:
        dd = fold.select({"dedup_exact"})
        mh = fold.select({"minhash.edges", "minhash.cc", "minhash.keep"})
        return dict(
            self.layers,
            **{
                "dedup_exact.shuffle_write_bytes": fold.total(dd, "shuffle_write_bytes"),
                "dedup_exact.spill_bytes": fold.total(dd, "spill_bytes"),
                "minhash.python_run_s": fold.total(mh, "py_run_s"),
                "minhash.python_bytes_in": fold.total(mh, "py_bytes_in"),
                "minhash.python_bytes_out": fold.total(mh, "py_bytes_out"),
                "minhash.shuffle_write_bytes": fold.total(mh, "shuffle_write_bytes"),
                "minhash.slot_idle_frac": fold.slot_idle_frac(mh),
            },
        )


# ---------------------------------------------------------------------------
# stream workloads
# ---------------------------------------------------------------------------


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it, from the checkpoint:
    ``sources/0/<n>`` (and its ``.compact`` files) give each file's source
    log offset, ``offsets/<batch>`` the source offset each batch ended at.
    No-data batches advance the batch id but not the source offset."""
    import json
    from urllib.parse import unquote, urlparse

    def lines(path):
        with open(path) as fh:
            return [x.strip() for x in fh if x.strip()]

    src = os.path.join(ckpt, "sources", "0")
    file_off: dict[str, int] = {}
    for name in os.listdir(src) if os.path.isdir(src) else []:
        if not name.startswith("."):
            for line in lines(os.path.join(src, name)):
                if line.startswith("{"):
                    e = json.loads(line)
                    file_off[os.path.basename(unquote(urlparse(e["path"]).path))] = int(e["batchId"])
    off_dir = os.path.join(ckpt, "offsets")
    ends = sorted(
        (int(n), int(json.loads(lines(os.path.join(off_dir, n))[2])["logOffset"]))
        for n in os.listdir(off_dir) if n.isdigit()
    ) if os.path.isdir(off_dir) else []
    batch_of_off: dict[int, int] = {}
    prev = -1
    for b, end in ends:
        for o in range(prev + 1, end + 1):
            batch_of_off[o] = b
        prev = max(prev, end)
    return {f: batch_of_off[o] for f, o in file_off.items() if o in batch_of_off}


class StreamTier:
    """One streaming query over seeded synthetic-corpus files landed in
    arrival (doc_seq) order: a few warm-up files, then a pre-landed backlog
    drained in a closed loop, then an open-loop generator that lands files
    at a fixed rate whatever the query is doing.  The query is stopped
    after its warm-up and started again on the same checkpoint for the
    timed part, so no idle query polls its source while the other tier
    runs."""

    def __init__(self, tier: str, spark, work: str, seconds: float):
        self.tier, self.spark, self.seconds = tier, spark, seconds
        self.cfg = STREAM[tier]
        self.stage = os.path.join(work, tier, "stage")
        self.run_dir = os.path.join(work, tier, "run")
        self.progress: list[dict] = []
        self.layers: dict[str, float] = {}

    def start(self):
        d = self.run_dir
        args = (self.spark, os.path.join(d, "in"), os.path.join(d, "out"), os.path.join(d, "ckpt"))
        os.makedirs(args[1], exist_ok=True)
        if self.tier == "exact":
            from dataflow_spark.operators.filters import keep_n_tok_range
            from dataflow_spark.streaming.pipeline import run_dedup_filter_stream

            return run_dedup_filter_stream(
                *args,
                watermark_delay="10 minutes",
                max_files_per_trigger=self.cfg["trigger"],
                n_shards=64,
                filters=[keep_n_tok_range(8, 100000)],
            )
        from dataflow_spark.streaming.indexed import run_exact_dedup_stream_indexed

        return run_exact_dedup_stream_indexed(*args, max_files_per_trigger=self.cfg["trigger"])

    def n_open(self) -> int:
        return max(2, round(self.cfg["rate"] * self.cfg["open"] * self.seconds))

    def n_files(self) -> int:
        return STREAM_WARMUP_FILES + self.cfg["backlog"] + self.n_open()

    def stage_files(self, src: str, files: list[str], tokens: dict[str, int], mtime0: float) -> None:
        """Copy this tier's share of the generated files to its staging dir;
        ``land`` later moves them into the query's input dir."""
        os.makedirs(self.stage, exist_ok=True)
        self.files = files[: self.n_files()]
        for f in self.files:
            shutil.copyfile(os.path.join(src, f), os.path.join(self.stage, f))
        self.file_tokens, self.mtime0 = tokens, mtime0

    def land(self, files: list[str]) -> None:
        """Move ``files`` into the query's input dir.  The file source
        orders by modification time, so each file's is set from its place
        in arrival order, whole seconds apart and in the past: files keep
        their order on a file system that stores whole seconds, and however
        fast they land."""
        d = os.path.join(self.run_dir, "in")
        for f in files:
            src = os.path.join(self.stage, f)
            t = self.mtime0 + self.files.index(f)
            os.utime(src, (t, t))
            os.rename(src, os.path.join(d, f))

    def wait_idle(self, q) -> None:
        """Return once ``q`` sits waiting for data (a watermark-only batch
        may still run right after ``processAllAvailable``)."""
        deadline, calm = time.time() + 15, 0
        while time.time() < deadline and calm < 3:
            st = q.status
            idle = not st["isTriggerActive"] and st["message"].startswith("Waiting for data")
            calm = calm + 1 if idle else 0
            time.sleep(0.05)

    def warmup(self) -> None:
        q = self.start()
        self.land(self.files[:STREAM_WARMUP_FILES])
        q.processAllAvailable()
        self.wait_idle(q)
        self.warm_last = q.lastProgress["batchId"]
        q.stop()

    def measure(self, emit) -> None:
        import json

        from perfbench.trace import commit_time, late_rows, progress_time

        nb = STREAM_WARMUP_FILES + self.cfg["backlog"]
        backlog, pool = self.files[STREAM_WARMUP_FILES:nb], self.files[nb:]
        landed = self.files[:nb]
        due: dict[str, float] = {}
        arrived: dict[str, float] = {}
        err, drain_wall, steal_drain = None, 0.0, 0.0
        emit({"ev": "pass_begin", "tier": self.tier})
        q = self.start()
        try:
            st0, t0 = steal_s(), time.time()
            self.land(backlog)
            q.processAllAvailable()
            drain_wall = time.time() - t0
            steal_drain = steal_s() - st0
            self.wait_idle(q)
            # open loop: file k is due at t_open + k / rate whatever the
            # query is doing, and its freshness counts from that due time
            rate = self.cfg["rate"]
            t_open = time.time() + 0.1
            for k, f in enumerate(pool):
                due[f] = t_open + k / rate
                time.sleep(max(0.0, due[f] - time.time()))
                self.land([f])
                arrived[f] = time.time()
                landed.append(f)
            q.processAllAvailable()
        except Exception as e:  # a failed query is a failed operation
            err = repr(e)
        progress = [json.loads(p.json) for p in q.recentProgress]
        q.stop()
        batch_of = _file_batches(os.path.join(self.run_dir, "ckpt"))
        commit, starts = {}, {}
        for p in progress:
            if "addBatch" in p["durationMs"]:  # idle polls repeat the next batch id
                commit[p["batchId"]] = commit_time(p)
                starts[p["batchId"]] = progress_time(p)
        fresh = [commit[batch_of[f]] - due[f] for f in due if batch_of.get(f) in commit]
        first_open = min((batch_of.get(f, 1 << 30) for f in due), default=1 << 30)
        backlog_max = 0
        for b, tb in starts.items():
            if b >= first_open:
                waiting = sum(1 for f in due if arrived[f] <= tb and batch_of.get(f, 1 << 30) >= b)
                backlog_max = max(backlog_max, waiting)
        self.progress = [p for p in progress if p["batchId"] > self.warm_last and "addBatch" in p["durationMs"]]
        data_batches = [p for p in self.progress if p.get("numInputRows", 0) > 0]
        self.layers = {
            "stream.backlog_files_max": float(backlog_max),
            "stream.freshness_samples": float(len(fresh)),
            "stream.gen_lateness_max_s": max((arrived[f] - due[f] for f in due), default=0.0),
        }
        emit(
            {
                "ev": "pass",
                "tier": self.tier,
                "wall_s": drain_wall,
                "tokens": sum(self.file_tokens[f] for f in backlog),
                "steal_s": steal_drain,
                "batches": len(data_batches),
                "error": err,
                "out": {
                    "tier": self.tier,
                    "inputs": [os.path.join(self.run_dir, "in", f) for f in landed],
                    "sink": os.path.join(self.run_dir, "out"),
                    "late_rows": late_rows(progress),
                    "freshness_s": fresh,
                    "gen_lateness_max_s": self.layers["stream.gen_lateness_max_s"],
                    "batch_ms": [
                        [p["batchId"], p["numInputRows"], p["durationMs"]["triggerExecution"]]
                        for p in self.progress
                    ],
                    "unconsumed": [f for f in landed if f not in batch_of],
                },
            }
        )

    def sink_metrics(self) -> tuple[list[dict], int]:
        """This tier's ``_metrics.jsonl`` records of the measured batches,
        and the parquet bytes those batches wrote."""
        import json

        sink_dir = os.path.join(self.run_dir, "out")
        recs = []
        mpath = os.path.join(sink_dir, "_metrics.jsonl")
        if os.path.exists(mpath):
            with open(mpath) as fh:
                recs = [json.loads(x) for x in fh if x.strip()]
        measured = {p["batchId"] for p in self.progress}
        sink_bytes = 0
        for b in measured:
            bdir = os.path.join(sink_dir, f"batch_id={b}")
            if os.path.isdir(bdir):
                sink_bytes += sum(
                    os.path.getsize(os.path.join(bdir, f)) for f in os.listdir(bdir) if f.endswith(".parquet")
                )
        return [r for r in recs if r["batch_id"] in measured], sink_bytes


class StreamWorkload:
    """Both streaming tiers, one after the other, in one session and on the
    same generated files: the exact tier (``run_dedup_filter_stream`` as
    ``jobs/stream_job.py --mode exact`` calls it) and the indexed tier
    (``run_exact_dedup_stream_indexed``)."""

    def __init__(self, spark, work: str, seed: int, seconds: float):
        self.work, self.seed = work, seed
        self.tiers = {t: StreamTier(t, spark, work, seconds) for t in STREAM}
        self.input_tokens = 0

    @property
    def progress(self) -> list[dict]:
        return [p for t in self.tiers.values() for p in t.progress]

    def build(self) -> None:
        src = os.path.join(self.work, "stream_src")
        n = max(t.n_files() for t in self.tiers.values())
        files, tokens = write_token_files(src, self.seed, n, STREAM_FILE_ROWS)
        mtime0 = float(int(time.time()) - 3600)
        for t in self.tiers.values():
            t.stage_files(src, files, tokens, mtime0)
        self.input_tokens = sum(tokens.values())

    def check_inputs(self) -> dict:
        return {}

    def warmup(self) -> None:
        for t in self.tiers.values():
            t.warmup()

    def measure(self, seconds: float, emit) -> None:
        for t in self.tiers.values():
            t.measure(emit)

    def layer_metrics(self, fold) -> dict[str, float]:
        from perfbench.trace import fold_progress

        exact, indexed = self.tiers["exact"], self.tiers["indexed"]
        # streaming.pipeline metrics come from the exact tier, the only one
        # with a state operator and a watermark
        out = fold_progress(exact.progress)
        out.update(exact.layers)
        recs, sink_bytes = [], 0
        for t in self.tiers.values():
            r, b = t.sink_metrics()
            recs += r
            sink_bytes += b
        probes = [r for r in recs if r.get("kind") == "seen_state_scan"]
        scanned = sum(r["state_batches_scanned"] for r in probes)
        total = sum(r["state_batches_total"] for r in probes)

        def reads_input(t):  # source reads, not the indexed tier's state probes
            return t["input_records"] > 0 and "_seen_state" not in fold.exec_desc.get(t["exec"], "")

        def writes_sink(t):
            return any(fold.writes_to(t, os.path.join(x.run_dir, "out", "batch_id=")) for x in self.tiers.values())

        scans = fold.select(pred=reads_input)
        out.update(
            {
                "sink.rows": float(sum(r["rows"] for r in recs if "kind" not in r)),
                "sink.bytes_written": float(sink_bytes),
                "sink.busy_s": fold.total(fold.select(pred=writes_sink), "run_s"),
                "scan.busy_s": fold.total(scans, "run_s"),
                "scan.input_bytes": fold.total(scans, "input_bytes"),
                "indexed.state_batches_scanned": float(scanned),
                "indexed.state_batches_total": float(total),
                "indexed.scan_frac": scanned / total if total else 0.0,
                "indexed.state_bytes_read": float(sum(r["state_bytes_read"] for r in probes)),
                "indexed.add_batch_ms": fold_progress(indexed.progress)["stream.add_batch_ms"],
            }
        )
        return out


def make(name: str, spark, work: str, seed: int, tracer, seconds: float):
    if name == "batch":
        return BatchWorkload(spark, work, seed, tracer)
    return StreamWorkload(spark, work, seed, seconds)
