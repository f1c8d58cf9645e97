"""Independent output checks for the benchmark workloads.

Nothing here imports Spark or reads an expected value out of Spark's output:
every expectation is recomputed from the generated *input* files with plain
Python, pyarrow and the repository's pure-Python rule oracle
(``tests/oracle/rules.py``).
"""

from __future__ import annotations

import hashlib
import os
import re
import struct

import pyarrow.parquet as pq

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
VOCAB_SIZE = 50257  # the corpus layer's word-id space (pmod(xxhash64(word), V))


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """Reference XXH64 (unsigned).  Spark's ``xxhash64(string)`` is this
    function over the UTF-8 bytes with seed 42, read as a signed long."""
    n, i = len(data), 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M64,
            (seed + _P2) & _M64,
            seed & _M64,
            (seed - _P1) & _M64,
        ]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], struct.unpack_from("<Q", data, i)[0])
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", data, i)[0] * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def word_token(word: str) -> int:
    """Token id of one lowercased word, as ``corpus.tokens_from_words``
    defines it: pmod(signed xxhash64(word), VOCAB_SIZE)."""
    h = xxh64(word.encode("utf-8"))
    if h >= 1 << 63:
        h -= 1 << 64
    return h % VOCAB_SIZE


# ---------------------------------------------------------------------------
# text_batch: rule filters + first-seen exact dedup + evaluator sums
# ---------------------------------------------------------------------------


def _quality_score(t: str) -> float:
    """``evaluators.quality_score`` restated row-at-a-time from its
    docstring: mean of length band, stopword band, alpha ratio and
    punctuation band."""
    from tests.oracle.rules import STOPSET

    ws = t.split()
    wc = len(ws)
    alpha = sum(1 for w in ws if re.search("[a-zA-Z]", w)) / wc if wc else 0.0
    sw = sum(1 for w in t.lower().split() if w in STOPSET)
    sw_ratio = sw / wc if wc else 0.0
    len_band = 1.0 if 50 <= wc <= 10000 else 0.5 if 20 <= wc < 50 else 0.0
    sw_band = 1.0 if 0.05 <= sw_ratio <= 0.6 else 0.0
    punct = len(re.findall(r"[.!?]", t))
    punct_band = 1.0 if wc and 0.01 <= punct / wc <= 0.5 else 0.0
    return (len_band + sw_band + alpha + punct_band) / 4.0


def _passes_pt_filters(t: str, toks: list[int]) -> bool:
    """The text_batch filter chain with the parameters workloads.py passes."""
    from tests.oracle import rules as R

    n = len(toks)
    return (
        5 <= n < 100000
        and len(set(toks)) / n > 0.1
        and R.keep_content_not_null(t)
        and R.keep_word_number(t, 5, 100000)
        and R.keep_colon_end(t)
        and R.keep_lorem_ipsum(t)
        and R.keep_watermark(t)
        and R.keep_curly_bracket(t)
        and R.keep_mean_word_length(t, 2.0, 12.0)
        and R.keep_unique_words(t, 0.1)
        and R.keep_capital_words(t, 0.4)
        and R.keep_symbol_word_ratio(t)
    )


def text_batch_expected(documents_path: str) -> dict:
    """Rows, tokens and evaluator sums the text_batch pass must return,
    from ``documents.parquet`` alone."""
    from tests.oracle.rules import ngram_unique_ratio

    tab = pq.read_table(documents_path, columns=["doc_id", "text"])
    order = sorted(zip(tab.column("doc_id").to_pylist(), tab.column("text").to_pylist()))
    tok_memo: dict[str, int] = {}
    per_text: dict[str, tuple | None] = {}
    seen: set[tuple] = set()
    out = {"rows": 0, "tokens": 0, "quality_sum": 0.0, "ngram_sum": 0.0}
    for _seq, t in order:
        if t not in per_text:
            toks = []
            for w in t.lower().split():
                tok = tok_memo.get(w)
                if tok is None:
                    tok = tok_memo[w] = word_token(w)
                toks.append(tok)
            per_text[t] = tuple(toks) if toks and _passes_pt_filters(t, toks) else None
        toks = per_text[t]
        if toks is None or toks in seen:
            continue
        seen.add(toks)
        out["rows"] += 1
        out["tokens"] += len(toks)
        out["quality_sum"] += _quality_score(t)
        ng = ngram_unique_ratio(list(toks), 3)
        out["ngram_sum"] += ng or 0.0
    return out


def check_text_batch(expected: dict, got: dict) -> list[str]:
    errs = []
    for k in ("rows", "tokens"):
        if int(got[k]) != expected[k]:
            errs.append(f"{k}: got {got[k]}, expected {expected[k]}")
    for k in ("quality_sum", "ngram_sum"):
        # per-row scores are rounded/summed in another order: 1e-6 per row
        tol = 1e-6 * max(1, expected["rows"]) + 1e-9 * abs(expected[k])
        if abs(float(got[k]) - expected[k]) > tol:
            errs.append(f"{k}: got {got[k]}, expected {expected[k]:.6f}")
    return errs


# ---------------------------------------------------------------------------
# token-corpus helpers (minhash_batch and both streams)
# ---------------------------------------------------------------------------


def _token_key(arr) -> bytes:
    return hashlib.blake2b(arr.tobytes(), digest_size=16).digest()


def read_corpus(paths: list[str]) -> dict[int, tuple[bytes, int, int]]:
    """doc_seq -> (content key, n_tok, event-time µs) over parquet files."""
    rows: dict[int, tuple[bytes, int, int]] = {}
    for p in paths:
        tab = pq.read_table(p, columns=["doc_seq", "tokens", "n_tok", "event_time"])
        seqs = tab.column("doc_seq").to_pylist()
        ev_col = tab.column("event_time")
        mul, div = {"s": (10**6, 1), "ms": (1000, 1), "us": (1, 1), "ns": (1, 1000)}[
            ev_col.type.unit
        ]
        ev = [v * mul // div for v in ev_col.cast("int64").to_pylist()]
        toks = tab.column("tokens").combine_chunks()
        offs = toks.offsets.to_numpy()
        flat = toks.values.to_numpy(zero_copy_only=False)
        for i, s in enumerate(seqs):
            arr = flat[offs[i] : offs[i + 1]]
            rows[s] = (_token_key(arr), len(arr), ev[i])
    return rows


def parquet_files(d: str) -> list[str]:
    out = []
    for root, dirs, files in os.walk(d):
        dirs[:] = [x for x in dirs if not x.startswith("_")]
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def first_seen(rows: dict[int, tuple[bytes, int, int]]) -> set[int]:
    """Sequential first-seen exact dedup by token content, in arrival
    (doc_seq) order."""
    seen, keep = set(), set()
    for s in sorted(rows):
        k = rows[s][0]
        if k not in seen:
            seen.add(k)
            keep.add(s)
    return keep


def planted_late(rows: dict[int, tuple[bytes, int, int]]) -> set[int]:
    """doc_seqs whose event time is more than 30 min behind the newest event
    time of the rows before them in arrival order: the corpus's planted
    1-hour-late rows (its on-time jitter is under a minute)."""
    late, newest = set(), None
    for s in sorted(rows):
        ev = rows[s][2]
        if newest is not None and ev < newest - 30 * 60 * 10**6:
            late.add(s)
        newest = ev if newest is None else max(newest, ev)
    return late


def check_minhash(rows: dict[int, tuple[bytes, int, int]], survivors) -> list[str]:
    """Survivors are input rows, and no row whose token stream already
    appeared at a smaller doc_seq (a planted exact-dup child) survives."""
    errs = []
    surv = set(int(s) for s in survivors)
    if len(surv) != len(survivors):
        errs.append("a survivor doc_seq appears twice")
    extra = surv - rows.keys()
    if extra:
        errs.append(f"{len(extra)} survivors are not input rows")
    dup_children = rows.keys() - first_seen(rows)
    kept = dup_children & surv
    if kept:
        errs.append(f"{len(kept)} exact-dup children survived")
    if not surv:
        errs.append("no survivors")
    return errs


def check_stream_sink(
    rows: dict[int, tuple[bytes, int, int]], out_dir: str, watermark: bool, min_tok: int = 0
) -> list[str]:
    """Every sink row equals an input row and no token stream appears twice.
    Without a watermark the survivors equal first-seen exact dedup over all
    input.  With one, every input row missing from the sink is a copy of an
    earlier sink row, a planted late row, or shorter than ``min_tok``."""
    errs = []
    files = parquet_files(out_dir)
    sink = read_corpus(files)
    first: dict[bytes, int] = {}
    for s in sorted(sink):
        k, ntok, ev = sink[s]
        if rows.get(s) != (k, ntok, ev):
            errs.append(f"sink row doc_seq={s} is not an input row")
        elif k in first:
            errs.append(f"token stream of doc_seq={s} appears twice in the sink")
        first.setdefault(k, s)
    n_rows = sum(pq.read_metadata(p).num_rows for p in files)
    if n_rows != len(sink):
        errs.append(f"sink holds {n_rows} rows for {len(sink)} doc_seqs")
    if not watermark:
        expect = first_seen(rows)
        if set(sink) != expect:
            errs.append(
                f"survivors differ from first-seen exact dedup: {len(set(sink) - expect)}"
                f" extra, {len(expect - set(sink))} missing"
            )
        return errs[:10]
    late = planted_late(rows)
    lost = [
        s
        for s in rows.keys() - sink.keys()
        if not (first.get(rows[s][0], s) < s or s in late or rows[s][1] < min_tok)
    ]
    if lost:
        errs.append(f"{len(lost)} input rows are neither in the sink nor accounted for, e.g. doc_seq={min(lost)}")
    return errs[:10]
