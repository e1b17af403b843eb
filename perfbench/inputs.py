"""Seeded inputs for the four workloads, with their ground truth.

Everything here is a pure function of (workload, seed, size) and of
``fixtures.make_rows``: the corpus comes from ``make_rows`` and every
planted clone, boilerplate paragraph and probe key from a numpy
generator seeded with the same seed. Inputs are cached on disk by
(workload, seed, size, hash of fixtures.py), so a change to the
generator in the library is never served stale inputs. The time spent
generating them is reported as ``fixtures.generate_s`` and is not part
of set-up time.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from fuggetabouspark import fixtures
from fuggetabouspark.fixtures import SOURCES, VOCAB, make_rows

# make_rows draws row i from PCG64(seed + i); spacing the seeds keeps
# corpora of nearby benchmark seeds disjoint.
SEED_STRIDE = 1_000_003
TICKS = 100  # corpus rows are spread evenly over ticks 1..TICKS
NOW = TICKS  # queries are asked at the last corpus tick
WINDOW = TICKS // 2
SPLITS = 4  # parquet files per table, one scan split per core
VERSION = 3  # bump when a generator here changes, so stale caches are not reused
with open(fixtures.__file__, "rb") as _f:
    FIXTURES_HASH = hashlib.blake2b(_f.read(), digest_size=6).hexdigest()

# Each size was chosen from traced runs on a 4-vCPU host (perfbench/NOTES.md
# has the per-operation breakdown), within a run budget of about 70 s.
SIZES = {
    # 20,000 docs (fixtures scale "s", 3.5M tokens). At 2,000 docs the
    # work that grows with the input was under 5 % of a build; here it
    # is 20-40 %, and the sketch-building job is half of a build.
    # Input generation and the kernel reference, both done in every
    # run, grow with the corpus too.
    "build": {"docs": 20_000},
    # 200,000 keys per batch, bench.py's probe size: a 12,000-key batch
    # took 0.55 s, of which contains_batch (about 5M keys/s) was under
    # 2 %. The corpus only sets which keys are live, expired or never
    # seen.
    "probe": {"docs": 2000, "batches": 16, "batch_keys": 200_000},
    # Small micro-batches are the point of this workload: per-job
    # overhead, checkpoint commit and maintenance dominate a shard.
    # A window of 3 shards makes ledger expiry drop rows, and clones of
    # expired history appear, from the sixth shard on.
    "ingest": {"shards": 24, "shard_docs": 100, "clone_share": 0.10, "window": 3},
    # 6,000 docs (+5 % clones): the work that grows with the input is
    # about 60 % of an operation, against about 25 % at 2,000 docs.
    # At 12,000 docs only two operations fit in a run.
    "dedup": {"docs": 6000, "clone_share": 0.05, "boiler_share": 0.05, "paragraphs": 4,
              "paragraph_words": 60},
}


def corpus(seed: int, docs: int) -> pd.DataFrame:
    """(doc_id, tokens, n_tok, source, tick) with ticks rising by row."""
    rows = make_rows(0, docs, seed * SEED_STRIDE)
    rows["tick"] = (np.arange(docs) * TICKS // docs + 1).astype(np.int64)
    return rows


def render(tokens) -> str:
    return " ".join(map(str, tokens))


def write_table(pdf: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), SPLITS)):
        tbl = pa.Table.from_pandas(pdf.iloc[part], schema=schema, preserve_index=False)
        pq.write_table(tbl, os.path.join(path, f"part-{i:02d}.parquet"))


CORPUS_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())), ("n_tok", pa.int32()),
    ("source", pa.string()), ("tick", pa.int64()),
])


def _build(seed: int, size: dict, out: str) -> dict:
    rows = corpus(seed, size["docs"])
    write_table(rows, os.path.join(out, "corpus"), CORPUS_SCHEMA)
    return {"tokens": int(rows["n_tok"].sum())}


def _probe(seed: int, size: dict, out: str) -> dict:
    rows = corpus(seed, size["docs"])
    write_table(rows, os.path.join(out, "corpus"), CORPUS_SCHEMA)
    # ground truth: last tick each token was seen, per source (0 = never)
    last = np.zeros((len(SOURCES), VOCAB), dtype=np.int64)
    for g, src in enumerate(SOURCES):
        sub = rows[rows["source"] == src]
        if len(sub):
            flat = np.concatenate(sub["tokens"].to_list()).astype(np.int64)
            ticks = np.repeat(sub["tick"].to_numpy(), sub["n_tok"].to_numpy())
            np.maximum.at(last[g], flat, ticks)
    live = last >= NOW - WINDOW + 1
    expired = (last > 0) & ~live
    in_keys = np.flatnonzero(live.any(axis=0))
    exp_keys = np.flatnonzero(expired.any(axis=0))
    rng = np.random.default_rng([seed, 1])
    b, k = size["batches"], size["batch_keys"]
    third = k // 3
    keys = np.concatenate([
        rng.choice(in_keys, size=(b, third)),
        rng.choice(exp_keys, size=(b, third)),
        # never-seen keys lie outside the vocabulary
        rng.integers(VOCAB, 1 << 40, size=(b, k - 2 * third)),
    ], axis=1)
    np.save(os.path.join(out, "last_tick.npy"), last)
    np.save(os.path.join(out, "keys.npy"), keys)
    return {"distinct_per_source": [int((last[g] > 0).sum()) for g in range(len(SOURCES))]}


def _ingest(seed: int, size: dict, out: str) -> dict:
    """Shards of rendered docs. From the third shard on, a share of each
    shard is exact clones of docs from earlier shards: in-window clones
    (source shard within the dedup window, text still retained) must be
    flagged; expired clones (source shard older than the window, text
    not retained since) must be published."""
    n, d, w = size["shards"], size["shard_docs"], size["window"]
    rows = make_rows(0, n * d, seed * SEED_STRIDE)
    texts = [render(t) for t in rows["tokens"]]
    rng = np.random.default_rng([seed, 2])
    last_kept: dict[str, int] = {}  # text -> epoch of its last retained copy
    shard_texts: list[list[str]] = []
    plan = []
    for e in range(n):
        docs = texts[e * d:(e + 1) * d]
        ids = [f"s{e:03d}-{j:04d}" for j in range(d)]
        flagged, expired_ids = [], []
        n_clone = int(round(d * size["clone_share"])) if e >= 2 else 0
        fresh = [i for i in range(e) if e - i < w]
        old = [i for i in range(e) if e - i > w + 1]
        slots = rng.choice(d, size=n_clone, replace=False)
        for c, slot in enumerate(slots):
            pool = old if (c % 3 == 2 and old) else fresh
            src = shard_texts[int(rng.choice(pool))]
            docs[slot] = src[int(rng.integers(len(src)))]
        seen_here: set[str] = set()
        for j, t in enumerate(docs):
            if t in seen_here:  # intra-shard repeat of a clone: not planted twice
                docs[j] = texts[e * d + j]
                t = docs[j]
            seen_here.add(t)
            prev = last_kept.get(t)
            if prev is not None and e - prev < w:
                flagged.append(ids[j])
            else:
                if prev is not None:
                    expired_ids.append(ids[j])
                last_kept[t] = e
        shard_texts.append(docs)
        plan.append({"flagged": flagged, "expired": expired_ids})
        write_table(pd.DataFrame({"doc_id": ids, "text": docs}),
                    os.path.join(out, f"shard-{e:03d}"))
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f)
    return {"flagged": sum(len(p["flagged"]) for p in plan),
            "expired": sum(len(p["expired"]) for p in plan)}


def _dedup(seed: int, size: dict, out: str) -> dict:
    """Chain corpus: the base corpus plus exact clones (``<id>_clone``)
    of a seeded share of its docs. Mask corpus: the base corpus rendered
    as text, with one of a few fixed boilerplate paragraphs appended to
    a seeded share of docs. Masking keeps one copy of each paragraph, so
    the expected number of masked tokens is sum(copies - 1) * words."""
    rows = corpus(seed, size["docs"])
    rng = np.random.default_rng([seed, 3])
    n = len(rows)
    picks = np.sort(rng.choice(n, size=int(n * size["clone_share"]), replace=False))
    clones = rows.iloc[picks].copy()
    clones["doc_id"] = clones["doc_id"] + "_clone"
    write_table(pd.concat([rows, clones], ignore_index=True),
                os.path.join(out, "chain"), CORPUS_SCHEMA)
    words = size["paragraph_words"]
    paras = [" ".join(f"bp{k}w{i}" for i in range(words)) for k in range(size["paragraphs"])]
    boiler = np.sort(rng.choice(n, size=int(n * size["boiler_share"]), replace=False))
    which = rng.integers(0, len(paras), size=boiler.size)
    text = [render(t) for t in rows["tokens"]]
    for i, k in zip(boiler, which):
        # a word unique to the doc before the paragraph: no window that
        # straddles the paragraph's start can repeat in another doc
        text[i] = f"{text[i]} sep{i} {paras[k]}"
    write_table(pd.DataFrame({"doc_id": rows["doc_id"], "text": text}), os.path.join(out, "mask"))
    copies = np.bincount(which, minlength=len(paras))
    return {
        "clone_pairs": [[rows["doc_id"].iloc[i], rows["doc_id"].iloc[i] + "_clone"] for i in picks],
        "chain_docs": n + len(picks),
        "mask_docs": n,
        "tokens_masked": int(sum(max(c - 1, 0) for c in copies) * words),
    }


def load(workload: str, seed: int, cache_dir: str) -> dict:
    """Paths and ground truth of a workload's inputs, generating them
    on first use. ``meta['generate_s']`` is the generation time."""
    size = SIZES[workload]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(cache_dir, f"{workload}-v{VERSION}-{FIXTURES_HASH}-seed{seed}-{tag}")
    meta_path = os.path.join(out, "meta.json")
    if not os.path.exists(meta_path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        t0 = time.perf_counter()
        gen = {"build": _build, "probe": _probe, "ingest": _ingest, "dedup": _dedup}[workload]
        meta = gen(seed, size, out)
        meta["generate_s"] = time.perf_counter() - t0
        with open(meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(meta_path + ".tmp", meta_path)
    with open(meta_path) as f:
        meta = json.load(f)
    return {"dir": out, "size": size, "meta": meta}
