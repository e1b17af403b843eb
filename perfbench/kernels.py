"""Kernel pass with no Spark: the sketch and hashing kernels, and the
pipeline's update function, run in this process over a workload's own
Arrow batches (read with pyarrow, batch size as the Spark session uses).
``kernel_pass`` covers the sketches, ``boundary_pass`` hashing and the
update function.

The merged sketches of the byte-invariant kinds are the reference the
``build`` check compares the Spark build against: merges of those kinds
are byte-identical under any partitioning and order.
"""

from __future__ import annotations

import glob
import time

import numpy as np
import pyarrow.parquet as pq

from fuggetabouspark.hashing import bloom_indexes, hash64
from fuggetabouspark.params import HLLParams
from fuggetabouspark.pipeline import GROUP_SEP
from fuggetabouspark.pipeline import make_update_fn
from fuggetabouspark.sketches import HyperLogLog, sketch_from_bytes

BATCH_ROWS = 2048  # session.get_spark's arrow_batch_rows
BYTE_INVARIANT = ("cbf", "tbf", "hll", "cms")
KINDS = ("cbf", "tbf", "stbf", "hll", "cms", "tdigest", "kll")


def partitions(table_dir: str) -> list[list]:
    """One iterator of record batches per parquet file (= per scan split)."""
    return [pq.ParquetFile(p).iter_batches(batch_size=BATCH_ROWS)
            for p in sorted(glob.glob(f"{table_dir}/*.parquet"))]


def _groups(batch):
    """{source: (tokens, token ticks, n_tok)} for one record batch."""
    src = batch.column("source").to_numpy(zero_copy_only=False)
    toks = batch.column("tokens")
    counts = np.diff(toks.offsets.to_numpy())
    flat = toks.flatten().to_numpy().astype(np.int64)
    tok_src = np.repeat(src, counts)
    tok_tick = np.repeat(batch.column("tick").to_numpy(), counts)
    ntok = batch.column("n_tok").to_numpy().astype(np.float64)
    return {g: (flat[tok_src == g], tok_tick[tok_src == g], ntok[src == g])
            for g in np.unique(src)}


def _add(sk, kind, toks, ticks, ntok):
    if kind in ("tbf", "stbf"):
        sk.add_batch(toks, ticks)
        return toks.size
    if kind in ("tdigest", "kll"):
        sk.add_batch(ntok)
        return ntok.size
    sk.add_batch(toks)
    return toks.size


def kernel_pass(table_dir: str, specs, probe_keys=None, now: int | None = None) -> tuple[dict, dict]:
    """(merged sketches {(spec, group): sketch}, per-layer metrics).

    Each scan split builds its own partial per (spec, group), as a
    Spark task would; the partials are then merged. ``probe_keys``
    (one array per probe batch) adds contains_batch throughput for the
    membership kinds."""
    parts = [[_groups(b) for b in batches] for batches in partitions(table_dir)]
    m: dict[str, float] = {}
    merged: dict[tuple[str, str], object] = {}
    for spec in specs:
        kind = spec.kind
        add_s, n_keys, partials = 0.0, 0, []
        for batches in parts:
            local: dict[str, object] = {}
            for groups in batches:
                for g, (toks, ticks, ntok) in groups.items():
                    sk = local.setdefault(g, spec.zero())
                    t0 = time.perf_counter()
                    n_keys += _add(sk, kind, toks, ticks, ntok)
                    add_s += time.perf_counter() - t0
            partials.append(local)
        t0 = time.perf_counter()
        for local in partials:
            for g, sk in local.items():
                key = (spec.name, g)
                merged[key] = merged[key].merge(sk) if key in merged else sk
        m[f"sketches.{kind}.merge_s"] = time.perf_counter() - t0
        m[f"sketches.{kind}.add_keys_per_s"] = n_keys / add_s
        mine = {g: sk for (s, g), sk in merged.items() if s == spec.name}
        t0 = time.perf_counter()
        blobs = [sk.to_bytes() for sk in mine.values()]
        to_s = time.perf_counter() - t0
        m[f"sketches.{kind}.bytes"] = float(sum(len(b) for b in blobs))
        if kind in ("tbf", "stbf"):
            t0 = time.perf_counter()
            for b in blobs:
                sketch_from_bytes(b)
            m[f"sketches.{kind}.from_bytes_s"] = time.perf_counter() - t0
            m[f"sketches.{kind}.to_bytes_s"] = to_s
        if probe_keys is not None and kind in ("cbf", "tbf", "stbf"):
            t0, n = time.perf_counter(), 0
            args = () if kind == "cbf" else (now,)
            for keys in probe_keys:
                for sk in mine.values():
                    sk.contains_batch(keys, *args)
                    n += keys.size
            m[f"sketches.{kind}.contains_keys_per_s"] = n / (time.perf_counter() - t0)
    return merged, m


def boundary_pass(table_dir: str, specs) -> dict:
    """Hashing throughput over the table's tokens, and the pipeline's
    update function run in process on the table's Arrow batches."""
    m: dict[str, float] = {}
    tokens = pq.read_table(table_dir, columns=["tokens"]).column("tokens").combine_chunks()
    keys = tokens.flatten().to_numpy().astype(np.int64)
    t0 = time.perf_counter()
    hash64(keys)
    m["hashing.hash64_keys_per_s"] = keys.size / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    bloom_indexes(keys, 8, 1 << 20)
    m["hashing.bloom_indexes_keys_per_s"] = keys.size / (time.perf_counter() - t0)

    update = make_update_fn(list(specs), ("source",), 1)
    t0 = time.perf_counter()
    for batches in partitions(table_dir):
        for _ in update(iter(batches)):
            pass
    m["pipeline.update_fn_s"] = time.perf_counter() - t0
    return m


def hll_ring(table_dir: str, bucket_ticks: int) -> dict:
    """{("hll", source<GROUP_SEP>bucket): HLL} over the table's tokens,
    one ring bucket per ``bucket_ticks`` ticks."""
    ring: dict[tuple[str, str], HyperLogLog] = {}
    for batches in partitions(table_dir):
        for b in batches:
            src = b.column("source").to_numpy(zero_copy_only=False)
            toks = b.column("tokens")
            counts = np.diff(toks.offsets.to_numpy())
            flat = toks.flatten().to_numpy().astype(np.int64)
            key = np.char.add(np.char.add(src.astype(str), GROUP_SEP),
                              (b.column("tick").to_numpy() // bucket_ticks).astype(str))
            tok_key = np.repeat(key, counts)
            for k in np.unique(key):
                sk = ring.setdefault(("hll", str(k)), HyperLogLog.zero(HLLParams(p=12)))
                sk.add_batch(flat[tok_key == k])
    return ring
