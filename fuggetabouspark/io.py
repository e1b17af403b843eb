"""Corpus IO: Iceberg table when a catalog is configured, parquet in
an Iceberg-shaped layout otherwise (no Iceberg jars in this sandbox —
SURVEY.md §1.2), with input_hint schema enforcement either way.

The reader is deliberately strict: the north rule fixes the corpus
schema to (doc_id:string, tokens:array<int32>, n_tok:int32,
source:string) [BASELINE.json:15], and a silent schema drift (e.g.
tokens as array<long>) would change hashing behavior downstream, so
mismatches fail loudly with the offending field named.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# checkpoint sketch rows and lineage rows, typed as Spark writes them
SHARD_SCHEMA = pa.schema([("spec", pa.string()), ("group", pa.string()), ("payload", pa.binary()),
                          ("n_items", pa.int64()), ("shard", pa.int32())])
LINEAGE_SCHEMA = pa.schema([("shard", pa.int32()), ("meta", pa.string())])

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)


def read_corpus(
    spark: SparkSession, source: str, strict: bool = True,
    extra_cols: tuple[str, ...] = (), fmt: str = "parquet",
) -> DataFrame:
    """Read the tokenized corpus.

    ``source`` is an Iceberg table name (contains no '/') read through
    the session catalog, or a parquet directory path. Column pruning
    and partition pruning stay with Catalyst — callers filter/select
    on the returned DataFrame and the scan narrows accordingly.
    ``extra_cols`` keeps additional columns (e.g. an event-time column
    that build_sketches' tick_col will reference) alongside the four
    input_hint columns. ``fmt`` selects parquet (default) or json
    (JSON-lines with tokens as int arrays) for path sources; json
    reads apply the expected schema up front (never inferred — an
    inferred array<long> would silently change downstream hashing).
    """
    if "/" not in source:
        df = spark.read.table(source)
    elif fmt == "json":
        schema = T.StructType(
            list(CORPUS_SCHEMA.fields)
            + [T.StructField(c, T.StringType()) for c in extra_cols]
        )
        df = spark.read.schema(schema).json(source)
    else:
        df = spark.read.parquet(source)
    missing = [f.name for f in CORPUS_SCHEMA.fields if f.name not in df.columns]
    missing += [c for c in extra_cols if c not in df.columns]
    if missing:
        raise ValueError(f"corpus at {source!r} is missing columns {missing}")
    if strict:
        got = {f.name: f.dataType for f in df.schema.fields}
        for f in CORPUS_SCHEMA.fields:
            if got[f.name] != f.dataType:
                raise ValueError(
                    f"corpus column {f.name!r} has type {got[f.name].simpleString()}, "
                    f"expected {f.dataType.simpleString()} (input_hint, BASELINE.json:15)"
                )
    return df.select("doc_id", "tokens", "n_tok", "source", *extra_cols)


def validate_corpus(df: DataFrame) -> dict:
    """Cheap full-scan invariants: n_tok == len(tokens) on every row
    (FIXTURES.md consistency test) and null-free key columns."""
    bad = df.where(
        (F.size("tokens") != F.col("n_tok"))
        | F.col("doc_id").isNull()
        | F.col("source").isNull()
    ).count()
    total = df.count()
    return {"rows": total, "invalid_rows": bad, "ok": bad == 0}


def write_sketch_state(state_df: DataFrame, path: str, mode: str = "append") -> None:
    """Persist final sketch rows; parquet keeps binary payloads
    columnar and splittable."""
    state_df.write.mode(mode).parquet(path)


def read_sketch_state(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_table(path: str, schema: pa.Schema, columns=None) -> pa.Table:
    """Read a checkpoint parquet directory on the driver with pyarrow,
    with no Spark job: these tables are small and read on every build,
    load and ingest. A missing ``path`` falls back to ``path_old`` (a
    directory swap that crashed between its renames), then reads as
    empty. Like Spark, skips files named '.*' (in-flight temporaries,
    .crc) and '_*' (_SUCCESS). The explicit schema reads Spark-written
    and append_rows files alike."""
    import pyarrow.dataset as ds

    path = live_dir(path)
    if not os.path.exists(path):
        return schema.empty_table().select(columns or schema.names)
    return ds.dataset(path, schema=schema, format="parquet").to_table(columns=columns)


def append_rows(path: str, rows: list[tuple], schema: pa.Schema) -> None:
    """Append ``rows`` (tuples in ``schema`` order) to the parquet
    directory ``path`` as one file, written by the driver under a '.'
    name that readers skip and then renamed into place: a crash
    mid-write leaves no partial file visible. Checkpoints therefore
    live on a path the driver can reach."""
    import pyarrow.parquet as pq

    cols = list(zip(*rows)) or [()] * len(schema)
    table = pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def live_dir(path: str) -> str:
    """``path``, or ``path_old`` when a swap_dir crashed between its
    renames and left only the aside copy."""
    if not os.path.exists(path) and os.path.exists(path + "_old"):
        return path + "_old"
    return path


def swap_dir(write_fn, path: str) -> None:
    """Replace the directory ``path`` with what ``write_fn(tmp)``
    writes. The old directory is renamed aside before the new one is
    moved in, so every crash point leaves the old directory, the
    ``_old`` copy (live_dir) or the new directory readable. A leftover
    ``_compacting`` directory of a crashed swap is replaced, and
    ``_old`` is only retired once ``path`` exists again."""
    tmp, old = path + "_compacting", path + "_old"
    shutil.rmtree(tmp, ignore_errors=True)
    write_fn(tmp)
    if os.path.exists(path):
        shutil.rmtree(old, ignore_errors=True)
        shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def heal_swap(path: str) -> None:
    """Finish a swap_dir that crashed between its renames: restore the
    ``_old`` copy as ``path``. Every writer that APPENDS to a swapped
    directory calls this first; an append would otherwise create a new
    ``path`` holding only the new rows, which readers then prefer over
    the whole history in ``_old``. Readers never heal."""
    if live_dir(path) != path:
        os.rename(path + "_old", path)
