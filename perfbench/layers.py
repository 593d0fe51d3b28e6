"""Subtraction controls and the codec kernel ledger.

A Spark job cannot be timed from the inside without changing the engine,
so each layer of the encode and decode pipelines is measured as the
difference between two jobs that differ only by that layer:

  encode: plan_webtext -> noop                        = shuffle
          ... -> mapInArrow(drain) -> noop            = shuffle + transfer
          ... -> mapInArrow(encode_batch) -> noop     = ... + kernels
          encode_table(planned, sample=...)           = plan + ... + write
  decode: blocks parquet scan with decode's projection -> noop = scan
          ... -> mapInArrow(identity) -> noop         = scan + transfer
          decode_table(verify_crc=False) -> noop      = ... + kernels
          decode_table(verify_crc=True) -> noop       = ... + crc checks

The ledger times single-thread ``encode_column`` / ``decode_column`` and
``content_crc`` on fixed in-process column blocks, for every codec that an
encoded table's manifest shows the planner chose.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LEDGER_ROWS = 4096   # one fixed webtext block, the same in every run
LEDGER_SEED = 42
LEDGER_REPS = 5


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _drain(batches):
    n = 0
    for b in batches:
        n += b.num_rows
    yield pa.RecordBatch.from_pydict({"n": [n]})


def identity(batches):
    yield from batches


def _kernel_fn(overrides: dict):
    def fn(batches):
        from pyspark import TaskContext

        from mapbox_vector_tile_java_spark.operators.encode import encode_batch

        pid = TaskContext.get().partitionId()
        plan_cache: dict = {}
        total = 0
        for i, b in enumerate(batches):
            if b.num_rows:
                _, rows = encode_batch(b, pid, i, overrides, plan_cache)
                total += sum(r["enc_bytes"] for r in rows)
        yield pa.RecordBatch.from_pydict({"n": [total]})

    return fn


def encode_controls(df, n_parts: int, sample: pa.Table, tracer) -> None:
    """Spans ctl.plan, ctl.shuffle, ctl.drain and ctl.kernels for one input."""
    from mapbox_vector_tile_java_spark.plans.codec_plan import (
        hot_keys_from_sample, plan_from_sample)
    from mapbox_vector_tile_java_spark.plans.partitioning import plan_webtext

    hot = hot_keys_from_sample(sample, "url", n_parts)
    with tracer.span("ctl.plan"):
        overrides, _, _ = plan_from_sample(sample)
    with tracer.span("ctl.shuffle"):
        noop(plan_webtext(df, n_parts, hot_hosts=hot))
    with tracer.span("ctl.drain"):
        noop(plan_webtext(df, n_parts, hot_hosts=hot).mapInArrow(_drain, "n long"))
    with tracer.span("ctl.kernels"):
        noop(plan_webtext(df, n_parts, hot_hosts=hot)
             .mapInArrow(_kernel_fn(overrides), "n long"))


def decode_controls(spark, table: str, tracer) -> None:
    """Spans ctl.scan, ctl.transfer, ctl.nocrc and ctl.crc for one table."""
    from mapbox_vector_tile_java_spark.operators.decode import decode_table
    from mapbox_vector_tile_java_spark.plans import manifest as M

    schema, _, _ = M.read_meta(table)
    need = (["part_id", "block_id", "n_rows"]
            + [f"c_{n}" for n in schema.names] + [f"crc_{n}" for n in schema.names])
    blocks = spark.read.parquet(M.blocks_dir(table)).select(*need)
    with tracer.span("ctl.scan"):
        noop(blocks)
    with tracer.span("ctl.transfer"):
        noop(blocks.mapInArrow(identity, blocks.schema))
    with tracer.span("ctl.nocrc"):
        noop(decode_table(spark, table, verify_crc=False))
    with tracer.span("ctl.crc"):
        noop(decode_table(spark, table))


def manifest_rows(table: str) -> pa.Table:
    return pq.read_table(glob.glob(os.path.join(table, "manifest.parquet", "*.parquet")))


def zone_blocks(table: str, col: str, lo: int, hi: int) -> tuple[int, int]:
    """(blocks whose zone map overlaps [lo, hi], all blocks), read from the
    block files' own zone-map columns."""
    from mapbox_vector_tile_java_spark.plans import manifest as M

    files = sorted(glob.glob(os.path.join(M.blocks_dir(table), "*.parquet")))
    t = pq.read_table(files, columns=[f"mn_{col}", f"mx_{col}"])
    mn = t.column(0).to_numpy(zero_copy_only=False)
    mx = t.column(1).to_numpy(zero_copy_only=False)
    return int(((mn <= hi) & (mx >= lo)).sum()), t.num_rows


def _median_time(fn) -> tuple[float, object]:
    times, out = [], None
    for _ in range(LEDGER_REPS):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def codec_ledger(table: str) -> tuple[dict, list[str]]:
    """Single-thread MB/s per codec chosen in ``table`` plus content_crc MB/s.

    Returns ({metric: value}, [error, ...]); an error is a block that did
    not decode back to its input."""
    from mapbox_vector_tile_java_spark.columns import (content_crc,
                                                       decode_column,
                                                       encode_column)
    from mapbox_vector_tile_java_spark.plans import manifest as M
    from mapbox_vector_tile_java_spark.plans.codec_plan import overrides_from_plan
    from mapbox_vector_tile_java_spark.sources.webtext import gen_batch

    _, symtabs, cfg = M.read_meta(table)
    overrides = overrides_from_plan(cfg["plan"], symtabs)
    ctx = {"symtabs": symtabs}
    block = gen_batch(np.arange(LEDGER_ROWS, dtype=np.int64), LEDGER_SEED)
    mix = sorted({(r["name"], r["codec"]) for r in
                  manifest_rows(table).select(["name", "codec"]).to_pylist()})
    raw: dict[str, int] = {}
    enc_s: dict[str, float] = {}
    dec_s: dict[str, float] = {}
    errors = []
    for col, codec in mix:
        arr = block.column(col)
        planned = overrides.get(col)
        params = planned[1] if planned and planned[0] == codec else None
        t_enc, (blob, meta) = _median_time(lambda: encode_column(arr, codec, params))
        t_dec, back = _median_time(lambda: decode_column(blob, arr.type, ctx))
        if not back.equals(arr):
            errors.append(f"ledger: {codec} on {col} did not round-trip")
        raw[codec] = raw.get(codec, 0) + meta["raw_bytes"]
        enc_s[codec] = enc_s.get(codec, 0.0) + t_enc
        dec_s[codec] = dec_s.get(codec, 0.0) + t_dec
    out = {}
    for codec in raw:
        out[f"codecs.{codec}.enc_mbps"] = raw[codec] / enc_s[codec] / 1e6
        out[f"codecs.{codec}.dec_mbps"] = raw[codec] / dec_s[codec] / 1e6
    crc_raw = sum(sum(b.size for b in c.buffers() if b is not None)
                  for c in block.columns)
    t_crc, _ = _median_time(lambda: [content_crc(c) for c in block.columns])
    out["columns.crc_mbps"] = crc_raw / t_crc / 1e6
    return out, errors
