"""The benchmark's workloads: stream_ingest and dedup_stream.

Each workload is one closed-loop client: the next call into the engine
starts only when the previous one has returned. Row and partition counts
are constants, so the inputs, and the bytes the engine writes for them,
depend on the seed alone and not on the host's core count.

stream_ingest runs every codec layer (encode on append and compaction,
decode on the pruned query, the verify step and the read-back) and
dedup_stream runs none, so each layer is busy in one workload and idle in
the other; the dedup layers are the other way round.

Every workload implements:
  setup(dir)     builds what the timed loop reads; timed as set-up
  prepare()      computes the answers the checks compare against; untimed
  run(seconds)   the end-to-end loop, without spans
  end_to_end()   the workload's op_p50_s, throughput_mbps, bytes_per_raw_byte
  trace()        the same calls split into layers with spans, plus the
                 subtraction controls of ``layers``; returns per-layer metrics

How many operations a run measures follows from ``--seconds`` and a
nominal operation time alone (``op_count``), never from how fast the
engine runs, so two versions of the engine are measured on the same work.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import statistics
import time
import traceback
import uuid
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import layers
from spans import summary


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def op_count(seconds: float, nominal_s: float, least: int, most: int) -> int:
    """Operations a run measures: as many as fill ``seconds`` at the nominal
    operation time measured on a 4-vCPU host, within [least, most]."""
    return min(most, max(least, round(seconds / nominal_s)))


def manifest_sum(table: str, col: str) -> int:
    return int(pc.sum(layers.manifest_rows(table).column(col)).as_py())


class Workload:
    """Bookkeeping shared by the workloads: op counts, samples, checks."""

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.details: dict = {}

    def record(self, kind: str, value: float) -> None:
        self.samples.setdefault(kind, []).append(value)

    def outcome(self, n_ops: int, ok: bool, what: str) -> None:
        self.attempted += n_ops
        if not ok:
            self.failed += n_ops
            self.errors.append(what)

    def guarded(self, n_ops: int, what: str, fn):
        """Run ``fn``; if it raises, count ``n_ops`` failed operations and
        return None so the loop can go on."""
        try:
            return fn()
        except Exception:
            traceback.print_exc()
            self.outcome(n_ops, False, f"{what} raised")
            return None

    def span(self, name: str, traced: bool):
        return self.tracer.span(name) if traced else nullcontext()

    def trace_walls(self, traced: float, untraced: float,
                    weights: dict[str, int], out: dict) -> None:
        """Tracing overhead of one end-to-end call (traced wall over
        untraced wall), the share of the untraced wall that the layers'
        self times add up to, and the layer that dominates."""
        parts = {n: w * out[n] for n, w in weights.items()}
        out["trace.overhead_ratio"] = traced / untraced if untraced else 0.0
        out["trace.layer_sum_ratio"] = sum(parts.values()) / untraced if untraced else 0.0
        self.details["layers"] = parts
        self.details["dominant_layer"] = max(parts, key=parts.get)

    def report(self) -> dict:
        return {"samples": {k: summary(v) for k, v in self.samples.items()},
                "errors": self.errors[:20], **self.details}


# ---------------------------------------------------------------------------
# stream_ingest

# maintain_table groups segments into power-of-two size tiers and compacts a
# tier once it holds four of them; at about 520 encoded bytes a row,
# 1,400-row segments sit mid-tier (log2 of their bytes near 19.5), so
# seed-to-seed size jitter cannot split one round's segments across two tiers
BATCH_ROWS = 1_400
APPEND_PARTS = 2
COMPACT_PARTS = 4
SEGMENTS_PER_ROUND = 4   # maintain_table's default min_segments
ROUND_OPS = SEGMENTS_PER_ROUND + 3   # appends, pruned query, maintenance, read-back
ROUND_S = 16             # nominal wall of one round, for op_count
MAX_ROUNDS = 3
CONTROL_REPS = 3         # subtraction controls per traced run; layers use medians
ZONE_ROWS = 700          # width of the zone-pruned query's warc_ts window


def zone_query(df, lo: int, hi: int) -> tuple:
    from pyspark.sql import functions as F

    r = (df.where(F.unix_micros("warc_ts").between(lo, hi))
         .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("chars"),
              F.sum(F.xxhash64("url").cast("decimal(38,0)")).alias("h"))
         .first())
    return r["n"], r["chars"], int(r["h"] or 0)


class StreamIngest(Workload):
    """A crawl table fed by micro-batches. Each round appends four segments
    with encode_webtext, runs a warc_ts-window query over all segments (each
    segment holds one id range, so zone maps prune the others), runs one
    maintain_table round (size-tiered trigger, compact, promote,
    fingerprint-verified reap) and reads the whole table back with
    decode_segments. The first append pays the session's cold start, as a
    stream's first micro-batch does. Round r appends batches
    [r * SEGMENTS_PER_ROUND, (r + 1) * SEGMENTS_PER_ROUND), so a round can be
    repeated on a copy of the table with the same inputs."""

    def setup(self, d: str) -> None:
        from pyspark.sql import functions as F

        from mapbox_vector_tile_java_spark.sources.webtext import webtext_df

        n = MAX_ROUNDS * SEGMENTS_PER_ROUND
        self.src = os.path.join(d, "batches")
        # spark.range gives partition p the ids [p*BATCH_ROWS, (p+1)*BATCH_ROWS)
        (webtext_df(self.spark, n * BATCH_ROWS, self.seed, n)
         .withColumn("batch", F.spark_partition_id())
         .write.partitionBy("batch").parquet(self.src))

    def prepare(self) -> None:
        self.table = os.path.join(self.work, "table")
        os.makedirs(self.table)
        self.rounds: list[dict] = []
        self.details["rounds"] = self.rounds

    def _sources(self, n_batches: int):
        return self.spark.read.parquet(*[os.path.join(self.src, f"batch={b}")
                                         for b in range(n_batches)])

    def _append(self, b: int, traced: bool) -> float:
        from mapbox_vector_tile_java_spark.operators.encode import (
            encode_table, encode_webtext)
        from mapbox_vector_tile_java_spark.plans.codec_plan import (
            collect_sample, hot_keys_from_sample)
        from mapbox_vector_tile_java_spark.plans.partitioning import plan_webtext

        df = self.spark.read.parquet(os.path.join(self.src, f"batch={b}"))
        seg = os.path.join(self.table, f"segment={b}")
        sc = self.spark.sparkContext
        group = f"append-{b}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        if traced:
            # encode_webtext's steps, called one by one
            with self.tracer.span("stream.append"):
                with self.tracer.span("codec_plan.sample"):
                    sample = collect_sample(df)
                hot = hot_keys_from_sample(sample, "url", APPEND_PARTS)
                planned = plan_webtext(df, APPEND_PARTS, hot_hosts=hot)
                with self.tracer.span("encode.table"):
                    encode_table(planned, seg, sample=sample, n_parts=APPEND_PARTS,
                                 config_note={"hot_hosts": hot})
            self.last_input = (df, sample)
        else:
            encode_webtext(df, seg, n_parts=APPEND_PARTS)
        dt = time.perf_counter() - t0
        sc.setJobGroup("", "")
        self.record("append", dt)
        if not traced:
            self.record("jobs", len(sc.statusTracker().getJobIdsForGroup(group)))
        return dt

    def _zone_query(self, r: int, traced: bool) -> tuple[float, bool, str, int, int]:
        """A warc_ts window inside round r's newest segment, over every
        segment; returns (seconds, whether the result equals the same query
        on the source parquet, what differed, blocks the zone maps keep,
        blocks in all)."""
        from mapbox_vector_tile_java_spark.operators.decode import decode_table_multi
        from mapbox_vector_tile_java_spark.sources.webtext import gen_batch
        from mapbox_vector_tile_java_spark.streaming.incremental import list_segments

        n_batches = (r + 1) * SEGMENTS_PER_ROUND
        first = (n_batches - 1) * BATCH_ROWS
        rng = np.random.default_rng([self.seed, r])
        start = first + int(rng.integers(0, BATCH_ROWS - ZONE_ROWS))
        lo, hi = gen_batch(np.array([start, start + ZONE_ROWS]), self.seed) \
            .column("warc_ts").cast(pa.int64()).to_pylist()
        segs = list_segments(self.table)
        t0 = time.perf_counter()
        with self.span("decode.pruned", traced):
            got = zone_query(decode_table_multi(
                self.spark, segs, columns=["url", "warc_ts", "text"],
                zone_filters=[("warc_ts", lo, hi)]), lo, hi)
        dt = time.perf_counter() - t0
        want = zone_query(self._sources(n_batches), lo, hi)
        counts = [layers.zone_blocks(s, "warc_ts", lo, hi) for s in segs]
        return (dt, got == want, f"zone query [{lo}, {hi}]: {got} != {want}",
                sum(c[0] for c in counts), sum(c[1] for c in counts))

    def _maintain(self, traced: bool) -> str | None:
        from mapbox_vector_tile_java_spark.streaming.incremental import (
            compact_segments, compaction_due, maintain_table, promote_compacted,
            verify_and_reap)

        if not traced:
            return maintain_table(self.spark, self.table, n_parts=COMPACT_PARTS)
        # maintain_table's steps, called one by one
        with self.tracer.span("stream.maintain"):
            with self.tracer.span("incremental.due"):
                due = compaction_due(self.spark, self.table)
            staging = os.path.join(self.table, ".compact_tmp", uuid.uuid4().hex[:12])
            with self.tracer.span("incremental.compact"):
                compact_segments(self.spark, self.table, staging, COMPACT_PARTS,
                                 segments=due)
            with self.tracer.span("incremental.promote"):
                promoted = promote_compacted(self.table, staging)
            with self.tracer.span("incremental.verify_reap"):
                verify_and_reap(self.spark, self.table)
            os.rmdir(os.path.dirname(staging))
        return promoted

    def _round(self, r: int, traced: bool) -> dict:
        """Round r; its ROUND_OPS operations are counted only once it has
        ended, so a round that raises is counted by ``guarded`` alone."""
        from mapbox_vector_tile_java_spark.streaming.incremental import (
            content_fingerprint, decode_segments, list_segments)

        first, end = r * SEGMENTS_PER_ROUND, (r + 1) * SEGMENTS_PER_ROUND
        t_append = sum(self._append(b, traced) for b in range(first, end))
        appended = [os.path.join(self.table, f"segment={b}")
                    for b in range(first, end)]
        appended_bytes = sum(dir_bytes(s) for s in appended)
        appended_raw = sum(manifest_sum(s, "raw_bytes") for s in appended)
        t_zone, zone_ok, zone_diff, scanned, total = self._zone_query(r, traced)
        self.record("pruned", t_zone)
        n_before = len(list_segments(self.table))
        t0 = time.perf_counter()
        promoted = self._maintain(traced)
        t_maint = time.perf_counter() - t0
        self.record("maintain", t_maint)
        t0 = time.perf_counter()
        with self.span("decode.multi", traced):
            fp = content_fingerprint(decode_segments(self.spark, self.table))
        t_read = time.perf_counter() - t0
        self.record("readback", t_read)
        wall = t_append + t_zone + t_maint + t_read

        want = content_fingerprint(self._sources(end))
        leftover = [p for root in (".compact_tmp", ".pre_compact")
                    for p in glob.glob(os.path.join(self.table, root, "*"))]
        self.outcome(1, zone_ok, zone_diff)
        self.outcome(ROUND_OPS - 1,
                     promoted is not None and fp == want and not leftover,
                     f"round from batch {first}: promoted={promoted} "
                     f"fingerprint={fp} want={want} leftover={leftover}")
        live = list_segments(self.table)
        rewritten = dir_bytes(promoted) if promoted else 0
        rec = {
            "round": r, "traced": traced, "wall_s": wall, "appended_raw": appended_raw,
            "raw_bytes": sum(manifest_sum(s, "raw_bytes") for s in live),
            "enc_bytes": sum(manifest_sum(s, "enc_bytes") for s in live),
            "blocks_scanned": scanned, "blocks_total": total,
            "segments_before": n_before, "segments_after": len(live),
            "bytes_rewritten": rewritten, "promoted": promoted,
            "write_amp": (appended_bytes + rewritten) / appended_raw}
        self.rounds.append(rec)
        return rec

    def run(self, seconds: float) -> None:
        for r in range(op_count(seconds, ROUND_S, 1, MAX_ROUNDS)):
            self.guarded(ROUND_OPS, f"round {r}", lambda: self._round(r, False))

    def end_to_end(self) -> dict:
        first = self.rounds[0] if self.rounds else None
        return {"op_p50_s": median(self.samples.get("append")),
                "throughput_mbps": median([r["appended_raw"] / 1e6 / r["wall_s"]
                                           for r in self.rounds]),
                "bytes_per_raw_byte": first["enc_bytes"] / first["raw_bytes"]
                if first else 0.0}

    def trace(self) -> dict:
        """A warm-up round, then round 1 twice on the same inputs: untraced
        on a copy of the table, traced on the table itself; then the
        controls. Returns no metrics if a round failed."""
        from mapbox_vector_tile_java_spark.operators.decode import decode_table
        from mapbox_vector_tile_java_spark.streaming.incremental import \
            content_fingerprint

        if self.guarded(ROUND_OPS, "round 0", lambda: self._round(0, False)) is None:
            return {}
        table, self.table = self.table, self.table + "_copy"
        shutil.copytree(table, self.table)
        untraced = self.guarded(ROUND_OPS, "round 1", lambda: self._round(1, False))
        shutil.rmtree(self.table)
        self.table = table
        traced = self.guarded(ROUND_OPS, "round 1 traced", lambda: self._round(1, True))
        if untraced is None or traced is None:
            return {}
        compacted = traced["promoted"]
        df, sample = self.last_input
        for _ in range(CONTROL_REPS):
            layers.encode_controls(df, APPEND_PARTS, sample, self.tracer)
            layers.decode_controls(self.spark, compacted, self.tracer)
            with self.tracer.span("ctl.fp"):
                content_fingerprint(decode_table(self.spark, compacted))
        ledger, errors = layers.codec_ledger(compacted)
        self.outcome(1, not errors, "; ".join(errors))
        t = self.tracer.median_self
        out = dict(ledger)
        out.update({
            "codec_plan.sample_s": t("codec_plan.sample"),
            "codec_plan.plan_s": t("ctl.plan"),
            "partitioning.shuffle_s": t("ctl.shuffle"),
            "encode.transfer_s": t("ctl.drain") - t("ctl.shuffle"),
            "encode.kernels_s": t("ctl.kernels") - t("ctl.drain"),
            "encode.write_s": t("encode.table") - t("ctl.kernels") - t("ctl.plan"),
            "encode.spark_jobs": median(self.samples.get("jobs")),
            "decode.scan_s": t("ctl.scan"),
            "decode.transfer_s": t("ctl.transfer") - t("ctl.scan"),
            "decode.kernels_s": t("ctl.nocrc") - t("ctl.transfer"),
            "decode.crc_s": t("ctl.crc") - t("ctl.nocrc"),
            "decode.blocks_scanned": traced["blocks_scanned"],
            "decode.blocks_total": traced["blocks_total"],
            "decode.prune_ratio": 1 - traced["blocks_scanned"] / traced["blocks_total"],
            "decode.pruned_s": t("decode.pruned"),
            "decode.multi_s": t("decode.multi"),
            "incremental.due_s": t("incremental.due"),
            "incremental.compact_s": t("incremental.compact"),
            "incremental.promote_s": t("incremental.promote"),
            "incremental.verify_reap_s": t("incremental.verify_reap"),
            "incremental.fingerprint_s": t("ctl.fp") - t("ctl.crc"),
            "incremental.bytes_rewritten": untraced["bytes_rewritten"],
            "incremental.segments_before": untraced["segments_before"],
            "incremental.segments_after": untraced["segments_after"],
            "incremental.write_amp": untraced["write_amp"],
        })
        per_append = ("codec_plan.sample_s", "codec_plan.plan_s",
                      "partitioning.shuffle_s", "encode.transfer_s",
                      "encode.kernels_s", "encode.write_s")
        once = ("decode.pruned_s", "incremental.due_s", "incremental.compact_s",
                "incremental.promote_s", "incremental.verify_reap_s",
                "decode.multi_s")
        self.trace_walls(traced["wall_s"], untraced["wall_s"],
                         {**{n: SEGMENTS_PER_ROUND for n in per_append},
                          **{n: 1 for n in once}}, out)
        return out


# ---------------------------------------------------------------------------
# dedup_stream

CORPUS_DOCS = 2_000
BATCH_DOCS = 200
NEAR_DUP_EVERY = 10    # every tenth batch doc is an edited copy of an earlier doc
VOCAB_WORDS = 600
THRESHOLD = 0.5        # dedup_incremental's default
GRAM_K = 3             # dedup_incremental's default
WARM_BATCHES = 1       # leading batches left out of the statistics
BATCH_S = 7            # nominal time of one batch, for op_count
MIN_BATCHES = 2        # measured batches per run, however short --seconds is
TRACE_ORDER = (False, True, True, False)  # traced or not, batch by batch
MAX_BATCHES = WARM_BATCHES + len(TRACE_ORDER)


def _vocab() -> list[str]:
    rng = np.random.default_rng(0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(rng.choice(letters, rng.integers(2, 9)))
            for _ in range(VOCAB_WORDS)]


def make_docs(seed: int) -> tuple[list[str], list[list[str]], list[list[tuple[int, int]]]]:
    """ASCII documents: the corpus, then MAX_BATCHES batches in which every
    NEAR_DUP_EVERY-th doc copies an earlier doc with one word replaced, and
    for each batch its planted (new id, source id) pairs.

    One replaced word keeps every planted pair's 5-byte shingle jaccard, the
    signal the minhash index bands on, above 0.9, so 16 bands of 4 rows miss
    a planted pair with probability below 1e-7: a planted pair that is not
    returned is a recall loss, not chance."""
    vocab = _vocab()
    rng = np.random.default_rng(seed)

    def fresh() -> list[str]:
        w = (rng.random(rng.integers(40, 100)) ** 2 * len(vocab)).astype(int)
        return [vocab[j] for j in w]

    pool = [fresh() for _ in range(CORPUS_DOCS)]
    pool_ids = list(range(CORPUS_DOCS))
    corpus = [" ".join(w) for w in pool]
    batches, planted = [], []
    for b in range(MAX_BATCHES):
        docs, pairs = [], []
        for i in range(BATCH_DOCS):
            if i % NEAR_DUP_EVERY:
                words = fresh()
            else:
                src = int(rng.integers(len(pool)))
                words = list(pool[src])
                words[rng.integers(len(words))] = vocab[rng.integers(len(vocab))]
                pairs.append((batch_id(b, i), pool_ids[src]))
            docs.append(words)
        pool.extend(docs)
        pool_ids.extend(batch_id(b, i) for i in range(BATCH_DOCS))
        batches.append([" ".join(w) for w in docs])
        planted.append(pairs)
    return corpus, batches, planted


def batch_id(b: int, i: int) -> int:
    return (b + 1) * 1_000_000 + i


def jaccard(a: str, b: str) -> float:
    """char-GRAM_K-gram jaccard, rounded half away from zero to 6 digits as
    the engine rounds it."""
    ga = {a[i:i + GRAM_K] for i in range(len(a) - GRAM_K + 1)}
    gb = {b[i:i + GRAM_K] for i in range(len(b) - GRAM_K + 1)}
    x = len(ga & gb) / len(ga | gb)
    return math.floor(x * 1e6 + 0.5) / 1e6


class DedupStream(Workload):
    """A minhash index is built in set-up over a seed-generated corpus.
    Each batch then runs dedup_incremental (gram_dir=None, so no cache can
    go stale) against corpus + earlier batches, and minhash_index_append;
    the corpus, and the exact-verify work over it, grows with each batch,
    and every run measures the same batches."""

    def setup(self, d: str) -> None:
        from mapbox_vector_tile_java_spark.operators.dedup import build_minhash_index

        corpus, batches, self.planted = make_docs(self.seed)
        os.makedirs(d)
        self.paths = [os.path.join(d, "corpus.parquet")] + [
            os.path.join(d, f"batch{b}.parquet") for b in range(MAX_BATCHES)]
        ids = [range(CORPUS_DOCS)] + [[batch_id(b, i) for i in range(BATCH_DOCS)]
                                      for b in range(MAX_BATCHES)]
        self.text = {}
        for path, idl, docs in zip(self.paths, ids, [corpus] + batches):
            pq.write_table(pa.table({"doc_id": pa.array(idl, pa.int64()),
                                     "text": pa.array(docs, pa.string())}), path)
            self.text.update(zip(idl, docs))
        self.corpus_raw = sum(len(t.encode()) for t in corpus)
        self.index = os.path.join(d, "index")
        build_minhash_index(self.spark.read.parquet(self.paths[0]), "text",
                            "doc_id", self.index)

    def prepare(self) -> None:
        self.bytes_ratio = 0.0

    def _batch(self, b: int, traced: bool) -> float:
        from mapbox_vector_tile_java_spark.operators.dedup import (
            cleanup_temp_dirs, dedup_incremental, minhash_index_append)

        new = self.spark.read.parquet(self.paths[b + 1])
        corpus = self.spark.read.parquet(*self.paths[:b + 1])
        t0 = time.perf_counter()
        with self.span("dedup.batch", traced):
            with self.span("dedup.incremental", traced):
                pairs = dedup_incremental(corpus, new, "text", "doc_id",
                                          self.index).collect()
            with self.span("dedup.index_append", traced):
                minhash_index_append(new, "text", "doc_id", self.index)
        dt = time.perf_counter() - t0
        cleanup_temp_dirs()
        lo, hi = batch_id(b, 0), batch_id(b + 1, 0)
        bad = [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs
               if not (lo <= r["id_a"] < hi or lo <= r["id_b"] < hi)
               or r["jaccard"] < THRESHOLD
               or abs(jaccard(self.text[r["id_a"]], self.text[r["id_b"]])
                      - r["jaccard"]) > 1e-9]
        found = {frozenset((r["id_a"], r["id_b"])) for r in pairs}
        missed = [p for p in self.planted[b] if frozenset(p) not in found
                  and jaccard(self.text[p[0]], self.text[p[1]]) >= THRESHOLD]
        self.outcome(1, not bad and not missed,
                     f"batch {b}: bad pairs {bad[:5]}, missed planted pairs {missed[:5]}")
        batch_raw = sum(len(self.text[batch_id(b, i)].encode()) for i in range(BATCH_DOCS))
        self.record("pairs", len(pairs))
        if b < WARM_BATCHES:
            self.record("warmup", dt)
        else:
            self.record("batch_traced" if traced else "batch", dt)
            self.record("mbps", batch_raw / 1e6 / dt)
        if b == 0:
            self.bytes_ratio = dir_bytes(self.index) / (self.corpus_raw + batch_raw)
        return dt

    def run(self, seconds: float) -> None:
        n = WARM_BATCHES + op_count(seconds, BATCH_S, MIN_BATCHES,
                                    MAX_BATCHES - WARM_BATCHES)
        for b in range(n):
            self.guarded(1, f"batch {b}", lambda: self._batch(b, False))

    def end_to_end(self) -> dict:
        return {"op_p50_s": median(self.samples.get("batch")),
                "throughput_mbps": median(self.samples.get("mbps")),
                "bytes_per_raw_byte": self.bytes_ratio}

    def trace(self) -> dict:
        """A warm-up batch, then batches in TRACE_ORDER. The corpus grows
        with each batch; the traced batches sit in the middle, so under
        linear growth the median of the untraced pair and of the traced pair
        cover the same amount of data. Returns no metrics if a batch failed."""
        from mapbox_vector_tile_java_spark.operators.dedup import minhash_signatures

        order = (False,) * WARM_BATCHES + TRACE_ORDER
        done = [self.guarded(1, f"batch {b}", lambda: self._batch(b, tr))
                for b, tr in enumerate(order)]
        if None in done:
            return {}
        new = self.spark.read.parquet(self.paths[-1])
        with self.tracer.span("ctl.signatures"):
            layers.noop(minhash_signatures(new, "text", "doc_id"))
        t = self.tracer.median_self
        index_rows = sum(pq.ParquetFile(f).metadata.num_rows
                         for f in glob.glob(os.path.join(self.index, "*.parquet")))
        out = {
            "dedup.signatures_s": t("ctl.signatures"),
            "dedup.incremental_s": t("dedup.incremental"),
            "dedup.index_append_s": t("dedup.index_append"),
            "dedup.index_rows": index_rows,
            "dedup.pairs": median(self.samples.get("pairs")),
        }
        self.trace_walls(self.tracer.median_wall("dedup.batch"),
                         median(self.samples.get("batch")),
                         {"dedup.incremental_s": 1, "dedup.index_append_s": 1}, out)
        return out


WORKLOADS = {"stream_ingest": StreamIngest, "dedup_stream": DedupStream}
