"""The benchmark's workloads.

Each workload generates its inputs from the seed, starts a Spark session
through the engine's own factory, runs ``WARMUP_JOBS`` untimed warm-up
jobs, and then runs jobs through the engine's public functions. A job's
output stays on disk until :meth:`Workload.check` has compared it with a
reference the benchmark computes on its own (see ``checks.py``).

When a :class:`spans.Recorder` is passed to ``run_job``, every call into a
layer of the engine runs inside a span named ``<layer>.<function>``.
"""

from __future__ import annotations

import contextlib
import math
import os
import time
from dataclasses import dataclass, field

import checks
import gen
import procs

# Sizes are fixed; the seed changes content only (see gen.py).
# The first job of a session is the cold one (class loading, code generation,
# Python workers), so set-up runs it before the measured ones.
WARMUP_JOBS = 1
STREAM_BLOCKS = 18  # narrow blocks per stream job, plus the error probes
STREAM_WIDTHS = (8, 22)  # transactions per block, like the repo's e2e corpus
STREAM_FILES_PER_TRIGGER = 11  # 21 files -> 2 micro-batches per job
MEDIA_IMAGES = 2000
MEDIA_CLIPS = 1000
DECODER_SAMPLE = 200  # payloads per codec timed by the traced run


@dataclass
class JobResult:
    out_dir: str
    seconds: float = 0.0
    progress: list = field(default_factory=list)  # durationMs of each micro-batch
    decode_s: float = 0.0  # decode-only probe after a traced media job


def _span(rec, name: str):
    return rec.span(name) if rec is not None else contextlib.nullcontext()


def _traced(rec, name: str, fn):
    def wrapper(*args, **kwargs):
        with rec.span(name):
            return fn(*args, **kwargs)

    return wrapper


class Workload:
    name = ""

    def __init__(self, root: str, seed: int):
        self.root, self.seed = root, seed

    def session_confs(self) -> dict:
        """Confs that keep Spark's scratch space in the run's root (the
        block manager's directory comes from ``SPARK_LOCAL_DIRS``)."""
        return {
            "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.root} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }

    def start_session(self):
        from solana_etl_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        spark = get_spark(
            app_name=f"perfbench-{self.name}",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            driver_memory="4g",
            extra_confs=self.session_confs(),
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def stop_session(self, spark) -> None:
        procs.stop_spark(spark)

    def peak_rss_mb(self, spark) -> tuple[float, list]:
        """Peak RSS in MiB of the JVM and of each live Python process it
        forked (the worker daemon and its workers)."""
        return procs.peak_rss_mb(procs.jvm_pid(spark))

    def decode_probe(self, spark, rec) -> float:
        """Seconds of a decode-only job; workloads without codecs have none."""
        return 0.0

    def decoder_ms_per_item(self) -> dict:
        return {}


class SolanaStream(Workload):
    """Closed loop, one client: each job drains a directory of narrow
    blocks with ``start_streaming_load`` (``availableNow``), two
    micro-batches of exactly-once CSV appends, and waits for the query to
    end before the next job starts."""

    name = "solana_stream"

    def generate(self) -> None:
        low, high = STREAM_WIDTHS
        self.corpus = gen.write_blocks(
            os.path.join(self.root, "blocks"), self.seed,
            gen.block_widths(STREAM_BLOCKS, low, high, self.seed), 400_000_000 + 1000 * (self.seed % 100_000),
        )
        self.warm = gen.write_blocks(
            os.path.join(self.root, "warm_blocks"), self.seed + 1,
            gen.block_widths(STREAM_BLOCKS, low, high, self.seed + 1), 300_000_000,
        )
        self.items_per_job = self.corpus.n_blocks

    def warmup(self, spark, k: int) -> None:
        # a new output directory, so the stream finds every file new again
        self._stream(spark, self.warm, os.path.join(self.root, "out", f"warmup{k}"), None)

    def run_job(self, spark, k: int, rec=None) -> JobResult:
        return self._stream(spark, self.corpus, os.path.join(self.root, "out", f"job{k}"), rec)

    def _stream(self, spark, corpus, out_dir: str, rec) -> JobResult:
        from solana_etl_spark.streaming import pipeline

        patched = {}
        if rec is not None:
            # the pipeline calls these by module-level name inside its
            # foreachBatch function, so wrapping them here puts each
            # micro-batch's calls into the plans, sources and sinks layers
            for attr, layer in (
                ("read_block_stream", "sources"),
                ("run_all_tasks_with_handle", "plans"),
                ("append_csv_exactly_once", "sinks"),
            ):
                patched[attr] = getattr(pipeline, attr)
                setattr(pipeline, attr, _traced(rec, f"{layer}.{attr}", patched[attr]))
        try:
            t0 = time.perf_counter()
            with _span(rec, "streaming.start_streaming_load"):
                query = pipeline.start_streaming_load(
                    spark, corpus.root, out_dir, max_files_per_trigger=STREAM_FILES_PER_TRIGGER
                )
            with _span(rec, "streaming.await_termination"):
                query.awaitTermination()
            seconds = time.perf_counter() - t0
        finally:
            for attr, fn in patched.items():
                setattr(pipeline, attr, fn)
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        return JobResult(out_dir=out_dir, seconds=seconds, progress=[dict(p["durationMs"]) for p in progress])

    def input_records(self) -> int:
        # one JSON document per file, the probes included
        return self.corpus.n_blocks + self.corpus.n_probes

    def reference(self, spark):
        return checks.StreamReference.build(spark, self.corpus, os.path.join(self.root, "reference"))

    def check(self, result: JobResult, reference) -> list:
        problems = reference.compare(result.out_dir)
        files = self.corpus.n_blocks + self.corpus.n_probes
        if len(result.progress) != math.ceil(files / STREAM_FILES_PER_TRIGGER):
            problems.append(f"{len(result.progress)} micro-batches with input")
        return problems


class MediaDedup(Workload):
    """Closed loop, one client: each job hashes every image (PNG and JPEG
    decode) and every clip (WAV and FLAC decode) in ``mapInPandas``
    workers, mines near-duplicate pairs and writes both pair tables."""

    name = "media_dedup"

    def generate(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.images = gen.images(MEDIA_IMAGES, self.seed)
        self.clips = gen.clips(MEDIA_CLIPS, self.seed)
        self.tables = {}
        for name, cols in (("images", self.images), ("audio", self.clips)):
            self.tables[name] = os.path.join(self.root, f"{name}.parquet")
            pq.write_table(
                pa.table({
                    "media_id": pa.array(cols["media_id"], pa.int64()),
                    "payload": pa.array(cols["payload"], pa.binary()),
                }),
                self.tables[name],
            )
        self.items_per_job = MEDIA_IMAGES + MEDIA_CLIPS

    def warmup(self, spark, k: int) -> None:
        self._pairs(spark, os.path.join(self.root, "out", f"warmup{k}"), None)

    def run_job(self, spark, k: int, rec=None) -> JobResult:
        return self._pairs(spark, os.path.join(self.root, "out", f"job{k}"), rec)

    def _pairs(self, spark, out_dir: str, rec) -> JobResult:
        from solana_etl_spark import sinks
        from solana_etl_spark.operators.audio import audio_fingerprint_pairs
        from solana_etl_spark.operators.multimodal import dhash_pairs

        t0 = time.perf_counter()
        for name, pairs in (("images", dhash_pairs), ("audio", audio_fingerprint_pairs)):
            with _span(rec, "sources.read_parquet"):
                media = spark.read.parquet(self.tables[name])
            with _span(rec, f"operators.{pairs.__name__}"):
                out = pairs(media)
            with _span(rec, "sinks.write_table"):
                sinks.write_table(out, os.path.join(out_dir, name))
        return JobResult(out_dir=out_dir, seconds=time.perf_counter() - t0)

    def decode_probe(self, spark, rec) -> float:
        """Wall seconds of a job that only scans and decodes both tables
        (no pair mining, no-op sink): the decode stages on their own."""
        from solana_etl_spark.operators.audio import audio_fingerprints
        from solana_etl_spark.operators.multimodal import dhash_images

        t0 = time.perf_counter()
        with rec.span("functions.decode_probe"):
            for name, decode in (("images", dhash_images), ("audio", audio_fingerprints)):
                decode(spark.read.parquet(self.tables[name])).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def input_records(self) -> int:
        return MEDIA_IMAGES + MEDIA_CLIPS

    def decoder_ms_per_item(self) -> dict:
        """The public decoders timed single-threaded in this process on up
        to ``DECODER_SAMPLE`` of the workload's payloads each."""
        import io

        from solana_etl_spark.functions import flac, jpeg, png, wav

        def image(mod):
            def decode(payload):
                with mod.open(io.BytesIO(payload)) as im:
                    im.tobytes()
            return decode

        out = {}
        for codec, cols, decode in (
            ("png", self.images, image(png)),
            ("jpeg", self.images, image(jpeg)),
            ("wav", self.clips, wav.decode),
            ("flac", self.clips, flac.decode),
        ):
            payloads = [p for p, c in zip(cols["payload"], cols["codec"]) if c == codec][:DECODER_SAMPLE]
            t0 = time.perf_counter()
            for p in payloads:
                decode(p)
            out[f"functions.{codec}_ms_per_item"] = 1e3 * (time.perf_counter() - t0) / len(payloads)
        return out

    def reference(self, spark):
        return checks.MediaReference.build(self.images, self.clips)

    def check(self, result: JobResult, reference) -> list:
        return reference.compare(result.out_dir)


WORKLOADS = {w.name: w for w in (SolanaStream, MediaDedup)}
