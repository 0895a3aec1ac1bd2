"""The benchmark's workloads, composed only from the engine's public
functions (``functions``, ``operators``, ``streaming.stateful``,
``sources.sinks``).

Every streaming workload reads a file-source text stream: one string
``value`` column per line, the shape ``sources.kafka.decode_kafka_values``
produces. Each pipeline also lists its batch-mode prefixes (parse →
operator → ...), which the traced run materialises over one fixed slab
to split self time between layers.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from storm_bench_spark.functions.parsers import parse_tweet_text
from storm_bench_spark.functions.text import extract_hashtags, word_split
from storm_bench_spark.operators.windows import sliding_agg
from storm_bench_spark.sources.sinks import write_batch
from storm_bench_spark.streaming.stateful import running_count

from gen import WATERMARK_S

WINDOW_S, SLIDE_S = 60, 5  # RollingHashtagCount's 60 s / 5 s


def _words(value: DataFrame) -> DataFrame:
    return value.select(F.explode(word_split("value")).alias("word"))


def _tags(value: DataFrame) -> DataFrame:
    sec = F.split("value", r"\|").getItem(1).cast("long")
    return value.select(sec.alias("sec"), F.explode(extract_hashtags(parse_tweet_text("value"))).alias("tag"))


def _windowed(value: DataFrame) -> DataFrame:
    return sliding_agg(
        _tags(value), WINDOW_S, SLIDE_S, ["tag"], [F.count("*").alias("cnt")],
        watermark=f"{WATERMARK_S} seconds",
    )


def _write_rows(batch: DataFrame, path: str, timed) -> None:
    """The sink: ``timed(name)`` is a context manager around the
    ``write_batch`` call."""
    with timed("sink.write_batch"):
        write_batch(batch, path)


@dataclass(frozen=True)
class StreamPipeline:
    name: str
    output_mode: str
    build: Callable[[DataFrame], DataFrame]
    # cumulative batch-mode prefixes: (layer metric, value frame → frame)
    prefixes: tuple[tuple[str, Callable[[DataFrame], DataFrame]], ...]


STREAMS = {
    p.name: p
    for p in (
        StreamPipeline(
            "wordcount_running", "append",
            lambda v: running_count(_words(v), "word"),
            (("sources.read", lambda v: v), ("functions.tokenize_ms", _words)),
        ),
        StreamPipeline(
            "hashtag_window", "update",
            _windowed,
            (
                ("sources.read", lambda v: v),
                ("functions.parse_tweet_ms", _tags),
                ("operators.sliding_agg_ms", _windowed),
            ),
        ),
    )
}


def start_stream(spark, pipeline: StreamPipeline, watch_dir: str, ckpt_dir: str, out_dir: str, on_batch):
    """Start the streaming query. ``on_batch(batch_id, run_sink)`` wraps
    each micro-batch's sink call so the caller can time it."""
    value = (
        spark.readStream.format("text")
        # delete each batch's files once it commits: the watched directory
        # stays bounded, so listing cost does not drift within a run
        .option("cleanSource", "delete")
        # a backlog arrives as one directory, renamed in atomically
        .option("recursiveFileLookup", "true")
        .load(watch_dir)
    )
    result = pipeline.build(value)

    def callback(batch: DataFrame, batch_id: int) -> None:
        path = os.path.join(out_dir, f"b{batch_id:06d}")
        on_batch(batch_id, lambda timed: _write_rows(batch, path, timed))

    return (
        result.writeStream.foreachBatch(callback)
        .option("checkpointLocation", ckpt_dir)
        .outputMode(pipeline.output_mode)
        .queryName(f"perfbench_{pipeline.name}")
        .start()
    )
