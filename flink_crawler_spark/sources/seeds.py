"""Seed URL ingestion: the one seed-file format, batch and streaming.

Reference: ``sources/SeedUrlSource.java:32,62-109,184-248`` — emits seed
URLs from an in-memory list, a local text file, or an S3 object; skips
blank lines and ``#`` comments (``:254-261``); default score 1.0. It
checkpoints its read index (``ListCheckpointed<Integer>``, :153-166) so
a restart resumes where it left off.

Spark-first: a seed list is just a tiny DataFrame; a seed *file* is
``spark.read.text`` parsed by one SQL projection (:func:`parse_seed_lines`).
The streaming source stages the file's seed lines as one small file per
micro-batch inside the stream's checkpoint and reads them with Spark's
built-in file stream source, whose offset log is the checkpointed read
index: no Python process runs on the read path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Java regex \s, the class the SQL parse splits on, so the file staging
# and the SQL projection agree on which lines are seeds
_WS = " \t\n\x0b\f\r"

# Staged file k (named by the seed-line index it ends at) gets the
# modification time ORIGIN + k ms, strictly increasing in line order
# across restarts too: the file source reads in mtime order, and it
# measures maxFileAge back from the newest file it has read, so an unread
# file, always newer, never ages out.
_MTIME_ORIGIN_MS = 1_000_000_000_000


def seeds_from_list(
    spark: SparkSession, urls: list[str | tuple[str, float]], default_score: float = 1.0
) -> DataFrame:
    rows = [
        (u, default_score) if isinstance(u, str) else (u[0], float(u[1]))
        for u in urls
    ]
    return spark.createDataFrame(rows, ["url", "score"])


def parse_seed_lines(lines: DataFrame, default_score: float = 1.0) -> DataFrame:
    """(url, score) of each seed line in a text DataFrame's ``value``:
    ``url [score]`` split on whitespace, blank and ``#`` lines skipped
    (SeedUrlSource.java:254-261), default score ``default_score``. A
    score that is not a number is an error, not a default."""
    return (
        lines.selectExpr("value", r"split(regexp_replace(value, '^\\s+', ''), '\\s+') AS t")
        .where("t[0] <> '' AND NOT startswith(t[0], '#')")
        .selectExpr(
            "t[0] AS url",
            f"""CASE WHEN coalesce(get(t, 1), '') = '' THEN CAST({float(default_score)!r} AS DOUBLE)
                ELSE coalesce(try_cast(get(t, 1) AS DOUBLE),
                              raise_error(concat('seed score is not a number: ', value)))
                END AS score""",
        )
    )


def seeds_from_text(
    spark: SparkSession, path: str, default_score: float = 1.0
) -> DataFrame:
    """Read a seed file (any Hadoop path: local, ``s3a://``, ...)."""
    return parse_seed_lines(spark.read.text(path), default_score)


def stage_seed_batches(seed_path: str, seeds_dir: str, per_batch: int) -> None:
    """Write the local seed file's seed lines past the last staged one
    into ``seeds_dir``, ``per_batch`` lines a file (0 = the rest in one
    file). A file is written under a hidden name (the file source skips
    it) and renamed; a staged file is never rewritten, so a grown seed
    file continues exactly once."""
    os.makedirs(seeds_dir, exist_ok=True)
    staged = max(
        (int(n.split(".")[0]) for n in os.listdir(seeds_dir) if not n.startswith(".")),
        default=0,
    )
    with open(seed_path, encoding="utf-8") as fh:
        lines = [s for s in (raw.strip(_WS) for raw in fh) if s and not s.startswith("#")]
    step = per_batch if per_batch > 0 else max(len(lines) - staged, 1)
    for start in range(staged, len(lines), step):
        end = min(start + step, len(lines))
        name = f"{end:012d}.txt"
        tmp = os.path.join(seeds_dir, "." + name)
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.writelines(f"{s}\n" for s in lines[start:end])
        mtime_ns = (_MTIME_ORIGIN_MS + end) * 1_000_000
        os.utime(tmp, ns=(mtime_ns, mtime_ns))
        os.replace(tmp, os.path.join(seeds_dir, name))


def seed_stream(
    spark: SparkSession, seed_path: str, checkpoint_dir: str, per_batch: int
) -> DataFrame:
    """Streaming (url, score) rows of a local seed file, ``per_batch``
    seeds per micro-batch (0 = the whole file in one): the file's new
    seed lines are staged under ``<checkpoint_dir>/seeds`` (the
    checkpoint, a local directory, owns its input) and read one staged
    file per trigger."""
    seeds_dir = os.path.join(checkpoint_dir, "seeds")
    offsets = os.path.join(checkpoint_dir, "offsets")
    if os.path.isdir(offsets) and os.listdir(offsets) and not os.path.isdir(seeds_dir):
        raise ValueError(
            f"checkpoint {checkpoint_dir} was written by the old Python seed "
            "source and cannot be resumed; delete the checkpoint directory to "
            "start over (the crawl state table or state dir is kept)"
        )
    stage_seed_batches(seed_path, seeds_dir, per_batch)
    lines = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(seeds_dir)
    return parse_seed_lines(lines)
