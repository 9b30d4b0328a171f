"""Seeded benchmark inputs, written as the segments a tailer would see.

Every workload draws its events from ``synth.events(seed=...)``: the
same seed gives byte-identical inputs. The flat events are the ground
truth the oracle reads; the trickle workload additionally receives
them as Debezium-style JSON envelope text files (the
``cdc_envelope_replay`` wire shape), so its engine path includes the
envelope decode.
"""

from __future__ import annotations

import math
import os

import duckdb
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mex_extractors_spark import synth

ROW_DDL = "repo string, path string, commit string, lang string, content string"
KEY_COLS = ("repo", "path")
PATHS_PER_REPO = 200
# most generation tasks per corpus (see write_segments)
MAX_TASKS = 256


def write_segments(
    spark: SparkSession,
    out_dir: str,
    n_events: int,
    seg_events: list[int],
    n_repos: int,
    seed: int,
    files: int = 4,
) -> list[str]:
    """Write events ``1..n_events`` as consecutive seq-range segments of
    the given sizes (``_segment=i`` parquet directories). Returns the
    segment directories in seq order.

    The generator's partitions are contiguous seq ranges of equal size;
    with ``files * n_events / gcd(sizes)`` of them each lies inside one
    segment, so the write needs no shuffle and a segment of the size
    ``gcd(sizes)`` gets ``files`` files (one ``m`` times larger gets
    ``files * m``)."""
    if sum(seg_events) != n_events:
        raise ValueError(f"segment sizes {seg_events} do not sum to {n_events}")
    tasks = files * n_events // math.gcd(*seg_events)
    if tasks > MAX_TASKS:
        raise ValueError(f"segment sizes {seg_events} need {tasks} generation tasks; "
                         f"choose sizes with a larger common divisor")
    bounds = []
    lo = 0
    for n in seg_events:
        bounds.append(lo)
        lo += n
    seg = F.lit(0)
    for i, b in enumerate(bounds[1:], start=1):
        seg = F.when(F.col("seq") > b, F.lit(i)).otherwise(seg)
    ev = synth.events(
        spark, n_events, n_repos=n_repos, paths_per_repo=PATHS_PER_REPO, seed=seed,
        num_partitions=tasks,
    )
    ev.withColumn("_segment", seg).write.partitionBy("_segment").parquet(out_dir)
    return [os.path.join(out_dir, f"_segment={i}") for i in range(len(seg_events))]


def write_envelopes(
    spark: SparkSession, segment_dirs: list[str], out_dir: str, max_seq: int | None = None
) -> list[str]:
    """Re-encode flat event segments as Debezium JSON envelopes, one text
    directory per segment: ``after`` image for I/U, a key-only
    ``before`` image for D (minimal replica identity), the seq as the
    Postgres ``source.lsn``, and every third record in the wrapped
    ``{"payload": ...}`` form. ``max_seq`` keeps only events up to it."""
    ev = spark.read.parquet(*segment_dirs).withColumn(
        "_segment", F.regexp_extract(F.input_file_name(), r"_segment=(\d+)", 1).cast("int")
    )
    if max_seq is not None:
        ev = ev.where(F.col("seq") <= max_seq)
    is_d = F.col("op") == "D"
    env = F.struct(
        F.when(is_d, F.struct(*KEY_COLS)).alias("before"),
        F.when(~is_d, F.struct("repo", "path", "commit", "lang", "content")).alias("after"),
        F.struct(
            F.lit("postgresql").alias("connector"), F.col("seq").alias("lsn")
        ).alias("source"),
        F.when(is_d, "d").when(F.col("op") == "I", "c").otherwise("u").alias("op"),
    )
    value = F.when(
        F.pmod(F.col("seq"), F.lit(3)) == 0, F.to_json(F.struct(env.alias("payload")))
    ).otherwise(F.to_json(env))
    (
        ev.select("_segment", value.alias("value"))
        .repartition(len(segment_dirs), "_segment")
        .write.partitionBy("_segment")
        .text(out_dir)
    )
    return [
        os.path.join(out_dir, os.path.basename(d.rstrip("/"))) for d in segment_dirs
    ]


def digest(segment_dirs: list[str]) -> str:
    """Order-independent md5 of the flat events in ``segment_dirs``."""
    globs = ", ".join(f"'{d}/*.parquet'" for d in segment_dirs)
    con = duckdb.connect()
    try:
        return con.execute(
            f"""SELECT md5(string_agg(concat_ws('|', seq, op, repo, path, "commit",
                       coalesce(lang, '~'), coalesce(content, '~')), chr(10) ORDER BY seq))
                FROM read_parquet([{globs}])"""
        ).fetchone()[0]
    finally:
        con.close()
