"""Kafka-shaped commit log: partitioned, offset-addressed, replayable.

The reference's bus is a physical broadcast transport
(``examples/example_reflex_node.c:109-120`` rx path); its fleet-scale
engine-side equivalent is a partitioned commit log (Kafka and its
wire-compatible kin). No broker exists in this environment and pyspark
ships without the kafka connector jar, so this module implements the
SEMANTICS on a directory layout, with the exact record shape Spark's
kafka source exposes — swap ``log_read``/``log_read_stream`` for
``spark.readStream.format("kafka")`` on a cluster and every downstream
plan (the SLCAN parse + CAN decode chain, the watermark rollups) is
unchanged:

- records are (topic, partition, offset, ts, key, value) — the kafka
  source's projection;
- producers partition BY KEY (hash(key) % n_partitions) so one key's
  records stay totally ordered within a partition — Kafka's ordering
  contract, and the reason a node's command stream replays in order;
- offsets are per-partition, dense, monotone across appends
  (brokers assign at append; here a window over the batch plus the
  log's current high-water mark);
- consumption is REPLAYABLE: batch reads accept per-partition start
  offsets (the committed-offset resume shape) and the streaming reader
  is a file source over the same directory (per-file = per-append
  batch, ``maxFilesPerTrigger`` = replay pacing).

Scale: the directory log is partition-pruned on read (partition is a
physical column), appends are one shuffle on the key hash, and offset
assignment is a per-partition window — no global coordination, which
is exactly why Kafka itself scales the same way.

SINGLE WRITER PER TOPIC: offset assignment is read-then-append (fetch
the high-water mark, append above it), exactly a broker LEADER's job —
and like Kafka, only one leader may assign offsets for a partition.
Two concurrent ``log_append`` calls on one topic would both read the
same high-water mark and mint duplicate offsets; serialize producers
per topic (or shard topics per producer). The high-water mark derives
from the parquet FOOTER STATISTICS of the topic's files (max(offset)
per partition) — metadata-only reads, O(#files) not O(total rows), and
crash-safe by construction: the data IS the truth, so a producer that
dies mid-append can never leave a stale side-structure that mints
duplicate offsets on the next append.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _topic_dir(log_dir: str, topic: str) -> str:
    return os.path.join(log_dir, f"topic={topic}")


def _local_fs_path(path: str) -> str | None:
    """The glob-able local path for ``path``, or None when it names a
    non-local filesystem (hdfs://, s3a://, ...). A driver-side glob over
    a remote URI silently matches nothing — which would read an existing
    topic as empty and mint duplicate offsets — so callers must branch
    to the Spark-read high-water mark instead."""
    from urllib.parse import unquote, urlsplit

    parts = urlsplit(path)
    if parts.scheme == "":
        return path
    if parts.scheme == "file":
        # percent-decode (file:///tmp/a%20b must glob "/tmp/a b") and
        # treat an authority other than localhost as NON-local —
        # file://host/path names host's filesystem, and globbing /path
        # here would read the topic as empty and mint duplicate offsets
        if parts.netloc not in ("", "localhost"):
            return None
        return unquote(parts.path)
    return None


def _read_hwm_spark(spark: SparkSession, tdir: str) -> dict[int, int]:
    """High-water mark via a Spark scan of the topic directory — the
    path-agnostic fallback for non-local log dirs. Parquet footer
    statistics still make this cheap (max(offset) per partition is
    answered from row-group stats after partition pruning); the collect
    is n_partitions rows. A missing directory is an empty/new topic."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(tdir)
    except AnalysisException as exc:
        # only the two "empty/new topic" shapes may fall back to {}: a
        # missing path, or schema inference over a dir with no footers.
        # Any OTHER analysis failure (access denied, corrupt remote
        # footer, ...) must re-raise — treating it as "new topic" would
        # silently reset the high-water mark to 0 and mint duplicate
        # offsets, the exact bug class this fallback exists to prevent.
        cond = exc.getCondition() or ""
        if cond.startswith("PATH_NOT_FOUND") or cond.startswith(
            "UNABLE_TO_INFER_SCHEMA"
        ):
            return {}
        raise
    rows = (
        df.groupBy("partition")
        .agg(F.max("offset").alias("mx"))
        .collect()
    )
    return {int(r["partition"]): int(r["mx"]) + 1 for r in rows}


def _read_hwm(tdir: str) -> dict[int, int]:
    """Per-partition next-offset map from parquet footer statistics —
    metadata-only (no row reads), always derived from the data so it
    cannot go stale (a sidecar cache would mint duplicate offsets after
    a crash between data write and cache write). A file whose footer
    lacks offset min/max stats falls back to reading that one file's
    offset column. Empty dict = empty/new topic."""
    import pyarrow.parquet as pq

    hwm: dict[int, int] = {}
    for part_dir in glob.glob(os.path.join(tdir, "partition=*")):
        try:
            part = int(part_dir.rsplit("=", 1)[1])
        except ValueError:
            continue
        mx = -1
        for path in glob.glob(os.path.join(part_dir, "*.parquet")):
            pf = pq.ParquetFile(path)
            md = pf.metadata
            col_idx = next(
                (
                    i
                    for i in range(md.num_columns)
                    if md.schema.column(i).name == "offset"
                ),
                None,
            )
            if col_idx is None:
                # a foreign/corrupt parquet in the partition dir must be
                # a loud error, not a bare StopIteration out of the scan
                raise ValueError(
                    f"{path}: no 'offset' column in parquet footer — "
                    "not a commit-log segment"
                )
            file_max = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                if st is None or not st.has_min_max:
                    file_max = None
                    break
                file_max = st.max if file_max is None else max(file_max, st.max)
            if file_max is None:
                # stats missing: read this one file's offset column
                col = pf.read(columns=["offset"]).column("offset")
                if len(col):
                    file_max = max(col.to_pylist())
            if file_max is not None:
                mx = max(mx, int(file_max))
        if mx >= 0:
            hwm[part] = mx + 1
    return hwm


def log_append(
    df: DataFrame,
    log_dir: str,
    topic: str,
    n_partitions: int = 4,
    key_col: str = "key",
    value_col: str = "value",
    ts_col: str = "ts",
) -> None:
    """Append a batch to the log, assigning partitions BY KEY and
    per-partition dense offsets continuing from the log's high-water
    mark. ``key_col``/``value_col`` may be any castable-to-string
    columns; they ship as binary (the kafka wire shape).

    Ordering within the appended batch is (ts, key, value) — a
    deterministic total order so offset assignment is reproducible;
    a real broker orders by arrival, which a batch has to choose.

    Single-writer contract (module docstring): the high-water-mark
    read below and the append are not one atomic step — exactly like a
    broker, one leader per topic assigns offsets."""
    spark = df.sparkSession
    part = F.pmod(F.xxhash64(F.col(key_col).cast("string")), n_partitions)
    recs = df.select(
        F.lit(topic).alias("topic"),
        part.cast("int").alias("partition"),
        F.col(ts_col).cast("timestamp").alias("ts"),
        F.encode(F.col(key_col).cast("string"), "UTF-8").alias("key"),
        F.encode(F.col(value_col).cast("string"), "UTF-8").alias("value"),
    )
    w = Window.partitionBy("partition").orderBy("ts", "key", "value")
    recs = recs.withColumn(
        "batch_off", (F.row_number().over(w) - 1).cast("long")
    )
    tdir = _topic_dir(log_dir, topic)
    # high-water mark from parquet footer stats — metadata-only, derived
    # from the data itself (crash-safe; n_partitions-sized driver state).
    # The pyarrow fast path only sees LOCAL paths; for hdfs://s3a:// log
    # dirs fall back to the Spark scan so an existing topic can never be
    # misread as empty (duplicate offsets) by a no-match glob.
    local = _local_fs_path(tdir)
    hwm = _read_hwm(local) if local is not None else _read_hwm_spark(
        spark, tdir
    )
    if hwm:
        base = F.create_map(
            *[F.lit(x) for kv in sorted(hwm.items()) for x in kv]
        )
        recs = recs.withColumn(
            "offset",
            F.coalesce(
                base[F.col("partition")].cast("long"), F.lit(0).cast("long")
            )
            + F.col("batch_off"),
        )
    else:
        recs = recs.withColumn("offset", F.col("batch_off"))
    out = recs.select(
        "topic", "partition", "offset", "ts", "key", "value"
    )
    # one file per (append, partition): the streaming reader sees each
    # append as one trigger's worth of files, like a broker's new
    # segment; partition stays a physical column for pruned reads
    out.repartition("partition").write.mode("append").partitionBy(
        "partition"
    ).parquet(tdir)


def log_read(
    spark: SparkSession,
    log_dir: str,
    topic: str,
    start_offsets: dict[int, int] | int | None = None,
) -> DataFrame:
    """Batch replay from committed offsets: records with
    offset >= start for their partition (int = every partition, dict =
    per-partition, None/0 = from the beginning — kafka's earliest).
    The offset predicate composes with partition pruning on the scan."""
    df = spark.read.parquet(_topic_dir(log_dir, topic)).withColumn(
        "topic", F.lit(topic)
    )
    if not start_offsets:
        return df.select(
            "topic", "partition", "offset", "ts", "key", "value"
        )
    if isinstance(start_offsets, int):
        cond = F.col("offset") >= start_offsets
    else:
        cond = F.lit(False)
        for p, off in sorted(start_offsets.items()):
            cond = cond | (
                (F.col("partition") == p) & (F.col("offset") >= off)
            )
        # partitions without a committed offset start from earliest
        known = list(start_offsets)
        cond = cond | ~F.col("partition").isin(known)
    return df.filter(cond).select(
        "topic", "partition", "offset", "ts", "key", "value"
    )


def log_read_stream(
    spark: SparkSession,
    log_dir: str,
    topic: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming consumption of the same log: Spark's file source over
    the topic directory (schema pinned; each append's files arrive as
    new data — the broker-poll shape). ``max_files_per_trigger`` paces
    a replay the way kafka's maxOffsetsPerTrigger does."""
    reader = (
        spark.readStream.schema(
            "topic string, offset long, ts timestamp, "
            "key binary, value binary"
        )
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    df = reader.load(_topic_dir(log_dir, topic))
    # partition= is a hive path column the fixed schema drops; recover
    # it from the file path so the record shape matches log_read
    part = F.regexp_extract(
        F.input_file_name(), r"partition=(\d+)", 1
    ).cast("int")
    return df.select(
        F.lit(topic).alias("topic"),
        part.alias("partition"),
        "offset",
        "ts",
        "key",
        "value",
    )
